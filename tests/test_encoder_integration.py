"""Integration tests for the pluggable encoder seam.

The engine's multimodal path (pyspark_recs/llmops/multimodal.py) runs
any batched encoder through ``encode_payloads``; these tests drive the
shipped tiny-MLP checkpoints through it — real float32 tensor math with
no network and no optional dependency, standing in for the reference's
CLIP usage (reference src/app_utils.py:10-26).
"""

from __future__ import annotations

import math

from pyspark_recs.llmops.multimodal import encode_payloads


def test_tiny_mlp_checkpoint_through_encoder_seam(spark):
    """The ALWAYS-ON real-model integration (no network, no optional
    deps): the shipped npz MLP checkpoint runs genuine float32 tensor
    math through the same Arrow-batched encode_payloads path."""
    from pyspark_recs.llmops.encoder import TinyMLPEncoder

    enc = TinyMLPEncoder()
    assert (enc.in_dim, enc.out_dim) == (64, 16)
    base = b"the quick brown fox jumps over the lazy dog " * 4  # 180 B
    near = base[:-1] + b"!"
    far = bytes(reversed(base))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, b"short")],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r.embedding for r in encode_payloads(docs, encoder=enc).collect()}
    # reject rule: the 5-byte payload is dropped, the rest encoded
    assert set(rows) == {1, 2, 3}
    for v in rows.values():
        assert len(v) == 16
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-5

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    # real-model semantics: a near-copy payload embeds much closer
    # than a scrambled one (the MLP is Lipschitz in its input bytes)
    assert cos(rows[1], rows[2]) > cos(rows[1], rows[3])
    assert cos(rows[1], rows[2]) > 0.99


def test_tiny_mlp_encoder_batch_shape_invariance():
    """The forward pass must not depend on how rows are grouped into
    Arrow batches — encoding [a, b, c] together equals encoding them
    in any split (what makes maxRecordsPerBatch a pure tuning knob)."""
    from pyspark_recs.llmops.encoder import TinyMLPEncoder

    enc = TinyMLPEncoder()
    pays = [bytes([i % 251]) * 100 for i in range(1, 8)]
    whole = enc(pays)
    split = enc(pays[:2]) + enc(pays[2:5]) + enc(pays[5:])
    for a, b in zip(whole, split):
        assert max(abs(x - y) for x, y in zip(a, b)) < 1e-6


def test_text_tower_distillation_is_learned_not_structural():
    """The l74 gate (matched cosine mean >= 0.99) must be a LEARNED
    property of the shipped text checkpoint: the trained tower clears
    it on a catalog slice, while BOTH degenerate alternatives fail —
    an architecture-identical random tower (~0.08) and the best
    possible CONSTANT tower, the image-cloud center (~0.978, the
    strongest untrained baseline because the image embeddings are
    near-collinear). Also pins cycle-prep: short prompts encode,
    empty payloads reject."""
    import numpy as np

    from pyspark_recs.llmops.encoder import TinyMLPEncoder, TinyTextEncoder

    img = TinyMLPEncoder(pad_mode="cycle")
    txt = TinyTextEncoder()
    assert txt.out_dim == img.out_dim == 16
    # cycle prep: a 15-byte prompt encodes; empty rejects
    short = txt([b"photo of asset", b""])
    assert short[0] is not None and short[1] is None

    ids = [i for i in range(500) if i % 13 != 0]
    urls = [f"https://img.example.com/{i}.jpg".encode() for i in ids]
    prompts = [f"photo of asset {i}".encode() for i in ids]
    iv = np.array(img(urls))
    tv = np.array(txt(prompts))
    matched = (tv * iv).sum(1).mean()
    assert matched >= 0.99  # the l74 flag's floor (measured 0.9949)

    # constant-center tower: the best untrained baseline
    center = iv.mean(0)
    center /= np.linalg.norm(center)
    assert (iv @ center).mean() < 0.99

    # random tower, same architecture/init scheme as training used
    rng = np.random.default_rng(123)
    rnd = TinyTextEncoder()
    rnd.w1 = rng.normal(0, 0.5, rnd.w1.shape).astype(np.float32)
    rnd.w2 = rng.normal(0, 0.1, rnd.w2.shape).astype(np.float32)
    rv = np.array(rnd(prompts))
    assert (rv * iv).sum(1).mean() < 0.5

    # generalization: ids = 0 mod 7 were NEVER in the training set
    held = [i for i in range(10000, 20000) if i % 7 == 0][:300]
    hv = np.array(txt([f"photo of asset {i}".encode() for i in held]))
    hi = np.array(img([f"https://img.example.com/{i}.jpg".encode() for i in held]))
    assert (hv * hi).sum(1).mean() >= 0.99
