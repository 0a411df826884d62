"""A REAL (tiny) neural encoder behind the M7 ``encode_payloads``
plumbing — the drop-in-an-actual-model path.

The reference runs CLIP inside its prediction-inspector flow
(``/root/reference/src/app_utils.py:10-26``,
``src/my_merlin_flow.py:586-599``); the container here has no deep-
learning framework, so the "real model" is the smallest honest stand-in
that still exercises everything a production encoder does through the
Arrow path: a 2-layer float32 MLP (64 → 32 tanh → 16, L2-normalized)
whose weights ship as a local ``.npz`` checkpoint
(``models/tiny_mlp_encoder.npz`` — see ``models/README.md``), loaded
once per executor-side iterator and applied as BATCHED numpy matmuls
over each Arrow batch. Swapping in CLIP is changing the forward pass;
the batching, schema, null-row and partition-parallelism contracts are
identical.

No network access is needed at any point (the checkpoint is a repo
artifact), which is what makes the integration testable in CI.
"""

from __future__ import annotations

import os

import numpy as np

_WEIGHTS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "models",
    "tiny_mlp_encoder.npz",
)
_TEXT_WEIGHTS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "models",
    "tiny_text_encoder.npz",
)


class TinyMLPEncoder:
    """Batched payload encoder with the ``encode_payloads`` contract:
    a sequence of byte payloads in, one L2-normalized ``list[float]``
    (or ``None`` for rejects) per payload out.

    Preprocessing mirrors a vision pipeline's resize step: stride-
    sample ``in_dim`` bytes of the payload and scale to [0, 1] (the
    byte-level analog of downsampling pixels), then run the real
    forward pass — float32 matmul, tanh, matmul, L2 normalize — over
    the whole batch at once. With the default ``pad_mode="reject"``,
    payloads shorter than ``in_dim`` bytes are rejected (``None``),
    matching ``tiny_image_encoder``'s dead-letter rule;
    ``pad_mode="cycle"`` instead tiles short payloads to ``in_dim``
    bytes (the analog of upsampling a small image), so URL-sized and
    prompt-sized inputs encode too — only empty payloads reject.
    """

    def __init__(
        self,
        weights_path: str = _WEIGHTS_PATH,
        pad_mode: str = "reject",
    ) -> None:
        if pad_mode not in ("reject", "cycle"):
            raise ValueError(f"unknown pad_mode: {pad_mode!r}")
        w = np.load(weights_path)
        self.w1 = w["w1"]
        self.b1 = w["b1"]
        self.w2 = w["w2"]
        self.b2 = w["b2"]
        self.in_dim = int(self.w1.shape[0])
        self.out_dim = int(self.w2.shape[1])
        self.pad_mode = pad_mode

    def _prep(self, payload) -> np.ndarray | None:
        n = len(payload)
        if n < self.in_dim:
            if self.pad_mode == "reject" or n == 0:
                return None
            arr = np.resize(
                np.frombuffer(bytes(payload), dtype=np.uint8), self.in_dim
            )
            return arr.astype(np.float32) / np.float32(255.0)
        stride = n // self.in_dim
        idx = np.arange(self.in_dim) * stride
        arr = np.frombuffer(bytes(payload), dtype=np.uint8)[idx]
        return arr.astype(np.float32) / np.float32(255.0)

    def __call__(self, payloads) -> list:
        rows: list[np.ndarray] = []
        keep: list[int] = []
        out: list = [None] * len(payloads)
        for i, p in enumerate(payloads):
            x = self._prep(p)
            if x is not None:
                rows.append(x)
                keep.append(i)
        if rows:
            x_mat = np.stack(rows)  # (batch, in_dim) float32
            h = np.tanh(x_mat @ self.w1 + self.b1)
            y = h @ self.w2 + self.b2
            norms = np.sqrt((y * y).sum(axis=1, keepdims=True))
            y = y / np.maximum(norms, np.float32(1e-12))
            for j, i in enumerate(keep):
                out[i] = [float(v) for v in y[j]]
        return out


class TinyTextEncoder(TinyMLPEncoder):
    """The TEXT tower of the two-tower pair (reference: CLIP's text
    encoder next to its image encoder, app_utils.py:10-26): a
    64 -> 64 tanh -> 16 MLP with the same Arrow-batch contract as
    :class:`TinyMLPEncoder`, but with its OWN trained checkpoint
    (``models/tiny_text_encoder.npz``) projecting prompt bytes into
    the image tower's 16-dim space, and cycle padding so short prompts
    encode.

    The checkpoint is DISTILLED (tools/train_text_tower.py, seeded
    numpy Adam, no network): prompts ``"photo of asset <id>"`` are
    trained to land on the image tower's embedding of asset <id>'s
    payload, and the fit GENERALIZES to held-out ids (ids = 0 mod 7
    never seen in training; matched cosine ~0.999 mean on them). What
    the sandbox cannot provide is CLIP's open-vocabulary semantics —
    the synthetic asset bytes are hash-like in the id, so matched
    alignment (absolute cosine above the image-cloud baseline) is the
    strongest honestly-verifiable cross-tower property here; swapping
    in real CLIP towers changes only the two checkpoints.
    """

    def __init__(self, weights_path: str = _TEXT_WEIGHTS_PATH) -> None:
        super().__init__(weights_path=weights_path, pad_mode="cycle")

