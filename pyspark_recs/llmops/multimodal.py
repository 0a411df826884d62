"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched ``mapInPandas``.

The reference's multimodal surface is CLIP image encoding over
HTTP-fetched bytes (app_utils.py:10-26, my_merlin_flow.py:586-599). Here
the Spark-side plumbing — binary column, schema contract, Arrow batch
shape, partition-parallel UDF — is real and tested; the actual
image/audio decoders are STUBBED (the container has no codec libs):
``decode_stub`` deterministically derives metadata from the bytes so the
pipeline is oracle-checkable end-to-end.

Scale: mapInPandas streams Arrow batches (no per-row Python overhead);
payload columns are pruned before any shuffle; real decoders plug in by
replacing ``_decode_one`` only.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = "doc_id bigint, n_bytes int, first_byte int, payload_hash string"


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the opaque binary column (here: utf-8 bytes of the text —
    stand-in for image/audio payloads read via
    ``spark.read.format('binaryFile')``)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def _decode_one(payload: bytes) -> dict:
    """STUB decoder. A real image decoder (PIL/ffmpeg/torchvision) would
    go here and raise NotImplementedError if the codec is unavailable;
    this deterministic stand-in keeps the pipeline testable without
    codec libraries."""
    import hashlib

    return {
        "n_bytes": len(payload),
        "first_byte": payload[0] if payload else -1,
        "payload_hash": hashlib.md5(payload).hexdigest(),
    }


def decode_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched decode of binary payloads into typed metadata."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [_decode_one(p) for p in pdf["payload"]]
            out = pd.DataFrame(meta)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=DECODED_SCHEMA
    )


IMAGE_SCHEMA = (
    "doc_id bigint, status string, width int, height int, "
    "channels int, pixel_sum bigint"
)


def decode_image_payloads(df: DataFrame) -> DataFrame:
    """REAL image decode (S11's formerly-stubbed half): sniff each
    binary payload's magic bytes and parse PNG (actual zlib inflate,
    CRC checks, scanline filter reconstruction — llmops/png.py) or
    baseline JPEG (actual Huffman entropy decode, dequantization and
    2-D IDCT — llmops/jpeg.py), emitting typed image facts (dims,
    channel count, integer pixel sum). Undecodable payloads —
    unrecognized magic, truncation, or an unsupported variant of
    either format — become ``status='decode_error'`` rows with NULL
    facts, the same dead-letter contract as a fetch failure (route to
    a side table).

    Swap the per-format decoders for PIL/libpng/libjpeg/ffmpeg to
    widen format support — the Arrow batch shape, schema, and
    partition parallelism are the production contract and don't
    change. Reference behavior: app_utils.py:14-26 (fetch bytes, hand
    to a model input decoder — .jpg URLs included).

    Scale: decode runs partition-parallel inside ``mapInPandas``;
    payload bytes never shuffle (this projection REPLACES the payload
    column with bounded integers — decode-then-drop before any wide
    stage)."""
    from pyspark_recs.llmops.jpeg import decode_jpeg
    from pyspark_recs.llmops.png import decode_png

    def decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                try:
                    b = bytes(payload)
                    if b[:2] == b"\xff\xd8":
                        w, h, c, px = decode_jpeg(b)
                    else:
                        w, h, c, px = decode_png(b)
                    rows.append(("ok", w, h, c, sum(px)))
                except Exception:
                    rows.append(("decode_error", None, None, None, None))
            out = pd.DataFrame(
                rows,
                columns=["status", "width", "height", "channels", "pixel_sum"],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=IMAGE_SCHEMA
    )


AUDIO_SCHEMA = (
    "doc_id bigint, status string, sample_rate int, channels int, "
    "n_frames bigint, amp_sum bigint, amp_abs_sum bigint"
)


def decode_audio_payloads(df: DataFrame) -> DataFrame:
    """REAL audio decode — the audio twin of ``decode_image_payloads``:
    parse each binary payload as RIFF/PCM WAV (llmops/wav.py — real
    chunk walking, format validation, exact int16 amplitude facts) and
    emit typed audio facts (rate, channels, frame count, amplitude
    sums). Undecodable payloads dead-letter as ``status=
    'decode_error'`` rows with NULL facts.

    Swap ``decode_wav`` for soundfile/ffmpeg to widen format support —
    the Arrow batch shape, schema and partition parallelism are the
    production contract. Scale: decode runs partition-parallel inside
    ``mapInPandas``; payload bytes never shuffle (decode-then-drop
    before any wide stage, the image-codec discipline)."""
    from pyspark_recs.llmops.wav import decode_wav, pcm_facts

    def decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                try:
                    rate, ch, n, pcm = decode_wav(bytes(payload))
                    total, abs_total, _, _ = pcm_facts(pcm)
                    rows.append(("ok", rate, ch, n, total, abs_total))
                except Exception:
                    rows.append(
                        ("decode_error", None, None, None, None, None)
                    )
            out = pd.DataFrame(
                rows,
                columns=[
                    "status", "sample_rate", "channels", "n_frames",
                    "amp_sum", "amp_abs_sum",
                ],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=AUDIO_SCHEMA
    )


AHASH_SCHEMA = (
    "doc_id bigint, status string, n_pixels int, "
    "phash_hi bigint, phash_lo bigint"
)


def image_ahash(df: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over REAL-decoded image
    payloads: decode (PNG/JPEG by magic sniff, the
    ``decode_image_payloads`` seam), then set bit i iff
    ``pixel[i] * n_pixels > pixel_sum`` (strict, ties clear — integer
    math, no float mean). Byte-distinct images that look alike hash
    alike, which is what payload-digest dedup (l65) structurally
    cannot see. Multi-channel images hash channel 0.

    The 64 bits are emitted as two 32-bit halves (``phash_hi``,
    ``phash_lo``) so the value stays inside non-negative BIGINT range
    on every engine — a single 64-bit word would overflow into the
    sign bit differently across engines. Undecodable payloads
    dead-letter as ``status='decode_error'`` rows with NULL hashes.

    Scale: decode + hash run partition-parallel inside
    ``mapInPandas``; payload bytes never shuffle — only the two hash
    words cross a stage boundary, so the downstream bucket-groupBy
    shuffles 16 bytes per image regardless of image size. Hamming-ball
    widening (near-identical rather than identical hashes) is l45's
    pigeonhole band join over these same words.
    """
    from pyspark_recs.llmops.jpeg import decode_jpeg
    from pyspark_recs.llmops.png import decode_png

    def hash_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                data = bytes(payload)
                try:
                    if data[:8] == b"\x89PNG\r\n\x1a\n":
                        w, h, ch, px = decode_png(data)
                    elif data[:2] == b"\xff\xd8":
                        w, h, ch, px = decode_jpeg(data)
                    else:
                        raise ValueError("unknown image magic")
                    if w < 8 or h < 8:
                        raise ValueError("image below aHash grid")
                    gray = px[::ch] if ch > 1 else px
                    # 8x8 block means via EXACT integer cross-multiply:
                    # block mean > global mean <=> bsum*n > psum*bsize
                    # (trailing rows/cols beyond 8*(dim//8) are ignored,
                    # so bsize is the same for every block)
                    bw, bh = w // 8, h // 8
                    n = 8 * bw * 8 * bh
                    psum = 0
                    bsums = [0] * 64
                    for by in range(8):
                        for bx in range(8):
                            s = 0
                            for y in range(by * bh, (by + 1) * bh):
                                row = y * w + bx * bw
                                for p in gray[row : row + bw]:
                                    s += p
                            bsums[by * 8 + bx] = s
                            psum += s
                    bsize = bw * bh
                    hi = 0
                    lo = 0
                    for i, s in enumerate(bsums):
                        if s * n > psum * bsize:
                            if i >= 32:
                                hi |= 1 << (i - 32)
                            else:
                                lo |= 1 << i
                    rows.append(("ok", n, hi, lo))
                except Exception:
                    rows.append(("decode_error", None, None, None))
            out = pd.DataFrame(
                rows,
                columns=["status", "n_pixels", "phash_hi", "phash_lo"],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.select("doc_id", "payload").mapInPandas(
        hash_batches, schema=AHASH_SCHEMA
    )


AUDIO_WINDOW_SCHEMA = (
    "doc_id bigint, status string, win_idx int, win_abs bigint"
)


def audio_window_energies(df: DataFrame, window: int = 32) -> DataFrame:
    """Decode WAV payloads and emit one row per fixed-size sample
    window with its absolute-amplitude energy — the codec half of the
    energy-gate VAD pipeline (:func:`vad_segments` is the analytics
    half). A trailing partial window is dropped (standard frame-based
    audio analysis). Undecodable payloads dead-letter as a single
    ``status='decode_error'`` row with NULL window facts, the
    decode_audio_payloads contract.

    Scale: decode + windowing run partition-parallel inside
    ``mapInPandas``; payload bytes never shuffle (born and dropped in
    one stage); output is n_frames/window bounded integer rows per doc
    — the only thing that crosses a stage boundary.
    """
    import array
    import sys

    from pyspark_recs.llmops.wav import decode_wav

    def decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, statuses, idxs, energies = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    _, channels, n_frames, pcm = decode_wav(
                        bytes(payload)
                    )
                    a = array.array("h")
                    a.frombytes(pcm)
                    if sys.byteorder == "big":  # pragma: no cover
                        a.byteswap()
                    samples_per_win = window * channels
                    for j in range(len(a) // samples_per_win):
                        win = a[
                            j * samples_per_win : (j + 1) * samples_per_win
                        ]
                        doc_ids.append(doc_id)
                        statuses.append("ok")
                        idxs.append(j)
                        energies.append(
                            sum(v if v >= 0 else -v for v in win)
                        )
                except Exception:
                    doc_ids.append(doc_id)
                    statuses.append("decode_error")
                    idxs.append(None)
                    energies.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "status": statuses,
                    "win_idx": idxs,
                    "win_abs": energies,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=AUDIO_WINDOW_SCHEMA
    )


AUDIO_ZCR_SCHEMA = (
    "doc_id bigint, status string, win_idx int, win_zcr int"
)


def audio_window_zcr(df: DataFrame, window: int = 32) -> DataFrame:
    """Per-window zero-crossing rate over decoded WAV payloads — the
    classic cheap spectral proxy next to :func:`audio_window_energies`'
    amplitude gate (speech/music/noise discrimination uses both): a
    crossing is counted when consecutive samples change sign
    (``x >= 0`` vs ``x < 0``, 31 pairs per 32-sample window). Exact
    integer counting, so the oracle replays it from the synth formula.
    Trailing partial windows drop; undecodable payloads dead-letter as
    one ``status='decode_error'`` row.

    Scale: same contract as the energy windows — decode + count in one
    ``mapInPandas``, payload bytes never shuffle, bounded integer rows
    per doc.
    """
    import array
    import sys

    from pyspark_recs.llmops.wav import decode_wav

    def decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, statuses, idxs, zcrs = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    _, channels, _, pcm = decode_wav(bytes(payload))
                    if channels != 1:
                        raise ValueError("mono only")
                    a = array.array("h")
                    a.frombytes(pcm)
                    if sys.byteorder == "big":  # pragma: no cover
                        a.byteswap()
                    for j in range(len(a) // window):
                        win = a[j * window : (j + 1) * window]
                        z = 0
                        prev_neg = win[0] < 0
                        for v in win[1:]:
                            neg = v < 0
                            if neg != prev_neg:
                                z += 1
                            prev_neg = neg
                        doc_ids.append(doc_id)
                        statuses.append("ok")
                        idxs.append(j)
                        zcrs.append(z)
                except Exception:
                    doc_ids.append(doc_id)
                    statuses.append("decode_error")
                    idxs.append(None)
                    zcrs.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "status": statuses,
                    "win_idx": idxs,
                    "win_zcr": zcrs,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=AUDIO_ZCR_SCHEMA
    )


AUDIO_AUTOCORR_SCHEMA = (
    "doc_id bigint, status string, energy bigint,"
    " ac1 bigint, ac2 bigint, ac4 bigint"
)

AUDIO_TONE_SCHEMA = (
    "doc_id bigint, status string, mag_k8 bigint,"
    " mag_k16 bigint, mag_k32 bigint, dominant_k int"
)

#: quantized-oscillator tone probes over a 256-sample window:
#: (k cycles/window, A = round(2^14·cos(2πk/256)),
#:  B = round(2^14·sin(2πk/256))). The integer constants ARE the tone
#: spec — both engines replay the same Chebyshev recurrence from them,
#: so no libm cos/sin ever enters the data path.
TONE_PROBES = ((8, 16069, 3196), (16, 15137, 6270), (32, 11585, 11585))
TONE_SCALE = 16384  # 2^14


def quantized_oscillator(n: int, a: int, b: int) -> "tuple[list, list]":
    """Integer cos/sin tables of length ``n`` from the Chebyshev
    recurrence ``x[i+1] = floor(2·a·x[i] / S) − x[i−1]`` with
    c[0]=S, c[1]=a, s[0]=0, s[1]=b (S = TONE_SCALE). Pure integer —
    deterministic on any platform; the DuckDB twin regenerates the
    identical tables with a recursive CTE (floor of an exact double
    quotient: |2·a·x| ≤ 2^29 ≪ 2^53). Slow amplitude drift from the
    quantization is PART of the spec, not an error."""
    c, sn = [TONE_SCALE, a], [0, b]
    for i in range(1, n - 1):
        c.append((2 * a * c[i]) // TONE_SCALE - c[i - 1])
        sn.append((2 * a * sn[i]) // TONE_SCALE - sn[i - 1])
    return c[:n], sn[:n]


def audio_tone_power(df: DataFrame) -> DataFrame:
    """Frequency-domain audio feature — the tone-detection projection
    (the Goertzel/DTMF use case) completing the time-domain trio
    (energy l82, ZCR l88, autocorrelation l90): for each decodable
    payload, the exact integer correlation magnitude
    ``|Σ x·c_k| + |Σ x·s_k|`` against three quantized oscillator
    probes (k = 8/16/32 cycles per 256-sample window), plus the
    dominant probe (ties → lowest k). int64 headroom:
    |x| ≤ 2000 · |table| ≤ 2^14 · 256 terms ⇒ |dot| ≤ 2^34.

    Scale: decode + three numpy dots per doc inside one vectorized
    ``mapInPandas`` pass — payload bytes never shuffle, the oscillator
    tables are module constants shipped in the UDF closure, output is
    one bounded row per doc.
    """
    import array
    import sys

    import numpy as np

    from pyspark_recs.llmops.wav import decode_wav

    tables = [
        tuple(
            np.asarray(t, dtype=np.int64)
            for t in quantized_oscillator(256, a, b)
        )
        for _, a, b in TONE_PROBES
    ]
    ks = [k for k, _, _ in TONE_PROBES]

    def decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    _, channels, _, pcm = decode_wav(bytes(payload))
                    if channels != 1:
                        raise ValueError("mono only")
                    a16 = array.array("h")
                    a16.frombytes(pcm)
                    if sys.byteorder == "big":  # pragma: no cover
                        a16.byteswap()
                    x = np.asarray(a16, dtype=np.int64)
                    mags = [
                        abs(int(np.dot(x, c[: len(x)])))
                        + abs(int(np.dot(x, sn[: len(x)])))
                        for c, sn in tables
                    ]
                    dom = ks[mags.index(max(mags))]
                    rows.append((doc_id, "ok", *mags, dom))
                except Exception:
                    rows.append(
                        (doc_id, "decode_error", None, None, None, None)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "status", "mag_k8", "mag_k16", "mag_k32",
                    "dominant_k",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=AUDIO_TONE_SCHEMA
    )


def audio_autocorrelation(df: DataFrame) -> DataFrame:
    """Raw integer autocorrelation at fixed lags over decoded WAV
    payloads — the pitch/periodicity proxy beside the ZCR and energy
    windows (a periodic signal's autocorrelation peaks at its period;
    dominant-lag ratios are the classic cheap F0 detector): ``ac_k =
    sum(x[i] * x[i-k])`` for k in {1, 2, 4}, plus ``energy`` (the lag-0
    term, sum of squares). 16-bit samples keep every product below
    2^31 and the 256-term sums far below 2^63, so the arithmetic is
    exact int64 and the DuckDB twin replays it from the synth formula
    alone. Undecodable payloads dead-letter as one
    ``status='decode_error'`` row with NULL features.

    Scale: decode + the lag folds happen inside one vectorized
    ``mapInPandas`` pass (numpy dot per lag) — payload bytes never
    shuffle, output is one bounded row per doc.
    """
    import array
    import sys

    import numpy as np

    from pyspark_recs.llmops.wav import decode_wav

    def decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    _, channels, _, pcm = decode_wav(bytes(payload))
                    if channels != 1:
                        raise ValueError("mono only")
                    a = array.array("h")
                    a.frombytes(pcm)
                    if sys.byteorder == "big":  # pragma: no cover
                        a.byteswap()
                    x = np.asarray(a, dtype=np.int64)
                    rows.append(
                        (
                            doc_id,
                            "ok",
                            int(np.dot(x, x)),
                            int(np.dot(x[1:], x[:-1])),
                            int(np.dot(x[2:], x[:-2])),
                            int(np.dot(x[4:], x[:-4])),
                        )
                    )
                except Exception:
                    rows.append(
                        (doc_id, "decode_error", None, None, None, None)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "status", "energy", "ac1", "ac2", "ac4",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=AUDIO_AUTOCORR_SCHEMA
    )


def vad_segments(windows: DataFrame, threshold: int) -> DataFrame:
    """Energy-gate voice-activity detection over per-window energies:
    windows with ``win_abs >= threshold`` are active; consecutive
    active windows merge into segments via gaps-and-islands
    (``win_idx - row_number()`` is constant within a run). Pure
    DataFrame ops after the codec seam — the run-length logic is
    window functions + two aggregations, never Python.

    Returns one row per decodable doc: ``n_windows, n_active,
    n_segments, longest_run, active_abs_sum`` (zeros when nothing is
    active). Dead-letter rows are the caller's to re-attach — this
    operator only sees ``status='ok'`` windows.

    Scale: every window function and aggregation is partitioned by
    ``doc_id`` (never a single-partition frame); rows per doc are
    n_frames/window bounded, so skew is structurally impossible.
    """
    from pyspark.sql.window import Window as W

    from pyspark_recs.workloads.common import snapshot_plan

    # The window stream is consumed by TWO plan branches (the per-doc
    # counts and the island merge), and its upstream is typically the
    # decode mapInPandas seam — without a materialization barrier each
    # branch re-executes the full synth+decode (l82's before plan shows
    # the codec seam twice). Snapshot the 3-column ok projection once;
    # both branches read the (tiny: integers-per-window) blocks.
    ok = snapshot_plan(
        windows.filter(F.col("status") == "ok").select(
            "doc_id", "win_idx", "win_abs"
        )
    )
    base = ok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(
            (F.col("win_abs") >= threshold).cast("long")
        ).alias("n_active"),
    )
    w = W.partitionBy("doc_id").orderBy("win_idx")
    seg = (
        ok.filter(F.col("win_abs") >= threshold)
        .withColumn("island", F.col("win_idx") - F.row_number().over(w))
        .groupBy("doc_id", "island")
        .agg(
            F.count(F.lit(1)).alias("run_len"),
            F.sum("win_abs").alias("seg_abs"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.max("run_len").alias("longest_run"),
            F.sum("seg_abs").alias("active_abs_sum"),
        )
    )
    zero = F.lit(0).cast("long")
    return base.join(seg, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        "n_active",
        F.coalesce("n_segments", zero).alias("n_segments"),
        F.coalesce("longest_run", zero).alias("longest_run"),
        F.coalesce("active_abs_sum", zero).alias("active_abs_sum"),
    )


AUGMENT_SCHEMA = (
    "doc_id bigint, variant string, status string, "
    "pixel_sum bigint, pos_weighted_sum bigint"
)


def augment_image_payloads(df: DataFrame) -> DataFrame:
    """Training-data image AUGMENTATION over real-decoded payloads:
    decode (PNG/JPEG by magic sniff), emit the original plus two exact
    geometric variants — 90° clockwise rotation and horizontal flip —
    as three rows per image. Alongside the permutation-invariant
    ``pixel_sum``, each row carries ``pos_weighted_sum`` =
    Σ (i+1)·p'[i], which CHANGES under any wrong permutation — the
    fact that proves the rotation/flip index math is right, not just
    that the bytes survived. Grayscale (channel 0) geometry;
    undecodable payloads dead-letter as three ``status=
    'decode_error'`` rows so output cardinality is uniform.

    Scale: decode + both transforms run inside one ``mapInPandas``;
    payload bytes never shuffle; output is 2 integers per (doc,
    variant). The augmented PIXELS stay inside the seam — a real
    pipeline would hand them straight to the feature extractor
    (``extract_features``) in the same pass, never materializing
    augmented images.
    """
    from pyspark_recs.llmops.jpeg import decode_jpeg
    from pyspark_recs.llmops.png import decode_png

    def augment_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                try:
                    if data[:8] == b"\x89PNG\r\n\x1a\n":
                        w, h, ch, px = decode_png(data)
                    elif data[:2] == b"\xff\xd8":
                        w, h, ch, px = decode_jpeg(data)
                    else:
                        raise ValueError("unknown image magic")
                    gray = px[::ch] if ch > 1 else px

                    def facts(variant, pixels):
                        s = 0
                        ws = 0
                        for i, p in enumerate(pixels):
                            s += p
                            ws += (i + 1) * p
                        rows.append((doc_id, variant, "ok", s, ws))

                    facts("orig", gray)
                    # 90 deg clockwise: out[y*w' + x] = in[(h-1-x)*w + y]
                    # (w' = h); for square images w' = w
                    rot = [
                        gray[(h - 1 - x) * w + y]
                        for y in range(w)
                        for x in range(h)
                    ]
                    facts("rot90", rot)
                    flip = [
                        gray[y * w + (w - 1 - x)]
                        for y in range(h)
                        for x in range(w)
                    ]
                    facts("flip_h", flip)
                except Exception:
                    for variant in ("orig", "rot90", "flip_h"):
                        rows.append(
                            (doc_id, variant, "decode_error", None, None)
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "variant", "status",
                    "pixel_sum", "pos_weighted_sum",
                ],
            )

    return df.select("doc_id", "payload").mapInPandas(
        augment_batches, schema=AUGMENT_SCHEMA
    )


def downsample_audio_payloads(df: DataFrame, factor: int = 2) -> DataFrame:
    """REAL audio resampling round trip: decode WAV, decimate by
    ``factor`` with an exact integer box filter (each output sample is
    ``floor(mean)`` of its input block — Python ``//`` floor semantics,
    replayed by the oracle as ``floor(sum/n)`` on exact doubles),
    RE-ENCODE at the reduced rate, decode AGAIN, and emit the facts of
    the re-decoded stream — so a wrong byte anywhere in
    decode→decimate→encode→decode fails the gate. A trailing partial
    block is dropped. Undecodable payloads dead-letter as
    ``status='decode_error'``.

    The sample-rate metadata divides by ``factor`` (8000→4000 Hz for
    the default), which is what makes this resampling rather than
    time-stretching.

    Scale: the whole chain runs inside one ``mapInPandas`` — payloads
    are never shuffled at either rate; output is 6 bounded integers
    per doc.
    """
    import array
    import sys

    from pyspark_recs.llmops.wav import decode_wav, encode_wav, pcm_facts

    def resample_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                try:
                    rate, ch, n, pcm = decode_wav(bytes(payload))
                    if ch != 1:
                        raise ValueError("mono only")
                    a = array.array("h")
                    a.frombytes(pcm)
                    if sys.byteorder == "big":  # pragma: no cover
                        a.byteswap()
                    out = array.array(
                        "h",
                        (
                            sum(a[j * factor : (j + 1) * factor]) // factor
                            for j in range(len(a) // factor)
                        ),
                    )
                    if sys.byteorder == "big":  # pragma: no cover
                        out.byteswap()
                    wav2 = encode_wav(rate // factor, 1, out.tobytes())
                    rate2, ch2, n2, pcm2 = decode_wav(wav2)
                    total, abs_total, _, _ = pcm_facts(pcm2)
                    rows.append(("ok", rate2, n2, total, abs_total))
                except Exception:
                    rows.append(("decode_error", None, None, None, None))
            out_pdf = pd.DataFrame(
                rows,
                columns=[
                    "status", "sample_rate", "n_frames",
                    "amp_sum", "amp_abs_sum",
                ],
            )
            out_pdf.insert(0, "doc_id", pdf["doc_id"].values)
            yield out_pdf

    return df.select("doc_id", "payload").mapInPandas(
        resample_batches,
        schema=(
            "doc_id bigint, status string, sample_rate int, "
            "n_frames bigint, amp_sum bigint, amp_abs_sum bigint"
        ),
    )


VIDEO_SCHEMA = (
    "doc_id bigint, status string, width int, height int, "
    "colorspace string, n_frames bigint, n_sampled bigint, "
    "luma_sum bigint"
)


def decode_video_payloads(df: DataFrame, sample_every: int = 4) -> DataFrame:
    """REAL video-container decode — the video member of the
    decode_image/audio family: parse each binary payload as Y4M
    (llmops/y4m.py — real header/FRAME-marker walking), SAMPLE every
    ``sample_every``-th frame by seek (fixed frame size: skipped
    frames are never materialized — the production thin-before-
    feature-extract step), and emit typed video facts (geometry,
    total/sampled frame counts, exact integer luma sum over the
    sampled frames). Undecodable payloads dead-letter as
    ``status='decode_error'`` rows with NULL facts.

    Swap ``decode_y4m`` for ffmpeg/PyAV to add compressed codecs — the
    Arrow batch shape, schema and partition parallelism are the
    production contract. Scale: decode runs partition-parallel inside
    ``mapInPandas``; payload bytes never shuffle (decode-then-drop
    before any wide stage, the codec-family discipline)."""
    from pyspark_recs.llmops.y4m import decode_y4m

    def decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                try:
                    w, h, cs, n, lumas = decode_y4m(
                        bytes(payload), sample_every=sample_every
                    )
                    rows.append(
                        ("ok", w, h, cs, n, len(lumas),
                         sum(sum(p) for p in lumas))
                    )
                except Exception:
                    rows.append(
                        ("decode_error", None, None, None, None, None,
                         None)
                    )
            out = pd.DataFrame(
                rows,
                columns=[
                    "status", "width", "height", "colorspace",
                    "n_frames", "n_sampled", "luma_sum",
                ],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return df.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=VIDEO_SCHEMA
    )


RESIZED_SCHEMA = "doc_id bigint, resized binary, n_bytes int"


VIDEO_FRAME_SCHEMA = (
    "doc_id bigint, status string, frame_idx int, luma_sum bigint"
)


def video_frame_lumas(df: DataFrame) -> DataFrame:
    """Decode Y4M payloads to one row per FRAME with its exact integer
    luma sum — the per-frame feed for scene-cut detection
    (cut = large inter-frame luma delta, merged into scenes by the
    same gaps-and-islands discipline as l82's audio segments and
    l84's text spans). Undecodable payloads dead-letter as one
    ``status='decode_error'`` row.

    Scale: decode runs partition-parallel in one ``mapInPandas``;
    frame PLANES never leave the seam — only (frame_idx, luma_sum)
    integers cross a stage boundary, so downstream windows shuffle
    n_frames rows per clip regardless of resolution.
    """
    from pyspark_recs.llmops.y4m import decode_y4m

    def decode_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, statuses, idxs, lumas = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    _, _, _, _, planes = decode_y4m(
                        bytes(payload), sample_every=1
                    )
                    for f, plane in enumerate(planes):
                        doc_ids.append(doc_id)
                        statuses.append("ok")
                        idxs.append(f)
                        lumas.append(sum(plane))
                except Exception:
                    doc_ids.append(doc_id)
                    statuses.append("decode_error")
                    idxs.append(None)
                    lumas.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "status": statuses,
                    "frame_idx": idxs,
                    "luma_sum": lumas,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        decode_batches, schema=VIDEO_FRAME_SCHEMA
    )


def scene_cuts(frames: DataFrame, threshold: int) -> DataFrame:
    """Scene-cut detection over per-frame luma sums: a cut opens a new
    scene when ``|luma(f) - luma(f-1)| > threshold``; scenes are
    contiguous frame runs between cuts. Pure window-function
    DataFrame ops partitioned by ``doc_id`` (the video member of the
    gaps-and-islands family). Returns one row per decodable doc:
    ``n_frames, n_cuts, n_scenes, longest_scene_frames``.
    """
    from pyspark.sql.window import Window as W

    from pyspark_recs.workloads.common import snapshot_plan

    ok = frames.filter(F.col("status") == "ok")
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    # Both consumers (per-doc totals and per-scene lengths) need only
    # these three columns, and the upstream is the frame-decode seam —
    # snapshot once so the synth+decode mapInPandas pair and the
    # doc_id window execute a single time instead of once per branch.
    cuts = snapshot_plan(
        ok.withColumn(
            "is_cut",
            (
                F.abs(
                    F.col("luma_sum") - F.lag("luma_sum").over(w)
                )
                > threshold
            )
            .cast("long"),
        )
        .withColumn(
            "is_cut", F.coalesce("is_cut", F.lit(0).cast("long"))
        )
        .withColumn("scene_id", F.sum("is_cut").over(w))
        .select("doc_id", "is_cut", "scene_id")
    )
    per_scene = cuts.groupBy("doc_id", "scene_id").agg(
        F.count(F.lit(1)).alias("scene_frames")
    )
    return (
        cuts.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum("is_cut").alias("n_cuts"),
        )
        .join(
            per_scene.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("n_scenes"),
                F.max("scene_frames").alias("longest_scene_frames"),
            ),
            "doc_id",
        )
    )


def resize_payload(df: DataFrame, out_bytes: int = 16) -> DataFrame:
    """Resize/thumbnail over binary payloads: fixed-size output byte
    grid via evenly-strided sampling (the nearest-neighbor-downsample
    stand-in for a real image resize — swap the sampler for
    PIL ``Image.resize`` / ffmpeg scale; batch shape, binary-in/
    binary-out schema and partition parallelism are the production
    contract). Payloads shorter than ``out_bytes`` are dropped."""

    def _resize_one(payload: bytes) -> bytes | None:
        n = len(payload)
        if n < out_bytes:
            return None
        stride = n // out_bytes
        return bytes(payload[j * stride] for j in range(out_bytes))

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [_resize_one(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "resized": resized,
                    "n_bytes": [
                        len(r) if r is not None else 0 for r in resized
                    ],
                }
            )
            yield out[out["resized"].notna()]

    return df.select("doc_id", "payload").mapInPandas(
        resize_batches, schema=RESIZED_SCHEMA
    )


FRAMES_SCHEMA = "doc_id bigint, frame_idx int, frame_bytes int, frame_hash string"


def frame_sample(
    df: DataFrame, frame_size: int = 32, hop: int = 32
) -> DataFrame:
    """Frame sampling over binary payloads — the video/audio shape: one
    input row fans out to one row per fixed-size frame (1→N expansion
    inside Arrow batches; the UDTF-shaped multimodal op). A real
    implementation decodes frames with ffmpeg at ``hop`` intervals; the
    stand-in slices raw byte windows and fingerprints each, keeping the
    fan-out, schema and batch contract identical. Payloads shorter than
    one frame yield no rows (dead-letter-routed in production)."""
    import hashlib

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, hashes = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"].values, pdf["payload"]):
                n_frames = max(0, (len(payload) - frame_size) // hop + 1)
                for j in range(n_frames):
                    frame = payload[j * hop : j * hop + frame_size]
                    ids.append(doc_id)
                    idxs.append(j)
                    sizes.append(len(frame))
                    hashes.append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "frame_bytes": sizes,
                    "frame_hash": hashes,
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        frame_batches, schema=FRAMES_SCHEMA
    )


FETCHED_SCHEMA = (
    "doc_id bigint, url string, status string, payload binary, n_attempts int"
)


def synthesize_image_urls(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Build the per-row asset URL the fetch stage pulls (the reference
    derives S3/HTTP image URLs per article before CLIP-encoding them,
    app_utils.py:10-26, my_merlin_flow.py:586-599)."""
    return df.select(
        F.col(id_col),
        F.concat(
            F.lit("https://img.example.com/"),
            F.col(id_col).cast("string"),
            F.lit(".jpg"),
        ).alias("url"),
    )


def fake_http_fetcher(url: str, attempt: int) -> bytes:
    """Deterministic stand-in for an HTTP GET (the container has no
    network): payload = the URL's ascii bytes. Simulates the two failure
    modes a real fetcher hits — a permanent 404 (asset ids divisible by
    13 always raise) and a transient 5xx (ids divisible by 11 raise on
    the first attempt only, succeeding on retry) — so the retry and
    dead-letter paths are exercised and oracle-checkable."""
    asset_id = int(url.rsplit("/", 1)[1].split(".")[0])
    if asset_id % 13 == 0:
        raise IOError(f"404 not found: {url}")
    if asset_id % 11 == 0 and attempt == 0:
        raise IOError(f"503 transient: {url}")
    return url.encode("ascii")


def http_fetcher(timeout: float = 5.0):
    """Real fetcher factory for production use (app_utils.py:14-20):
    stdlib urllib, constructed inside the closure so it pickles to
    executors. Same ``(url, attempt) -> bytes`` contract as the fake."""

    def fetch(url: str, attempt: int) -> bytes:
        import urllib.request

        with urllib.request.urlopen(url, timeout=timeout) as resp:
            return resp.read()

    return fetch


def fetch_payloads(
    df: DataFrame,
    fetcher=fake_http_fetcher,
    max_attempts: int = 3,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """HTTP-fetch source (S11, app_utils.py:14-20): Arrow-batched
    ``mapInPandas`` pull of binary assets with bounded retry; permanent
    failures become ``status='dead_letter'`` rows (payload NULL) instead
    of failing the job — route them to a side table downstream.

    Scale: fetches run partition-parallel on executors (the reference
    parallelizes the same loop with joblib on one box,
    my_merlin_flow.py:592-599); no driver involvement, no shuffle. Size
    partitions so per-task fetch counts amortize connection setup, and
    repartition upstream if the URL list arrives in few files. URL rows
    are tiny (id + string), so the spread_partitions guard below
    round-robins them across cores when the upstream scan yields fewer
    splits than cores — the fetch/encode stages downstream are the
    per-row-heavy Python work that would otherwise serialize; at real
    scale the guard is a no-op (URL lists arrive as many splits)."""
    from pyspark_recs.io.loaders import spread_partitions

    df = spread_partitions(df)

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, statuses, attempts = [], [], []
            for url in pdf[url_col]:
                payload, used = None, 0
                for attempt in range(max_attempts):
                    used = attempt + 1
                    try:
                        payload = fetcher(url, attempt)
                        break
                    except Exception:
                        continue
                payloads.append(payload)
                statuses.append("ok" if payload is not None else "dead_letter")
                attempts.append(used)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "url": pdf[url_col].values,
                    "status": statuses,
                    "payload": payloads,
                    "n_attempts": attempts,
                }
            )

    return df.select(id_col, url_col).mapInPandas(
        fetch_batches, schema=FETCHED_SCHEMA
    )


ENCODED_SCHEMA = "doc_id bigint, embedding array<double>"
ENCODER_DIM = 8


def tiny_image_encoder(payloads) -> list:
    """Pure-python deterministic "model": the pluggable-encoder demo
    standing in for CLIP (my_merlin_flow.py:586-599). Batched contract —
    a sequence of byte payloads in, one L2-normalized vector per payload
    out — exactly the signature a real model forward pass uses inside
    the pandas UDF; swap this callable for
    ``lambda ps: clip_model.encode_image(decode(ps))`` in production.

    The "model": stride-sample ``ENCODER_DIM`` bytes, scale to [0,1],
    L2-normalize with a fixed-point norm (integer-fold sum of squares)
    so the output is bit-identical across engines and batch shapes."""
    import math

    out = []
    for payload in payloads:
        n = len(payload)
        if n < ENCODER_DIM:
            out.append(None)
            continue
        stride = n // ENCODER_DIM
        raw = [payload[j * stride] / 255.0 for j in range(ENCODER_DIM)]
        sumsq = sum(math.floor(x * x * 1e12 + 0.5) for x in raw) / 1e12
        norm = math.sqrt(sumsq)
        out.append([x / norm for x in raw] if norm > 0 else None)
    return out


def encode_payloads(
    df: DataFrame, encoder=tiny_image_encoder, payload_col: str = "payload"
) -> DataFrame:
    """Model-encode binary payloads into embeddings (M7): Arrow-batched
    ``mapInPandas`` around a pluggable batched encoder. Rows the encoder
    rejects (too-short payloads) are dropped — dead-letter them upstream
    via ``fetch_payloads`` status instead.

    Scale: the model runs once per Arrow batch (set
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` to the model's
    optimal batch size); payload bytes never cross a shuffle — prune to
    (id, embedding) immediately after this operator."""

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = encoder(pdf[payload_col])
            out = pd.DataFrame({"doc_id": pdf["doc_id"].values, "embedding": vecs})
            yield out[out["embedding"].notna()]

    return df.select("doc_id", payload_col).mapInPandas(
        encode_batches, schema=ENCODED_SCHEMA
    )


FEATURES_SCHEMA = "doc_id bigint, features array<double>"


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Feature extraction over binary payloads (the CLIP-encode /
    resize / frame-sample shape, my_merlin_flow.py:586-599): sample
    ``dim`` evenly-spaced bytes and scale to [0,1].

    The sampler is the deterministic stand-in for a real encoder — the
    Arrow batch shape, schema contract and partition parallelism are
    exactly what a model UDF uses (swap ``_sample_bytes`` for a model
    forward pass; batch at ``spark.sql.execution.arrow.maxRecordsPerBatch``).
    Rows shorter than ``dim`` bytes are dropped (a real decoder would
    route them to a dead-letter output)."""

    def _sample_bytes(payload: bytes) -> list[float] | None:
        n = len(payload)
        if n < dim:
            return None
        stride = n // dim
        return [payload[j * stride] / 255.0 for j in range(dim)]

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_sample_bytes(p) for p in pdf["payload"]]
            out = pd.DataFrame({"doc_id": pdf["doc_id"].values, "features": feats})
            yield out[out["features"].notna()]

    return df.select("doc_id", "payload").mapInPandas(
        feature_batches, schema=FEATURES_SCHEMA
    )
