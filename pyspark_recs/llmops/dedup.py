"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- exact dedup is a hash-groupBy (one shuffle on a 16-byte digest, never
  on the document body);
- MinHash signatures are a pure projection (no shuffle); LSH banding
  turns all-pairs O(n²) into a self-equi-join on (band, key) buckets —
  shuffle keyed by band hash, candidate pairs only within buckets;
- SimHash is a token-explode + bit-count aggregate (one shuffle on
  doc_id, combiner-friendly);
- n-gram Jaccard is the *verification* step applied to candidate pairs
  only, never all pairs.

All hashing is md5-derived (pyspark_recs.llmops.hashing) so the DuckDB
oracle reproduces results bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_recs.llmops.hashing import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    SHINGLE_BASE,
    md5_long,
)
from pyspark_recs.llmops.textstats import tokens


def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup by content digest: one row per distinct text with the
    canonical (min) doc_id and duplicate count (generalizes A2,
    dedup_transactions.sql:9-14).

    Scale: groupBy on md5 digest — tiny shuffle keys; the text column is
    pruned before the exchange."""
    return (
        df.select("doc_id", F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def word_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles (1-based element_at, mirroring the
    1-based list indexing of the SQL oracle)."""
    words = tokens(text_col)
    idx = F.sequence(F.lit(1), F.size(words) - (n - 1))
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(words, i + j) for j in range(n)]
    )
    return F.array_distinct(F.transform(idx, gram))


def shingle_hashes(text_col: Column, n: int = 3) -> Column:
    """Distinct integer hashes of n-word shingles WITHOUT building
    shingle strings: hash each word once (md5-derived), then Horner-fold
    each n-window of word hashes in integer space
    (h = (h*B + next) % p). 5x faster than concat-then-md5 — the string
    allocation was the cost, not the hashing — and the downstream
    ``array_distinct`` dedups longs instead of strings."""
    words = tokens(text_col)
    wh = F.transform(words, lambda w: md5_long(w) % MINHASH_PRIME)
    m = F.size(wh) - (n - 1)
    acc = F.slice(wh, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(wh, 1 + j, m),
            lambda a, b: (a * F.lit(SHINGLE_BASE) + b) % MINHASH_PRIME,
        )
    return F.array_distinct(acc)


def minhash_signatures(
    df: DataFrame, text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """MinHash signatures: per-word 60-bit hash → Horner-combined
    n-word shingle hashes (see :func:`shingle_hashes`) → k
    universal-hash permutations (a*h+b mod p) → per-permutation min.

    Output: doc_id, sig_0..sig_{k-1}. Pure projection — embarrassingly
    parallel, no shuffle, safe at any scale.

    The shingle-hash array is materialized in its OWN projection before
    the k permutation-min expressions consume it. Inlining it into all
    k signatures (one flat select) re-runs the whole split→hash
    pipeline per permutation — codegen subexpression elimination does
    not reach through higher-order-function lambdas — which measured 7x
    slower; CollapseProject keeps the two-step split because it refuses
    to duplicate non-cheap expressions referenced more than once."""
    from pyspark_recs.io.loaders import spread_partitions

    staged = spread_partitions(
        df.filter(F.size(tokens(F.col(text_col))) >= shingle_n)
    ).select("doc_id", shingle_hashes(F.col(text_col), shingle_n).alias("hs"))
    sigs = [
        F.array_min(
            F.transform(
                F.col("hs"), lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME
            )
        ).alias(f"sig_{j}")
        for j, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return staged.select("doc_id", *sigs)


def band_keys(signatures: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """Explode a signature table into (doc_id, band_key) bucket rows —
    the shared indexing step of batch LSH (`lsh_candidate_pairs`) and
    incremental LSH (`incremental_lsh_admit`)."""
    n_sigs = len(MINHASH_COEFFS)
    n_bands = n_sigs // rows_per_band
    bands = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                *[
                    F.col(f"sig_{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(bands).alias("band_key"))


def lsh_candidate_pairs(
    signatures: DataFrame, rows_per_band: int = 2
) -> DataFrame:
    """LSH banding: split the signature into bands of ``rows_per_band``
    minhashes, bucket by (band_id, band value), emit candidate pairs
    sharing any bucket.

    Scale: the self-join is an equi-join on (band_id, band_key) — Spark
    shuffles both sides by bucket; within-bucket pair expansion is the
    only quadratic term and is bounded by bucket size (salt or re-band
    if a degenerate bucket appears; AQE skew-join splits oversized
    partitions)."""
    buckets = band_keys(signatures, rows_per_band)
    left = buckets.alias("x")
    right = buckets.alias("y")
    return (
        left.join(
            right,
            (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", bits: int = 16
) -> DataFrame:
    """SimHash: per-token 60-bit hash; each of ``bits`` bit positions
    votes +1/-1 weighted by term frequency; fingerprint packs the sign
    bits.

    Scale: ZERO shuffle — the vote is a per-document array fold
    (token hashes are materialized once per doc, then each bit's ±1
    vote is an `aggregate` over that in-memory array), so the operator
    is a pure projection that parallelizes across scan partitions.
    The earlier explode + groupBy(doc_id) form paid a full exchange of
    bits-per-doc partial aggregates; this one pays none (measured
    2.6 s → ~1 s at sf0.1, identical integer votes)."""
    from pyspark_recs.io.loaders import spread_partitions

    df = spread_partitions(df)
    hashed = df.select(
        "doc_id",
        F.transform(tokens(F.col(text_col)), lambda t: md5_long(t)).alias(
            "hs"
        ),
    ).filter(F.size("hs") > 0)  # explode-form parity: tokenless docs drop
    fp = None
    for b in range(bits):
        vote = F.aggregate(
            "hs",
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1)).cast("long"),
        )
        term = F.when(vote > 0, F.lit(2**b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return hashed.select("doc_id", fp.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.05,
    with_sets: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity over candidate pairs within blocking
    groups (here: metadata blocks; in the full pipeline: LSH buckets).

    Jaccard = |A∩B| / |A∪B| over distinct n-gram sets. Division of two
    small exact integers — bit-deterministic.

    Scale: NEVER all-pairs — the join is equi on the blocking key, and
    the quadratic term is bounded per block. The sets are explicitly
    hash-partitioned on the block key BEFORE the self-join: a small
    single-file input otherwise plans a broadcast self-join on one
    input partition and the whole quadratic term runs on ONE task
    (the EXPLICIT partition count matters: a bare key repartition gets
    AQE-coalesced back to one partition because the shuffle is only a
    few MB — AQE optimizes bytes, not CPU-per-row; measured 6.8 s →
    0.9 s at sf0.1). At rest, the same partitioning is the co-location
    you'd bucket for. ``with_sets`` (columns: group_cols + doc_id +
    grams, e.g. a session-shared shingle-set table) skips
    re-shingling."""
    if with_sets is None:
        with_sets = df.select(
            *group_cols,
            F.col("doc_id"),
            word_shingles(F.col(text_col), shingle_n).alias("grams"),
        )
    with_sets = with_sets.repartition(32, *[F.col(g) for g in group_cols])
    a = with_sets.alias("a")
    b = with_sets.alias("b")
    cond = (F.col("a.doc_id") < F.col("b.doc_id"))
    for g in group_cols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    jac = inter.cast("double") / union
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    shingle_n: int = 3,
    threshold_ppm: int = 600_000,
    with_sets: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC containment C(A,B) = |A∩B| / |A| over blocked
    candidate pairs — the subsumption test Jaccard misses: a short doc
    fully quoted inside a long one has containment ≈ 1 while Jaccard
    ≈ |A|/|B| ≈ 0 (the criterion CCNet/Dolma-style pipelines use to
    drop subsumed documents rather than near-identical twins). Both
    directions are emitted in exact integer ppm (BIGINT
    cross-multiplied division) so the keep-the-superset decision is
    bit-deterministic; a pair survives when EITHER direction clears
    ``threshold_ppm``.

    Scale: identical blocking discipline to :func:`ngram_jaccard_pairs`
    — equi-join on the block key, quadratic only within blocks, set
    ops JVM-side on bounded gram arrays, block-key repartition so the
    pair work parallelizes instead of collapsing onto one broadcast
    task. ``with_sets`` (columns: group_cols + doc_id + grams, e.g. a
    session-shared shingle-set table) skips re-shingling.
    """
    if with_sets is None:
        with_sets = df.select(
            *group_cols,
            F.col("doc_id"),
            word_shingles(F.col(text_col), shingle_n).alias("grams"),
        )
    with_sets = with_sets.repartition(32, *[F.col(g) for g in group_cols])
    a = with_sets.alias("a")
    b = with_sets.alias("b")
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    for g in group_cols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            inter.cast("long").alias("n_common"),
            F.size(F.col("a.grams")).cast("long").alias("n_a"),
            F.size(F.col("b.grams")).cast("long").alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.expr("(1000000L * n_common) div n_a").alias("contain_a_ppm"),
            F.expr("(1000000L * n_common) div n_b").alias("contain_b_ppm"),
        )
        .filter(
            (F.col("contain_a_ppm") >= threshold_ppm)
            | (F.col("contain_b_ppm") >= threshold_ppm)
        )
    )


def verified_neardup_edges(
    df: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    shingle_sets: DataFrame | None = None,
) -> DataFrame:
    """Candidate generation + verification halves of the near-dup
    pipeline: LSH banding proposes pairs, exact shingle-set Jaccard
    confirms them. Only candidate pairs are ever scored — the all-pairs
    quadratic never materializes. ``candidates`` lets callers supply a
    pre-materialized (doc_a, doc_b) LSH pair table (the l03 output)
    instead of re-banding; ``shingle_sets`` a (doc_id, grams) table
    instead of re-shingling."""
    cand = candidates
    if cand is None:
        cand = lsh_candidate_pairs(
            minhash_signatures(df, text_col, shingle_n), rows_per_band
        )
    sets = shingle_sets
    if sets is None:
        sets = df.select(
            "doc_id", word_shingles(F.col(text_col), shingle_n).alias("grams")
        )
    a = sets.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    b = sets.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    jac = (
        F.size(F.array_intersect(F.col("ga"), F.col("gb"))).cast("double")
        / F.size(F.array_union(F.col("ga"), F.col("gb")))
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the
    canonicalization step of dedup (every member of a near-dup cluster
    maps to the cluster's smallest id). The fixpoint is unique, so the
    result is deterministic regardless of iteration count or
    partitioning (DataFrame-native; same shape GraphFrames uses).

    Scale: each round is one join + one min-aggregate, shuffles keyed
    by node id; rounds ≈ component diameter (near-dup clusters are
    shallow). Each round is a ``snapshot_plan`` (truncating lineage)
    and the superseded round is released once the next has
    materialized, so storage holds at most two rounds at a time.

    Output: (node, label) for every node in ``nodes``; singletons label
    themselves.  Raises ``RuntimeError`` if ``max_iter`` rounds pass
    without convergence — silently returning split components would make
    dedup quietly under-merge.  The returned labels are the final
    round's snapshot (released at session teardown).
    """
    from pyspark_recs.workloads.common import (
        held,
        release_snapshot,
        snapshot_plan,
    )

    # Hold the edge list for the whole loop — it is consumed every
    # iteration, and recomputing its upstream (LSH + Jaccard
    # verification) per round would dominate the runtime.
    with held(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
    ) as (sym,):
        sym.count()
        labels = nodes.select(
            F.col(id_col).alias("node"), F.col(id_col).alias("label")
        )
        for _ in range(max_iter):
            neighbor_labels = sym.join(
                labels, sym["b"] == labels["node"]
            ).select(F.col("a").alias("node"), F.col("label"))
            new_labels = snapshot_plan(
                labels.unionByName(neighbor_labels)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            changed = (
                new_labels.join(
                    labels.withColumnRenamed("label", "old"), "node"
                )
                .filter(F.col("label") != F.col("old"))
                .count()
            )
            release_snapshot(labels)
            labels = new_labels
            if changed == 0:
                return labels
    release_snapshot(labels)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "a component has diameter > max_iter and would be silently "
        "split — raise max_iter"
    )


def blocked_edit_pairs(
    df: DataFrame,
    prefix_len: int = 48,
    bucket_chars: int = 64,
    max_dist: int = 20,
) -> DataFrame:
    """Entity-resolution-style fuzzy near-dup: Levenshtein distance over
    a fixed-length document prefix, computed only WITHIN blocking keys
    of (lang, length bucket) — the classic blocking step that makes
    edit-distance dedup feasible at corpus scale.

    Levenshtein is O(prefix_len²) per pair, so the all-pairs form is
    doubly quadratic (pairs × cells). Blocking bounds the candidate set:
    Σ_b n_b² pairs instead of N², and near-identical docs land in the
    same block because an edit-distance-close pair has near-equal
    length and identical language. The distance itself runs JVM-side
    (`F.levenshtein`, no UDF).

    Output is integer-exact (doc ids + int distance) — bit-stable vs the
    DuckDB `levenshtein()` twin.

    Scale: the block self-join is an equi-join on (lang, bucket) — one
    shuffle keyed by block, quadratic term bounded per block. A skewed
    block (all docs same length) degrades toward n²; mitigate upstream
    by widening the key (more metadata) or sub-bucketing on a prefix
    hash, same trade as LSH band tuning.
    """
    blocked = df.select(
        "doc_id",
        F.col("lang"),
        (F.col("n_chars") / F.lit(bucket_chars)).cast("long").alias("lbucket"),
        F.substring(F.col("text"), 1, prefix_len).alias("prefix"),
    )
    # Spread the probe side: a small corpus arrives as one input split,
    # which would serialize the whole quadratic block-compare onto one
    # task under a broadcast join. Hash-repartitioning by doc_id costs
    # one tiny shuffle and buys full-cluster parallelism (at real scale
    # the scan is already many splits and this is a cheap no-op).
    # An explicit partition count pins the spread — AQE would coalesce
    # a byte-count-small shuffle back to one task, but bytes don't
    # measure this stage's cost (pairs × DP cells do).
    n_spread = blocked.sparkSession.sparkContext.defaultParallelism
    a = blocked.repartition(n_spread, F.col("doc_id")).alias("a")
    b = blocked.alias("b")
    # The threshold arg band-limits the DP to O(max_dist·prefix_len)
    # cells with early exit (returns -1 past the bound) — ~2.4× fewer
    # cells at max_dist=20/prefix_len=48, exact result within bound.
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lbucket") == F.col("b.lbucket")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            dist.alias("edit_dist"),
        )
        # banded levenshtein returns -1 past the bound and the true
        # distance (≤ max_dist) otherwise, so >= 0 is the whole filter —
        # keeping it single-reference stops the join residual from
        # evaluating the DP twice per candidate pair.
        .filter(F.col("edit_dist") >= 0)
    )


def incremental_lsh_admit(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    rows_per_band: int = 2,
    batch_sigs: DataFrame | None = None,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH dedup: gate an ARRIVING batch against the
    existing corpus's band index instead of re-deduping the corpus —
    the production shape of crawl dedup, where the corpus is petabytes
    at rest and only the delta is new work each cycle. (The gram-level
    analog is scrub.novelty_gate; this is the signature-level gate that
    catches near-dups, not just exact-gram overlap.)

    A batch doc is admitted iff NONE of its signature bands collide
    with any corpus band — the same candidate rule as
    `lsh_candidate_pairs`, evaluated batch-vs-index instead of
    self-join. Output: (doc_id, n_bands_hit, admit).

    Scale: the corpus index is (band_key) DISTINCT — built once,
    incrementally appendable (admitted docs' bands union in), and the
    probe is a bucket equi-join of batch bands against it: work is
    O(batch × bands), independent of corpus row count. The corpus
    never rescans.
    """
    if batch_sigs is None:
        batch_sigs = minhash_signatures(batch, text_col, shingle_n)
    if corpus_sigs is None:
        corpus_sigs = minhash_signatures(corpus, text_col, shingle_n)
    b_keys = band_keys(batch_sigs, rows_per_band)
    c_index = band_keys(corpus_sigs, rows_per_band).select(
        "band_key"
    ).distinct()
    hits = (
        b_keys.join(c_index, "band_key", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bands_hit"))
    )
    return (
        batch.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bands_hit"), F.lit(0)).alias("n_bands_hit"),
            (F.coalesce(F.col("n_bands_hit"), F.lit(0)) == 0).alias("admit"),
        )
    )


def hamming_neardup_pairs(
    fingerprints: DataFrame,
    radius: int = 2,
    bits: int = 16,
    n_blocks: int = 4,
    id_col: str = "doc_id",
    fp_col: str = "simhash",
) -> DataFrame:
    """Hamming-ball near-duplicate search over SimHash fingerprints via
    the multi-index pigeonhole (the HmSearch / multi-index-hashing
    family): split each ``bits``-wide fingerprint into ``n_blocks``
    equal blocks — any pair within Hamming distance < n_blocks must
    agree EXACTLY on at least one block — so candidate generation is an
    equi-self-join keyed on (block_idx, block_value), never all-pairs,
    and an exact bit_count(xor) filter confirms distance ≤ radius.
    Completes the simhash pipeline: l04 computes fingerprints, this
    finds their neighbors (requires radius < n_blocks for the
    pigeonhole guarantee — asserted).

    Scale: pair expansion is Σ_bucket n_b² over n_blocks·2^(bits/
    n_blocks) buckets; for skewed buckets (a common block value), raise
    n_blocks (more, smaller buckets; guarantee still holds while
    radius < n_blocks). The fingerprint table is (id, long) — tiny
    relative to the corpus, so even the dedup'd pair set broadcasts.
    """
    if radius >= n_blocks:
        raise ValueError("pigeonhole needs radius < n_blocks")
    width = bits // n_blocks
    mask = (1 << width) - 1
    sides = []
    for tag in ("a", "b"):
        sides.append(
            fingerprints.select(
                F.col(id_col).alias(f"id_{tag}"),
                F.col(fp_col).alias(f"fp_{tag}"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(blk).alias("blk"),
                                F.shiftright(F.col(fp_col), blk * width)
                                .bitwiseAND(F.lit(mask))
                                .alias("key"),
                            )
                            for blk in range(n_blocks)
                        ]
                    )
                ).alias("bk"),
            )
        )
    a, b = sides
    cand = (
        a.join(b, a.bk == b.bk)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.expr("bit_count(fp_a ^ fp_b)")
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
    )


def segment_dedup(
    docs: DataFrame,
    seg_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide duplicate-segment accounting (the C4/RefinedWeb
    "remove repeated lines/paragraphs across documents" pass, on a
    deterministic fixed-width segmenter): documents are cut into
    non-overlapping ``seg_tokens``-token segments, a segment is a
    duplicate iff an identical segment appeared earlier in corpus order
    (keep-first by (doc_id, seg_idx)), and each document reports how
    much of it survives — the retained_ratio both gates documents
    (heavily-boilerplate docs drop below a threshold) and measures
    corpus-level redundancy.

    Exact dedup at sub-document granularity complements l01 (whole-doc
    digests catch only full copies) and l34 (gram document-frequency
    flags common grams but keeps no first occurrence).

    Scale: segments shuffle as 32-byte md5 digests keyed by segment
    hash (text never leaves the map side after hashing); the
    first-occurrence is a min(struct) partial aggregate, not a window;
    the per-document rollup is combiner-friendly. Total shuffle =
    2 × (segment count) small rows regardless of document sizes.
    """
    words = tokens(F.col(text_col))
    n = F.size(words)
    segs = (
        docs.select(F.col(id_col), words.alias("words"))
        .filter(n >= 1)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("words") / F.lit(seg_tokens)).cast("int")
                        - F.lit(1),
                    ),
                    lambda i: F.struct(
                        i.alias("seg_idx"),
                        F.md5(
                            F.array_join(
                                F.slice(
                                    F.col("words"),
                                    i * seg_tokens + 1,
                                    seg_tokens,
                                ),
                                " ",
                            )
                        ).alias("h"),
                        F.least(
                            F.lit(seg_tokens),
                            F.size("words") - i * seg_tokens,
                        ).alias("seg_toks"),
                    ),
                )
            ).alias("s"),
        )
        .select(id_col, "s.seg_idx", "s.h", "s.seg_toks")
    )
    firsts = segs.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("first")
    )
    flagged = segs.join(firsts, "h").select(
        id_col,
        "seg_toks",
        (
            (F.col(f"first.{id_col}") != F.col(id_col))
            | (F.col("first.seg_idx") != F.col("seg_idx"))
        ).alias("is_dup"),
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_segments"),
        F.sum("seg_toks").alias("n_tokens"),
        F.sum(
            F.when(~F.col("is_dup"), F.col("seg_toks")).otherwise(F.lit(0))
        ).alias("retained_tokens"),
        (
            F.sum(
                F.when(~F.col("is_dup"), F.col("seg_toks")).otherwise(F.lit(0))
            ).cast("double")
            / F.sum("seg_toks").cast("double")
        ).alias("retained_ratio"),
    )


def duplicate_text_spans(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    trim_ppm_threshold: int = 500_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Arbitrary-offset duplicated-SPAN accounting (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    substring-dedup shape): a sliding token ``k``-gram is duplicated
    iff it occurs in >= ``min_docs`` DISTINCT documents; consecutive
    duplicated gram starts merge into maximal spans (gaps-and-islands —
    starts s, s' belong to one covered span iff s' - s <= k, i.e.
    their k-token windows overlap or touch); each document reports the
    union of covered tokens, its longest span, and a trim flag.

    Distinct from the neighbors: l48 cuts FIXED non-overlapping
    segments (misses any duplicate not aligned to a segment boundary),
    l34 flags common grams but keeps no positions (no spans, no
    coverage), l64 excises against an external benchmark (this is
    corpus-internal).

    Arithmetic is integer end-to-end; the coverage ratio is fixed-point
    ppm via exact bigint division (DuckDB ``//``).

    Scale: grams shuffle as (hash, doc) pairs for one distinct-doc
    count (combiner-friendly); the duplicated-gram set joins back by
    hash (shuffle join — the dup set is corpus-sized, never collected
    or broadcast); island detection windows are partitioned by
    ``doc_id`` and ordered by position (never a single-partition
    frame). Text never shuffles — only 8-byte hashes and positions.
    """
    words = tokens(F.col(text_col))
    toks = docs.select(
        F.col(id_col), words.alias("words"), F.size(words).alias("n_tokens")
    )
    # One tokenization feeds grams AND the base counts; gram table
    # feeds the dup-gram fit AND the position probe. Both are
    # run-scoped snapshots, released at session teardown.
    from pyspark_recs.workloads.common import snapshot_plan

    toks = snapshot_plan(toks)
    grams = (
        toks.filter(F.col("n_tokens") >= k)
        .select(
            id_col,
            "n_tokens",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(words) - {k}), "
                    f"i -> concat_ws(' ', slice(words, i + 1, {k})))"
                )
            ).alias("pos", "gram"),
        )
        .select(
            id_col, "n_tokens", "pos", md5_long(F.col("gram")).alias("gh")
        )
    )
    grams = snapshot_plan(grams)
    dup_grams = (
        grams.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh")
    )
    starts = grams.join(dup_grams, "gh")
    from pyspark.sql.window import Window as W

    w = W.partitionBy(id_col).orderBy("pos")
    spans = (
        starts.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_span",
            (F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k))
            .cast("long"),
        )
        .withColumn("span_id", F.sum("new_span").over(w))
        .groupBy(id_col, "n_tokens", "span_id")
        .agg(
            (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
        )
        .groupBy(id_col, "n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_tokens").alias("covered_tokens"),
            F.max("span_tokens").alias("max_span_tokens"),
        )
    )
    base = toks.select(id_col, "n_tokens")
    zero = F.lit(0).cast("long")
    out = base.join(spans.drop("n_tokens"), id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_spans", zero).alias("n_spans"),
        F.coalesce("covered_tokens", zero).alias("covered_tokens"),
        F.coalesce("max_span_tokens", zero).alias("max_span_tokens"),
    )
    # empty/whitespace-only docs have n_tokens = 0: guard the division
    # (Spark 4 runs ANSI mode by default, so a bare div would THROW)
    dup_ppm = F.when(
        F.col("n_tokens") > 0,
        F.expr("CAST((covered_tokens * 1000000) div n_tokens AS BIGINT)"),
    ).otherwise(F.lit(0).cast("long"))
    return out.select(
        id_col,
        "n_tokens",
        "n_spans",
        "covered_tokens",
        "max_span_tokens",
        dup_ppm.alias("dup_ppm"),
        (dup_ppm > F.lit(trim_ppm_threshold)).alias("flag_trim"),
    )


def content_defined_chunks(
    docs: DataFrame,
    gram: int = 8,
    mask: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync idea applied to a
    text corpus): a chunk boundary falls wherever the ``gram``-char
    rolling fingerprint is ≡ 0 (mod ``mask``), so boundaries depend
    only on LOCAL content — an insertion shifts at most one chunk,
    where :func:`segment_dedup`'s fixed-width segments all shift and
    stop matching. Each chunk is identified by its md5, deduped
    corpus-wide keep-first (order = (doc, position)), and each doc
    reports chunk count, duplicated-chunk count/ppm and mean chunk
    length — the storage-dedup accounting for a corpus.

    Exactness: the fingerprint is Σ ascii(c)·31^k over the gram — an
    exact BIGINT polynomial (≤ 127·31⁷·8 < 2⁴⁵, no modular fold, so no
    engine disagreement); ratios are integer ppm divisions.

    Plan shape (l84's discipline): chars explode to rows ONCE and the
    rolling hash is ``gram`` ``lead`` columns over the doc-partitioned
    char window — array-expression forms were measured O(n²) because
    Catalyst collapses projections and re-inlines the shared char-code
    array into every higher-order-lambda call (98-188 s vs ~2 s on 500
    docs). Boundary rows shrink to ~n/mask per doc before the span
    windows, chunk bytes are cut with one substring per CHUNK, and the
    dedup is one hash-keyed keep-first window.
    """
    from pyspark.sql import Window

    pows = [31 ** (gram - 1 - k) for k in range(gram)]
    base = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.length(F.col(text_col)).cast("int").alias("_n"),
    )
    chars = base.select(
        id_col,
        "_n",
        F.posexplode(F.split(F.col(text_col), "")).alias("_p0", "_c"),
    ).select(
        id_col,
        "_n",
        (F.col("_p0") + 1).alias("_j"),
        F.ascii("_c").cast("long").alias("_code"),
    )
    wd = Window.partitionBy(id_col).orderBy("_j")
    h = sum(
        F.lead("_code", k).over(wd) * F.lit(pows[k]) for k in range(gram)
    )
    # boundary = END position of a gram whose fingerprint hits the mask
    bounds = (
        chars.withColumn("_h", h)
        .filter(
            (F.col("_j") + gram - 1 <= F.col("_n"))
            & (F.col("_h") % mask == 0)
        )
        .select(id_col, "_n", (F.col("_j") + gram - 1).alias("_end"))
    )
    # every doc also ends a chunk at _n (dropped later if empty)
    ends = bounds.unionByName(
        base.select(id_col, "_n", F.col("_n").alias("_end"))
    ).distinct()
    we = Window.partitionBy(id_col).orderBy("_end")
    spans = (
        ends.withColumn(
            "_start", F.coalesce(F.lag("_end").over(we) + 1, F.lit(1))
        )
        .withColumn("chunk_idx", F.row_number().over(we))
        .filter(F.col("_end") >= F.col("_start"))
    )
    chunked = spans.join(base.select(id_col, text_col), id_col).select(
        id_col,
        "chunk_idx",
        (F.col("_end") - F.col("_start") + 1).alias("clen"),
        F.md5(
            F.expr(f"substring({text_col}, _start, _end - _start + 1)")
        ).alias("chash"),
    )
    wk = Window.partitionBy("chash").orderBy(id_col, "chunk_idx")
    ranked = chunked.withColumn("rk", F.row_number().over(wk))
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("rk") > 1).cast("long")).alias("n_dup_chunks"),
            F.sum("clen").alias("total_len"),
        )
        .select(
            id_col,
            "n_chunks",
            "n_dup_chunks",
            F.expr(
                "CAST((n_dup_chunks * 1000000) div n_chunks AS BIGINT)"
            ).alias("dup_ppm"),
            F.expr("total_len div n_chunks").alias("mean_chunk_len"),
        )
    )
