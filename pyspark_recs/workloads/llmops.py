"""LLM-data-pipeline workloads (dedup / similarity / text / multimodal)
over the testdata ``documents`` and ``embeddings`` tables, each with a
DuckDB oracle twin (md5-derived hashing keeps results bit-identical).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_recs.io import load_table
from pyspark_recs.llmops.hashing import SHINGLE_BASE, md5_long, sql_md5_long
from pyspark_recs.llmops import (
    MINHASH_COEFFS,
    MINHASH_PRIME,
    containment_pairs,
    cosine_topk_bruteforce,
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    hamming_neardup_pairs,
)
from pyspark_recs.llmops.multimodal import (
    decode_metadata,
    encode_payloads,
    extract_features,
    fetch_payloads,
    frame_sample,
    resize_payload,
    synthesize_image_urls,
    with_binary_payload,
)
from pyspark_recs.llmops.similarity import (
    crossmodal_topk,
    embedding_neardup_pairs,
    ivf_topk,
    semantic_dedup,
    embedding_covariance,
    jl_project,
)
from pyspark_recs.llmops.textstats import (
    EN_STOPWORDS,
    bigram_repetition,
    char_fingerprints,
    gopher_rules,
    langid,
    pack_sequences,
    quality_scores,
    tf_idf_top_terms,
    token_stats,
    tokens,
)

# ---------------------------------------------------------------- SQL
# fragments shared by several oracles

_TOKS = (
    "SELECT doc_id, lang, source, "
    "list_filter(string_split(text, ' '), w -> w <> '') AS words "
    "FROM documents"
)


def _sql_md5_long(expr: str) -> str:
    return f"CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"


_SHINGLES = f"""
toks AS ({_TOKS}),
sh AS (
  SELECT doc_id, list_distinct(list_transform(
      range(1, len(words) - 1),
      i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS shingles
  FROM toks WHERE len(words) >= 3)
"""

# Integer shingle hashes (dedup.shingle_hashes twin): per-word md5-long,
# Horner-folded over each 3-window — no shingle strings materialized.
_INT_SHINGLE_CTES = f"""
wh AS (
  SELECT doc_id, list_transform(words,
      w -> {_sql_md5_long('w')} % {MINHASH_PRIME}) AS wh
  FROM toks WHERE len(words) >= 3),
ihs AS (
  SELECT doc_id, list_distinct(list_transform(
      range(1, len(wh) - 1),
      i -> (((wh[i] * {SHINGLE_BASE} + wh[i + 1]) % {MINHASH_PRIME})
             * {SHINGLE_BASE} + wh[i + 2]) % {MINHASH_PRIME})) AS hs
  FROM wh)
"""

_SIG_SELECTS = ",\n  ".join(
    f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
    f" AS sig_{j}"
    for j, (a, b) in enumerate(MINHASH_COEFFS)
)

_SIGNATURES = f"""
WITH toks AS ({_TOKS}),
{_INT_SHINGLE_CTES.strip()}
SELECT doc_id, {_SIG_SELECTS} FROM ihs
"""


# ------------------------------------------------- shared subplans
# The gram/signature-index family: l02/l03/l51 and the l21 edge builder
# all derive the SAME 3-shingle MinHash signature table and 2-row-band
# candidate pairs; l32/l64 both build the SAME distinct benchmark 5-gram
# index (%97 split); l05/l68 both expand the SAME blocked unigram
# Jaccard pair table. Each is materialized once per session via
# workloads.common.shared_plan — the same materialize-once warehouse
# discipline as the recsys holdout family. Cache volumes are bounded:
# signatures are (doc_id + 8 longs) — ~1% of corpus bytes; band pairs
# and blocked pairs are candidate-pair-sized (banding/blocking keeps
# them far sub-quadratic); the bench gram index is eval-split-sized.


def _doc_sigs(spark: SparkSession, sf: str) -> DataFrame:
    """Session-shared MinHash signature table over ``documents``
    (3-word shingles, 8 permutations — the l02 projection)."""
    from pyspark_recs.workloads.common import shared_plan

    return shared_plan(
        spark,
        sf,
        "minhash_sigs_n3",
        lambda: minhash_signatures(load_table(spark, sf, "documents")),
    )


def _band_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Session-shared LSH candidate pairs (2-row bands over the shared
    signature table — the l03 output)."""
    from pyspark_recs.workloads.common import shared_plan

    return shared_plan(
        spark,
        sf,
        "band_pairs_n3_r2",
        lambda: lsh_candidate_pairs(_doc_sigs(spark, sf), rows_per_band=2),
    )


def _bench_grams5(spark: SparkSession, sf: str) -> DataFrame:
    """Session-shared distinct benchmark 5-gram index (Horner-fold
    hashes of the ``doc_id % 97 = 0`` eval split) — the broadcast probe
    side of both l32's doc-level and l64's span-level decontamination.
    One column ``gram``; eval-split-sized, always broadcastable."""
    from pyspark_recs.llmops.dedup import shingle_hashes
    from pyspark_recs.workloads.common import shared_plan

    def build() -> DataFrame:
        docs = load_table(spark, sf, "documents")
        return (
            docs.filter(F.col("doc_id") % 97 == 0)
            .filter(F.size(tokens(F.col("text"))) >= 5)
            .select(
                F.explode(shingle_hashes(F.col("text"), 5)).alias("gram")
            )
            .distinct()
        )

    return shared_plan(spark, sf, "bench_grams_n5_mod97", build)


def _cand_doc_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Session-shared per-doc audit profile for documents appearing in
    any LSH candidate pair: (doc_id, sig_0..sig_7, hs) where ``hs`` is
    the distinct 3-shingle hash set. CANDIDATE-BOUNDED (one row per doc
    in the sparse pair table), so caching and broadcasting it stays
    cheap at any scale where pair-level auditing is tractable at all.
    The heavy shingle hashing runs once per session, only for candidate
    docs."""
    from pyspark_recs.io.loaders import spread_partitions
    from pyspark_recs.llmops.dedup import shingle_hashes
    from pyspark_recs.workloads.common import shared_plan

    def build() -> DataFrame:
        cand = _band_pairs(spark, sf)
        cand_ids = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        docs = spread_partitions(
            load_table(spark, sf, "documents").join(
                F.broadcast(cand_ids), "doc_id", "left_semi"
            )
        )
        grams = docs.filter(F.size(tokens(F.col("text"))) >= 3).select(
            "doc_id",
            F.array_distinct(shingle_hashes(F.col("text"))).alias("hs"),
        )
        return _doc_sigs(spark, sf).join(grams, "doc_id")

    return shared_plan(spark, sf, "cand_doc_profile_n3", build)


def _blocked_unigram_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Session-shared blocked unigram-Jaccard pair table (lang+source
    blocking, threshold 0 — every within-block pair with its exact
    Jaccard). l05 filters it at 0.5; l68 sweeps a threshold ladder over
    it."""
    from pyspark_recs.workloads.common import shared_plan

    return shared_plan(
        spark,
        sf,
        "blocked_jaccard_u1",
        lambda: ngram_jaccard_pairs(
            load_table(spark, sf, "documents"),
            group_cols=["lang", "source"],
            shingle_n=1,
            threshold=0.0,
            with_sets=_unigram_sets(spark, sf),
        ),
    )


def _unigram_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Session-shared distinct-word (unigram shingle) sets with
    blocking metadata — (doc_id, lang, source, grams) — the common
    input of l05/l68's blocked Jaccard pair table and l55's blocked
    containment self-join. One tokenize + distinct pass per session."""
    from pyspark_recs.llmops.dedup import word_shingles
    from pyspark_recs.workloads.common import shared_plan

    def build() -> DataFrame:
        from pyspark_recs.io.loaders import spread_partitions

        return spread_partitions(
            load_table(spark, sf, "documents")
        ).select(
            "doc_id",
            "lang",
            "source",
            word_shingles(F.col("text"), 1).alias("grams"),
        )

    return shared_plan(spark, sf, "unigram_sets", build)


def _cell_assign16(spark: SparkSession, sf: str) -> DataFrame:
    """Session-shared IVF cell assignment over ``embeddings`` (16
    deterministic lowest-id centroids) — the inverted file l15 probes,
    the clusters l43's SemDeDup pairs within, and the cells l62's
    balanced sampler caps. One broadcast cross-score + argmax per
    session instead of three. (vec_id, embedding, vnorm, cell_id)."""
    from pyspark_recs.llmops.similarity import assign_cells
    from pyspark_recs.workloads.common import shared_plan

    return shared_plan(
        spark,
        sf,
        "cell_assign_16",
        lambda: assign_cells(
            load_table(spark, sf, "embeddings"), n_cells=16
        ),
    )




def _payload_corpus(spark: SparkSession, sf: str, build) -> DataFrame:
    """Shared synthetic-payload corpus builder for the codec queries:
    one payload per doc_id from a SQL-expressible formula, with the
    family's doc_id % 17 == 0 truncation branch applied by ``build``.
    Single definition so the synth formulas and the dead-letter branch
    can never drift between the queries (and their SQL twins) that
    share a corpus."""
    import pandas as pd

    from pyspark_recs.io.loaders import spread_partitions

    docs = spread_partitions(
        load_table(spark, sf, "documents").select("doc_id")
    )

    def make_payloads(batches):
        for pdf in batches:
            payloads = [build(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return docs.mapInPandas(
        make_payloads, schema="doc_id bigint, payload binary"
    )


def _wav_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The l78/l82/l86/l88 WAV corpus: 256 PCM frames per doc from
    sample[i] = ((doc_id*37 + i*11) mod 4001) - 2000, truncated to 30
    bytes when doc_id % 17 == 0."""
    from pyspark_recs.llmops.wav import encode_wav, synth_pcm

    def build(d: int) -> bytes:
        wav = encode_wav(8000, 1, synth_pcm(d))
        return wav[:30] if d % 17 == 0 else wav

    return _payload_corpus(spark, sf, build)


def _y4m_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The l79/l89 Y4M corpus: 12 constant-luma 16x16 mono frames per
    doc from (doc_id*13 + f*29) mod 256, cut mid-frame when
    doc_id % 17 == 0."""
    from pyspark_recs.llmops.y4m import encode_y4m, synth_frames

    def build(d: int) -> bytes:
        clip = encode_y4m(16, 16, synth_frames(d))
        return clip[: len(clip) - 100] if d % 17 == 0 else clip

    return _payload_corpus(spark, sf, build)


def _png_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The l76/l87 PNG corpus: 8x8 grayscale pixel[i] = (doc_id*31 +
    i*7) mod 256, truncated to 20 bytes when doc_id % 17 == 0."""
    from pyspark_recs.llmops.png import encode_png, synth_pixels

    def build(d: int) -> bytes:
        png = encode_png(8, 8, synth_pixels(d), 1)
        return png[:20] if d % 17 == 0 else png

    return _payload_corpus(spark, sf, build)


# --------------------------------------------------------------------- l01
def l01_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by content digest (generalizes A2)."""
    return exact_dedup_groups(load_table(spark, sf, "documents"))


L01_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
       CAST(count(*) AS BIGINT) AS n_docs
FROM documents GROUP BY md5(text)
"""


# --------------------------------------------------------------------- l02
def l02_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures over 3-word shingles (pure projection;
    session-shared with l03/l51/l61's signature consumers)."""
    return _doc_sigs(spark, sf)


L02_SQL = _SIGNATURES


# --------------------------------------------------------------------- l03
def l03_lsh_candidate_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH banding: candidate near-dup pairs via bucket
    self-join (never all-pairs; session-shared with l51)."""
    return _band_pairs(spark, sf)


_BAND_KEYS = ", ".join(
    f"'{b}_' || CAST(sig_{2 * b} AS VARCHAR) || '_' || CAST(sig_{2 * b + 1} AS VARCHAR)"
    for b in range(len(MINHASH_COEFFS) // 2)
)

L03_SQL = f"""
WITH sigs AS ({_SIGNATURES}),
buckets AS (
  SELECT doc_id, unnest([{_BAND_KEYS}]) AS band_key FROM sigs)
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
FROM buckets x JOIN buckets y
  ON x.band_key = y.band_key AND x.doc_id < y.doc_id
"""


# --------------------------------------------------------------------- l04
def l04_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """16-bit SimHash fingerprints (token-frequency-weighted bit votes)."""
    return simhash_fingerprints(load_table(spark, sf, "documents"), bits=16)


_BIT_VOTES = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS bit_{b}"
    for b in range(16)
)
_FP_SUM = " + ".join(
    f"CASE WHEN bit_{b} > 0 THEN {2**b} ELSE 0 END" for b in range(16)
)

# 32-bit variants for l45: the Hamming search wants wider fingerprints
# than l04's display query — 4-bit blocks give only 16 buckets per
# block (every bucket holds 1/16th of the corpus and the candidate set
# degenerates toward all-pairs), while 8-bit blocks over 32 bits give
# 256, cutting sf0.1 candidates ~16x for the same pigeonhole guarantee.
_BIT_VOTES32 = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS bit_{b}"
    for b in range(32)
)
_FP_SUM32 = " + ".join(
    f"CASE WHEN bit_{b} > 0 THEN {2**b} ELSE 0 END" for b in range(32)
)

L04_SQL = f"""
WITH toks AS ({_TOKS}),
flat AS (SELECT doc_id, unnest(words) AS token FROM toks),
h AS (SELECT doc_id, {_sql_md5_long('token')} AS h FROM flat),
v AS (SELECT doc_id, {_BIT_VOTES} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({_FP_SUM} AS BIGINT) AS simhash FROM v
"""


# --------------------------------------------------------------------- l05
def l05_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked n-gram Jaccard similarity (verification-step shape;
    unigram sets, metadata blocking on lang+source). Filters the
    session-shared threshold-0 pair table l68 also sweeps."""
    return _blocked_unigram_pairs(spark, sf).filter(
        F.col("jaccard") >= F.lit(0.5)
    )


L05_SQL = f"""
WITH toks AS ({_TOKS}),
g AS (SELECT doc_id, lang, source, list_distinct(words) AS grams
      FROM toks WHERE len(words) >= 1)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
           / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
  FROM g a JOIN g b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
WHERE jaccard >= 0.5
"""


# --------------------------------------------------------------------- l06
def l06_embedding_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 10
    (the exactness baseline for ANN; fixed-point dot products)."""
    emb = load_table(spark, sf, "embeddings")
    return cosine_topk_bruteforce(
        candidates=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    )


_FIXED_DOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e12 + 0.5)"
    " AS BIGINT))) AS DOUBLE) / 1e12"
)

L06_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
pairs AS (
  SELECT query_id, neighbor_id,
         ({_FIXED_DOT.format(a='cv', b='qv')})
           / (sqrt({_FIXED_DOT.format(a='cv', b='cv')})
              * sqrt({_FIXED_DOT.format(a='qv', b='qv')})) AS cos_sim
  FROM c, q WHERE neighbor_id <> query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM pairs)
WHERE rank <= 5
"""


# --------------------------------------------------------------------- l07
def l07_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic language ID (stopword-ratio thresholding)."""
    return langid(load_table(spark, sf, "documents"))


_STOPLIST = ", ".join(f"'{w}'" for w in EN_STOPWORDS)

L07_SQL = f"""
WITH toks AS ({_TOKS})
SELECT doc_id,
       CAST(len(list_filter(words, w -> w IN ({_STOPLIST}))) AS DOUBLE)
         / len(words) AS en_ratio,
       CASE WHEN CAST(len(list_filter(words, w -> w IN ({_STOPLIST})))
                   AS DOUBLE) / len(words) >= 0.08
            THEN 'en' ELSE 'other' END AS pred_lang
FROM toks
"""


# --------------------------------------------------------------------- l08
def l08_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Document quality features + linear score (pre-training filter
    set: length / punctuation / stopword ratios)."""
    return quality_scores(load_table(spark, sf, "documents"))


L08_SQL = f"""
WITH toks AS ({_TOKS}),
m AS (
  SELECT t.doc_id,
         CAST(len(words) AS INTEGER) AS n_tokens,
         CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
           / len(words) AS avg_token_len,
         CAST(length(regexp_replace(d.text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
           / length(d.text) AS punct_ratio,
         CAST(len(list_filter(words, w -> w IN ({_STOPLIST}))) AS DOUBLE)
           / len(words) AS stopword_ratio
  FROM toks t JOIN documents d ON t.doc_id = d.doc_id)
SELECT doc_id, n_tokens, avg_token_len, punct_ratio, stopword_ratio,
       0.25 * avg_token_len + 2.0 * stopword_ratio - 1.5 * punct_ratio
         AS quality
FROM m
"""


# --------------------------------------------------------------------- l09
def l09_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting: whitespace + regex word-chunk tokens."""
    return token_stats(load_table(spark, sf, "documents"))


L09_SQL = f"""
WITH toks AS ({_TOKS})
SELECT t.doc_id,
       CAST(len(words) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(d.text, '[a-z0-9]+')) AS INTEGER)
         AS re_tokens,
       CAST(length(d.text) AS DOUBLE) / len(words) AS chars_per_token
FROM toks t JOIN documents d ON t.doc_id = d.doc_id
"""


# --------------------------------------------------------------------- l10
def l10_char_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprint: min-hash over character 5-grams."""
    return char_fingerprints(load_table(spark, sf, "documents"), k=5)


L10_SQL = f"""
WITH c AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1),
                        i -> CAST(ord(substring(text, i, 1)) AS BIGINT))
           AS codes
  FROM documents WHERE length(text) >= 5)
SELECT doc_id,
       list_min(list_transform(range(1, len(codes) - 3),
         i -> ((((((((codes[i] * {SHINGLE_BASE} + codes[i + 1])
                     % {MINHASH_PRIME}) * {SHINGLE_BASE} + codes[i + 2])
                   % {MINHASH_PRIME}) * {SHINGLE_BASE} + codes[i + 3])
                 % {MINHASH_PRIME}) * {SHINGLE_BASE} + codes[i + 4])
               % {MINHASH_PRIME}))) AS fingerprint
FROM c
"""


# --------------------------------------------------------------------- l11
def l11_multimodal_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal column plumbing: binary payload -> Arrow-batched
    mapInPandas decode -> typed metadata (decoder stubbed, plumbing
    real; SURVEY §2.7 M7 / S11)."""
    docs = load_table(spark, sf, "documents")
    return decode_metadata(with_binary_payload(docs))


L11_SQL = """
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS n_bytes,
       CAST(ascii(substring(text, 1, 1)) AS INTEGER) AS first_byte,
       md5(text) AS payload_hash
FROM documents
"""


# --------------------------------------------------------------------- l12
def l12_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate nearest neighbors via random-projection LSH — the
    100 TB scale path for l06 (bucket equi-join candidate generation,
    never all-pairs). Uses the DETERMINISTIC md5-derived-hyperplane
    variant (llmops.similarity.lsh_topk_deterministic) so the full
    operator — bucketing, candidate capping, exact rescore, top-k — is
    hash-checked against the DuckDB oracle."""
    from pyspark_recs.llmops.similarity import lsh_topk_deterministic

    emb = load_table(spark, sf, "embeddings")
    return lsh_topk_deterministic(
        candidates=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    )


def _l12_sql() -> str:
    from pyspark_recs.llmops.similarity import lsh_topk_oracle_sql

    return lsh_topk_oracle_sql(k=5, query_pred="vec_id < 10")


L12_SQL = _l12_sql()


# --------------------------------------------------------------------- l14
def l14_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-bit LSH blocking + exact
    fixed-point cosine confirm within buckets (never all-pairs).
    Threshold 0.3 fits the synthetic embeddings' similarity range (the
    10-cluster testdata has no cosine>0.9 pairs; production near-dup
    dedup would run the operator default 0.9)."""
    emb = load_table(spark, sf, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.3, sign_bits=8)


_SIGN_BUCKET = (
    "list_sum(list_transform(range(1, 9), "
    "i -> CASE WHEN embedding[i] >= 0 "
    "THEN CAST(2 ** (i - 1) AS BIGINT) ELSE CAST(0 AS BIGINT) END))"
)

L14_SQL = f"""
WITH v AS (
  SELECT vec_id, embedding, {_SIGN_BUCKET} AS bucket,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings)
SELECT id_a, id_b, cos_sim FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ({_FIXED_DOT.format(a='a.embedding', b='b.embedding')})
           / (a.norm * b.norm) AS cos_sim
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
WHERE cos_sim >= 0.3
"""


# --------------------------------------------------------------------- l15
def l15_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-Flat ANN: deterministic coarse centroids, single-cell
    inverted file, nprobe=4 probe join — the partition-pruning scale
    path for l06 (and the oracle-checkable ANN, unlike seeded l12)."""
    emb = load_table(spark, sf, "embeddings")
    return ivf_topk(
        candidates=emb,
        queries=emb.filter(F.col("vec_id") < 10),
        k=5,
        n_cells=16,
        nprobe=4,
        assigned=_cell_assign16(spark, sf),
    )


def _nearest_cells_sql(src: str, out_id: str, out_vec: str, keep: int) -> str:
    cos = _FIXED_DOT.format(a=out_vec, b="cv")
    return f"""
  SELECT {out_id}, {out_vec}, vnorm, cell_id FROM (
    SELECT {out_id}, {out_vec}, vnorm, cell_id,
           row_number() OVER (PARTITION BY {out_id}
                              ORDER BY ccos DESC, cell_id) AS crank
    FROM (SELECT s.{out_id}, s.{out_vec}, s.vnorm, c.cell_id,
                 ({cos}) / (s.vnorm * c.cnorm) AS ccos
          FROM {src} s CROSS JOIN cents c))
  WHERE crank <= {keep}"""


L15_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cv,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS cnorm
  FROM embeddings ORDER BY vec_id LIMIT 16),
cand AS (
  SELECT vec_id AS neighbor_id, embedding AS nv,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS vnorm
  FROM embeddings),
q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS vnorm
  FROM embeddings WHERE vec_id < 10),
inv_file AS ({_nearest_cells_sql('cand', 'neighbor_id', 'nv', 1)}),
probes AS ({_nearest_cells_sql('q', 'query_id', 'qv', 4)}),
scored AS (
  SELECT p.query_id, f.neighbor_id,
         ({_FIXED_DOT.format(a='p.qv', b='f.nv')})
           / (p.vnorm * f.vnorm) AS cos_sim
  FROM probes p JOIN inv_file f USING (cell_id)
  WHERE f.neighbor_id <> p.query_id)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


# --------------------------------------------------------------------- l16
def l16_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Frame sampling (video/audio shape): 1→N row fan-out per payload
    inside Arrow batches, one row per 32-byte frame."""
    docs = load_table(spark, sf, "documents")
    return frame_sample(with_binary_payload(docs), frame_size=32, hop=32)


L16_SQL = """
WITH f AS (
  SELECT doc_id, text,
         unnest(range(0, CASE WHEN length(text) >= 32
                              THEN (length(text) - 32) // 32 + 1
                              ELSE 0 END)) AS j
  FROM documents)
SELECT doc_id, CAST(j AS INTEGER) AS frame_idx,
       CAST(32 AS INTEGER) AS frame_bytes,
       md5(substring(text, 1 + j * 32, 32)) AS frame_hash
FROM f
"""


# --------------------------------------------------------------------- l17
def l17_resize_thumbnail(spark: SparkSession, sf: str) -> DataFrame:
    """Resize/thumbnail (image shape): binary→binary strided downsample;
    projected as a hash because the oracle compare canonicalizes bytes
    engine-specifically."""
    docs = load_table(spark, sf, "documents")
    return resize_payload(with_binary_payload(docs), out_bytes=16).select(
        "doc_id", F.md5("resized").alias("thumb_hash"), "n_bytes"
    )


L17_SQL = """
SELECT doc_id,
       md5(list_aggregate(list_transform(range(0, 16),
         j -> substring(text, 1 + j * (length(text) // 16), 1)),
         'string_agg', '')) AS thumb_hash,
       CAST(16 AS INTEGER) AS n_bytes
FROM documents WHERE length(text) >= 16
"""


# --------------------------------------------------------------------- l18
def l18_tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF (smoothed idf), top-3 terms per document — the
    CountVectorizer/IDF text-analysis surface, relationally."""
    return tf_idf_top_terms(load_table(spark, sf, "documents"), k=3)


L18_SQL = f"""
WITH toks AS ({_TOKS}),
flat AS (SELECT doc_id, unnest(words) AS token FROM toks),
tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       FROM flat GROUP BY doc_id, token),
dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
          FROM tf GROUP BY token),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 6)
           AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n)
SELECT doc_id, token, tf, df, tfidf, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS rank
  FROM scored)
WHERE rank <= 3
"""


# --------------------------------------------------------------------- l19
def l19_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing: fixed-token-budget bin assignment per source
    shard (exclusive prefix sum, capacity 512)."""
    return pack_sequences(
        load_table(spark, sf, "documents"), capacity=512, group_col="source"
    )


L19_SQL = f"""
WITH toks AS ({_TOKS}),
c AS (
  SELECT doc_id, source, CAST(len(words) AS INTEGER) AS n_tokens,
         sum(len(words)) OVER (PARTITION BY source ORDER BY doc_id) AS cum
  FROM toks)
SELECT doc_id, source, n_tokens,
       CAST(floor((cum - n_tokens) / 512) AS INTEGER) AS bin_idx
FROM c
"""


# --------------------------------------------------------------------- l20
def l20_corpus_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus profiling: doc count, token-count min/max and
    the deterministic lower median (rank-selected element, not an
    interpolated percentile — both engines pick the same row)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    counted = docs.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    stats = counted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    ranked = counted.withColumn("rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(stats), "source")
        .filter(F.col("rn") == F.floor((F.col("n_docs") + 1) / 2))
        .select(
            "source",
            "n_docs",
            "min_tokens",
            "max_tokens",
            F.col("n_tokens").alias("median_tokens"),
        )
    )


L20_SQL = f"""
WITH toks AS ({_TOKS}),
c AS (SELECT doc_id, source, CAST(len(words) AS INTEGER) AS n_tokens
      FROM toks),
stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
  FROM c GROUP BY source),
r AS (
  SELECT source, n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_tokens, doc_id) AS rn
  FROM c)
SELECT s.source, s.n_docs, s.min_tokens, s.max_tokens,
       r.n_tokens AS median_tokens
FROM r JOIN stats s USING (source)
WHERE rn = floor((n_docs + 1) / 2)
"""


# --------------------------------------------------------------------- l21
def _cc_labels(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-session (doc_id, canonical_doc_id) near-dup component
    labels at threshold 0.5 — the MinHash → LSH → verify → iterative-CC
    pipeline is the most expensive subplan in the llmops family, and
    l21/l66/l67 all consume the SAME label table. It is a fitted,
    deterministic derivation (min-label fixpoint over verified edges),
    so it checkpoints through ``artifact_plan`` (one row per doc —
    key-bounded): the first session pays the iterative build, every
    later session — including the driver's cold vanilla-conf one, which
    previously paid ~17 s here via l66 — loads the published parquet.
    At 100 TB this IS the production shape: dedup clustering is a
    standing corpus-index job, consumers read its output table."""
    from pyspark_recs.llmops.dedup import (
        connected_components,
        verified_neardup_edges,
    )
    from pyspark_recs.workloads.common import artifact_plan

    def build() -> DataFrame:
        docs = load_table(spark, sf, "documents")
        edges = verified_neardup_edges(
            docs, threshold=0.5, candidates=_band_pairs(spark, sf)
        )
        return connected_components(edges, docs.select("doc_id")).select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("canonical_doc_id"),
        )

    return artifact_plan(spark, sf, "cc_labels_t05", "1", build)


def l21_dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """The full near-dup dedup pipeline: MinHash → LSH candidates →
    exact-Jaccard verify → connected components → canonical (min) doc
    per cluster. Iterative min-label propagation Spark-side; the oracle
    computes the same fixpoint with a recursive CTE."""
    return _cc_labels(spark, sf)


L21_SQL = f"""
WITH RECURSIVE
{_SHINGLES.strip().lstrip()},
{_INT_SHINGLE_CTES.strip()},
sigs AS (SELECT doc_id, {_SIG_SELECTS} FROM ihs),
buckets AS (
  SELECT doc_id, unnest([{_BAND_KEYS}]) AS band_key FROM sigs),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM buckets x JOIN buckets y
    ON x.band_key = y.band_key AND x.doc_id < y.doc_id),
edges AS (
  SELECT doc_a, doc_b FROM (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(x.shingles, y.shingles)))
             AS jaccard
    FROM cand c
    JOIN sh x ON c.doc_a = x.doc_id
    JOIN sh y ON c.doc_b = y.doc_id)
  WHERE jaccard >= 0.5),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM edges
  UNION ALL SELECT doc_b, doc_a FROM edges),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a),
comp AS (SELECT a AS doc_id, min(b) AS mr FROM reach GROUP BY a)
SELECT d.doc_id,
       CAST(least(d.doc_id, coalesce(c.mr, d.doc_id)) AS BIGINT)
         AS canonical_doc_id
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""


# --------------------------------------------------------------------- l13
def l13_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Feature extraction over binary payloads via Arrow mapInPandas
    (the CLIP-encode shape with a deterministic byte-sampler stand-in —
    SURVEY §2.7 M7). Oracle reproduces the sampler relationally."""
    docs = load_table(spark, sf, "documents")
    feats = extract_features(with_binary_payload(docs), dim=8)
    # Flattened to scalar columns (not a raw array) so the oracle
    # harness can canonicalize the result — same convention as l02's
    # sig_0..k.
    return feats.select(
        "doc_id", *[F.col("features")[j].alias(f"f_{j}") for j in range(8)]
    )


L13_SQL = """
WITH f AS (
  SELECT doc_id,
         list_transform(range(0, 8),
           j -> ascii(substring(text, 1 + j * (length(text) // 8), 1)) / 255.0)
           AS features
  FROM documents
  WHERE length(text) >= 8)
SELECT doc_id,
       features[1] AS f_0, features[2] AS f_1, features[3] AS f_2,
       features[4] AS f_3, features[5] AS f_4, features[6] AS f_5,
       features[7] AS f_6, features[8] AS f_7
FROM f
"""


# --------------------------------------------------------------------- l22
def l22_bigram_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition stats (top-bigram fraction,
    distinct-bigram fraction) — the boilerplate/degenerate-repetition
    filter signal for pre-training corpora."""
    return bigram_repetition(load_table(spark, sf, "documents"))


L22_SQL = f"""
WITH toks AS ({_TOKS}),
b AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(words)),
                               i -> words[i] || ' ' || words[i + 1]))
           AS bigram
  FROM toks WHERE len(words) >= 2),
c AS (
  SELECT doc_id, bigram, count(*) AS cnt FROM b GROUP BY doc_id, bigram)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
       CAST(max(cnt) AS BIGINT) AS top_bigram_count,
       CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top_bigram_frac,
       CAST(count(*) AS DOUBLE) / sum(cnt) AS distinct_bigram_frac
FROM c GROUP BY doc_id
"""


# --------------------------------------------------------------------- l23
def l23_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Rule-based quality filter (Gopher/C4 style): per-document
    accept/reject flags + combined verdict, all exact arithmetic."""
    return gopher_rules(load_table(spark, sf, "documents"))


_L23_STOPLIST = ", ".join(f"'{w}'" for w in EN_STOPWORDS)

L23_SQL = f"""
WITH toks AS ({_TOKS}),
m AS (
  SELECT doc_id,
         CAST(len(words) AS INTEGER) AS n_tokens,
         CAST(list_aggregate(list_transform(words, w -> length(w)), 'sum')
              AS DOUBLE) / len(words) AS mean_token_len,
         CAST(len(list_filter(words,
                  w -> list_contains([{_L23_STOPLIST}], w))) AS DOUBLE)
           / len(words) AS stopword_frac
  FROM toks)
SELECT doc_id, n_tokens, mean_token_len, stopword_frac,
       (n_tokens >= 30 AND n_tokens <= 100) AS tokens_ok,
       (mean_token_len >= 3.0 AND mean_token_len <= 8.0) AS mean_len_ok,
       (stopword_frac >= 0.05) AS stop_ok,
       ((n_tokens >= 30 AND n_tokens <= 100)
        AND (mean_token_len >= 3.0 AND mean_token_len <= 8.0)
        AND (stopword_frac >= 0.05)) AS passes
FROM m
"""


# --------------------------------------------------------------------- l25
def l25_scalar_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — 4x less
    vector I/O for every downstream ANN/dedup pass; exact double
    arithmetic so the codes are engine- and partitioning-identical."""
    from pyspark_recs.llmops.similarity import scalar_quantize

    q = scalar_quantize(load_table(spark, sf, "embeddings"))
    # Integer codes serialize deterministically; emit a CSV string so the
    # oracle harness can canonicalize (raw int arrays are unhashable in
    # its comparator).
    return q.select(
        "vec_id",
        "vmin",
        "vmax",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias(
            "codes_csv"
        ),
    )


L25_SQL = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
m AS (
  SELECT vec_id, vec,
         list_min(vec) AS vmin, list_max(vec) AS vmax
  FROM v)
SELECT vec_id, vmin, vmax,
       array_to_string(
         CASE WHEN vmax = vmin THEN list_transform(vec, x -> 0)
              ELSE list_transform(vec,
                   x -> CAST(floor((x - vmin) / ((vmax - vmin) / 255.0) + 0.5)
                             AS INTEGER))
         END, ',') AS codes_csv
FROM m
"""


# --------------------------------------------------------------------- l24
def l24_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified deterministic sampling: per-language sampling rates
    (boost the under-represented strata, downsample the dominant one)
    with an md5-keyed hash filter, so the sample is reproducible across
    engines, re-runs and cluster sizes — the corpus-mixing primitive for
    training-data pipelines (r28 is the global-rate twin).

    Scale: pure projection+filter (no shuffle); the per-stratum rate is
    a broadcast-sized CASE. At 100 TB the same expression is also the
    resumable incremental-load sampler: new documents join the sample
    iff their key hashes in, independent of arrival batch."""
    from pyspark_recs.llmops.hashing import md5_long

    docs = load_table(spark, sf, "documents")
    rate = (
        F.when(F.col("lang") == "en", F.lit(10))
        .when(F.col("lang") == "zh", F.lit(40))
        .otherwise(F.lit(25))
    )
    bucket = F.pmod(md5_long(F.concat_ws("_", F.col("lang"), F.col("doc_id"))), F.lit(100))
    return (
        docs.filter(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )


L24_SQL = f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(n_chars) AS BIGINT) AS sampled_chars
FROM documents
WHERE ({_sql_md5_long("lang || '_' || CAST(doc_id AS VARCHAR)")}) % 100
      < (CASE WHEN lang = 'en' THEN 10
              WHEN lang = 'zh' THEN 40
              ELSE 25 END)
GROUP BY lang
"""


# --------------------------------------------------------------------- l27
def l27_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping token-window chunking (32-token chunks, stride 24) —
    one row per passage an embedding encoder would process."""
    from pyspark_recs.llmops.textstats import chunk_documents

    return chunk_documents(load_table(spark, sf, "documents"))


L27_SQL = f"""
WITH toks AS ({_TOKS}),
s AS (
  SELECT doc_id, words, unnest(range(0, len(words), 24)) AS start
  FROM toks WHERE len(words) >= 1)
SELECT doc_id,
       CAST(start // 24 AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(words, start + 1, start + 32), ' ')
         AS chunk_text,
       CAST(least(32, len(words) - start) AS INTEGER) AS chunk_tokens
FROM s
"""


# --------------------------------------------------------------------- l28
def l28_type_token_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary richness per source: distinct tokens / total tokens
    (type-token ratio) — low TTR flags templated/boilerplate sources
    before any per-document filter runs; the corpus-level sibling of
    l22's per-document repetition stats.

    Scale: explode + one shuffle on (source, token) for the distinct,
    then a source-sized rollup; token text crosses the wire once.
    """
    docs = load_table(spark, sf, "documents")
    flat = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("token")
    )
    return flat.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("token").alias("n_types"),
        (F.countDistinct("token").cast("double") / F.count(F.lit(1))).alias(
            "ttr"
        ),
    )


L28_SQL = f"""
WITH toks AS ({_TOKS}),
flat AS (SELECT source, unnest(words) AS token FROM toks)
SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT token) AS BIGINT) AS n_types,
       CAST(count(DISTINCT token) AS DOUBLE) / count(*) AS ttr
FROM flat GROUP BY source
"""


# --------------------------------------------------------------------- l26
def l26_source_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-based corpus mixing weights per source:
    w_s ∝ sqrt(n_s) (temperature alpha = 0.5) — the standard reweighting
    that upsamples small sources and damps dominant ones when composing
    a training mix. sqrt is IEEE-correctly-rounded in both engines, and
    the normalizing denominator is an exact integer sum of fixed-point
    terms, so the weights are bit-identical everywhere (alpha ≠ 0.5
    would go through pow(), whose libm results differ across engines —
    pick the quantized-sum route for those).

    Scale: per-source counts are a map-side-combined aggregate; the
    denominator is a 1-row broadcast. Output is vocabulary-sized (one
    row per source), consumed by l24-style per-stratum samplers.
    """
    docs = load_table(spark, sf, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    wq = F.floor(
        F.sqrt(F.col("n_docs").cast("double")) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    weighted = counts.select("source", "n_docs", wq.alias("wq"))
    denom = weighted.agg(F.sum("wq").alias("denom"))
    return weighted.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_docs",
        (F.col("wq").cast("double") / F.col("denom").cast("double")).alias(
            "weight"
        ),
    )


L26_SQL = """
WITH c AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0 + 0.5)
              AS BIGINT) AS wq
  FROM c)
SELECT source, n_docs,
       CAST(wq AS DOUBLE)
         / CAST((SELECT sum(wq) FROM w) AS DOUBLE) AS weight
FROM w
"""


# --------------------------------------------------------------------- l29
def _image_embed_table(spark: SparkSession, sf: str) -> DataFrame:
    """Session-shared fetch→encode artifact: per-doc fetch outcome plus
    the 8-dim unit-norm embedding (NULL for dead-lettered rows), with
    the binary payloads dropped BEFORE the cache so only bounded
    columns persist. l29 reports it; l30 searches against it — the two
    queries were re-running the identical two python mapInPandas
    passes, which at test SF is fixed Python-worker overhead, and at
    real scale is exactly the 'encode once, serve many searches'
    artifact a media pipeline materializes."""
    from pyspark_recs.workloads.common import shared_plan

    def build() -> DataFrame:
        docs = load_table(spark, sf, "documents").select("doc_id")
        fetched = fetch_payloads(synthesize_image_urls(docs))
        encoded = encode_payloads(fetched.filter(F.col("status") == "ok"))
        return fetched.select(
            "doc_id",
            "status",
            "n_attempts",
            F.coalesce(F.length("payload"), F.lit(0))
            .cast("int")
            .alias("n_bytes"),
        ).join(encoded, "doc_id", "left")

    return shared_plan(spark, sf, "img_embed8", build)


def l29_image_fetch_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Image fetch → encode path (S11 + M7, app_utils.py:10-26 +
    my_merlin_flow.py:586-599): synthesize per-doc asset URLs, fetch
    bytes with bounded retry (transient failures retry, permanent ones
    dead-letter), then model-encode the fetched payloads into unit-norm
    embeddings via the pluggable batched-encoder pandas-UDF contract.
    Dead-lettered rows surface with NULL embedding instead of failing
    the batch."""
    joined = _image_embed_table(spark, sf)
    # Flatten the 8-dim embedding to scalar columns (oracle-canonicalizable;
    # NULL array → NULL scalars for dead-lettered rows).
    return joined.select(
        "doc_id",
        "status",
        "n_attempts",
        "n_bytes",
        *[F.col("embedding")[j].alias(f"e_{j}") for j in range(8)],
    )


def _tiny_enc_sql(s: str) -> str:
    """DuckDB twin of multimodal.tiny_image_encoder over ascii string
    ``s``: stride-sample 8 bytes → /255 → L2-normalize with the
    fixed-point norm."""
    return (
        f"list_transform(range(0, 8), j -> "
        f"CAST(unicode(substr({s}, CAST(j * (length({s}) // 8) AS INTEGER) + 1, 1)) "
        f"AS DOUBLE) / 255.0)"
    )


_NORMALIZE_SQL = (
    "list_transform(raw, x -> x / sqrt(" + _FIXED_DOT.format(a="raw", b="raw") + "))"
)

L29_SQL = f"""
WITH u AS (
  SELECT doc_id,
         'https://img.example.com/' || CAST(doc_id AS VARCHAR) || '.jpg' AS url
  FROM documents),
f AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN 'dead_letter' ELSE 'ok' END AS status,
         CAST(CASE WHEN doc_id % 13 = 0 THEN 3
                   WHEN doc_id % 11 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_attempts,
         CAST(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE length(url) END AS INTEGER)
           AS n_bytes,
         CASE WHEN doc_id % 13 = 0 THEN NULL ELSE url END AS s
  FROM u),
r AS (
  SELECT doc_id, status, n_attempts, n_bytes,
         CASE WHEN s IS NULL THEN NULL ELSE {_tiny_enc_sql('s')} END AS raw
  FROM f),
e AS (
  SELECT doc_id, status, n_attempts, n_bytes,
         CASE WHEN raw IS NULL THEN NULL ELSE {_NORMALIZE_SQL} END AS embedding
  FROM r)
SELECT doc_id, status, n_attempts, n_bytes,
       embedding[1] AS e_0, embedding[2] AS e_1, embedding[3] AS e_2,
       embedding[4] AS e_3, embedding[5] AS e_4, embedding[6] AS e_5,
       embedding[7] AS e_6, embedding[8] AS e_7
FROM e
"""


# --------------------------------------------------------------------- l30
_SEARCH_PROMPTS = ["red summer dress", "leather ankle boots", "floral print blouse"]


def l30_text_image_search(spark: SparkSession, sf: str) -> DataFrame:
    """Text→image similarity search (pred_inspector.py:94-108): encode
    text prompts with the same pluggable encoder as the image payloads
    (the CLIP joint-space contract), then rank each prompt's top-5
    images by cosine via the broadcast cross-modal scorer."""
    images = (
        _image_embed_table(spark, sf)
        .filter(F.col("status") == "ok")
        .select("doc_id", "embedding")
    )
    prompts = spark.createDataFrame(
        list(enumerate(_SEARCH_PROMPTS)), "query_id bigint, prompt string"
    )
    qvecs = encode_payloads(
        prompts.select(
            F.col("query_id").alias("doc_id"),
            F.encode("prompt", "utf-8").alias("payload"),
        )
    ).select(F.col("doc_id").alias("query_id"), "embedding")
    return crossmodal_topk(images, qvecs, k=5)


_PROMPT_VALUES = ", ".join(
    f"({i}, '{p}')" for i, p in enumerate(_SEARCH_PROMPTS)
)

L30_SQL = f"""
WITH u AS (
  SELECT doc_id,
         'https://img.example.com/' || CAST(doc_id AS VARCHAR) || '.jpg' AS s
  FROM documents WHERE doc_id % 13 <> 0),
ir AS (SELECT doc_id, {_tiny_enc_sql('s')} AS raw FROM u),
img AS (SELECT doc_id, {_NORMALIZE_SQL} AS iv FROM ir),
p(query_id, s) AS (VALUES {_PROMPT_VALUES}),
pr AS (SELECT CAST(query_id AS BIGINT) AS query_id,
              {_tiny_enc_sql('s')} AS raw FROM p),
q AS (SELECT query_id, {_NORMALIZE_SQL} AS qv FROM pr),
scored AS (
  SELECT query_id, doc_id,
         {_FIXED_DOT.format(a='iv', b='qv')} AS cos_sim
  FROM img, q)
SELECT query_id, doc_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT query_id, doc_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, doc_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


# --------------------------------------------------------------------- l31
def l31_pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction pass (email / phone / card scrub) over the corpus
    with per-doc match counts and a redacted-text digest. PII spans are
    deterministically synthesized (the testdata has none) so the scrub
    is exercised non-vacuously; see llmops/scrub.py."""
    from pyspark_recs.llmops.scrub import pii_redact, synthesize_pii

    return pii_redact(synthesize_pii(load_table(spark, sf, "documents")))


L31_SQL = r"""
WITH p AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' card 4242424242424242' ELSE '' END AS t
  FROM documents),
r AS (
  SELECT doc_id, t,
         regexp_replace(regexp_replace(regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
           '\b\d{16}\b', '<CARD>', 'g') AS redacted
  FROM p)
SELECT doc_id,
       CAST(len(regexp_extract_all(t,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(t, '\b\d{3}-\d{3}-\d{4}\b')) AS INTEGER) AS n_phones,
       CAST(len(regexp_extract_all(t, '\b\d{16}\b')) AS INTEGER) AS n_cards,
       CAST(length(redacted) AS INTEGER) AS redacted_len,
       md5(redacted) AS redacted_md5
FROM r
"""


# --------------------------------------------------------------------- l32
def l32_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval decontamination: flag corpus documents sharing any
    5-gram with the benchmark subset (doc_id % 97 = 0 stands in for the
    eval set). Broadcast semi-join over distinct benchmark grams — the
    standard pre-release decontamination pass; see llmops/scrub.py.
    The benchmark gram index is session-shared with l64's span pass."""
    from pyspark_recs.llmops.scrub import decontaminate

    docs = load_table(spark, sf, "documents")
    return decontaminate(
        docs,
        docs.filter(F.col("doc_id") % 97 == 0),
        bench_grams=_bench_grams5(spark, sf),
    )


L32_SQL = f"""
WITH toks AS ({_TOKS}),
wh AS (
  SELECT doc_id, list_transform(words,
      w -> {_sql_md5_long('w')} % {MINHASH_PRIME}) AS wh
  FROM toks WHERE len(words) >= 5),
grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(wh) - 3),
           i -> ((((((((wh[i] * {SHINGLE_BASE} + wh[i+1]) % {MINHASH_PRIME})
                      * {SHINGLE_BASE} + wh[i+2]) % {MINHASH_PRIME})
                      * {SHINGLE_BASE} + wh[i+3]) % {MINHASH_PRIME})
                      * {SHINGLE_BASE} + wh[i+4]) % {MINHASH_PRIME})))) AS gram
  FROM wh),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
hits AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram))
SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
"""


# --------------------------------------------------------------------- l33
_BM25_TERMS = ("spark", "join", "window")


def l33_bm25_search(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 keyword search (log-free rational idf, fixed-point score
    sum): top-10 documents for a 3-term query. The inverted-index shape
    expressed relationally; see llmops/search.py."""
    from pyspark_recs.llmops.search import bm25_topk

    return bm25_topk(load_table(spark, sf, "documents"), _BM25_TERMS, k=10)


_BM25_IN = ", ".join(f"'{t}'" for t in _BM25_TERMS)

L33_SQL = f"""
WITH toks AS ({_TOKS}),
lens AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM toks),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM lens),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(words, w -> w IN ({_BM25_IN}))) AS term
        FROM toks)
  GROUP BY doc_id, term),
dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT t.doc_id,
         CAST(floor(
           ((s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * ((t.tf * 2.2)
              / (t.tf + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl)))
           * 1000000000.0 + 0.5) AS BIGINT) AS c
  FROM tf t
  JOIN dft d USING (term)
  JOIN lens l USING (doc_id)
  CROSS JOIN stats s),
scores AS (
  SELECT doc_id, CAST(sum(c) AS DOUBLE) / 1000000000.0 AS score
  FROM contrib GROUP BY doc_id)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
       doc_id, score
FROM scores ORDER BY score DESC, doc_id LIMIT 10
"""


# --------------------------------------------------------------------- l34
def l34_boilerplate_grams(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document boilerplate detection: per-doc fraction of 3-grams
    occurring in ≥3 distinct documents (corpus-level repeated-content
    signal; complements l22's intra-doc repetition). See
    llmops/scrub.py:boilerplate_grams."""
    from pyspark_recs.llmops.scrub import boilerplate_grams

    return boilerplate_grams(load_table(spark, sf, "documents"))


L34_SQL = f"""
WITH toks AS ({_TOKS}),
{_INT_SHINGLE_CTES.strip()},
g AS (SELECT doc_id, unnest(hs) AS gram FROM ihs),
b AS (
  SELECT gram FROM (SELECT gram, count(*) AS df FROM g GROUP BY gram)
  WHERE df >= 3),
pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY doc_id),
h AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boiler
  FROM g JOIN b USING (gram) GROUP BY doc_id)
SELECT pd.doc_id, pd.n_grams,
       coalesce(h.n_boiler, 0) AS n_boiler,
       CAST(coalesce(h.n_boiler, 0) AS DOUBLE)
         / CAST(pd.n_grams AS DOUBLE) AS boiler_frac
FROM pd LEFT JOIN h USING (doc_id)
"""


# --------------------------------------------------------------------- l35
def l35_novelty_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental-ingestion novelty gating: new-batch docs
    (doc_id % 3 = 0) scored by the fraction of their 3-grams unseen in
    the existing corpus (the other docs); admitted at novelty ≥ 0.5.
    The anti-join is the incremental crawl-dedup primitive — gate each
    arriving batch against the corpus gram index instead of re-deduping
    the corpus. See llmops/scrub.py:novelty_gate."""
    from pyspark_recs.llmops.scrub import novelty_gate

    docs = load_table(spark, sf, "documents")
    return novelty_gate(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
    )


L35_SQL = f"""
WITH toks AS ({_TOKS}),
{_INT_SHINGLE_CTES.strip()},
g AS (SELECT doc_id, unnest(hs) AS gram FROM ihs),
bg AS (SELECT doc_id, gram FROM g WHERE doc_id % 3 = 0),
cg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 3 <> 0),
nv AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel
  FROM bg ANTI JOIN cg USING (gram) GROUP BY doc_id),
pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM bg GROUP BY doc_id)
SELECT pd.doc_id, pd.n_grams,
       coalesce(nv.n_novel, 0) AS n_novel,
       CAST(coalesce(nv.n_novel, 0) AS DOUBLE)
         / CAST(pd.n_grams AS DOUBLE) AS novelty_frac,
       (CAST(coalesce(nv.n_novel, 0) AS DOUBLE)
         / CAST(pd.n_grams AS DOUBLE) >= 0.5) AS admit
FROM pd LEFT JOIN nv USING (doc_id)
"""


# --------------------------------------------------------------------- l42
def l42_matryoshka_energy(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit: per-vector energy (sum of
    squares) of the full 64-dim embedding vs its 16-dim prefix, and the
    retained-energy fraction — the measurement that decides how far a
    nested-representation index can truncate before recall collapses.
    Truncation itself is a pure projection (`slice`); at 100 TB it is a
    4× I/O and memory cut on every downstream ANN pass (composing with
    l25's int8 quantization for 16×).

    Both engines fold the array left-to-right, so the double sums are
    order-identical and the rows hash-match exactly (same discipline as
    l06's dot products)."""
    emb = load_table(spark, sf, "embeddings")
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    energy = lambda v: F.aggregate(  # noqa: E731
        v, F.lit(0.0), lambda acc, x: acc + x * x
    )
    full = energy(vec)
    trunc = energy(F.slice(vec, 1, 16))
    return emb.select(
        "vec_id",
        full.alias("full_energy"),
        trunc.alias("trunc_energy"),
        (trunc / full).alias("retained"),
    )


L42_SQL = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings),
e AS (
  SELECT vec_id,
         list_aggregate(list_transform(vec, x -> x * x), 'sum')
           AS full_energy,
         list_aggregate(list_transform(vec[1:16], x -> x * x), 'sum')
           AS trunc_energy
  FROM v)
SELECT vec_id, full_energy, trunc_energy,
       trunc_energy / full_energy AS retained
FROM e
"""


# --------------------------------------------------------------------- l36
def l36_fuzzy_edit_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked Levenshtein fuzzy near-dup over document prefixes:
    candidate pairs only within (lang, length-bucket) blocks, distance
    JVM-side via F.levenshtein — the entity-resolution blocking pattern.
    See llmops/dedup.py:blocked_edit_pairs."""
    from pyspark_recs.llmops.dedup import blocked_edit_pairs

    return blocked_edit_pairs(load_table(spark, sf, "documents"))


L36_SQL = """
WITH b AS (
  SELECT doc_id, lang, CAST(floor(n_chars / 64) AS BIGINT) AS lbucket,
         substring(text, 1, 48) AS prefix
  FROM documents)
SELECT a.doc_id AS doc_a, c.doc_id AS doc_b, a.lang AS lang,
       CAST(levenshtein(a.prefix, c.prefix) AS INT) AS edit_dist
FROM b a JOIN b c
  ON a.doc_id < c.doc_id AND a.lang = c.lang AND a.lbucket = c.lbucket
WHERE levenshtein(a.prefix, c.prefix) <= 20
"""


# --------------------------------------------------------------------- l37
def l37_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus heavy hitters (> N/k tokens) via per-partition Misra-Gries
    candidate summaries + exact recount of candidates only — the
    bounded-shuffle pattern for billion-token vocabularies. The oracle
    is the plain global count-filter the two-phase plan provably equals.
    See llmops/textstats.py:heavy_hitters."""
    from pyspark_recs.llmops.textstats import heavy_hitters

    return heavy_hitters(load_table(spark, sf, "documents"), k=50)


L37_SQL = f"""
WITH toks AS ({_TOKS}),
t AS (SELECT unnest(words) AS token FROM toks),
n AS (SELECT count(*) AS total FROM t),
c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY token)
SELECT token, cnt,
       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
FROM c, n WHERE cnt * 50 > total
"""


# --------------------------------------------------------------------- l38
def l38_rare_token_score(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc mean corpus token frequency (unigram-LM quality signal,
    log-free so arithmetic is exact): docs dominated by corpus-rare
    tokens are flagged. See llmops/textstats.py:rare_token_score."""
    from pyspark_recs.llmops.textstats import rare_token_score

    return rare_token_score(load_table(spark, sf, "documents"))


L38_SQL = f"""
WITH toks AS ({_TOKS}),
t AS (SELECT doc_id, unnest(words) AS token FROM toks),
n AS (SELECT count(*) AS total FROM t),
u AS (SELECT token, CAST(count(*) AS BIGINT) AS tok_cnt FROM t GROUP BY token),
d AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(u.tok_cnt) AS BIGINT) AS sum_cnt
  FROM t JOIN u USING (token) GROUP BY t.doc_id)
SELECT doc_id, n_tokens, sum_cnt,
       CAST(sum_cnt * 1000000 AS DOUBLE)
         / CAST(n_tokens * total AS DOUBLE) AS mean_freq_ppm,
       (CAST(sum_cnt * 1000000 AS DOUBLE)
         / CAST(n_tokens * total AS DOUBLE) < 2000.0) AS flag_rare
FROM d, n
"""


# --------------------------------------------------------------------- l39
def l39_bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Top adjacent-token pairs (one BPE merge step's statistic):
    projection-only pair generation, one counting shuffle, bounded head
    via TakeOrderedAndProject. See llmops/textstats.py:bpe_pair_counts."""
    from pyspark_recs.llmops.textstats import bpe_pair_counts

    return bpe_pair_counts(load_table(spark, sf, "documents"), top_n=50)


L39_SQL = f"""
WITH toks AS ({_TOKS}),
p AS (
  SELECT list_transform(range(1, len(words)),
                        i -> words[i] || ' ' || words[i + 1]) AS prs
  FROM toks WHERE len(words) >= 2),
e AS (SELECT unnest(prs) AS pair FROM p)
SELECT pair, CAST(count(*) AS BIGINT) AS cnt
FROM e GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 50
"""


# --------------------------------------------------------------------- l40
def l40_incremental_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental MinHash-LSH admission: the arriving batch
    (doc_id % 3 = 0) probes the existing corpus's DISTINCT band index —
    near-dup crawl dedup whose cost is O(batch), independent of corpus
    rows (the signature-level sibling of l35's gram novelty gate). See
    llmops/dedup.py:incremental_lsh_admit. Both splits' signatures are
    filters of the session-shared l02 signature table."""
    from pyspark_recs.llmops.dedup import incremental_lsh_admit

    docs = load_table(spark, sf, "documents")
    sigs = _doc_sigs(spark, sf)
    return incremental_lsh_admit(
        docs.filter(F.col("doc_id") % 3 == 0),
        docs.filter(F.col("doc_id") % 3 != 0),
        batch_sigs=sigs.filter(F.col("doc_id") % 3 == 0),
        corpus_sigs=sigs.filter(F.col("doc_id") % 3 != 0),
    )


L40_SQL = f"""
WITH toks AS ({_TOKS}),
{_INT_SHINGLE_CTES.strip()},
sigs AS (SELECT doc_id, {_SIG_SELECTS} FROM ihs),
bb AS (
  SELECT doc_id, unnest([{_BAND_KEYS}]) AS band_key
  FROM sigs WHERE doc_id % 3 = 0),
ci AS (
  SELECT DISTINCT band_key FROM (
    SELECT unnest([{_BAND_KEYS}]) AS band_key
    FROM sigs WHERE doc_id % 3 <> 0)),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bands_hit
  FROM bb SEMI JOIN ci USING (band_key) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(h.n_bands_hit, 0) AS n_bands_hit,
       (coalesce(h.n_bands_hit, 0) = 0) AS admit
FROM (SELECT doc_id FROM documents WHERE doc_id % 3 = 0) d
LEFT JOIN hits h USING (doc_id)
"""


# --------------------------------------------------------------------- l41
def l41_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """MOSS winnowing fingerprint sets (windowed min over char-5-gram
    hashes, window 8): guarantees shared substrings ≥ 12 chars share a
    fingerprint — the locality property l10's whole-doc min lacks. See
    llmops/textstats.py:winnow_fingerprints."""
    from pyspark_recs.llmops.textstats import winnow_fingerprints

    return winnow_fingerprints(load_table(spark, sf, "documents"), k=5, w=8)


L41_SQL = f"""
WITH c AS (
  SELECT doc_id,
         list_transform(range(1, length(text) + 1),
                        i -> CAST(ord(substring(text, i, 1)) AS BIGINT))
           AS codes
  FROM documents WHERE length(text) >= 12),
khc AS (
  SELECT doc_id,
         list_transform(range(1, len(codes) - 3),
           i -> ((((((((codes[i] * {SHINGLE_BASE} + codes[i + 1])
                       % {MINHASH_PRIME}) * {SHINGLE_BASE} + codes[i + 2])
                     % {MINHASH_PRIME}) * {SHINGLE_BASE} + codes[i + 3])
                   % {MINHASH_PRIME}) * {SHINGLE_BASE} + codes[i + 4])
                 % {MINHASH_PRIME})) AS kh
  FROM c),
f AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(kh) - 6),
           i -> list_min(list_slice(kh, i, i + 7)))) AS fps
  FROM khc)
SELECT doc_id, CAST(len(fps) AS INT) AS n_fingerprints,
       list_min(fps) AS min_fp, list_max(fps) AS max_fp
FROM f
"""


# --------------------------------------------------------------------- l43
def l43_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup corpus filter (llmops.similarity.semantic_dedup): every
    embedding labeled keep/drop after within-cluster cosine dedup —
    deterministic lowest-id centroids keep the whole pipeline
    oracle-checkable (pass fitted centroids in production). θ=0.35
    sits at ~p99 of this synthetic corpus's within-cell cosine
    (max ≈ 0.49), so both keep and drop branches are exercised at every
    sf; a production run on real embeddings uses θ≈0.9+."""
    emb = load_table(spark, sf, "embeddings")
    return semantic_dedup(
        emb, threshold=0.35, n_cells=16,
        assigned=_cell_assign16(spark, sf),
    )


L43_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cv,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS cnorm
  FROM embeddings ORDER BY vec_id LIMIT 16),
vecs AS (
  SELECT vec_id, embedding AS v,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS vnorm
  FROM embeddings),
assigned AS (
  SELECT vec_id, v, vnorm, cell_id FROM (
    SELECT s.vec_id, s.v, s.vnorm, c.cell_id,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY ({_FIXED_DOT.format(a='s.v', b='c.cv')})
                                       / (s.vnorm * c.cnorm) DESC,
                                       c.cell_id) AS crank
    FROM vecs s CROSS JOIN cents c)
  WHERE crank = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE ({_FIXED_DOT.format(a='a.v', b='b.v')}) / (a.vnorm * b.vnorm) >= 0.35)
SELECT x.vec_id, x.cell_id,
       CASE WHEN d.vec_id IS NOT NULL THEN 'drop' ELSE 'keep' END AS status
FROM assigned x LEFT JOIN dropped d ON x.vec_id = d.vec_id
"""


# --------------------------------------------------------------------- l45
def l45_hamming_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Hamming-ball near-dup pairs over SimHash fingerprints via the
    multi-index pigeonhole block join (radius 2, 4 blocks of 8 bits
    over a 32-bit fingerprint — wider than l04's 16-bit display
    fingerprint so each block keys 256 buckets, not 16; see the
    _BIT_VOTES32 note) — candidate pairs come from block equi-joins,
    never N² (llmops.dedup.hamming_neardup_pairs). The fingerprint
    table is session-cached: the self-join consumes it TWICE (both
    sides), and Spark has no DataFrame-level CSE, so uncached it would
    run the 32-bit vote projection twice per execution."""
    from pyspark_recs.workloads.common import shared_plan

    fps = shared_plan(
        spark,
        sf,
        "simhash32",
        lambda: simhash_fingerprints(
            load_table(spark, sf, "documents"), bits=32
        ),
    )
    return hamming_neardup_pairs(fps, radius=2, bits=32, n_blocks=4)


L45_SQL = f"""
WITH toks AS ({_TOKS}),
flat AS (SELECT doc_id, unnest(words) AS token FROM toks),
h AS (SELECT doc_id, {_sql_md5_long('token')} AS h FROM flat),
v AS (SELECT doc_id, {_BIT_VOTES32} FROM h GROUP BY doc_id),
fps AS (SELECT doc_id, CAST({_FP_SUM32} AS BIGINT) AS simhash FROM v),
blocks AS (
  SELECT doc_id, simhash, blk.b AS blk,
         (simhash >> (blk.b * 8)) & 255 AS key
  FROM fps, (VALUES (0), (1), (2), (3)) blk(b)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS fa, b.simhash AS fb
  FROM blocks a JOIN blocks b
    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= 2
"""


# --------------------------------------------------------------------- l47
def l47_token_concentration(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document token concentration (Simpson index Σcᵢ²/n²): the
    log-free diversity/spam signal — a doc that repeats one token has
    index → 1, natural prose sits near 1/vocab (the Rényi-2 companion
    of l22's bigram repetition and l38's rare-token score; entropy
    without transcendentals, so bit-portable). ``flag_concentrated``
    compares in cross-multiplied integers (Σc²·20 > n² ⇔ index > 5%),
    no float threshold.

    Scale: explode → per-(doc, token) counts → per-doc Σc² rollup, all
    combiner-friendly; the shuffle carries counts, not tokens twice.
    """
    from pyspark_recs.llmops.textstats import tokens

    docs = load_table(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    per_tok = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.col("c")).alias("sum_sq"),
        (
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c") * F.sum("c")).cast("double")
        ).alias("simpson"),
        (
            F.sum(F.col("c") * F.col("c")) * F.lit(20)
            > F.sum("c") * F.sum("c")
        ).alias("flag_concentrated"),
    )


L47_SQL = f"""
WITH toks AS ({_TOKS}),
flat AS (SELECT doc_id, unnest(words) AS token FROM toks),
per_tok AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
  FROM flat GROUP BY doc_id, token)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(sum(c * c) AS BIGINT) AS sum_sq,
       CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) * sum(c) AS DOUBLE)
         AS simpson,
       sum(c * c) * 20 > sum(c) * sum(c) AS flag_concentrated
FROM per_tok GROUP BY doc_id
"""


# --------------------------------------------------------------------- l46
def l46_jl_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss 64→8 random projection of the embedding
    corpus (llmops.similarity.jl_project): md5-derived Rademacher
    signs, fixed-point ± sums, scalar y_0..y_7 output — the
    training-free member of the vector-compression trio (l25/l42)."""
    emb = load_table(spark, sf, "embeddings")
    return jl_project(emb, out_dim=8, in_dim=64)


def _l46_sql() -> str:
    from pyspark_recs.llmops.similarity import jl_project_oracle_sql

    return jl_project_oracle_sql(out_dim=8, in_dim=64)


L46_SQL = _l46_sql()


# --------------------------------------------------------------------- l44
def l44_embedding_covariance(spark: SparkSession, sf: str) -> DataFrame:
    """Exact corpus covariance matrix (upper triangle) of the embedding
    column in one distributed pass — the PCA/whitening sufficient
    statistic (llmops.similarity.embedding_covariance; its
    eigendecomposition is a driver-sized d×d problem). Fixed-point
    moment sums make the d²/2 numbers bit-identical across engines and
    partitionings."""
    emb = load_table(spark, sf, "embeddings")
    return embedding_covariance(emb, dim=64)


L44_SQL = """
WITH terms AS (
  SELECT unnest(flatten(list_transform(embedding, (x, i) ->
           list_transform(embedding, (y, j) -> {'i': i, 'j': j,
             'q': CAST(floor(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                             * 1e12 + 0.5) AS BIGINT)})))) AS s
  FROM embeddings),
moments AS (
  SELECT s.i AS i, s.j AS j, sum(s.q) AS sq
  FROM terms WHERE s.i <= s.j GROUP BY 1, 2),
firsts AS (
  SELECT u.i, sum(CAST(floor(CAST(u.x AS DOUBLE) * 1e12 + 0.5)
                       AS BIGINT)) AS sx,
         CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(embedding) AS x,
               CAST(generate_subscripts(embedding, 1) AS INTEGER) AS i
        FROM embeddings) u
  GROUP BY u.i)
SELECT m.i, m.j, fi.n,
       CAST(m.sq AS DOUBLE) / 1e12 / CAST(fi.n AS DOUBLE)
         - (CAST(fi.sx AS DOUBLE) / 1e12 / CAST(fi.n AS DOUBLE))
           * (CAST(fj.sx AS DOUBLE) / 1e12 / CAST(fj.n AS DOUBLE)) AS cov
FROM moments m
JOIN firsts fi ON m.i = fi.i
JOIN firsts fj ON m.j = fj.i
"""


# --------------------------------------------------------------------- l48
def l48_segment_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-wide duplicate-segment accounting: per document, how many
    8-token segments survive keep-first exact dedup across the whole
    corpus (llmops/dedup.py:segment_dedup) — the sub-document sibling
    of l01's whole-doc digests and the filter C4/RefinedWeb run to
    strip boilerplate paragraphs before training."""
    from pyspark_recs.llmops.dedup import segment_dedup

    return segment_dedup(load_table(spark, sf, "documents"), seg_tokens=8)


L48_SQL = f"""
WITH toks AS ({_TOKS}),
segs AS (
  SELECT doc_id,
         CAST(s // 8 AS INTEGER) AS seg_idx,
         md5(array_to_string(list_slice(words, s + 1, s + 8), ' ')) AS h,
         CAST(least(8, len(words) - s) AS BIGINT) AS seg_toks
  FROM (SELECT doc_id, words, unnest(range(0, len(words), 8)) AS s
        FROM toks WHERE len(words) >= 1)),
flagged AS (
  SELECT doc_id, seg_toks,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) > 1
           AS is_dup
  FROM segs)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_segments,
       CAST(sum(seg_toks) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN is_dup THEN 0 ELSE seg_toks END) AS BIGINT)
         AS retained_tokens,
       CAST(sum(CASE WHEN is_dup THEN 0 ELSE seg_toks END) AS DOUBLE)
         / CAST(sum(seg_toks) AS DOUBLE) AS retained_ratio
FROM flagged GROUP BY doc_id
"""


# --------------------------------------------------------------------- l49
def l49_pq_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization codes for every embedding (4 subspaces × 16
    codes: 64-dim float32 → 2 B, 128×) plus the per-vector quantization
    error — llmops/similarity.py:pq_encode, the storage format IVF-PQ
    ANN indexes scan at billion-vector scale."""
    from pyspark_recs.llmops.similarity import pq_encode

    return pq_encode(load_table(spark, sf, "embeddings"))


_PQ_SQDIST = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(floor((CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
    " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * 1e12 + 0.5)"
    " AS BIGINT))) AS BIGINT)"
)

L49_SQL = f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
ms AS (SELECT unnest(range(0, 4)) AS m),
scored AS (
  SELECT v.vec_id, ms.m, c.code_id,
         {_PQ_SQDIST.format(
             a="list_slice(v.embedding, ms.m * 16 + 1, ms.m * 16 + 16)",
             b="list_slice(c.cv, ms.m * 16 + 1, ms.m * 16 + 16)")} AS dist_q
  FROM embeddings v CROSS JOIN ms CROSS JOIN cents c),
best AS (
  SELECT vec_id, m, code_id, dist_q FROM (
    SELECT vec_id, m, code_id, dist_q,
           row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY dist_q, code_id) AS rn
    FROM scored)
  WHERE rn = 1)
SELECT vec_id,
       CAST(max(CASE WHEN m = 0 THEN code_id END) AS INTEGER) AS code_0,
       CAST(max(CASE WHEN m = 1 THEN code_id END) AS INTEGER) AS code_1,
       CAST(max(CASE WHEN m = 2 THEN code_id END) AS INTEGER) AS code_2,
       CAST(max(CASE WHEN m = 3 THEN code_id END) AS INTEGER) AS code_3,
       CAST(sum(dist_q) AS DOUBLE) / 1e12 AS sq_error
FROM best GROUP BY vec_id
"""


# --------------------------------------------------------------------- l50
def l50_hybrid_search(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval (the standard RAG serving shape): BM25 keyword
    candidates re-ranked by embedding cosine, blended 50/50 after
    max-normalizing the lexical score — keyword recall + semantic
    precision in one query. Composes l33's log-free BM25 with l06's
    fixed-point cosine; documents pair with embeddings by id (the
    testdata's doc_id ↔ vec_id correspondence), the query embedding is
    vector 0 (the l06 query-side convention).

    Scale: BM25 narrows to top-20 BEFORE any vector work (the cheap
    lexical stage gates the expensive semantic stage — the whole point
    of hybrid serving); the re-rank then touches 20 vectors via an
    id equi-join, and the max-normalizer is a 1-row broadcast.
    """
    from pyspark_recs.llmops.search import bm25_topk
    from pyspark_recs.llmops.similarity import _fixed_dot

    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    cand = bm25_topk(docs, _BM25_TERMS, k=20).select("doc_id", "score")
    mx = cand.agg(F.max("score").alias("maxs"))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    hy = (
        cand.join(emb, cand.doc_id == emb.vec_id)
        .crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            "score",
            (
                _fixed_dot(F.col("embedding"), F.col("qv"))
                / (
                    F.sqrt(_fixed_dot(F.col("embedding"), F.col("embedding")))
                    * F.sqrt(_fixed_dot(F.col("qv"), F.col("qv")))
                )
            ).alias("cosine"),
            "maxs",
        )
        .select(
            "doc_id",
            "score",
            "cosine",
            (
                F.lit(0.5) * (F.col("score") / F.col("maxs"))
                + F.lit(0.5) * F.col("cosine")
            ).alias("hybrid"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("hybrid"), F.asc("doc_id"))
    return (
        hy.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("rank", "doc_id", "score", "cosine", "hybrid")
    )


L50_SQL = f"""
WITH toks AS ({_TOKS}),
lens AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS dl FROM toks),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM lens),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(words, w -> w IN ({_BM25_IN}))) AS term
        FROM toks)
  GROUP BY doc_id, term),
dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT t.doc_id,
         CAST(floor(
           ((s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * ((t.tf * 2.2)
              / (t.tf + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl)))
           * 1000000000.0 + 0.5) AS BIGINT) AS c
  FROM tf t
  JOIN dft d USING (term)
  JOIN lens l USING (doc_id)
  CROSS JOIN stats s),
scores AS (
  SELECT doc_id, CAST(sum(c) AS DOUBLE) / 1000000000.0 AS score
  FROM contrib GROUP BY doc_id),
cand AS (SELECT doc_id, score FROM scores ORDER BY score DESC, doc_id LIMIT 20),
mx AS (SELECT max(score) AS maxs FROM cand),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
hy AS (
  SELECT c.doc_id, c.score,
         ({_FIXED_DOT.format(a='e.embedding', b='q.qv')})
           / (sqrt({_FIXED_DOT.format(a='e.embedding', b='e.embedding')})
              * sqrt({_FIXED_DOT.format(a='q.qv', b='q.qv')})) AS cosine,
         mx.maxs
  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id, q, mx)
SELECT CAST(row_number() OVER (ORDER BY hybrid DESC, doc_id) AS INTEGER)
         AS rank,
       doc_id, score, cosine, hybrid
FROM (SELECT doc_id, score, cosine,
             0.5 * (score / maxs) + 0.5 * cosine AS hybrid
      FROM hy)
ORDER BY hybrid DESC, doc_id LIMIT 10
"""


# --------------------------------------------------------------------- l51
def l51_minhash_jaccard_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-quality audit for the MinHash pipeline (the r27/r50
    bounded-check discipline applied to l02/l03): for every LSH
    candidate pair, the signature-agreement estimate of Jaccard
    (matching permutations / k) side by side with the EXACT Jaccard
    over the integer shingle-hash sets, plus the absolute error. This
    is the measurement that justifies banding thresholds in production
    — k=8 permutations give a coarse (1/8-granular) estimator, which
    is exactly what the audit exposes.

    Scale: estimates need only the (id, 8 ints) signature rows for the
    CANDIDATE pairs (never all pairs); the exact side joins the
    distinct shingle-hash arrays for those same candidates only.
    Signatures and candidate pairs ride the session-shared l02/l03
    subplans instead of recomputing the sketch per query.
    """
    from pyspark_recs.llmops.hashing import MINHASH_COEFFS

    k = len(MINHASH_COEFFS)
    cand = _band_pairs(spark, sf)
    # Candidate-doc profile (signatures + exact shingle-hash set), one
    # row per doc that appears in any candidate pair — session-shared
    # and CANDIDATE-BOUNDED: banding keeps candidates sparse, so
    # hashing the whole corpus again for the audit was pure waste, and
    # the profile is small enough to broadcast at any scale where the
    # audit itself is tractable. The query is then one broadcast-join
    # stage over the pair table: zero shuffles after the build.
    prof = _cand_doc_profile(spark, sf)
    sig_a = prof.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("ha"),
        *[F.col(f"sig_{i}").alias(f"sa_{i}") for i in range(k)],
    )
    sig_b = prof.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hb"),
        *[F.col(f"sig_{i}").alias(f"sb_{i}") for i in range(k)],
    )
    matches = sum(
        (
            (F.col(f"sa_{i}") == F.col(f"sb_{i}")).cast("int")
            for i in range(k)
        ),
        F.lit(0),
    )
    return (
        cand.join(F.broadcast(sig_a), "doc_a")
        .join(F.broadcast(sig_b), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches.cast("double") / F.lit(float(k))).alias("est_jaccard"),
            (
                F.size(F.array_intersect("ha", "hb")).cast("double")
                / F.size(F.array_union("ha", "hb")).cast("double")
            ).alias("exact_jaccard"),
        )
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            "exact_jaccard",
            F.abs(F.col("est_jaccard") - F.col("exact_jaccard")).alias(
                "abs_err"
            ),
        )
    )


_SIG_MATCHES = " + ".join(
    f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END" for i in range(8)
)

L51_SQL = f"""
WITH toks AS ({_TOKS}),
{_INT_SHINGLE_CTES.strip()},
sigs AS (SELECT doc_id, {_SIG_SELECTS} FROM ihs),
buckets AS (
  SELECT doc_id, unnest([{_BAND_KEYS}]) AS band_key FROM sigs),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM buckets x JOIN buckets y
    ON x.band_key = y.band_key AND x.doc_id < y.doc_id)
SELECT c.doc_a, c.doc_b,
       CAST({_SIG_MATCHES} AS DOUBLE) / 8.0 AS est_jaccard,
       CAST(len(list_intersect(ga.hs, gb.hs)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(ga.hs, gb.hs))) AS DOUBLE)
         AS exact_jaccard,
       abs(CAST({_SIG_MATCHES} AS DOUBLE) / 8.0
           - CAST(len(list_intersect(ga.hs, gb.hs)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(ga.hs, gb.hs))) AS DOUBLE))
         AS abs_err
FROM cand c
JOIN sigs a ON a.doc_id = c.doc_a
JOIN sigs b ON b.doc_id = c.doc_b
JOIN ihs ga ON ga.doc_id = c.doc_a
JOIN ihs gb ON gb.doc_id = c.doc_b
"""


# --------------------------------------------------------------------- l52
def l52_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted systematic sampling of the corpus (sample documents
    proportional to an integer weight — here n_chars, in production a
    quality score): walk the cumulative-weight line and take one
    document per ``step = total/target`` of mass, i.e. keep a row iff
    its weight interval (cum−w, cum] contains a step tick. The
    training-data mixing primitive behind "sample 10 B tokens
    proportional to quality": exact BIGINT arithmetic end to end — no
    RNG, no pow/log — so the SAME sample comes out on any engine,
    partitioning or cluster size (l24's hash-sampling guarantee, but
    weight-proportional).

    Scale: the cumulative line rides ``scalable_prefix_sum`` (range
    partition + parallel local cumsums + broadcast offsets — no
    single-task global window), the total is a 1-row broadcast, and
    selection is a codegen'd filter.
    """
    from pyspark_recs.sql.transforms import scalable_prefix_sum

    target = 100
    docs = load_table(spark, sf, "documents").select("doc_id", "n_chars")
    cum = scalable_prefix_sum(docs, "doc_id", "n_chars", out_col="cum")
    total = docs.agg(F.sum("n_chars").alias("total"))
    return (
        cum.crossJoin(F.broadcast(total))
        .withColumn("step", F.expr(f"total div {target}"))
        .filter(
            F.expr("cum div step") > F.expr("(cum - n_chars) div step")
        )
        .select(
            "doc_id",
            F.col("n_chars").alias("weight"),
            F.expr("CAST(cum div step AS BIGINT)").alias("tick"),
        )
    )


L52_SQL = """
WITH w AS (
  SELECT doc_id, n_chars,
         sum(n_chars) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents),
t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total FROM documents),
s AS (SELECT doc_id, n_chars, cum, total // 100 AS step FROM w, t)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
       CAST(cum // step AS BIGINT) AS tick
FROM s WHERE cum // step > (cum - n_chars) // step
"""


# --------------------------------------------------------------------- l53
def l53_weighted_reservoir(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    one-pass reservoir (each row draws a uniform u and keeps key
    u^(1/w); the global top-k by key is exactly a weight-proportional
    sample without replacement — the textbook distributed weighted
    sampler, e.g. Spark's own RDD ``takeSample`` lineage). l52 is the
    systematic (stratified-ticks) sampler; this is its independent-draw
    sibling, the one you want when the sample must not inherit the
    corpus's sort order. The uniform is md5-derived, so the SAME sample
    comes out on any engine or cluster size; the key is compared as
    ln(u)/w (monotone in u^(1/w), one log + one division — fewer
    float roundings than pow, and both engines' libm agree far beyond
    the 60-bit spacing of distinct u's).

    Scale: pure projection + global top-k (TakeOrderedAndProject —
    per-partition heaps of k, no global sort), the O1 discipline; no
    shuffle beyond the k-row gather.
    """
    docs = load_table(spark, sf, "documents").select("doc_id", "n_chars")
    u = (
        (md5_long(F.concat(F.lit("l53:"), F.col("doc_id"))) + 1).cast(
            "double"
        )
        / F.lit(float(2**60 + 1))
    )
    keyed = docs.withColumn(
        "es_key", F.log(u) / F.col("n_chars").cast("double")
    )
    return (
        keyed.orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(100)
        .select("doc_id", F.col("n_chars").cast("long").alias("weight"))
    )


L53_SQL = f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         ln(CAST({sql_md5_long("'l53:' || CAST(doc_id AS VARCHAR)")} + 1
                 AS DOUBLE) / {float(2**60 + 1)!r})
           / CAST(n_chars AS DOUBLE) AS es_key
  FROM documents)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight
FROM keyed ORDER BY es_key DESC, doc_id LIMIT 100
"""


# --------------------------------------------------------------------- l57
def l57_source_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source leakage matrix: for every pair of corpus sources,
    how many distinct 3-gram shingle hashes they SHARE, plus the
    overlap coefficient (shared / smaller set) in exact ppm — the
    corpus-level audit that catches one feed republishing another
    (mirrors, scrapes of scrapes) before dedup wastes a full LSH pass
    on it, and the between-SOURCES sibling of l32's train/eval
    decontamination.

    Scale: distinct (gram, source) is a map-side-combined projection of
    Horner-folded integer hashes (no shingle strings). Pair counting is
    rs05's cap-then-expand discipline applied to sources: ONE groupBy
    on the gram collects each gram's sorted source SET (bounded by the
    number of corpus feeds, not by rows), pairs are generated JVM-side
    from those bounded arrays, and the pair rollup is a combiner-
    friendly count — no gram self-join, so a boilerplate gram shared by
    every source costs |sources|²/2 rows instead of a quadratic join
    blow-up per duplicated row (with the shared-exchange counts branch below: 2.7 s → 1.6 s at sf0.1). At
    open-web scale, feed l41's winnowed fingerprints instead of all
    grams: same query, 1/w the rows, with winnowing's matching
    guarantee.
    """
    from pyspark_recs.io.loaders import spread_partitions
    from pyspark_recs.llmops.dedup import shingle_hashes

    docs = load_table(spark, sf, "documents")
    gs = (
        spread_partitions(docs.filter(F.size(tokens(F.col("text"))) >= 3))
        .select(
            "source",
            F.explode(shingle_hashes(F.col("text"), 3)).alias("g"),
        )
        .distinct()
    )
    src_sets = gs.groupBy("g").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    # Per-source totals come from the SAME gram-level aggregate (a gram
    # counts toward source s iff s ∈ srcs), so the expensive
    # scan→explode→distinct chain is shared between the counts and
    # pairs branches up to its last exchange (ReusedExchange) instead
    # of being derived twice from the raw docs.
    counts = (
        src_sets.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("srcs"), i + 2, F.size(F.col("srcs"))),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    pairs = (
        src_sets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # ONE broadcast consulted twice (the rs11 degree-table fix, r13):
    # alias-projected broadcasts (source AS src_a / src_b) are not
    # `sameResult`, so each rebuilt the counts aggregate — and with it
    # the whole scan→explode→distinct gram pipeline it hangs off.
    # Joining the identical frame twice makes the second
    # BroadcastExchange a ReusedExchange by construction.
    bc = F.broadcast(counts)
    return (
        pairs.join(bc, F.col("src_a") == F.col("source"))
        .select("src_a", "src_b", "n_shared", F.col("n").alias("n_a"))
        .join(bc, F.col("src_b") == F.col("source"))
        .select("src_a", "src_b", "n_shared", "n_a", F.col("n").alias("n_b"))
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr("(1000000L * n_shared) div least(n_a, n_b)")
            .cast("long")
            .alias("overlap_ppm"),
        )
    )


L57_SQL = f"""
WITH toks AS ({_TOKS}),
wh AS (
  SELECT source, list_transform(words,
      w -> {_sql_md5_long('w')} % {MINHASH_PRIME}) AS wh
  FROM toks WHERE len(words) >= 3),
sg AS (
  SELECT DISTINCT source,
         unnest(list_transform(
             range(1, len(wh) - 1),
             i -> (((wh[i] * {SHINGLE_BASE} + wh[i + 1]) % {MINHASH_PRIME})
                    * {SHINGLE_BASE} + wh[i + 2]) % {MINHASH_PRIME})) AS g
  FROM wh),
counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT p.src_a, p.src_b, p.n_shared, ca.n AS n_a, cb.n AS n_b,
       (1000000 * p.n_shared) // least(ca.n, cb.n) AS overlap_ppm
FROM pairs p
JOIN counts ca ON p.src_a = ca.source
JOIN counts cb ON p.src_b = cb.source
"""


# --------------------------------------------------------------------- l56
L56_WEIGHTS = (
    ("n_tokens", 1500),
    ("n_chars", 30),
    ("n_distinct", 2500),
)
L56_THRESHOLD = 200_000


def l56_linear_model_score(spark: SparkSession, sf: str) -> DataFrame:
    """Model-as-DATA quality scoring: a broadcast (feature, weight)
    table scores every document as Σ wᵢ·xᵢ — the serving shape of a
    trained linear quality classifier (fastText/logistic filters à la
    CCNet), where shipping a new model is a new weights TABLE, not a
    code change. Features unpivot to long form so the dot product is a
    join + grouped sum; weights are integer ppm and features integer
    counts, so scores — and the keep decision at the threshold — are
    exact BIGINTs on any engine (the sigmoid is monotone, so
    thresholding the raw dot product IS thresholding the probability).

    Scale: features are pure projections; the weights join broadcasts
    a model-sized (tiny) table; the per-doc sum combines map-side.
    The same plan serves a 10⁶-feature sparse model by making the
    feature extraction emit (doc, feature, x) sparsely instead of
    unpivoting a fixed trio.
    """
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "n_chars"
    )
    words = F.filter(F.split("text", " "), lambda w: w != "")
    feats = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
    )
    long_form = feats.unpivot(
        ids=["doc_id"],
        values=["n_tokens", "n_chars", "n_distinct"],
        variableColumnName="feature",
        valueColumnName="x",
    )
    weights = spark.createDataFrame(
        list(L56_WEIGHTS), "feature string, w_ppm long"
    )
    return (
        long_form.join(F.broadcast(weights), "feature")
        .groupBy("doc_id")
        .agg(F.sum(F.col("x") * F.col("w_ppm")).alias("score_ppm"))
        .select(
            "doc_id",
            F.col("score_ppm").cast("long").alias("score_ppm"),
            (F.col("score_ppm") >= L56_THRESHOLD).alias("keep"),
        )
    )


L56_SQL = f"""
WITH feats AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS n_tokens,
         CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(list_distinct(
             list_filter(string_split(text, ' '), w -> w <> '')))
              AS BIGINT) AS n_distinct
  FROM documents),
long_form AS (
  SELECT doc_id, feature, x
  FROM feats UNPIVOT (x FOR feature IN (n_tokens, n_chars, n_distinct))),
weights(feature, w_ppm) AS (
  VALUES {", ".join(f"('{f}', {w})" for f, w in L56_WEIGHTS)})
SELECT doc_id, CAST(sum(x * w_ppm) AS BIGINT) AS score_ppm,
       sum(x * w_ppm) >= {L56_THRESHOLD} AS keep
FROM long_form JOIN weights USING (feature)
GROUP BY doc_id
"""


# --------------------------------------------------------------------- l55
def l55_containment_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Asymmetric containment dedup (the subsumption criterion): pairs
    where one document's unigram set is ≥ 60 % inside the other's —
    catches short-doc-quoted-in-long-doc duplication that l05's
    symmetric Jaccard scores near zero. Exact ppm both directions.
    """
    docs = load_table(spark, sf, "documents")
    return containment_pairs(
        docs,
        group_cols=["lang", "source"],
        shingle_n=1,
        threshold_ppm=600_000,
        with_sets=_unigram_sets(spark, sf),
    )


L55_SQL = f"""
WITH toks AS ({_TOKS}),
g AS (SELECT doc_id, lang, source, list_distinct(words) AS grams
      FROM toks WHERE len(words) >= 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_common,
         CAST(len(a.grams) AS BIGINT) AS n_a,
         CAST(len(b.grams) AS BIGINT) AS n_b
  FROM g a JOIN g b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, n_common,
       (1000000 * n_common) // n_a AS contain_a_ppm,
       (1000000 * n_common) // n_b AS contain_b_ppm
FROM pairs
WHERE (1000000 * n_common) // n_a >= 600000
   OR (1000000 * n_common) // n_b >= 600000
"""


# --------------------------------------------------------------------- l54
CMS_DEPTH = 4
CMS_WIDTH = 256


def l54_countmin_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min sketch over the corpus vocabulary: 4×256 cells of
    summed token counts (md5-derived row hashes), probed for the top-50
    exact tokens — emitting (token, exact count, CMS estimate) so the
    overcount is visible. l37's Misra-Gries answers "who are the heavy
    hitters"; CMS answers POINT queries over the whole vocabulary in
    O(depth) per probe with state fixed at depth·width cells no matter
    how many distinct tokens stream past — and cells are pure sums, so
    per-partition (or per-day) sketches MERGE by cell-wise addition,
    the property that makes it the standard distributed/streaming
    frequency structure. Hashes are md5-deterministic, so the sketch —
    and every estimate — is bit-identical on any engine: the oracle
    twin rebuilds the sketch and must agree exactly.

    Scale: token counts aggregate map-side; the sketch build is a
    1024-cell aggregation; probes broadcast-join the sketch. Nothing
    is vocabulary-sized except the (prunable) exact count input.
    """
    docs = load_table(spark, sf, "documents").select("text")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    ii = F.explode(
        F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    ).alias("i")
    bucket = F.pmod(
        md5_long(
            F.concat(
                F.lit("cms"),
                F.col("i").cast("string"),
                F.lit(":"),
                F.col("token"),
            )
        ),
        F.lit(CMS_WIDTH),
    ).alias("bucket")
    sketch = (
        counts.select("token", "exact_cnt", ii)
        .select("exact_cnt", "i", bucket)
        .groupBy("i", "bucket")
        .agg(F.sum("exact_cnt").alias("cell"))
    )
    top50 = counts.orderBy(
        F.desc("exact_cnt"), F.asc("token")
    ).limit(50)
    probes = top50.select("token", "exact_cnt", ii).select(
        "token", "exact_cnt", "i", bucket
    )
    return (
        probes.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("cell").alias("cms_est"))
        .select("token", "exact_cnt", "cms_est")
    )


L54_SQL = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '), w -> w <> ''))
           AS token
  FROM documents),
counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM toks GROUP BY token),
depths AS (SELECT unnest(range({CMS_DEPTH})) AS i),
hashed AS (
  SELECT token, exact_cnt, i,
         ({sql_md5_long("'cms' || CAST(i AS VARCHAR) || ':' || token")})
           % {CMS_WIDTH} AS bucket
  FROM counts, depths),
sketch AS (
  SELECT i, bucket, CAST(sum(exact_cnt) AS BIGINT) AS cell
  FROM hashed GROUP BY i, bucket),
top50 AS (
  SELECT token, exact_cnt FROM counts
  ORDER BY exact_cnt DESC, token LIMIT 50),
probes AS (
  SELECT t.token, t.exact_cnt, d.i,
         ({sql_md5_long("'cms' || CAST(d.i AS VARCHAR) || ':' || t.token")})
           % {CMS_WIDTH} AS bucket
  FROM top50 t, depths d)
SELECT p.token, p.exact_cnt, CAST(min(s.cell) AS BIGINT) AS cms_est
FROM probes p JOIN sketch s ON p.i = s.i AND p.bucket = s.bucket
GROUP BY p.token, p.exact_cnt
"""


# --------------------------------------------------------------------- l58
def l58_ivfpq_search(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ ANN search (llmops/similarity.py:ivfpq_topk): coarse
    cells prune the scan to nprobe/n_cells of the corpus, then probed
    candidates are ranked by asymmetric distance against their 2-byte
    PQ codes — composing l15's inverted file with l49's product codes
    into the billion-vector FAISS serving path, exactly checkable
    because every sub-distance is a fixed-point BIGINT."""
    from pyspark_recs.llmops.similarity import ivfpq_topk

    emb = load_table(spark, sf, "embeddings")
    return ivfpq_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


_PQ_SLICE = "list_slice({v}, ms.m * 16 + 1, ms.m * 16 + 16)"

L58_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cv,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS cnorm
  FROM embeddings ORDER BY vec_id LIMIT 16),
book AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, embedding AS bv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
ms AS (SELECT unnest(range(0, 4)) AS m),
cand AS (
  SELECT vec_id AS neighbor_id, embedding AS nv,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS vnorm
  FROM embeddings),
q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS vnorm
  FROM embeddings WHERE vec_id < 10),
inv_file AS ({_nearest_cells_sql('cand', 'neighbor_id', 'nv', 1)}),
probes AS ({_nearest_cells_sql('q', 'query_id', 'qv', 4)}),
cand_scored AS (
  SELECT c.neighbor_id, ms.m, b.code_id,
         {_PQ_SQDIST.format(a=_PQ_SLICE.format(v='c.nv'),
                            b=_PQ_SLICE.format(v='b.bv'))} AS dist_q
  FROM cand c CROSS JOIN ms CROSS JOIN book b),
cand_codes AS (
  SELECT neighbor_id, m, code_id FROM (
    SELECT neighbor_id, m, code_id,
           row_number() OVER (PARTITION BY neighbor_id, m
                              ORDER BY dist_q, code_id) AS rn
    FROM cand_scored) WHERE rn = 1),
adc AS (
  SELECT qq.query_id, ms.m, b.code_id,
         {_PQ_SQDIST.format(a=_PQ_SLICE.format(v='qq.qv'),
                            b=_PQ_SLICE.format(v='b.bv'))} AS dist_q
  FROM q qq CROSS JOIN ms CROSS JOIN book b),
pairs AS (
  SELECT p.query_id, f.neighbor_id
  FROM probes p JOIN inv_file f USING (cell_id)
  WHERE f.neighbor_id <> p.query_id),
summed AS (
  SELECT pr.query_id, pr.neighbor_id, sum(a.dist_q) AS adc_q
  FROM pairs pr
  JOIN cand_codes cc ON cc.neighbor_id = pr.neighbor_id
  JOIN adc a ON a.query_id = pr.query_id AND a.m = cc.m
            AND a.code_id = cc.code_id
  GROUP BY pr.query_id, pr.neighbor_id)
SELECT query_id, neighbor_id,
       CAST(adc_q AS DOUBLE) / 1e12 AS adc_dist,
       CAST(rank AS INTEGER) AS rank
FROM (SELECT query_id, neighbor_id, adc_q,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_q, neighbor_id) AS rank
      FROM summed)
WHERE rank <= 5
"""


# --------------------------------------------------------------------- l59
def l59_token_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source unigram-distribution drift vs the whole corpus, as an
    EXACT total-variation distance: TV(s) = ½·Σ_t |p_s(t) − p(t)| —
    the corpus-mixing diagnostic that tells you which feed's token
    distribution diverges before you pick l26's mixture weights (the
    token-level, corpus-family sibling of r60's KS drift / r62's
    chi-square).

    Absent tokens are handled in closed form, never via a source×vocab
    grid: Σ_{t∉s} p(t) = 1 − Σ_{t∈s} p(t), so the only join is
    per-source counts ⋈ corpus counts on the token — both sides
    vocabulary-bounded, the fact-sized work being two
    map-side-combined token counts. All sums are BIGINT
    cross-multiplications (|c_st·N − c_t·N_s|); the single final
    division runs in IEEE doubles, identical in both engines.

    Output: (source, n_tokens, vocab, tv_ppm).
    """
    toks = (
        load_table(spark, sf, "documents")
        .select("source", F.explode(tokens(F.col("text"))).alias("token"))
    )
    st = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("c_st")
    )
    ct = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c_t"))
    totals = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    grand = ct.agg(F.sum("c_t").alias("n_all"))
    joined = (
        st.join(ct, "token")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(grand))
    )
    agg = joined.groupBy("source").agg(
        F.max("n_s").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.max("n_all").alias("n_all"),
        F.sum(
            F.abs(F.col("c_st") * F.col("n_all") - F.col("c_t") * F.col("n_s"))
        ).alias("sum_abs"),
        F.sum("c_t").alias("ct_present"),
    )
    numer = (
        F.col("sum_abs")
        + (F.col("n_all") - F.col("ct_present")) * F.col("n_tokens")
    ).cast("double")
    denom = (F.lit(2.0) * F.col("n_tokens").cast("double")
             * F.col("n_all").cast("double"))
    return agg.select(
        "source",
        "n_tokens",
        "vocab",
        F.floor(numer / denom * F.lit(1e6)).alias("tv_ppm"),
    )


L59_SQL = f"""
WITH toks AS ({_TOKS}),
tok AS (SELECT source, unnest(words) AS token FROM toks),
st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c_st
       FROM tok GROUP BY source, token),
ct AS (SELECT token, CAST(count(*) AS BIGINT) AS c_t
       FROM tok GROUP BY token),
totals AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
           FROM st GROUP BY source),
grand AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_all FROM ct),
agg AS (
  SELECT s.source,
         CAST(max(t.n_s) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab,
         CAST(max(g.n_all) AS BIGINT) AS n_all,
         CAST(sum(abs(s.c_st * g.n_all - c.c_t * t.n_s)) AS BIGINT)
           AS sum_abs,
         CAST(sum(c.c_t) AS BIGINT) AS ct_present
  FROM st s
  JOIN ct c USING (token)
  JOIN totals t USING (source), grand g
  GROUP BY s.source)
SELECT source, n_tokens, vocab,
       CAST(floor(CAST(sum_abs + (n_all - ct_present) * n_tokens AS DOUBLE)
                  / (2.0 * CAST(n_tokens AS DOUBLE) * CAST(n_all AS DOUBLE))
                  * 1000000.0) AS BIGINT) AS tv_ppm
FROM agg
"""


# --------------------------------------------------------------------- l60
def l60_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary-coverage audit: per document, the out-of-vocabulary
    rate against the corpus's own top-500 token vocabulary — the check
    you run before committing to a tokenizer/vocab size (high OOV ⇒
    fertility blow-up at training time). The vocabulary is derived IN
    the query (top 500 by corpus frequency, ties to the
    lexicographically smaller token) so the whole operator stays
    self-contained and engine-agreed.

    Scale: token counting is one map-side-combined aggregate
    (vocab-bounded); the top-500 cut is TakeOrderedAndProject; the
    vocabulary then BROADCASTS to the per-doc token stream — the
    corpus-sized pass is one scan plus a broadcast-hash left join, and
    the per-doc rollup is a combiner-friendly count/sum. OOV rate is
    exact integer ppm (no float division).
    """
    docs = load_table(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(500)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("in_vocab").isNull().cast("long")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("(1000000L * n_oov) div n_tokens").alias("oov_ppm"),
        )
    )


L60_SQL = f"""
WITH toks AS ({_TOKS}),
tok AS (SELECT doc_id, unnest(words) AS token FROM toks),
vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS c FROM tok GROUP BY token)
  ORDER BY c DESC, token LIMIT 500),
marked AS (
  SELECT t.doc_id,
         CASE WHEN v.token IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok t LEFT JOIN vocab v USING (token))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(oov) AS BIGINT) AS n_oov,
       CAST((1000000 * sum(oov)) // count(*) AS BIGINT) AS oov_ppm
FROM marked GROUP BY doc_id
"""


# --------------------------------------------------------------------- l61
def l61_fuzzy_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy (MinHash-band) train/eval decontamination
    (llmops/scrub.py:fuzzy_decontaminate): flags training docs whose
    signature shares any LSH band with the eval split (doc_id % 5 = 0,
    l32's split) — catching paraphrased eval leakage the exact 5-gram
    pass misses, at O(train bands) cost via one band-key semi-join.
    Both splits' signatures are filters of the session-shared l02
    signature table (MinHash is per-row, so split-then-sign equals
    sign-then-split)."""
    from pyspark_recs.llmops.scrub import fuzzy_decontaminate

    docs = load_table(spark, sf, "documents")
    sigs = _doc_sigs(spark, sf)
    return fuzzy_decontaminate(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        train_sigs=sigs.filter(F.col("doc_id") % 5 != 0),
        bench_sigs=sigs.filter(F.col("doc_id") % 5 == 0),
    )


L61_SQL = f"""
WITH sigs AS ({_SIGNATURES}),
buckets AS (
  SELECT doc_id, unnest([{_BAND_KEYS}]) AS band_key FROM sigs),
bench AS (SELECT DISTINCT band_key FROM buckets WHERE doc_id % 5 = 0),
hits AS (
  SELECT DISTINCT doc_id FROM buckets
  WHERE doc_id % 5 <> 0
    AND band_key IN (SELECT band_key FROM bench))
SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated_fuzzy
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0) d
LEFT JOIN hits h USING (doc_id)
"""


# --------------------------------------------------------------------- l62
def l62_cluster_balanced_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster-balanced corpus sampling
    (llmops/similarity.py:cluster_balanced_sample): at most 40 vectors
    kept per semantic cell by deterministic md5 rank — the
    diversity-preserving sampler that protects tail topics from the
    dominant cluster, on the SESSION-SHARED cell assignment l43's
    SemDeDup and l15's inverted file also ride."""
    from pyspark_recs.llmops.similarity import cluster_balanced_sample

    return cluster_balanced_sample(
        load_table(spark, sf, "embeddings"),
        assigned=_cell_assign16(spark, sf),
    )


L62_SQL = f"""
WITH cents AS (
  SELECT vec_id AS cell_id, embedding AS cv,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS cnorm
  FROM embeddings ORDER BY vec_id LIMIT 16),
v AS (
  SELECT vec_id, embedding AS vv,
         sqrt({_FIXED_DOT.format(a='embedding', b='embedding')}) AS vnorm
  FROM embeddings),
assigned AS (
  SELECT vec_id, cell_id FROM (
    SELECT v.vec_id, c.cell_id,
           row_number() OVER (
             PARTITION BY v.vec_id
             ORDER BY ({_FIXED_DOT.format(a='v.vv', b='c.cv')})
                        / (v.vnorm * c.cnorm) DESC, c.cell_id) AS r
    FROM v CROSS JOIN cents c)
  WHERE r = 1),
ranked AS (
  SELECT vec_id, cell_id,
         CAST(count(*) OVER (PARTITION BY cell_id) AS BIGINT) AS cell_n,
         row_number() OVER (
           PARTITION BY cell_id
           ORDER BY ({_sql_md5_long("'cbs_' || CAST(vec_id AS VARCHAR)")}),
                    vec_id) AS hrank
  FROM assigned)
SELECT vec_id, cell_id, cell_n, (hrank <= 40) AS kept FROM ranked
"""


# --------------------------------------------------------------------- l63
def l63_shard_manifest(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset-versioning manifest: one row per corpus shard (source)
    with row count, byte volume, id range and an ORDER-INDEPENDENT
    content checksum (bit_xor of per-doc md5 digests over id+text) —
    the artifact an incremental sync diffs to find which shards
    changed between corpus versions without re-reading the data, and
    the engine-side half of a data card. Checksums are commutative, so
    the manifest is identical across partitionings, cluster sizes and
    engines — append a doc and exactly one shard's checksum moves.

    Scale: one map-side-combined aggregate over a pure projection; the
    exchange carries |sources| rows.
    """
    docs = load_table(spark, sf, "documents")
    digest = md5_long(
        F.concat_ws("\x01", F.col("doc_id").cast("string"), F.col("text"))
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.bit_xor(digest).alias("content_xor"),
    )


L63_SQL = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id,
       bit_xor({_sql_md5_long(
           "CAST(doc_id AS VARCHAR) || chr(1) || text")}) AS content_xor
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------- l64
def l64_decontaminate_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level decontamination (llmops/scrub.py:decontaminate_spans):
    excise only the 5-token windows overlapping a benchmark 5-gram
    (same % 97 eval split as l32) and keep the rest of each document —
    per-doc removed-token audit plus a digest proving byte-identical
    excision across engines. The benchmark gram index is session-shared
    with l32's doc-level pass."""
    from pyspark_recs.llmops.scrub import decontaminate_spans

    docs = load_table(spark, sf, "documents")
    return decontaminate_spans(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        bench_grams=_bench_grams5(spark, sf),
    )


_POS_GRAM5 = (
    f"list_transform(range(1, len(wh) - 3), "
    f"i -> ((((((((wh[i] * {SHINGLE_BASE} + wh[i+1]) % {MINHASH_PRIME}) "
    f"* {SHINGLE_BASE} + wh[i+2]) % {MINHASH_PRIME}) "
    f"* {SHINGLE_BASE} + wh[i+3]) % {MINHASH_PRIME}) "
    f"* {SHINGLE_BASE} + wh[i+4]) % {MINHASH_PRIME}))"
)

L64_SQL = f"""
WITH toks AS ({_TOKS}),
wh AS (
  SELECT doc_id, words, list_transform(words,
      w -> {_sql_md5_long('w')} % {MINHASH_PRIME}) AS wh
  FROM toks),
pg AS (SELECT doc_id, words, {_POS_GRAM5} AS pos_grams FROM wh),
bench AS (
  SELECT DISTINCT unnest(pos_grams) AS g FROM pg WHERE doc_id % 97 = 0),
exploded AS (
  SELECT doc_id, unnest(pos_grams) AS g,
         generate_subscripts(pos_grams, 1) - 1 AS pos
  FROM pg WHERE doc_id % 97 <> 0),
hits AS (
  SELECT e.doc_id, list_sort(list(e.pos)) AS starts
  FROM exploded e SEMI JOIN bench b ON e.g = b.g
  GROUP BY e.doc_id),
rebuilt AS (
  SELECT p.doc_id, p.words,
         COALESCE(h.starts, []) AS starts,
         list_distinct(flatten(list_transform(COALESCE(h.starts, []),
                                              st -> range(st, st + 5))))
           AS covered
  FROM pg p LEFT JOIN hits h USING (doc_id)
  WHERE p.doc_id % 97 <> 0),
kept AS (
  SELECT doc_id, len(words) AS n_tokens,
         list_transform(list_filter(range(1, len(words) + 1),
                                    j -> NOT list_contains(covered, j - 1)),
                        j -> words[j]) AS kept_words
  FROM rebuilt)
SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(n_tokens - len(kept_words) AS INTEGER) AS n_removed,
       md5(coalesce(array_to_string(kept_words, ' '), '')) AS clean_md5
FROM kept
"""
# NOTE (sf0.001 regression find): DuckDB's array_to_string([]) is NULL
# where Spark's array_join([]) is '' — a fully-excised document (every
# token inside a contaminated window) hit this; the coalesce pins the
# Spark semantics (digest of the empty string).


# --------------------------------------------------------------------- l65
def l65_payload_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Asset-level exact dedup of binary payloads — the
    checksum-dedup pass every media pipeline runs before any decode
    (the same image served on a million pages is stored and embedded
    ONCE). Duplicate assets are synthesized deterministically (every
    doc_id % 9 == 0 carries its language's shared asset — the
    site-wide-logo case), then grouped by payload digest with
    keep-first canonical election; every row reports its canonical
    owner, so downstream ops join payloads back by canonical id and
    the dedup is reversible.

    Scale: digests are computed in the scan projection, the payload
    itself is PRUNED before the digest groupBy (the shuffle carries
    32-byte digests, never media bytes — the discipline all multimodal
    ops here follow), and canonical election is one min() window over
    digest groups.
    """
    docs = load_table(spark, sf, "documents")
    payload = F.when(
        F.col("doc_id") % 9 == 0,
        F.encode(F.concat(F.lit("SHARED_ASSET_"), F.col("lang")), "utf-8"),
    ).otherwise(F.encode(F.col("text"), "utf-8"))
    with_digest = docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
    )
    w = Window.partitionBy("payload_md5")
    return with_digest.select(
        "doc_id",
        "n_bytes",
        "payload_md5",
        F.min("doc_id").over(w).alias("canonical_doc"),
        (F.min("doc_id").over(w) != F.col("doc_id")).alias("is_dup"),
    )


L65_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 9 = 0 THEN 'SHARED_ASSET_' || lang
              ELSE text END AS payload
  FROM documents)
SELECT doc_id,
       CAST(strlen(payload) AS INTEGER) AS n_bytes,
       md5(payload) AS payload_md5,
       min(doc_id) OVER (PARTITION BY md5(payload)) AS canonical_doc,
       min(doc_id) OVER (PARTITION BY md5(payload)) <> doc_id AS is_dup
FROM d
"""


# --------------------------------------------------------------------- l66
def l66_attribution_union(spark: SparkSession, sf: str) -> DataFrame:
    """Attribution propagation through dedup: when l21's near-dup
    clusters collapse to one canonical document, the survivors must
    CARRY the union of their members' source attributions (license and
    provenance obligations don't disappear with the duplicate bytes —
    the compliance step every dedup'd release needs). Per canonical
    doc: member count, the sorted union of member sources, and total
    absorbed bytes.

    Scale: one join of the (doc → canonical) label table against doc
    metadata, then a map-side-combined groupBy(canonical) whose state
    is a bounded source SET — cluster text is never shuffled.
    """
    docs = load_table(spark, sf, "documents")
    labels = _cc_labels(spark, sf)
    return (
        labels.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
        .groupBy("canonical_doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
                "sources_csv"
            ),
            F.sum("n_chars").alias("total_chars"),
        )
    )


L66_SQL = f"""
WITH labels AS ({L21_SQL.strip()})
SELECT l.canonical_doc_id,
       CAST(count(*) AS BIGINT) AS n_members,
       array_to_string(list_sort(list(DISTINCT d.source)), ',')
         AS sources_csv,
       CAST(sum(d.n_chars) AS BIGINT) AS total_chars
FROM labels l JOIN documents d USING (doc_id)
GROUP BY l.canonical_doc_id
"""


# --------------------------------------------------------------------- l67
def l67_group_aware_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free train/val/test assignment: split by the NEAR-DUP
    CLUSTER, not the document — every member of an l21 cluster hashes
    to the same split (md5 of the canonical id, 80/10/10), so a
    training document's near-copy can never sit in the eval split and
    quietly inflate metrics. This is GroupShuffleSplit at corpus
    scale, and the split-side counterpart of l32/l61's benchmark
    decontamination: those clean against an EXTERNAL eval set, this
    prevents the corpus's own splits from leaking into each other.
    Deterministic md5 keying keeps the assignment reproducible across
    engines, re-runs and cluster sizes — and RESUMABLE: a new near-dup
    of an existing cluster inherits the cluster's split.

    Scale: the cluster labels are l21's bounded iterative CC; the
    assignment itself is a pure projection over the label table.
    """
    return split_from_labels(_cc_labels(spark, sf))


def split_from_labels(labels: DataFrame) -> DataFrame:
    """80/10/10 split assignment keyed on md5(canonical_doc_id) — the
    projection half of l67, factored out so the resumability property
    (old docs keep their split when the corpus grows) is testable on
    synthetic corpora."""
    bucket = F.pmod(
        md5_long(
            F.concat(F.lit("split_"), F.col("canonical_doc_id").cast("string"))
        ),
        F.lit(100),
    )
    return labels.select(
        "doc_id",
        "canonical_doc_id",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


L67_SQL = f"""
WITH labels AS ({L21_SQL.strip()})
SELECT doc_id, canonical_doc_id,
       CASE
         WHEN ({_sql_md5_long(
             "'split_' || CAST(canonical_doc_id AS VARCHAR)")}) % 100 < 80
           THEN 'train'
         WHEN ({_sql_md5_long(
             "'split_' || CAST(canonical_doc_id AS VARCHAR)")}) % 100 < 90
           THEN 'valid'
         ELSE 'test'
       END AS split
FROM labels
"""


# --------------------------------------------------------------------- l68
def l68_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup threshold-sweep curve: for a ladder of Jaccard thresholds,
    how many candidate pairs survive exact verification and how many
    documents they touch — the tuning artifact a dedup operator reads
    BEFORE committing a threshold (too low deletes the corpus, too
    high keeps the near-dups); l51 audits the sketch against exact
    Jaccard, this audits the THRESHOLD against corpus impact. One
    verification pass feeds every ladder step (pairs explode against
    the 5-value threshold array, never re-verified per step).

    Scale: the pair set is the l05 block-bounded verification output
    (session-shared — one blocked-pair expansion feeds both queries);
    the sweep is a 5× bounded explode + two combiner-friendly
    aggregates. Jaccard is an exact small-integer division, so the
    per-step counts are engine-agreed.
    """
    pairs = _blocked_unigram_pairs(spark, sf)
    ladder = F.array(*[F.lit(t) for t in (10, 30, 50, 70, 90)])
    e = pairs.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.explode(ladder).alias("thr_pct"),
    ).filter(F.col("jaccard") * 100 >= F.col("thr_pct"))
    n_pairs = e.groupBy("thr_pct").agg(F.count(F.lit(1)).alias("n_pairs"))
    n_docs = (
        e.select("thr_pct", F.explode(F.array("doc_a", "doc_b")).alias("d"))
        .groupBy("thr_pct")
        .agg(F.countDistinct("d").alias("n_docs_affected"))
    )
    return n_pairs.join(n_docs, "thr_pct").select(
        "thr_pct", "n_pairs", "n_docs_affected"
    )


L68_SQL = f"""
WITH toks AS ({_TOKS}),
g AS (SELECT doc_id, lang, source, list_distinct(words) AS grams
      FROM toks WHERE len(words) >= 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
           / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
  FROM g a JOIN g b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
e AS (
  SELECT doc_a, doc_b, jaccard, unnest([10, 30, 50, 70, 90]) AS thr_pct
  FROM pairs),
kept AS (SELECT * FROM e WHERE jaccard * 100 >= thr_pct),
np AS (SELECT thr_pct, CAST(count(*) AS BIGINT) AS n_pairs
       FROM kept GROUP BY thr_pct),
nd AS (
  SELECT thr_pct, CAST(count(DISTINCT d) AS BIGINT) AS n_docs_affected
  FROM (SELECT thr_pct, unnest([doc_a, doc_b]) AS d FROM kept)
  GROUP BY thr_pct)
SELECT np.thr_pct, np.n_pairs, nd.n_docs_affected
FROM np JOIN nd USING (thr_pct)
"""


# --------------------------------------------------------------------- l69
def l69_corpus_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus VERSION diff: classify every document across two corpus
    snapshots as ADDED / REMOVED / CHANGED / UNCHANGED by digest
    comparison, rolled up per source — the release-notes artifact
    between two dataset versions (l63's manifest says WHICH shard
    moved; this says what happened inside it), and r63's CDC snapshot
    diff applied to the document domain. Version 2 is synthesized
    deterministically from version 1 (doc_id % 31 = 0 removed,
    % 37 = 0 re-crawled with changed text, a shifted-id cohort added),
    so every class is non-empty and engine-agreed.

    Scale: one full-outer join on doc_id between two digest
    projections (text never shuffles — digests do), then a map-side-
    combined per-source rollup.
    """
    docs = load_table(spark, sf, "documents")
    v1 = docs.select("doc_id", "source", F.md5("text").alias("d1"))
    v2 = (
        docs.filter(F.col("doc_id") % 31 != 0)
        .select(
            "doc_id",
            "source",
            F.md5(
                F.when(
                    F.col("doc_id") % 37 == 0,
                    F.concat(F.col("text"), F.lit(" [recrawled]")),
                ).otherwise(F.col("text"))
            ).alias("d2"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 41 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                "source",
                F.md5(F.concat(F.lit("new "), F.col("text"))).alias("d2"),
            )
        )
    )
    joined = v1.join(
        v2.withColumnRenamed("source", "source2"), "doc_id", "full_outer"
    )
    status = (
        F.when(F.col("d1").isNull(), F.lit("added"))
        .when(F.col("d2").isNull(), F.lit("removed"))
        .when(F.col("d1") != F.col("d2"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce("source", "source2").alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


L69_SQL = """
WITH v1 AS (
  SELECT doc_id, source, md5(text) AS d1 FROM documents),
v2 AS (
  SELECT doc_id, source,
         md5(CASE WHEN doc_id % 37 = 0 THEN text || ' [recrawled]'
                  ELSE text END) AS d2
  FROM documents WHERE doc_id % 31 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, md5('new ' || text) AS d2
  FROM documents WHERE doc_id % 41 = 0),
joined AS (
  SELECT COALESCE(v1.source, v2.source) AS source,
         CASE WHEN v1.d1 IS NULL THEN 'added'
              WHEN v2.d2 IS NULL THEN 'removed'
              WHEN v1.d1 <> v2.d2 THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
FROM joined GROUP BY source, status
"""


# --------------------------------------------------------------------- l70
def l70_real_encoder_embed(spark: SparkSession, sf: str) -> DataFrame:
    """M7 with REAL tensors: pushes every document payload through the
    SAME Arrow-batched ``encode_payloads`` path as the stub, but with
    a genuine float32 MLP forward pass (numpy matmuls over each Arrow
    batch; weights are the shipped ``llmops/models/tiny_mlp_encoder.
    npz`` checkpoint — the way a production deployment runs CLIP,
    reference src/app_utils.py:10-26). Iterative-float output, so —
    r50-style — the row emits exactly-checkable facts: the oracle
    derives the surviving doc set (payloads ≥ the model's 64-byte
    input) and the output dim from the data/checkpoint contract alone,
    and asserts the unit-norm property a broken forward pass loses.

    Scale: model runs once per Arrow batch (tune
    ``arrow.maxRecordsPerBatch`` to the model's batch size); payload
    bytes stay inside the scan partition — only (doc_id, 16 floats)
    survive the operator."""
    from pyspark_recs.llmops.encoder import TinyMLPEncoder

    docs = load_table(spark, sf, "documents")
    emb = encode_payloads(
        with_binary_payload(docs), encoder=TinyMLPEncoder()
    )
    sumsq = F.aggregate(
        F.transform("embedding", lambda x: x * x),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    return emb.select(
        "doc_id",
        F.size("embedding").alias("dim"),
        (F.abs(F.lit(1.0) - sumsq) < F.lit(1e-5)).alias("unit_norm_ok"),
    )


L70_SQL = """
SELECT doc_id, 16 AS dim, TRUE AS unit_norm_ok
FROM documents WHERE octet_length(CAST(text AS BLOB)) >= 64
"""


# --------------------------------------------------------------------- l71
def l71_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative BPE tokenizer TRAINING (3 merge rounds) — the full
    loop whose one-step statistic l39 exposes: corpus-weighted pair
    counts → deterministic argmax → delimiter-safe merge application,
    per round. Output is the learned merge table. Exactly replayed by
    the oracle (unrolled CTE rounds, identical replace semantics).
    See llmops/textstats.py:bpe_train_merges for the scale contract
    (vocabulary-sized state after the first aggregation)."""
    from pyspark_recs.llmops.textstats import bpe_train_merges

    return bpe_train_merges(load_table(spark, sf, "documents"), n_merges=3)


def _l71_sql() -> str:
    from pyspark_recs.llmops.textstats import bpe_train_oracle_sql

    return bpe_train_oracle_sql(n_merges=3, toks_cte=_TOKS)


L71_SQL = _l71_sql()


# --------------------------------------------------------------------- l72
def l72_intra_doc_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-document repetition score — the degenerate-text filter for
    model-generated or boilerplate-looping content (the WITHIN-doc
    sibling of l48's cross-corpus segment dedup and l08's global
    quality ratios; Gopher's repetition rules, arXiv:2112.11446 §A1.1,
    use exactly this family): per document, the fraction of 3-gram
    positions occupied by a gram already seen earlier in the SAME
    document, in exact ppm, plus the distinct/total gram counts.

    Scale: pure projection — grams, array_distinct and the ratio are
    all JVM-side per-row expressions; no shuffle, no join, no state.
    """
    from pyspark_recs.llmops.hashing import MINHASH_PRIME, SHINGLE_BASE

    from pyspark_recs.io.loaders import spread_partitions

    # documents arrives as one parquet file — without a round-robin
    # respread the whole hash/fold projection runs in a single task.
    docs = spread_partitions(load_table(spark, sf, "documents"))
    # POSITIONAL 3-gram hashes (every occurrence, not the distinct set
    # shingle_hashes returns): word hashes Horner-folded per window.
    # The word-hash array is its own projection so the md5 transform is
    # evaluated ONCE — inlined, the three slice() references re-hash
    # every token three times (measured 3.8 s → 2.4 s at sf0.1; the
    # residual is the irreducible 1M-token md5+fold itself).
    hashed = docs.select(
        "doc_id",
        F.transform(
            tokens(F.col("text")), lambda w: md5_long(w) % MINHASH_PRIME
        ).alias("wh"),
    )
    wh = F.col("wh")
    m = F.greatest(F.size(wh) - 2, F.lit(0))
    acc = F.slice(wh, 1, m)
    for j in range(1, 3):
        acc = F.zip_with(
            acc,
            F.slice(wh, 1 + j, m),
            lambda a, b: (a * F.lit(SHINGLE_BASE) + b) % MINHASH_PRIME,
        )
    g = hashed.select("doc_id", acc.alias("grams")).filter(
        F.size("grams") > 0
    )
    # Counts first, ratio from the counts: referencing array_distinct
    # in both the count and the ppm expression would evaluate it twice.
    counts = g.select(
        "doc_id",
        F.size("grams").cast("long").alias("n_grams"),
        F.size(F.array_distinct("grams")).cast("long").alias(
            "n_distinct_grams"
        ),
    )
    return counts.select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        F.expr(
            "CAST((1000000 * (n_grams - n_distinct_grams))"
            " div n_grams AS BIGINT)"
        ).alias("repetition_ppm"),
    )


L72_SQL = f"""
WITH toks AS ({_TOKS}),
wh AS (
  SELECT doc_id, list_transform(words,
      w -> {_sql_md5_long('w')} % {MINHASH_PRIME}) AS wh
  FROM toks WHERE len(words) >= 3),
pg AS (
  SELECT doc_id, list_transform(range(1, len(wh) - 1),
      i -> (((wh[i] * {SHINGLE_BASE} + wh[i + 1]) % {MINHASH_PRIME})
             * {SHINGLE_BASE} + wh[i + 2]) % {MINHASH_PRIME}) AS grams
  FROM wh)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams,
       CAST((1000000 * (len(grams) - len(list_distinct(grams))))
            // len(grams) AS BIGINT) AS repetition_ppm
FROM pg
"""


# --------------------------------------------------------------------- l73
def l73_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Apply l71's learned merge table back to the corpus: per
    document, symbol counts before/after the chained merges and the
    saving in exact ppm — tokenizer-efficiency accounting, the second
    half of the train→encode loop (train once on the corpus, encode
    everything with the shipped merges). "Train once" is literal: the
    3-row merge table is a session-shared plan (the same fitted-model
    discipline as the ALS/content trainers), so repeated encodes pay
    the training pass exactly once; the oracle re-derives the merges
    in-query and applies the identical pad→replace→trim fold. See
    llmops/textstats.py:bpe_apply_counts (pure projection — encoding
    cost scales with tokens, not with any shuffle)."""
    from pyspark_recs.llmops.textstats import (
        bpe_apply_counts,
        bpe_train_merges,
    )
    from pyspark_recs.workloads.common import shared_plan

    docs = load_table(spark, sf, "documents")
    merges = shared_plan(
        spark, sf, "bpe_merges_n3", lambda: bpe_train_merges(docs, n_merges=3)
    ).collect()
    from pyspark_recs.io.loaders import spread_partitions

    return bpe_apply_counts(spread_partitions(docs), merges)


def _l73_sql() -> str:
    from pyspark_recs.llmops.textstats import bpe_apply_oracle_sql

    return bpe_apply_oracle_sql(n_merges=3, toks_cte=_TOKS)


L73_SQL = _l73_sql()


# --------------------------------------------------------------------- l74
def l74_two_tower_align(spark: SparkSession, sf: str) -> DataFrame:
    """TWO-TOWER cross-modal encoding with REAL tensors on BOTH sides
    (M7, closing l30's remaining stub half — reference CLIP text+image
    towers, app_utils.py:10-26): asset payloads go through the image
    tower (``TinyMLPEncoder``, shipped npz, cycle prep) and the paired
    prompts ``"photo of asset <id>"`` through the DISTILLED text tower
    (``TinyTextEncoder``, its own trained npz, tools/
    train_text_tower.py) — two genuine float32 forward passes over the
    same Arrow ``mapInPandas`` seam, no network at any point.

    r50-style bracket row. Oracle-exact: ``n_pairs`` (fetch-surviving
    docs). Flags gating the tensors: ``unit_norm_ok``/``dim_ok`` (a
    broken forward pass loses both) and the LEARNED-distillation claim
    ``matched_mean_ge_099`` — mean matched cosine ≥ 0.99, which ONLY a
    trained text tower clears (measured 0.9949 at 500 docs / 0.9994 at
    5000; the best possible CONSTANT tower — the image-cloud center —
    reaches 0.9785 and a random tower ~0.08; see
    tools/train_text_tower.py for the calibration, including why
    margin-vs-mismatch statistics were rejected as noise-dominated).
    Open-vocabulary rank-1 retrieval is NOT claimed: the synthetic
    asset bytes are hash-like in the id (image embeddings
    near-collinear), which is exactly the gap real CLIP checkpoints
    would close through this same two-checkpoint seam.

    Scale: encoders run batched per Arrow batch, payloads never
    shuffle; the only non-projection step is one (id, 16-float)
    equi-join."""
    from pyspark_recs.llmops.encoder import TinyMLPEncoder, TinyTextEncoder

    docs = load_table(spark, sf, "documents").select("doc_id")
    images = encode_payloads(
        fetch_payloads(synthesize_image_urls(docs)).filter(
            F.col("status") == "ok"
        ),
        encoder=TinyMLPEncoder(pad_mode="cycle"),
    )
    prompts = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit("photo of asset "), F.col("doc_id").cast("string")
            ),
            "utf-8",
        ).alias("payload"),
    )
    texts = encode_payloads(prompts, encoder=TinyTextEncoder())

    tv = texts.select("doc_id", F.col("embedding").alias("tv"))
    iv = images.select(
        F.col("doc_id").alias("img_id"), F.col("embedding").alias("iv")
    )
    dot = F.aggregate(
        F.zip_with("tv", "iv", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sumsq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, b: a + b
    )
    matched = tv.join(iv, tv.doc_id == iv.img_id).select(
        dot.alias("cm"),
        (F.size("tv") == 16).alias("tdim"),
        (F.size("iv") == 16).alias("idim"),
        (F.abs(F.lit(1.0) - sumsq("tv")) < 1e-5).alias("tn"),
        (F.abs(F.lit(1.0) - sumsq("iv")) < 1e-5).alias("inorm"),
    )
    return matched.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg("cm").alias("mean_cm"),
        F.min(F.col("tdim") & F.col("idim")).alias("dim_ok"),
        F.min(F.col("tn") & F.col("inorm")).alias("unit_norm_ok"),
    ).select(
        "n_pairs",
        "dim_ok",
        "unit_norm_ok",
        (F.col("mean_cm") >= 0.99).alias("matched_mean_ge_099"),
    )


L74_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       TRUE AS dim_ok,
       TRUE AS unit_norm_ok,
       TRUE AS matched_mean_ge_099
FROM documents WHERE doc_id % 13 <> 0
"""


# --------------------------------------------------------------------- l75
def l75_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    """EXECUTED temperature-weighted mixture sampling — the step that
    turns l26's mixing WEIGHTS into an actual sampled corpus under a
    document budget (Pile/Llama-style: source s contributes ∝ w_s^α,
    α = 0.5, so small sources are up-weighted relative to their raw
    char mass; l26 stops at the weight table, l24's per-stratum gate
    takes hand-picked rates — this derives the per-source gate FROM
    the tempered mass and emits the audited sample). Per source: exact
    char mass w_s → fixed-point √w_s (q_s = ⌊√w_s·10⁶+0.5⌋; sqrt is
    IEEE-correctly-rounded in every engine, so q_s is engine-agreed) →
    integer keep-threshold t_s = (T·q_s·2²⁰) div (Q·n_s) for a T-doc
    budget → a document survives iff md5(doc_id) % 2²⁰ < t_s. No RNG
    anywhere: the SAME sample comes out on any engine, partitioning,
    or cluster size (the l24/l52 determinism guarantee, here budget-
    driven per source). The per-source digest (md5 of the sorted
    surviving ids) proves it.

    Precision budget: T·q_s·2²⁰ must stay < 2⁶³ → per-source char
    mass < ~2·10¹⁵ (≈2 PB of text) at the 10⁶ fixed-point; drop the
    sqrt scale to 10³ beyond that (still micro-exact).

    Scale: two aggregations over (source) — a ~sources-sized table —
    one broadcast join back, a codegen'd gate, and a per-source
    sample-sized collect_list. Nothing row-quadratic, no shuffle of
    text."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", "n_chars"
    )
    stats = docs.groupBy("source").agg(
        F.sum("n_chars").alias("w"), F.count(F.lit(1)).alias("n_s")
    )
    q = stats.select(
        "source",
        "n_s",
        F.floor(F.sqrt(F.col("w").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("q"),
    )
    tot = q.agg(F.sum("q").alias("qq"))
    thr = q.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr("(200 * q * 1048576) div (qq * n_s)").alias("thr"),
    )
    gate = md5_long(F.concat(F.lit("l75:"), F.col("doc_id"))) % F.lit(
        1048576
    )
    picked = (
        docs.join(F.broadcast(thr), "source")
        .filter(gate < F.col("thr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.md5(
                F.array_join(
                    F.sort_array(F.collect_list("doc_id")), ","
                )
            ).alias("sample_digest"),
        )
    )
    return (
        stats.select("source", F.col("n_s").alias("n_docs"))
        .join(picked, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
            F.coalesce("sampled_chars", F.lit(0)).alias("sampled_chars"),
            F.coalesce(
                "sample_digest", F.lit(hashlib.md5(b"").hexdigest())
            ).alias("sample_digest"),
        )
    )


L75_SQL = f"""
WITH stats AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS w,
         CAST(count(*) AS BIGINT) AS n_s
  FROM documents GROUP BY source),
q AS (
  SELECT source, n_s,
         CAST(floor(sqrt(CAST(w AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS q
  FROM stats),
tot AS (SELECT CAST(sum(q) AS BIGINT) AS qq FROM q),
thr AS (SELECT source, (200 * q * 1048576) // (qq * n_s) AS thr
        FROM q, tot),
picked AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_sampled,
         CAST(sum(d.n_chars) AS BIGINT) AS sampled_chars,
         md5(array_to_string(list_sort(list(d.doc_id)), ',')) AS
           sample_digest
  FROM documents d JOIN thr t ON d.source = t.source
  WHERE {_sql_md5_long("'l75:' || CAST(doc_id AS VARCHAR)")}
        % 1048576 < t.thr
  GROUP BY d.source)
SELECT s.source, s.n_s AS n_docs,
       COALESCE(p.n_sampled, 0) AS n_sampled,
       COALESCE(p.sampled_chars, 0) AS sampled_chars,
       COALESCE(p.sample_digest, md5('')) AS sample_digest
FROM stats s LEFT JOIN picked p ON s.source = p.source
"""


# --------------------------------------------------------------------- l76
def l76_png_decode_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image-codec round trip through the S11 pipeline (closing
    the "decode is a stub" gap VERDICT r5 held against S11; reference
    behavior app_utils.py:14-26): per document, synthesize an 8×8
    grayscale image with the SQL-expressible pixel formula
    pixel[i] = (doc_id·31 + i·7) mod 256, ENCODE it into genuine PNG
    bytes (zlib DEFLATE, CRC-checked chunks — llmops/png.py), push the
    binary payloads through the same Arrow `mapInPandas` seam as every
    multimodal operator, and DECODE them back with full scanline-filter
    reconstruction (multimodal.decode_image_payloads). Docs with
    doc_id % 17 == 0 ship a truncated payload to exercise the
    dead-letter contract.

    The emitted facts (dims, channels, integer pixel sum) are exact:
    the DuckDB twin recomputes the pixel sum from the formula alone, so
    a single wrong byte anywhere in the encode→inflate→unfilter→sum
    path hash-fails the gate. This is the strongest codec test shape:
    the oracle never sees PNG — only the Spark side proves it can
    round-trip the format.

    Scale: encode+decode run partition-parallel; payloads are born and
    die inside one mapInPandas pair (never shuffled); output is 6
    bounded integers per doc."""
    from pyspark_recs.llmops.multimodal import decode_image_payloads

    payloads = _png_corpus(spark, sf)
    return decode_image_payloads(payloads).select(
        "doc_id", "status", "width", "height", "channels", "pixel_sum"
    )


L76_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END AS status,
       CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 8 END AS width,
       CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 8 END AS height,
       CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 1 END AS channels,
       CASE WHEN doc_id % 17 = 0 THEN NULL ELSE
         (SELECT CAST(sum((doc_id * 31 + i * 7) % 256) AS BIGINT)
          FROM range(64) t(i)) END AS pixel_sum
FROM documents
"""


# --------------------------------------------------------------------- l77
def l77_jpeg_decode_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL JPEG round trip through the S11 pipeline (closing the
    round-8 JPEG-stub decision, VERDICT item #7; reference behavior
    app_utils.py:14-26 fetches .jpg bytes): per document, synthesize a
    32×32 grayscale image of 8×8 CONSTANT tiles with the
    SQL-expressible formula tile(ty,tx) = (doc_id·31 + ty·4 + tx·7)
    mod 256, ENCODE it into a genuine baseline JPEG (2-D DCT, Annex-K
    Huffman entropy coding, byte stuffing — llmops/jpeg.py), push the
    binary payloads through the same Arrow ``mapInPandas`` seam as
    every multimodal operator, and DECODE them back (magic-byte sniff
    in decode_image_payloads → Huffman decode → dequantize → IDCT).
    Docs with doc_id % 17 == 0 ship a truncated payload to exercise
    the dead-letter contract.

    Tile-constant content at quality=100 makes the lossy codec EXACT
    (a constant block has a single integer DCT coefficient and unit
    quantizers — jpeg.py module docstring), so the emitted facts are
    deterministic and the DuckDB twin recomputes the pixel sum from
    the formula alone: the oracle never sees JPEG — only the Spark
    side proves it can round-trip the format (the l76 PNG discipline).

    Scale: encode+decode run partition-parallel; payloads are born and
    die inside one mapInPandas pair (never shuffled); output is 6
    bounded integers per doc."""
    import pandas as pd

    from pyspark_recs.io.loaders import spread_partitions
    from pyspark_recs.llmops.jpeg import encode_jpeg, synth_tile_pixels
    from pyspark_recs.llmops.multimodal import decode_image_payloads

    docs = spread_partitions(
        load_table(spark, sf, "documents").select("doc_id")
    )

    def make_payloads(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                jpg = encode_jpeg(
                    32, 32, synth_tile_pixels(int(doc_id)), 1, quality=100
                )
                payloads.append(jpg[:24] if doc_id % 17 == 0 else jpg)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    payloads = docs.mapInPandas(
        make_payloads, schema="doc_id bigint, payload binary"
    )
    return decode_image_payloads(payloads).select(
        "doc_id", "status", "width", "height", "channels", "pixel_sum"
    )


L77_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END AS status,
       CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 32 END AS width,
       CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 32 END AS height,
       CASE WHEN doc_id % 17 = 0 THEN NULL ELSE 1 END AS channels,
       CASE WHEN doc_id % 17 = 0 THEN NULL ELSE
         (SELECT CAST(sum(64 * ((doc_id * 31 + (i // 4) * 4 + (i % 4) * 7)
                               % 256)) AS BIGINT)
          FROM range(16) t(i)) END AS pixel_sum
FROM documents
"""


# --------------------------------------------------------------------- l78
def l78_wav_decode_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio-codec round trip through the multimodal pipeline —
    the audio member of the l76 (PNG) / l77 (JPEG) family: per
    document, synthesize 256 int16 PCM frames with the SQL-expressible
    formula sample[i] = ((doc_id·37 + i·11) mod 4001) − 2000, ENCODE
    them into a genuine RIFF/WAVE file (llmops/wav.py), push the
    binary payloads through the same Arrow ``mapInPandas`` seam, and
    DECODE them back (real chunk walking, fmt validation, exact int16
    amplitude facts). Docs with doc_id % 17 == 0 ship a truncated
    payload to exercise the dead-letter contract.

    PCM is uncompressed, so the round trip is exact for arbitrary
    content (no quality-100 trick needed): the DuckDB twin recomputes
    every amplitude fact from the formula alone — the oracle never
    sees WAV.

    Scale: encode+decode run partition-parallel; payloads are born and
    die inside one mapInPandas pair (never shuffled); output is 7
    bounded integers per doc."""
    from pyspark_recs.llmops.multimodal import decode_audio_payloads

    payloads = _wav_corpus(spark, sf)
    return decode_audio_payloads(payloads).select(
        "doc_id", "status", "sample_rate", "channels", "n_frames",
        "amp_sum", "amp_abs_sum",
    )


L78_SQL = """
WITH amp AS (
  SELECT d.doc_id,
         CAST(sum(((d.doc_id * 37 + i * 11) % 4001) - 2000) AS BIGINT)
           AS amp_sum,
         CAST(sum(abs(((d.doc_id * 37 + i * 11) % 4001) - 2000))
              AS BIGINT) AS amp_abs_sum
  FROM documents d CROSS JOIN range(256) t(i)
  GROUP BY d.doc_id)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END
         AS status,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL ELSE 8000 END AS sample_rate,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL ELSE 1 END AS channels,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL
            ELSE CAST(256 AS BIGINT) END AS n_frames,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL ELSE a.amp_sum END AS amp_sum,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL ELSE a.amp_abs_sum END
         AS amp_abs_sum
FROM documents d JOIN amp a USING (doc_id)
"""


# --------------------------------------------------------------------- l79
def l79_y4m_frame_stats(spark: SparkSession, sf: str) -> DataFrame:
    """REAL video-container round trip — the video member of the
    l76/l77/l78 codec family: per document, synthesize a 12-frame
    16×16 mono clip where frame f is CONSTANT luma
    (doc_id·13 + f·29) mod 256, ENCODE it into a genuine YUV4MPEG2
    stream (llmops/y4m.py), push the binary payloads through the same
    Arrow ``mapInPandas`` seam, and DECODE with REAL frame sampling:
    every 4th frame is extracted by seek (fixed frame size — skipped
    frames never materialize), the production thin-before-features
    step l16's byte-stride sampler stood in for. Docs with
    doc_id % 17 == 0 ship a truncated payload (cut mid-frame) to
    exercise the dead-letter contract.

    Uncompressed frames make the round trip exact for arbitrary
    content; the DuckDB twin recomputes the sampled luma sum from the
    formula alone — the oracle never sees Y4M.

    Scale: decode runs partition-parallel; payloads are born and die
    inside one mapInPandas pair (never shuffled); sampling cost is
    O(sampled frames), not O(stream bytes)."""
    from pyspark_recs.llmops.multimodal import decode_video_payloads

    payloads = _y4m_corpus(spark, sf)
    return decode_video_payloads(payloads, sample_every=4).select(
        "doc_id", "status", "width", "height", "colorspace",
        "n_frames", "n_sampled", "luma_sum",
    )


L79_SQL = """
WITH luma AS (
  SELECT d.doc_id,
         CAST(sum(256 * ((d.doc_id * 13 + f * 29) % 256)) AS BIGINT)
           AS luma_sum
  FROM documents d CROSS JOIN range(12) t(f)
  WHERE f % 4 = 0
  GROUP BY d.doc_id)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END
         AS status,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL ELSE 16 END AS width,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL ELSE 16 END AS height,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL ELSE 'mono' END
         AS colorspace,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL
            ELSE CAST(12 AS BIGINT) END AS n_frames,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL
            ELSE CAST(3 AS BIGINT) END AS n_sampled,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL ELSE l.luma_sum END
         AS luma_sum
FROM documents d JOIN luma l USING (doc_id)
"""


# --------------------------------------------------------------------- l80
def l80_bigram_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM fluency scoring (the CCNet/KenLM perplexity quality
    gate, log-free so arithmetic is exact): fit corpus conditionals
    p(w2|w1), score each doc by its mean conditional in fixed-point
    ppm, flag the disfluent tail. Complements l38 (unigram frequency is
    order-blind; conditionals see word order). See
    llmops/textstats.py:bigram_lm_score."""
    from pyspark_recs.llmops.textstats import bigram_lm_score

    return bigram_lm_score(load_table(spark, sf, "documents"))


L80_SQL = f"""
WITH toks AS ({_TOKS}),
p AS (
  SELECT doc_id, list_transform(range(1, len(words)),
                                i -> words[i] || ' ' || words[i + 1]) AS prs
  FROM toks WHERE len(words) >= 2),
e AS (SELECT doc_id, unnest(prs) AS bigram FROM p),
dbc AS (
  SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS cnt
  FROM e GROUP BY doc_id, bigram),
b AS (
  SELECT string_split(bigram, ' ')[1] AS w1, bigram,
         CAST(sum(cnt) AS BIGINT) AS c12
  FROM dbc GROUP BY 1, 2),
cx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM b GROUP BY w1),
m AS (
  SELECT bigram, (c12 * 1000000) // c1 AS q
  FROM b JOIN cx USING (w1))
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_bigrams,
       CAST(sum(m.q * cnt) AS BIGINT) AS q_sum,
       CAST(sum(m.q * cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
         AS mean_cond_ppm,
       (CAST(sum(m.q * cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
         < 34000.0) AS flag_disfluent
FROM dbc JOIN m USING (bigram) GROUP BY doc_id
"""


# --------------------------------------------------------------------- l81
def l81_dsir_importance(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR hashed-n-gram importance weights (Xie et al. 2023): hash
    tokens into 4096 buckets, fit target (lang='en') vs raw bucket
    counts, score docs by the mean fixed-point count ratio — the
    importance-resampling signal with the log dropped for exactness.
    The bucket table is B-bounded, so the scoring join is a guaranteed
    broadcast at any corpus size. See
    llmops/textstats.py:dsir_importance."""
    from pyspark_recs.llmops.textstats import dsir_importance

    return dsir_importance(load_table(spark, sf, "documents"))


L81_SQL = f"""
WITH toks AS ({_TOKS}),
t AS (SELECT doc_id, lang, unnest(words) AS token FROM toks),
tb AS (
  SELECT doc_id, lang,
         {_sql_md5_long('token')} % 4096 AS bucket
  FROM t),
r AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM tb GROUP BY 1),
tg AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS ct
  FROM tb WHERE lang = 'en' GROUP BY 1),
m AS (
  SELECT r.bucket, ((coalesce(ct, 0) + 1) * 1000000) // (cr + 1) AS s
  FROM r LEFT JOIN tg USING (bucket)),
dbc AS (
  SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM tb GROUP BY doc_id, bucket)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(sum(m.s * cnt) AS BIGINT) AS s_sum,
       CAST(sum(m.s * cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
         AS mean_ratio_ppm,
       (CAST(sum(m.s * cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE)
         >= 433000.0) AS flag_target_like
FROM dbc JOIN m USING (bucket) GROUP BY doc_id
"""


# --------------------------------------------------------------------- l82
def l82_audio_vad_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Energy-gate voice-activity detection over the l78 WAV corpus:
    decode each synthesized RIFF/PCM payload (same SQL-expressible
    sample formula and truncation branch as l78), window the int16
    stream (32 samples), gate on absolute energy >= 32000, and merge
    consecutive active windows into segments via gaps-and-islands —
    the codec runs in one mapInPandas seam
    (llmops/multimodal.py:audio_window_energies), the run-length
    analytics are pure window-function DataFrame ops
    (llmops/multimodal.py:vad_segments), everything partitioned by
    doc_id (no single-partition frames). The DuckDB twin recomputes
    windows and islands from the formula alone — it never sees WAV.

    Scale: payload bytes never shuffle; only 8 bounded integer rows
    per doc cross a stage boundary; VAD windows/aggregations are
    doc_id-partitioned so skew is structurally impossible."""
    from pyspark_recs.llmops.multimodal import (
        audio_window_energies,
        vad_segments,
    )

    payloads = _wav_corpus(spark, sf)
    windows = audio_window_energies(payloads, window=32)
    segs = vad_segments(windows, threshold=32000)
    all_docs = load_table(spark, sf, "documents").select("doc_id")
    # status comes from the SEAM's outcome, not the generator's fault
    # formula: a doc with no surviving windows (NULL n_windows after
    # the left join) is exactly a dead-lettered decode — so ANY decode
    # failure reports decode_error, not just the planted truncation.
    # (Every decodable payload here yields 8 windows, so NULL can't
    # mean "ok but short".)
    return all_docs.join(segs, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("n_windows").isNull(), F.lit("decode_error"))
        .otherwise(F.lit("ok"))
        .alias("status"),
        "n_windows",
        "n_active",
        "n_segments",
        "longest_run",
        "active_abs_sum",
    )


L82_SQL = """
WITH w AS (
  SELECT d.doc_id, CAST(i // 32 AS INT) AS j,
         CAST(sum(abs(((d.doc_id * 37 + i * 11) % 4001) - 2000))
              AS BIGINT) AS win_abs
  FROM documents d CROSS JOIN range(256) t(i)
  WHERE d.doc_id % 17 <> 0
  GROUP BY d.doc_id, CAST(i // 32 AS INT)),
base AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
         CAST(sum(CASE WHEN win_abs >= 32000 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_active
  FROM w GROUP BY doc_id),
act AS (SELECT doc_id, j, win_abs FROM w WHERE win_abs >= 32000),
isl AS (
  SELECT doc_id, j, win_abs,
         j - row_number() OVER (PARTITION BY doc_id ORDER BY j)
           AS island
  FROM act),
seg AS (
  SELECT doc_id, island, CAST(count(*) AS BIGINT) AS run_len,
         CAST(sum(win_abs) AS BIGINT) AS seg_abs
  FROM isl GROUP BY doc_id, island),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
         CAST(max(run_len) AS BIGINT) AS longest_run,
         CAST(sum(seg_abs) AS BIGINT) AS active_abs_sum
  FROM seg GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END
         AS status,
       b.n_windows, b.n_active,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL
            ELSE coalesce(p.n_segments, 0) END AS n_segments,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL
            ELSE coalesce(p.longest_run, 0) END AS longest_run,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL
            ELSE coalesce(p.active_abs_sum, 0) END AS active_abs_sum
FROM documents d
LEFT JOIN base b USING (doc_id)
LEFT JOIN per p USING (doc_id)
"""


# --------------------------------------------------------------------- l83
def l83_image_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual near-dup detection over REAL-decoded images — the
    multimodal dedup step payload digests (l65) structurally cannot do:
    per document, synthesize an 8×8 grayscale image whose BASE pattern
    depends only on doc_id % 16 (16 perceptual clusters) plus per-doc
    ±3 pixel noise — pixel[i] = clip(((doc_id%16)·31 + i·7) mod 256
    + ((doc_id·13 + i·5) mod 7) − 3) — so same-cluster images are
    BYTE-DISTINCT (md5 dedup finds nothing) yet perceptually identical.
    Encode to genuine PNG, decode through the real codec, average-hash
    the DECODED pixels (llmops/multimodal.py:image_ahash — strict
    integer bit rule, two 32-bit words), and group by the hash:
    cluster size, canonical (min doc_id) election, is_dup flag. Docs
    with doc_id % 17 == 0 ship truncated payloads (dead-letter
    contract). The DuckDB twin recomputes pixels, hash bits and
    clusters from the formula alone — it never sees PNG.

    Scale: decode+hash are partition-parallel; payload bytes never
    shuffle (16 hash bytes per image cross the stage boundary); the
    bucket groupBy is one combiner-friendly shuffle. Hamming-ball
    widening over these words is l45's pigeonhole band join."""
    import pandas as pd

    from pyspark_recs.io.loaders import spread_partitions
    from pyspark_recs.llmops.multimodal import image_ahash
    from pyspark_recs.llmops.png import encode_png

    docs = spread_partitions(
        load_table(spark, sf, "documents").select("doc_id")
    )

    def make_payloads(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                px = bytes(
                    min(
                        255,
                        max(
                            0,
                            ((d % 16) * 31 + i * 7) % 256
                            + ((d * 13 + i * 5) % 7)
                            - 3,
                        ),
                    )
                    for i in range(64)
                )
                png = encode_png(8, 8, px, 1)
                payloads.append(png[:20] if d % 17 == 0 else png)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    payloads = docs.mapInPandas(
        make_payloads, schema="doc_id bigint, payload binary"
    )
    # hashed feeds two branches (the cluster aggregate and the final
    # join's left side); its upstream is the PNG encode+decode seam,
    # so without a barrier every branch re-runs the full codec pass
    # (the before plan shows the mapInPandas pair twice). Snapshot the
    # 4-small-column hash table once.
    from pyspark_recs.workloads.common import snapshot_plan

    hashed = snapshot_plan(
        image_ahash(payloads).select(
            "doc_id", "status", "phash_hi", "phash_lo"
        )
    )
    ok = hashed.filter(F.col("status") == "ok")
    clusters = ok.groupBy("phash_hi", "phash_lo").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("doc_id").alias("canonical_id"),
    )
    return (
        hashed.join(clusters, ["phash_hi", "phash_lo"], "left")
        .select(
            "doc_id",
            "status",
            "phash_hi",
            "phash_lo",
            F.when(F.col("status") == "ok", F.col("cluster_size"))
            .alias("cluster_size"),
            F.when(F.col("status") == "ok", F.col("canonical_id"))
            .alias("canonical_id"),
            F.when(
                F.col("status") == "ok", F.col("cluster_size") > 1
            ).alias("is_dup"),
        )
    )


L83_SQL = """
WITH px AS (
  SELECT d.doc_id, i,
         least(255, greatest(0,
           ((d.doc_id % 16) * 31 + i * 7) % 256
           + ((d.doc_id * 13 + i * 5) % 7) - 3)) AS p
  FROM documents d CROSS JOIN range(64) t(i)
  WHERE d.doc_id % 17 <> 0),
s AS (SELECT doc_id, CAST(sum(p) AS BIGINT) AS psum FROM px GROUP BY doc_id),
b AS (
  SELECT px.doc_id,
         CAST(sum(CASE WHEN i >= 32 AND px.p * 64 > s.psum
                       THEN CAST(1 AS BIGINT) << CAST(i - 32 AS INT)
                       ELSE 0 END) AS BIGINT) AS phash_hi,
         CAST(sum(CASE WHEN i < 32 AND px.p * 64 > s.psum
                       THEN CAST(1 AS BIGINT) << CAST(i AS INT)
                       ELSE 0 END) AS BIGINT) AS phash_lo
  FROM px JOIN s USING (doc_id) GROUP BY px.doc_id),
c AS (
  SELECT phash_hi, phash_lo, CAST(count(*) AS BIGINT) AS cluster_size,
         CAST(min(doc_id) AS BIGINT) AS canonical_id
  FROM b GROUP BY phash_hi, phash_lo)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END
         AS status,
       b.phash_hi, b.phash_lo,
       c.cluster_size, c.canonical_id,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL
            ELSE (c.cluster_size > 1) END AS is_dup
FROM documents d
LEFT JOIN b USING (doc_id)
LEFT JOIN c ON b.phash_hi = c.phash_hi AND b.phash_lo = c.phash_lo
"""


# --------------------------------------------------------------------- l84
def l84_duplicate_text_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary-offset duplicated-span accounting — the Lee et al.
    2022 substring-dedup shape: sliding 5-gram hashes, duplicated iff
    in >= 2 distinct docs, consecutive duplicated starts merged into
    maximal spans by gaps-and-islands, per-doc coverage + longest span
    + trim flag in exact fixed-point ppm. Catches the cross-doc
    duplicates l48's fixed segment boundaries miss and keeps the
    positions l34 throws away. See
    llmops/dedup.py:duplicate_text_spans."""
    from pyspark_recs.io.loaders import spread_partitions
    from pyspark_recs.llmops.dedup import duplicate_text_spans

    # single-file testdata parquet would tokenize+hash in ONE task;
    # spread first (at 100 TB file count provides this for free)
    return duplicate_text_spans(
        spread_partitions(load_table(spark, sf, "documents"))
    )


_L84_GRAM = " || ' ' || ".join(f"words[i + {j}]" for j in range(5))

L84_SQL = f"""
WITH toks AS ({_TOKS}),
p AS (
  SELECT doc_id, len(words) AS n_tokens,
         list_transform(range(1, len(words) - 3),
           i -> struct_pack(pos := i - 1,
                            g := {_L84_GRAM})) AS gs
  FROM toks WHERE len(words) >= 5),
e AS (
  SELECT doc_id, unnest(gs, recursive := true) FROM p),
eh AS (
  SELECT doc_id, pos, {_sql_md5_long('g')} AS gh FROM e),
d AS (SELECT gh FROM eh GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
s AS (SELECT eh.doc_id, eh.pos FROM eh SEMI JOIN d USING (gh)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
                                        ORDER BY pos) > 5
              OR lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                 IS NULL
              THEN 1 ELSE 0 END AS new_span
  FROM s),
sp AS (
  SELECT doc_id, pos,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS span_id
  FROM isl),
spans AS (
  SELECT doc_id, span_id,
         max(pos) - min(pos) + 5 AS span_tokens
  FROM sp GROUP BY doc_id, span_id),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(span_tokens) AS BIGINT) AS covered_tokens,
         CAST(max(span_tokens) AS BIGINT) AS max_span_tokens
  FROM spans GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(t.words) AS BIGINT) AS n_tokens,
       coalesce(p2.n_spans, 0) AS n_spans,
       coalesce(p2.covered_tokens, 0) AS covered_tokens,
       coalesce(p2.max_span_tokens, 0) AS max_span_tokens,
       CASE WHEN len(t.words) = 0 THEN 0
            ELSE CAST((coalesce(p2.covered_tokens, 0) * 1000000)
                      // len(t.words) AS BIGINT) END AS dup_ppm,
       (CASE WHEN len(t.words) = 0 THEN 0
             ELSE (coalesce(p2.covered_tokens, 0) * 1000000)
                  // len(t.words) END > 500000) AS flag_trim
FROM toks t LEFT JOIN per p2 USING (doc_id)
"""


# --------------------------------------------------------------------- l85
def l85_kmeans_train(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic Lloyd's k-means TRAINING over the embeddings
    table — iterative clustering on the hash-checked path (a
    pyspark.ml KMeans fit is rows-only by nature; this fixed-point
    formulation is exact): 2 Lloyd rounds at scale 1e6,
    8 lowest-id seeds, integer distances, floor-division centroid
    updates, empty cells keep their centroid. The DuckDB twin replays
    both unrolled iterations CTE-by-CTE (the l71 BPE oracle
    discipline) and must land on identical centroids, inertia and
    counts. See llmops/similarity.py:lloyd_kmeans_fixed."""
    from pyspark_recs.llmops.similarity import lloyd_kmeans_fixed

    return lloyd_kmeans_fixed(
        load_table(spark, sf, "embeddings"), n_cells=8, iters=2
    )


def _l85_sql(n_cells: int = 8, iters: int = 2) -> str:
    """Unrolled-CTE DuckDB twin of :func:`l85_kmeans_train`."""
    ctes = [
        """q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                     AS BIGINT)) AS q
  FROM embeddings)""",
        f"""c0 AS (
  SELECT vec_id AS cell_id, q AS cvec FROM q
  ORDER BY vec_id LIMIT {n_cells})""",
        """e AS (
  SELECT vec_id,
         unnest(list_transform(range(1, len(q) + 1),
                i -> struct_pack(idx := i, v := q[i])),
                recursive := true)
  FROM q)""",
    ]
    for r in range(1, iters + 1):
        prev = f"c{r - 1}"
        ctes.append(f"""a{r} AS (
  SELECT vec_id, cell_id, dist FROM (
    SELECT vec_id, cell_id, dist,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cell_id) AS rn
    FROM (
      SELECT q.vec_id, c.cell_id,
             CAST(list_sum(list_transform(list_zip(q.q, c.cvec),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)
               AS dist
      FROM q, {prev} c))
  WHERE rn = 1)""")
        ctes.append(f"""u{r} AS (
  SELECT cell_id, list(cv ORDER BY idx) AS cvec FROM (
    SELECT a.cell_id, e.idx,
           CAST(floor(CAST(sum(e.v) AS DOUBLE) / count(*))
                AS BIGINT) AS cv
    FROM a{r} a JOIN e USING (vec_id)
    GROUP BY a.cell_id, e.idx)
  GROUP BY cell_id)""")
        ctes.append(f"""c{r} AS (
  SELECT {prev}.cell_id, coalesce(u{r}.cvec, {prev}.cvec) AS cvec
  FROM {prev} LEFT JOIN u{r} USING (cell_id))""")
    last = f"c{iters}"
    ctes.append(f"""af AS (
  SELECT vec_id, cell_id, dist FROM (
    SELECT vec_id, cell_id, dist,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist, cell_id) AS rn
    FROM (
      SELECT q.vec_id, c.cell_id,
             CAST(list_sum(list_transform(list_zip(q.q, c.cvec),
                  p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)
               AS dist
      FROM q, {last} c))
  WHERE rn = 1)""")
    joined = ",\n".join(ctes)
    return f"""WITH {joined}
SELECT c.cell_id,
       coalesce(s.n_vectors, 0) AS n_vectors,
       coalesce(s.inertia, 0) AS inertia,
       CAST(list_sum(list_transform(c.cvec, v -> abs(v)))
            AS BIGINT) AS centroid_l1
FROM {last} c LEFT JOIN (
  SELECT cell_id, CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(sum(dist) AS BIGINT) AS inertia
  FROM af GROUP BY cell_id) s USING (cell_id)
"""


L85_SQL = _l85_sql()


# --------------------------------------------------------------------- l86
def l86_audio_downsample(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio resampling round trip — decode the l78 WAV corpus,
    decimate 2x with an exact integer box filter (floor-mean of each
    sample pair), re-encode at 4000 Hz, decode AGAIN, and report the
    re-decoded amplitude facts: the decode→resample→encode→decode
    chain every audio training pipeline runs before feature
    extraction, with every byte of it on the hash-checked path (the
    oracle recomputes the decimated samples from the synth formula —
    it never sees WAV at either rate). Same truncation dead-letter
    branch as l78/l82. See
    llmops/multimodal.py:downsample_audio_payloads."""
    from pyspark_recs.llmops.multimodal import downsample_audio_payloads

    return downsample_audio_payloads(_wav_corpus(spark, sf), factor=2)


L86_SQL = """
WITH y AS (
  SELECT d.doc_id,
         CAST(floor((
           (((d.doc_id * 37 + (2 * j) * 11) % 4001) - 2000)
           + (((d.doc_id * 37 + (2 * j + 1) * 11) % 4001) - 2000)
         ) / 2.0) AS BIGINT) AS v
  FROM documents d CROSS JOIN range(128) t(j)
  WHERE d.doc_id % 17 <> 0),
agg AS (
  SELECT doc_id, CAST(sum(v) AS BIGINT) AS amp_sum,
         CAST(sum(abs(v)) AS BIGINT) AS amp_abs_sum
  FROM y GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END
         AS status,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL ELSE 4000 END
         AS sample_rate,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL
            ELSE CAST(128 AS BIGINT) END AS n_frames,
       a.amp_sum, a.amp_abs_sum
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# --------------------------------------------------------------------- l87
def l87_image_augment(spark: SparkSession, sf: str) -> DataFrame:
    """Training-data image augmentation on the hash-checked path:
    decode the l76 PNG corpus and emit original + 90°-rotated +
    horizontally-flipped facts per image. ``pos_weighted_sum`` =
    Σ (i+1)·p'[i] changes under any wrong permutation, so the oracle
    (which recomputes all three permutations from the pixel formula
    with pure index arithmetic — it never sees PNG) proves the
    geometry, not just byte survival. Dead-letter docs emit three
    uniform error rows. See
    llmops/multimodal.py:augment_image_payloads."""
    from pyspark_recs.llmops.multimodal import augment_image_payloads

    return augment_image_payloads(_png_corpus(spark, sf))


L87_SQL = """
WITH px AS (
  SELECT d.doc_id, k,
         (d.doc_id * 31 + k * 7) % 256 AS p_orig,
         (d.doc_id * 31
          + ((7 - (k % 8)) * 8 + (k // 8)) * 7) % 256 AS p_rot,
         (d.doc_id * 31
          + ((k // 8) * 8 + (7 - (k % 8))) * 7) % 256 AS p_flip
  FROM documents d CROSS JOIN range(64) t(k)
  WHERE d.doc_id % 17 <> 0),
agg AS (
  SELECT doc_id,
         CAST(sum(p_orig) AS BIGINT) AS s,
         CAST(sum((k + 1) * p_orig) AS BIGINT) AS w_orig,
         CAST(sum((k + 1) * p_rot) AS BIGINT) AS w_rot,
         CAST(sum((k + 1) * p_flip) AS BIGINT) AS w_flip
  FROM px GROUP BY doc_id),
v(variant) AS (VALUES ('orig'), ('rot90'), ('flip_h'))
SELECT d.doc_id, v.variant,
       CASE WHEN d.doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END
         AS status,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL ELSE a.s END AS pixel_sum,
       CASE WHEN d.doc_id % 17 = 0 THEN NULL
            WHEN v.variant = 'orig' THEN a.w_orig
            WHEN v.variant = 'rot90' THEN a.w_rot
            ELSE a.w_flip END AS pos_weighted_sum
FROM documents d CROSS JOIN v LEFT JOIN agg a USING (doc_id)
"""


# --------------------------------------------------------------------- l88
def l88_audio_zcr(spark: SparkSession, sf: str) -> DataFrame:
    """Per-window zero-crossing rate over the l78 WAV corpus — the
    cheap spectral proxy beside l82's amplitude gate (speech/music
    discrimination uses both): sign-change counts over 32-sample
    windows, exact integer arithmetic, oracle replayed from the synth
    formula alone. Same truncation dead-letter branch. See
    llmops/multimodal.py:audio_window_zcr."""
    from pyspark_recs.llmops.multimodal import audio_window_zcr

    return audio_window_zcr(_wav_corpus(spark, sf), window=32)


L88_SQL = """
WITH w AS (
  SELECT d.doc_id, CAST(i // 32 AS INT) AS j,
         CAST(sum(CASE WHEN i % 32 = 0 THEN 0
                       WHEN ((((d.doc_id * 37 + i * 11) % 4001) - 2000
                              < 0)
                             <> (((d.doc_id * 37 + (i - 1) * 11) % 4001)
                                 - 2000 < 0))
                       THEN 1 ELSE 0 END) AS INT) AS win_zcr
  FROM documents d CROSS JOIN range(256) t(i)
  WHERE d.doc_id % 17 <> 0
  GROUP BY d.doc_id, CAST(i // 32 AS INT))
SELECT d.doc_id,
       CASE WHEN d.doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END
         AS status,
       w.j AS win_idx, w.win_zcr
FROM documents d LEFT JOIN w USING (doc_id)
"""


# --------------------------------------------------------------------- l89
def l89_video_scene_cuts(spark: SparkSession, sf: str) -> DataFrame:
    """Scene-cut detection over the l79 Y4M corpus — the video member
    of the gaps-and-islands family (audio segments l82, text spans
    l84): decode every frame to its exact luma sum inside one Arrow
    seam (frame planes never shuffle), flag cuts where the
    inter-frame luma delta exceeds the threshold, and account scenes
    as contiguous runs — doc_id-partitioned window functions
    end-to-end. The per-frame constant-luma formula steps by 29 mod
    256, so most deltas are small and the mod-wraparounds are the
    cuts; the DuckDB twin replays frames, cuts and scenes from the
    formula alone (it never sees Y4M). Truncated payloads (doc_id %
    17 == 0) dead-letter inside the seam and drop from the scene
    report. See llmops/multimodal.py:video_frame_lumas and
    :scene_cuts."""
    from pyspark_recs.llmops.multimodal import scene_cuts, video_frame_lumas

    return scene_cuts(
        video_frame_lumas(_y4m_corpus(spark, sf)), threshold=25600
    )


L89_SQL = """
WITH fr AS (
  SELECT d.doc_id, f,
         CAST(256 * ((d.doc_id * 13 + f * 29) % 256) AS BIGINT) AS luma
  FROM documents d CROSS JOIN range(12) t(f)
  WHERE d.doc_id % 17 <> 0),
c AS (
  SELECT doc_id, f,
         CASE WHEN abs(luma - lag(luma) OVER (PARTITION BY doc_id
                                              ORDER BY f)) > 25600
              THEN 1 ELSE 0 END AS is_cut
  FROM fr),
sc AS (
  SELECT doc_id, f, is_cut,
         sum(is_cut) OVER (PARTITION BY doc_id ORDER BY f
                           ROWS UNBOUNDED PRECEDING) AS scene_id
  FROM c),
per AS (
  SELECT doc_id, scene_id, CAST(count(*) AS BIGINT) AS scene_frames
  FROM sc GROUP BY doc_id, scene_id),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         CAST(sum(is_cut) AS BIGINT) AS n_cuts
  FROM sc GROUP BY doc_id),
ps AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scenes,
         CAST(max(scene_frames) AS BIGINT) AS longest_scene_frames
  FROM per GROUP BY doc_id)
SELECT a.doc_id, a.n_frames, a.n_cuts, ps.n_scenes,
       ps.longest_scene_frames
FROM agg a JOIN ps USING (doc_id)
"""


# --------------------------------------------------------------------- l90
def l90_audio_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-lag autocorrelation over the l78 WAV corpus — the
    periodicity/pitch proxy completing the cheap-audio-features
    trio (energy l82, ZCR l88): exact int64 ``sum(x[i]*x[i-k])`` at
    lags 1/2/4 plus the lag-0 energy, computed inside the decode seam
    (numpy dot per lag, payload bytes never shuffle). The oracle
    replays the synth formula with window-lag SQL — it never sees WAV.
    Same truncation dead-letter branch as l78/l82/l86/l88. See
    llmops/multimodal.py:audio_autocorrelation."""
    from pyspark_recs.llmops.multimodal import audio_autocorrelation

    return audio_autocorrelation(_wav_corpus(spark, sf))


L90_SQL = """
WITH y AS (
  SELECT d.doc_id, i,
         (((d.doc_id * 37 + i * 11) % 4001) - 2000) AS v
  FROM documents d CROSS JOIN range(256) t(i)
  WHERE d.doc_id % 17 <> 0),
l AS (
  SELECT doc_id, v,
         lag(v, 1) OVER w AS v1,
         lag(v, 2) OVER w AS v2,
         lag(v, 4) OVER w AS v4
  FROM y WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
agg AS (
  SELECT doc_id,
         CAST(sum(v * v) AS BIGINT) AS energy,
         CAST(sum(v * v1) AS BIGINT) AS ac1,
         CAST(sum(v * v2) AS BIGINT) AS ac2,
         CAST(sum(v * v4) AS BIGINT) AS ac4
  FROM l GROUP BY doc_id)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END
         AS status,
       a.energy, a.ac1, a.ac2, a.ac4
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# --------------------------------------------------------------------- l91
def l91_maxsim_retrieval(spark: SparkSession, sf: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval: each 64-dim embedding
    is read as 8 contiguous 8-dim "token" sub-vectors and query↔doc
    pairs score ``Σ_t max_s dot(q_t, d_s)`` — the multi-vector scorer
    between bi-encoder cosine (l06) and full rerank, exact by the same
    fixed-point-int64 discipline (max/sum stay integer, one final
    divide). Queries are vec_id < 8; top-3 per query. See
    llmops/similarity.py:maxsim_topk for the no-row-explosion token
    view and the IVF-front serving topology at corpus scale."""
    from pyspark_recs.llmops.similarity import maxsim_topk

    emb = load_table(spark, sf, "embeddings")
    return maxsim_topk(
        candidates=emb, queries=emb.filter(F.col("vec_id") < 8), k=3
    )


_TOKDOT = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(floor(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 1e12"
    " + 0.5) AS BIGINT)))"
)

L91_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 8),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
best AS (
  SELECT query_id, neighbor_id, tq.t AS tq,
         max({_TOKDOT.format(
             a='qv[8 * tq.t + 1 : 8 * tq.t + 8]',
             b='cv[8 * td.t + 1 : 8 * td.t + 8]')}) AS best_dot
  FROM q, c, range(8) tq(t), range(8) td(t)
  WHERE neighbor_id <> query_id
  GROUP BY query_id, neighbor_id, tq.t),
scores AS (
  SELECT query_id, neighbor_id,
         CAST(sum(best_dot) AS DOUBLE) / 1e12 AS maxsim
  FROM best GROUP BY query_id, neighbor_id)
SELECT query_id, neighbor_id, maxsim, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, neighbor_id, maxsim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY maxsim DESC, neighbor_id) AS rank
  FROM scores)
WHERE rank <= 3
"""


def _l56_feature_cols():
    """The l56 classifier's feature/score expressions, derived from the
    SAME ``L56_WEIGHTS`` table the serving query broadcasts — l92's
    calibration audit and l93's curriculum cut must score with the
    model they claim to audit, so the constants live in exactly one
    place."""
    w = dict(L56_WEIGHTS)
    words = F.filter(F.split("text", " "), lambda t: t != "")
    n_tokens = F.size(words).cast("long")
    score = (
        n_tokens * w["n_tokens"]
        + F.col("n_chars").cast("long") * w["n_chars"]
        + F.size(F.array_distinct(words)).cast("long") * w["n_distinct"]
    )
    return n_tokens, score


_L56_W = dict(L56_WEIGHTS)
_SQL_L56_FEATS = f"""
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) * {_L56_W['n_tokens']}
         + CAST(n_chars AS BIGINT) * {_L56_W['n_chars']}
         + CAST(len(list_distinct(
               list_filter(string_split(text, ' '), w -> w <> '')))
               AS BIGINT) * {_L56_W['n_distinct']} AS score,
         CAST(len(list_distinct(
             list_filter(string_split(text, ' '), w -> w <> '')))
             AS BIGINT) AS n_distinct
  FROM documents"""


# --------------------------------------------------------------------- l92
def l92_score_calibration(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability-diagram calibration audit for the l56 linear quality
    classifier — the eval artifact every learned data filter needs
    before its threshold is trusted (is a higher score actually a
    higher empirical rate of the property being predicted?): documents
    bin by score (fixed 30k-ppm-wide bins, clamped to 8) and each bin
    reports its doc count, positive count, observed positive rate and
    mean score — all exact int64 (rates/means by integer division), so
    the whole diagram is engine-agreed. The reference label is the
    deterministic non-repetitiveness indicator ``2·n_distinct ≥
    n_tokens`` (the property l56's diversity-weighted score is built
    to track). rs27 audits a recommender protocol the same way; this
    is the corpus-filter sibling.

    Scale: one projection pass (the l56 features are per-row
    expressions) into one map-side-combined 8-group aggregation —
    nothing downstream of the scan exceeds 8 rows.
    """
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "n_chars"
    )
    words = F.filter(F.split("text", " "), lambda w: w != "")
    n_tokens, score = _l56_feature_cols()
    scored = docs.select(
        score.alias("score"),
        (2 * F.size(F.array_distinct(words)).cast("long") >= n_tokens)
        .cast("long")
        .alias("label"),
    )
    binned = scored.select(
        F.least(
            F.lit(7), F.greatest(F.lit(0), F.expr("score DIV 30000"))
        ).alias("bin"),
        "score",
        "label",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("label").alias("n_pos"),
            F.sum("score").alias("_score_sum"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            F.expr("(1000000 * n_pos) DIV n_docs").alias("pos_rate_ppm"),
            F.expr("_score_sum DIV n_docs").alias("mean_score"),
        )
    )


L92_SQL = f"""
WITH feats AS ({_SQL_L56_FEATS}),
scored AS (
  SELECT score,
         CASE WHEN 2 * n_distinct >= n_tokens THEN 1 ELSE 0 END AS label
  FROM feats)
SELECT least(7, greatest(0, score // 30000)) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(label) AS BIGINT) AS n_pos,
       CAST((1000000 * sum(label)) // count(*) AS BIGINT)
         AS pos_rate_ppm,
       CAST(sum(score) // count(*) AS BIGINT) AS mean_score
FROM scored
GROUP BY 1
"""


# --------------------------------------------------------------------- l93
def l93_curriculum_shards(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-ordered curriculum sharding — the pretraining-prep step
    after filtering and mixing: order the corpus by the l56 quality
    score (best first) and cut it into 8 shards of ~equal TOKEN mass
    (not doc count), so a curriculum schedule can feed shard 0 → 7 and
    every shard costs the same compute. The global ordered cumulative
    token count comes from ``scalable_prefix_sum`` — the two-phase
    range-partitioned running total — NOT a single-task ``ORDER BY``
    window, so the cut scales (the s11/s13 discipline); the order key
    packs (score desc, doc_id) into one unique BIGINT so ties are
    total. Shard of a doc = ``((cum − 1) · 8) DIV total`` — exact
    integer arithmetic, and the per-shard report (docs, tokens, score
    range) is the curriculum manifest. Shard token masses are equal
    within one max-document granularity by construction.

    Scale: one projection pass for features, one scalable prefix pass
    (range exchange + parallel windows + a 32-row offset broadcast),
    one 8-group aggregation. No single-partition window anywhere
    (plan-asserted for the underlying utility in test_plans).
    """
    from pyspark_recs.sql.transforms import scalable_prefix_sum

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "n_chars"
    )
    n_tokens, score = _l56_feature_cols()
    scored = docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        score.alias("score"),
    ).select(
        "doc_id",
        "n_tokens",
        "score",
        (
            (F.lit(1_000_000) - F.col("score")) * F.lit(4294967296)
            + F.col("doc_id")
        ).alias("okey"),
    )
    cum = scalable_prefix_sum(scored, "okey", "n_tokens", out_col="cum")
    tot = cum.agg(F.sum("n_tokens").alias("total"))
    sharded = cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        "score",
        F.expr("(greatest(0L, cum - 1) * 8) DIV total").alias("shard"),
    )
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("shard_tokens"),
            F.max("score").alias("best_score"),
            F.min("score").alias("worst_score"),
        )
    )


L93_SQL = f"""
WITH feats AS ({_SQL_L56_FEATS}),
cum AS (
  SELECT doc_id, n_tokens, score,
         sum(n_tokens) OVER (
           ORDER BY (1000000 - score) * 4294967296 + doc_id
           ROWS UNBOUNDED PRECEDING) AS cum,
         sum(n_tokens) OVER () AS total
  FROM feats)
SELECT CAST((greatest(0, cum - 1) * 8) // total AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
       CAST(max(score) AS BIGINT) AS best_score,
       CAST(min(score) AS BIGINT) AS worst_score
FROM cum
GROUP BY 1
"""


# --------------------------------------------------------------------- l94
def l94_cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    """Content-defined chunking dedup accounting (FastCDC/rsync
    boundaries on text): chunk wherever the 8-char rolling polynomial
    fingerprint ≡ 0 (mod 64), md5 each chunk, dedup corpus-wide
    keep-first, report per-doc chunk counts / duplicated-chunk ppm /
    mean chunk length. The insertion-robust sibling of l48's
    fixed-width segments — an edit shifts ONE chunk boundary, not
    every downstream segment. ~22% of this corpus's chunks are
    cross-doc duplicates at these settings. See
    llmops/dedup.py:content_defined_chunks for the plan-shape note
    (window leads over exploded chars — the array-expression form is
    O(n²) under Catalyst's project-collapse)."""
    from pyspark_recs.llmops.dedup import content_defined_chunks

    return content_defined_chunks(load_table(spark, sf, "documents"))


_CDC_POWS = [31 ** (7 - k) for k in range(8)]
_CDC_H = " + ".join(
    f"CAST(ascii(substring(t.text, CAST(t.j + {k} AS INT), 1)) AS BIGINT)"
    f" * {p}"
    for k, p in enumerate(_CDC_POWS)
)

L94_SQL = f"""
WITH pos AS (
  SELECT d.doc_id, d.text, unnest(range(1, len(d.text) - 6)) AS j
  FROM documents d),
b AS (
  SELECT t.doc_id, CAST(t.j + 7 AS INT) AS e
  FROM pos t
  WHERE ({_CDC_H}) % 64 = 0),
ends AS (
  SELECT doc_id, e FROM b
  UNION
  SELECT doc_id, CAST(len(text) AS INT) AS e FROM documents),
spans AS (
  SELECT doc_id, e,
         coalesce(lag(e) OVER w + 1, 1) AS s,
         row_number() OVER w AS chunk_idx
  FROM ends
  WINDOW w AS (PARTITION BY doc_id ORDER BY e)),
chunks AS (
  SELECT sp.doc_id, sp.chunk_idx, sp.e - sp.s + 1 AS clen,
         md5(substring(d.text, sp.s, sp.e - sp.s + 1)) AS chash
  FROM spans sp JOIN documents d USING (doc_id)
  WHERE sp.e >= sp.s),
ranked AS (
  SELECT doc_id, clen,
         row_number() OVER (PARTITION BY chash
                            ORDER BY doc_id, chunk_idx) AS rk
  FROM chunks)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST((sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS dup_ppm,
       CAST(sum(clen) // count(*) AS BIGINT) AS mean_chunk_len
FROM ranked
GROUP BY doc_id
"""


# --------------------------------------------------------------------- l97
def l97_audio_tone_power(spark: SparkSession, sf: str) -> DataFrame:
    """Frequency-domain tone detection over the l78 WAV corpus — the
    Goertzel/DTMF-style spectral probe that completes the audio
    family's time-domain trio (energy l82, ZCR l88, autocorr l90):
    exact integer correlation magnitudes against three QUANTIZED
    OSCILLATOR probes (k = 8/16/32 cycles per 256-sample window) and
    the dominant probe per doc. The oscillator tables come from a pure
    integer Chebyshev recurrence seeded by integer constants — no
    libm cos/sin anywhere — so the DuckDB twin regenerates the
    identical tables with a recursive CTE and replays the synth
    formula; it never sees a WAV byte. Same truncation dead-letter
    branch as l78/l82/l86/l88/l90.
    See llmops/multimodal.py:audio_tone_power."""
    from pyspark_recs.llmops.multimodal import audio_tone_power

    return audio_tone_power(_wav_corpus(spark, sf))


L97_SQL = """
WITH RECURSIVE osc(i, c8p, c8, s8p, s8, c16p, c16, s16p, s16,
                   c32p, c32, s32p, s32) AS (
  SELECT 1, 16384, 16069, 0, 3196, 16384, 15137, 0, 6270,
         16384, 11585, 0, 11585
  UNION ALL
  SELECT i + 1,
         c8,  CAST(floor((2*16069*c8)  / 16384.0) AS BIGINT) - c8p,
         s8,  CAST(floor((2*16069*s8)  / 16384.0) AS BIGINT) - s8p,
         c16, CAST(floor((2*15137*c16) / 16384.0) AS BIGINT) - c16p,
         s16, CAST(floor((2*15137*s16) / 16384.0) AS BIGINT) - s16p,
         c32, CAST(floor((2*11585*c32) / 16384.0) AS BIGINT) - c32p,
         s32, CAST(floor((2*11585*s32) / 16384.0) AS BIGINT) - s32p
  FROM osc WHERE i < 255),
tab AS (
  SELECT 0 AS i, CAST(16384 AS BIGINT) AS c8, CAST(0 AS BIGINT) AS s8,
         CAST(16384 AS BIGINT) AS c16, CAST(0 AS BIGINT) AS s16,
         CAST(16384 AS BIGINT) AS c32, CAST(0 AS BIGINT) AS s32
  UNION ALL
  SELECT i, c8, s8, c16, s16, c32, s32 FROM osc),
y AS (
  SELECT d.doc_id, t.i,
         (((d.doc_id * 37 + t.i * 11) % 4001) - 2000) AS v
  FROM documents d CROSS JOIN range(256) t(i)
  WHERE d.doc_id % 17 <> 0),
agg AS (
  SELECT y.doc_id,
         abs(sum(y.v * tab.c8))  + abs(sum(y.v * tab.s8))  AS mag_k8,
         abs(sum(y.v * tab.c16)) + abs(sum(y.v * tab.s16)) AS mag_k16,
         abs(sum(y.v * tab.c32)) + abs(sum(y.v * tab.s32)) AS mag_k32
  FROM y JOIN tab ON y.i = tab.i
  GROUP BY y.doc_id)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 17 = 0 THEN 'decode_error' ELSE 'ok' END
         AS status,
       CAST(a.mag_k8 AS BIGINT) AS mag_k8,
       CAST(a.mag_k16 AS BIGINT) AS mag_k16,
       CAST(a.mag_k32 AS BIGINT) AS mag_k32,
       CAST(CASE
              WHEN a.mag_k8 IS NULL THEN NULL
              WHEN a.mag_k8 >= a.mag_k16 AND a.mag_k8 >= a.mag_k32 THEN 8
              WHEN a.mag_k16 >= a.mag_k32 THEN 16
              ELSE 32
            END AS INTEGER) AS dominant_k
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


# --------------------------------------------------------------------- l95
def l95_url_canonical_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """URL-level dedup — the FIRST dedup pass of every crawl pipeline
    (cheaper than any content hash: a page fetched under ``?utm_…``,
    ``#fragment``, ``WWW.``-case and trailing-slash variants is the
    same page). Each document gets a deterministic MESSY url
    (``synthetic_url`` — the codec-corpus discipline), Spark
    canonicalizes it FOR REAL (``parse_url`` + higher-order param
    filtering, pure expression — see llmops/urls.py), and keep-first
    groups by the canonical form. The oracle computes the canonical
    string straight from the generator formula and never parses a
    url, so any canonicalizer bug (param order, www-strip, fragment
    leak, case) fails the hash.

    Output: one row per canonical url with the kept doc and the
    variant count (n_variants > 1 ⟺ the canonicalizer actually
    merged raw forms).

    Scale: canonicalization rides the scan (whole-stage codegen, no
    Python); the dedup is one map-side-combined groupBy on the
    canonical string — the same shape as l01's exact hash dedup.
    """
    from pyspark_recs.llmops.urls import canonicalize_url, synthetic_url

    docs = load_table(spark, sf, "documents").select("doc_id", "source")
    return (
        docs.select(
            "doc_id",
            canonicalize_url(
                synthetic_url(F.col("doc_id"), F.col("source"))
            ).alias("canonical_url"),
        )
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


L95_SQL = """
SELECT 'https://' || lower(source) || '.example.com/articles/'
         || CAST(doc_id % 140 AS VARCHAR)
         || CASE WHEN doc_id % 4 IN (2, 3) THEN '?page=2' ELSE '' END
         AS canonical_url,
       CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
       CAST(count(*) AS BIGINT) AS n_variants
FROM documents
GROUP BY 1
"""


# --------------------------------------------------------------------- l96
def l96_domain_dup_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-DOMAIN duplication audit — the blocklist signal crawl
    curation teams act on (a domain whose pages collapse heavily
    under canonicalization is mirror/SEO noise; the domain, not the
    page, is the curation unit at 100 TB). Builds on l95's canonical
    forms: per domain, raw page count, distinct canonical urls, the
    exact duplication rate in ppm, and the total characters the
    domain contributes.

    Scale: one groupBy(domain) over the canonicalized scan with a
    distinct-inside-aggregate on the canonical url — partial
    aggregation applies to every column but the distinct, whose
    cardinality is domain-bounded; at petabyte crawl sizes swap the
    exact distinct for an HLL sketch (the r53 rollup discipline).
    """
    from pyspark_recs.llmops.urls import canonicalize_url, synthetic_url

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", "n_chars"
    )
    canon = docs.select(
        "doc_id",
        "n_chars",
        F.concat(F.lower("source"), F.lit(".example.com")).alias("domain"),
        canonicalize_url(
            synthetic_url(F.col("doc_id"), F.col("source"))
        ).alias("canonical_url"),
    )
    return canon.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("canonical_url").alias("n_unique"),
        F.expr(
            "CAST((1000000 * (count(1) - count(DISTINCT canonical_url)))"
            " DIV count(1) AS BIGINT)"
        ).alias("dup_ppm"),
        F.sum("n_chars").alias("total_chars"),
    )


L96_SQL = """
WITH canon AS (
  SELECT doc_id, n_chars,
         lower(source) || '.example.com' AS domain,
         'https://' || lower(source) || '.example.com/articles/'
           || CAST(doc_id % 140 AS VARCHAR)
           || CASE WHEN doc_id % 4 IN (2, 3) THEN '?page=2' ELSE '' END
           AS canonical_url
  FROM documents)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_unique,
       CAST((1000000 * (count(*) - count(DISTINCT canonical_url)))
            // count(*) AS BIGINT) AS dup_ppm,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM canon
GROUP BY domain
"""


# --------------------------------------------------------------------- l98
def l98_corpus_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """THE LLMOPS FLAGSHIP — rs39's twin for the training-data side:
    the complete corpus-prep pipeline as ONE oracle-bracketed lineage,
    every stage the engine's own verified shape:

    1. **URL keep-first (l95)** — each document's messy synthetic url
       is canonicalized FOR REAL (``parse_url`` + higher-order param
       filtering, pure expression) and only the min-doc_id page per
       canonical url survives — the first, cheapest dedup pass of
       every crawl pipeline.
    2. **quality rules (l23)** — Gopher/C4-style token-count /
       mean-token-length / stopword-fraction gates, exact arithmetic.
    3. **near-dup dedup (l02/l03/l21)** — MinHash signatures → LSH
       band candidates → exact shingle-Jaccard verify → iterative
       connected components → cluster representatives only. The fitted
       label set is a standing corpus-index job, so it checkpoints
       through ``artifact_plan`` (train ≠ serve: the serve lineage
       LOADS the published ids instead of re-clustering).
    4. **chunk (l27)** — overlapping 32/24 token windows (bracket
       count only; the chunk TABLE is l27's own row).
    5. **pack (l19)** — exclusive-prefix-sum token packing into
       512-token bins per source shard: the packed-sequence table a
       trainer actually reads.

    The output is the packed table × the funnel bracket counts
    (n_input, n_url_kept, n_quality, n_canonical, n_chunks), so the
    oracle hash pins every stage: a bug anywhere — canonicalizer,
    rules, banding, verification, clustering, chunker, packer —
    changes a bracket or a bin assignment. The oracle replays the
    url-generator formula (never parses), re-derives the MinHash/LSH
    pipeline from the same md5 arithmetic, and computes the CC
    fixpoint with a recursive CTE.

    Scale: stages shuffle on canonical-url / band-key / doc_id /
    source only — document text never shuffles; the URL and quality
    gates run FIRST so every downstream shuffle sees survivors only;
    banding keeps candidate pairs sub-quadratic; packing windows
    partition by source shard, never globally. The bracket aggregates
    are row-count stats of tables that would sit at rest as parquet
    between stages at 100 TB.
    """
    from pyspark_recs.llmops.pipeline import prepare_corpus
    from pyspark_recs.llmops.urls import (
        canonicalize_url,
        synthetic_url_blocked,
    )
    from pyspark_recs.workloads.common import artifact_plan

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "source"
    )
    # The BLOCKED url fixture (linear article space): the canonical
    # group count scales with the corpus, so the funnel keeps its
    # shape at 100× instead of collapsing to l95's fixed 140 pages.
    docs_u = docs.withColumn(
        "canonical_url",
        canonicalize_url(synthetic_url_blocked(F.col("doc_id"))),
    )

    def _fit_canonical_ids() -> DataFrame:
        return prepare_corpus(
            docs_u, url_col="canonical_url"
        ).canonical.select("doc_id")

    ids = artifact_plan(
        spark, sf, "l98_canonical_ids", "1", _fit_canonical_ids
    )
    res = prepare_corpus(
        docs_u, url_col="canonical_url", canonical_ids=ids
    )

    def _n(df: DataFrame, alias: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(alias))

    brackets = (
        _n(docs_u, "n_input")
        .crossJoin(F.broadcast(_n(res.url_kept, "n_url_kept")))
        .crossJoin(F.broadcast(_n(res.kept, "n_quality")))
        .crossJoin(F.broadcast(_n(res.canonical, "n_canonical")))
        .crossJoin(F.broadcast(_n(res.chunks, "n_chunks")))
    )
    return res.packed.crossJoin(F.broadcast(brackets)).select(
        "doc_id",
        "source",
        "n_tokens",
        "bin_idx",
        "n_input",
        "n_url_kept",
        "n_quality",
        "n_canonical",
        "n_chunks",
    )


# The l98 funnel's CTE chain up to the deduped canonical corpus,
# shared verbatim by L98_SQL (which adds brackets + packing) and
# L101_SQL (which trains the tokenizer over it) — one definition so
# the two oracles can never disagree about what "canonical" means.
_L98_CANON_CTES = f"""uk AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY 'https://site' || CAST((doc_id // 4) % 10 AS VARCHAR)
           || '.example.com/articles/' || CAST(doc_id // 4 AS VARCHAR)
           || CASE WHEN doc_id % 4 IN (2, 3) THEN '?page=2' ELSE '' END),
d0 AS (
  SELECT d.doc_id, d.source, d.text FROM documents d JOIN uk USING (doc_id)),
ta AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), w -> w <> '') AS words
  FROM d0),
qm AS (
  SELECT doc_id, source, words,
         CAST(len(words) AS INTEGER) AS n_tokens,
         CAST(list_aggregate(list_transform(words, w -> length(w)), 'sum')
              AS DOUBLE) / len(words) AS mean_token_len,
         CAST(len(list_filter(words,
                  w -> list_contains([{_L23_STOPLIST}], w))) AS DOUBLE)
           / len(words) AS stopword_frac
  FROM ta),
toks AS (
  SELECT doc_id, source, words FROM qm
  WHERE n_tokens >= 30 AND n_tokens <= 100
    AND mean_token_len >= 3.0 AND mean_token_len <= 8.0
    AND stopword_frac >= 0.05),
sh AS (
  SELECT doc_id, list_distinct(list_transform(
      range(1, len(words) - 1),
      i -> words[i] || ' ' || words[i + 1] || ' ' || words[i + 2])) AS shingles
  FROM toks WHERE len(words) >= 3),
{_INT_SHINGLE_CTES.strip()},
sigs AS (SELECT doc_id, {_SIG_SELECTS} FROM ihs),
buckets AS (
  SELECT doc_id, unnest([{_BAND_KEYS}]) AS band_key FROM sigs),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM buckets x JOIN buckets y
    ON x.band_key = y.band_key AND x.doc_id < y.doc_id),
edges AS (
  SELECT doc_a, doc_b FROM (
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(x.shingles, y.shingles)))
             AS jaccard
    FROM cand c
    JOIN sh x ON c.doc_a = x.doc_id
    JOIN sh y ON c.doc_b = y.doc_id)
  WHERE jaccard >= 0.5),
sym AS (
  SELECT doc_a AS a, doc_b AS b FROM edges
  UNION ALL SELECT doc_b, doc_a FROM edges),
reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a),
comp AS (SELECT a AS doc_id, min(b) AS mr FROM reach GROUP BY a),
canon AS (
  SELECT t.doc_id, t.source, t.words
  FROM toks t LEFT JOIN comp c ON t.doc_id = c.doc_id
  WHERE least(t.doc_id, coalesce(c.mr, t.doc_id)) = t.doc_id)"""

L98_SQL = f"""
WITH RECURSIVE
{_L98_CANON_CTES},
br AS (
  SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_input,
         CAST((SELECT count(*) FROM uk) AS BIGINT) AS n_url_kept,
         CAST((SELECT count(*) FROM toks) AS BIGINT) AS n_quality,
         CAST((SELECT count(*) FROM canon) AS BIGINT) AS n_canonical,
         CAST((SELECT coalesce(sum((len(words) + 23) // 24), 0)
               FROM canon WHERE len(words) >= 1) AS BIGINT) AS n_chunks),
p AS (
  SELECT doc_id, source, CAST(len(words) AS INTEGER) AS n_tokens,
         sum(len(words)) OVER (PARTITION BY source ORDER BY doc_id) AS cum
  FROM canon)
SELECT doc_id, source, n_tokens,
       CAST(floor((cum - n_tokens) / 512) AS INTEGER) AS bin_idx,
       n_input, n_url_kept, n_quality, n_canonical, n_chunks
FROM p, br
"""


# --------------------------------------------------------------------- l99
def l99_policy_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Robots/noindex + license-tag gating over synthesized page heads
    — the policy filter that runs beside l95's URL canonicalizer in
    every crawl pipeline (a ``noindex`` page or a non-permissive
    license must be dropped before any text reaches the corpus). Each
    document gets a deterministic MESSY html head (attribute order,
    quote style, tag/attr/value case and whitespace all vary by
    doc_id); Spark parses it FOR REAL with order/case/quote-robust
    regexp expressions (llmops/policy.py — pure projection, rides the
    scan); the oracle computes the verdicts straight from the
    generator formula and never parses, so any extractor bug fails
    the hash. Absent license metadata fails CLOSED; absent robots
    meta fails OPEN — the standard conservative crawl policy.
    """
    from pyspark_recs.llmops.policy import policy_gate, synthetic_page_head

    docs = load_table(spark, sf, "documents").select("doc_id")
    pages = docs.withColumn(
        "head", synthetic_page_head(F.col("doc_id"))
    )
    return policy_gate(pages, "head")


L99_SQL = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN 'index, follow'
              WHEN doc_id % 4 = 1 THEN 'noindex'
              WHEN doc_id % 4 = 2 THEN 'noindex, nofollow' END AS robots,
         CASE WHEN doc_id % 6 = 0 THEN 'licenses/by/4.0'
              WHEN doc_id % 6 = 1 THEN 'licenses/by-sa/4.0'
              WHEN doc_id % 6 = 2 THEN 'licenses/by-nc/4.0'
              WHEN doc_id % 6 = 4 THEN 'publicdomain/zero/1.0'
              WHEN doc_id % 6 = 5 THEN 'licenses/by-nd/4.0' END AS license
  FROM documents)
SELECT doc_id, robots,
       coalesce(robots LIKE '%noindex%', false) AS noindex,
       license,
       (NOT coalesce(robots LIKE '%noindex%', false)
        AND coalesce(license IN ('licenses/by/4.0', 'licenses/by-sa/4.0',
                                 'publicdomain/zero/1.0'), false)) AS allowed
FROM g
"""


# -------------------------------------------------------------------- l100
def l100_robots_gate(spark: SparkSession, sf: str) -> DataFrame:
    """REAL robots.txt evaluation — the third leg of the crawl-policy
    family (l95 canonicalizes the url, l99 reads the page's own meta
    policy, l100 asks the HOST's robots.txt whether the fetch was
    allowed at all). Each host gets a deterministic robots.txt
    fixture (three grammars: Disallow-with-longer-Allow-exception,
    wrong-agent group + empty Disallow, multi-Disallow); Spark parses
    it FOR REAL (line splitting, comment/blank handling,
    case-insensitive directives, forward-fill group attribution —
    llmops/policy.py) and applies the Google longest-match /
    Allow-wins-ties rule per URL. The url's host and path come from
    REAL ``parse_url`` over the canonicalized blocked-url fixture, so
    the whole chain — canonicalizer, url parser, robots parser,
    matcher — must be right for the hash to pass; the oracle replays
    generator formulas and never parses anything.

    Scale: robots documents are host-dimension-sized, parsed once and
    broadcast; the per-URL decision is one broadcast join + a
    max-struct aggregate keyed by doc — URLs never shuffle on
    anything but their own id.
    """
    from pyspark_recs.llmops.policy import (
        parse_robots_rules,
        robots_decisions,
        synthetic_robots_txt,
    )
    from pyspark_recs.llmops.urls import (
        canonicalize_url,
        synthetic_url_blocked,
    )
    from pyspark_recs.workloads.common import snapshot_plan

    docs = load_table(spark, sf, "documents").select("doc_id")
    canon = canonicalize_url(synthetic_url_blocked(F.col("doc_id")))
    query = F.parse_url(canon, F.lit("QUERY"))
    # SNAPSHOT the parsed-url frame (r13-opt, guide §3.3): it feeds
    # both the hosts→rules branch and the decision join, and the
    # canonicalize+parse_url chain is the query's expensive projection
    # — without this each branch re-scans and re-parses.
    urls = snapshot_plan(
        docs.select(
            "doc_id",
            F.parse_url(canon, F.lit("HOST")).alias("host"),
            F.concat(
                F.parse_url(canon, F.lit("PATH")),
                F.when(
                    query.isNotNull(), F.concat(F.lit("?"), query)
                ).otherwise(F.lit("")),
            ).alias("path"),
        )
    )
    hosts = urls.select("host").distinct().withColumn(
        "host_idx",
        F.regexp_extract("host", r"^site(\d+)\.", 1).cast("int"),
    )
    robots = hosts.select(
        "host", synthetic_robots_txt(F.col("host_idx")).alias("robots_txt")
    )
    rules = parse_robots_rules(robots)
    return robots_decisions(urls, rules)


L100_SQL = """
WITH g AS (
  SELECT doc_id,
         ((doc_id // 4) % 10) AS h,
         CAST(doc_id // 4 AS VARCHAR) AS astr,
         CASE WHEN doc_id % 4 IN (2, 3) THEN '?page=2' ELSE '' END AS q
  FROM documents),
d AS (
  SELECT doc_id,
         'site' || CAST(h AS VARCHAR) || '.example.com' AS host,
         '/articles/' || astr || q AS path,
         CASE WHEN h % 3 = 0 AND astr LIKE '2%' THEN 'allow'
              WHEN h % 3 = 0 THEN 'disallow'
              WHEN h % 3 = 2 AND astr LIKE '7%' THEN 'disallow'
              ELSE NULL END AS rule_type,
         CASE WHEN h % 3 = 0 AND astr LIKE '2%' THEN '/articles/2'
              WHEN h % 3 = 0 THEN '/articles/'
              WHEN h % 3 = 2 AND astr LIKE '7%' THEN '/articles/7'
              ELSE NULL END AS matched_rule
  FROM g)
SELECT doc_id, host, path, rule_type, matched_rule,
       (rule_type IS NULL OR rule_type = 'allow') AS crawl_allowed
FROM d
"""


# -------------------------------------------------------------------- l101
def l101_corpus_to_tokenizer(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus→TRAINER handoff oracle-checked end-to-end (VERDICT
    r11 missing #3: l98's output fed no consumer, the way rs39's
    serving half consumes its training half): the SAME l98 funnel —
    URL keep-first → quality rules → MinHash/LSH/verify/CC dedup —
    produces the canonical corpus, and l71's iterative BPE tokenizer
    training (3 merge rounds) runs OVER that corpus instead of raw
    documents. The learned merge table is the artifact a training run
    actually ships, so its hash pins the whole chain: a bug anywhere
    in the funnel changes the surviving documents, which changes the
    pair counts, which changes at least one learned merge.

    Train ≠ serve discipline: the dedup cluster fit rides the same
    ``artifact_plan('l98_canonical_ids')`` checkpoint l98 publishes —
    one standing corpus-index job serves both the packer (l98) and
    the tokenizer trainer (l101), exactly how a 100 TB pipeline
    shares its dedup verdict across consumers. The oracle reuses
    ``_L98_CANON_CTES`` verbatim (nested WITH RECURSIVE subquery) as
    the token source of l71's unrolled merge-round CTEs — shared
    text, so the two oracles cannot drift.

    Scale: the funnel shuffles on canonical-url/band-key/doc_id only
    (l98's contract); training then collapses to the VOCABULARY
    (word, freq) table after one corpus aggregation — per round, one
    pair-count shuffle plus a 1-row argmax (see
    llmops/textstats.py:bpe_train_merges).
    """
    from pyspark_recs.llmops.pipeline import prepare_corpus
    from pyspark_recs.llmops.textstats import bpe_train_merges
    from pyspark_recs.llmops.urls import (
        canonicalize_url,
        synthetic_url_blocked,
    )
    from pyspark_recs.workloads.common import artifact_plan

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "source"
    )
    docs_u = docs.withColumn(
        "canonical_url",
        canonicalize_url(synthetic_url_blocked(F.col("doc_id"))),
    )

    def _fit_canonical_ids() -> DataFrame:
        return prepare_corpus(
            docs_u, url_col="canonical_url"
        ).canonical.select("doc_id")

    ids = artifact_plan(
        spark, sf, "l98_canonical_ids", "1", _fit_canonical_ids
    )
    res = prepare_corpus(
        docs_u, url_col="canonical_url", canonical_ids=ids
    )
    return bpe_train_merges(res.canonical, n_merges=3)


def _l101_sql() -> str:
    from pyspark_recs.llmops.textstats import bpe_train_oracle_sql

    return bpe_train_oracle_sql(
        n_merges=3,
        toks_cte=f"""
  SELECT doc_id, source, words FROM (
    WITH RECURSIVE
    {_L98_CANON_CTES},
    canon_out AS (SELECT doc_id, source, words FROM canon)
    SELECT * FROM canon_out)
""",
    )


L101_SQL = _l101_sql()


QUERIES = {
    "l01_exact_dedup": l01_exact_dedup,
    "l02_minhash_signatures": l02_minhash_signatures,
    "l03_lsh_candidate_pairs": l03_lsh_candidate_pairs,
    "l04_simhash": l04_simhash,
    "l05_ngram_jaccard": l05_ngram_jaccard,
    "l06_embedding_topk": l06_embedding_topk,
    "l07_langid": l07_langid,
    "l08_quality_scores": l08_quality_scores,
    "l09_token_stats": l09_token_stats,
    "l10_char_fingerprints": l10_char_fingerprints,
    "l11_multimodal_decode": l11_multimodal_decode,
    "l12_ann_lsh": l12_ann_lsh,
    "l13_multimodal_features": l13_multimodal_features,
    "l14_embedding_neardup": l14_embedding_neardup,
    "l15_ann_ivf": l15_ann_ivf,
    "l16_frame_sample": l16_frame_sample,
    "l17_resize_thumbnail": l17_resize_thumbnail,
    "l18_tfidf_top_terms": l18_tfidf_top_terms,
    "l19_pack_sequences": l19_pack_sequences,
    "l20_corpus_profile": l20_corpus_profile,
    "l21_dedup_components": l21_dedup_components,
    "l22_bigram_repetition": l22_bigram_repetition,
    "l23_gopher_rules": l23_gopher_rules,
    "l24_stratified_sample": l24_stratified_sample,
    "l25_scalar_quantize": l25_scalar_quantize,
    "l26_source_mixture": l26_source_mixture,
    "l27_chunk_documents": l27_chunk_documents,
    "l28_type_token_ratio": l28_type_token_ratio,
    "l29_image_fetch_encode": l29_image_fetch_encode,
    "l30_text_image_search": l30_text_image_search,
    "l31_pii_redaction": l31_pii_redaction,
    "l32_decontaminate": l32_decontaminate,
    "l33_bm25_search": l33_bm25_search,
    "l34_boilerplate_grams": l34_boilerplate_grams,
    "l35_novelty_gate": l35_novelty_gate,
    "l36_fuzzy_edit_dedup": l36_fuzzy_edit_dedup,
    "l37_heavy_hitters": l37_heavy_hitters,
    "l38_rare_token_score": l38_rare_token_score,
    "l39_bpe_pair_counts": l39_bpe_pair_counts,
    "l40_incremental_lsh": l40_incremental_lsh,
    "l41_winnow_fingerprints": l41_winnow_fingerprints,
    "l42_matryoshka_energy": l42_matryoshka_energy,
    "l43_semantic_dedup": l43_semantic_dedup,
    "l44_embedding_covariance": l44_embedding_covariance,
    "l45_hamming_neardup": l45_hamming_neardup,
    "l46_jl_projection": l46_jl_projection,
    "l47_token_concentration": l47_token_concentration,
    "l48_segment_dedup": l48_segment_dedup,
    "l49_pq_encode": l49_pq_encode,
    "l50_hybrid_search": l50_hybrid_search,
    "l51_minhash_jaccard_audit": l51_minhash_jaccard_audit,
    "l52_weighted_sample": l52_weighted_sample,
    "l53_weighted_reservoir": l53_weighted_reservoir,
    "l54_countmin_sketch": l54_countmin_sketch,
    "l55_containment_pairs": l55_containment_pairs,
    "l56_linear_model_score": l56_linear_model_score,
    "l57_source_leakage": l57_source_leakage,
    "l58_ivfpq_search": l58_ivfpq_search,
    "l59_token_drift": l59_token_drift,
    "l60_vocab_coverage": l60_vocab_coverage,
    "l61_fuzzy_decontaminate": l61_fuzzy_decontaminate,
    "l62_cluster_balanced_sample": l62_cluster_balanced_sample,
    "l63_shard_manifest": l63_shard_manifest,
    "l64_decontaminate_spans": l64_decontaminate_spans,
    "l65_payload_dedup": l65_payload_dedup,
    "l66_attribution_union": l66_attribution_union,
    "l67_group_aware_split": l67_group_aware_split,
    "l68_threshold_sweep": l68_threshold_sweep,
    "l69_corpus_diff": l69_corpus_diff,
    "l70_real_encoder_embed": l70_real_encoder_embed,
    "l71_bpe_train": l71_bpe_train,
    "l72_intra_doc_repetition": l72_intra_doc_repetition,
    "l73_bpe_apply": l73_bpe_apply,
    "l74_two_tower_align": l74_two_tower_align,
    "l75_mixture_sample": l75_mixture_sample,
    "l76_png_decode_stats": l76_png_decode_stats,
    "l77_jpeg_decode_stats": l77_jpeg_decode_stats,
    "l78_wav_decode_stats": l78_wav_decode_stats,
    "l79_y4m_frame_stats": l79_y4m_frame_stats,
    "l80_bigram_lm_score": l80_bigram_lm_score,
    "l81_dsir_importance": l81_dsir_importance,
    "l82_audio_vad_segments": l82_audio_vad_segments,
    "l83_image_phash_dedup": l83_image_phash_dedup,
    "l84_duplicate_text_spans": l84_duplicate_text_spans,
    "l85_kmeans_train": l85_kmeans_train,
    "l86_audio_downsample": l86_audio_downsample,
    "l87_image_augment": l87_image_augment,
    "l88_audio_zcr": l88_audio_zcr,
    "l89_video_scene_cuts": l89_video_scene_cuts,
    "l90_audio_autocorr": l90_audio_autocorr,
    "l91_maxsim_retrieval": l91_maxsim_retrieval,
    "l92_score_calibration": l92_score_calibration,
    "l93_curriculum_shards": l93_curriculum_shards,
    "l94_cdc_chunks": l94_cdc_chunks,
    "l95_url_canonical_dedup": l95_url_canonical_dedup,
    "l97_audio_tone_power": l97_audio_tone_power,
    "l96_domain_dup_stats": l96_domain_dup_stats,
    "l98_corpus_e2e": l98_corpus_e2e,
    "l99_policy_gate": l99_policy_gate,
    "l100_robots_gate": l100_robots_gate,
    "l101_corpus_to_tokenizer": l101_corpus_to_tokenizer,
}

ORACLE = {
    "l01_exact_dedup": L01_SQL,
    "l02_minhash_signatures": L02_SQL,
    "l03_lsh_candidate_pairs": L03_SQL,
    "l04_simhash": L04_SQL,
    "l05_ngram_jaccard": L05_SQL,
    "l06_embedding_topk": L06_SQL,
    "l07_langid": L07_SQL,
    "l08_quality_scores": L08_SQL,
    "l09_token_stats": L09_SQL,
    "l10_char_fingerprints": L10_SQL,
    "l11_multimodal_decode": L11_SQL,
    "l12_ann_lsh": L12_SQL,
    "l13_multimodal_features": L13_SQL,
    "l14_embedding_neardup": L14_SQL,
    "l15_ann_ivf": L15_SQL,
    "l16_frame_sample": L16_SQL,
    "l17_resize_thumbnail": L17_SQL,
    "l18_tfidf_top_terms": L18_SQL,
    "l19_pack_sequences": L19_SQL,
    "l20_corpus_profile": L20_SQL,
    "l21_dedup_components": L21_SQL,
    "l22_bigram_repetition": L22_SQL,
    "l23_gopher_rules": L23_SQL,
    "l24_stratified_sample": L24_SQL,
    "l25_scalar_quantize": L25_SQL,
    "l26_source_mixture": L26_SQL,
    "l27_chunk_documents": L27_SQL,
    "l28_type_token_ratio": L28_SQL,
    "l29_image_fetch_encode": L29_SQL,
    "l30_text_image_search": L30_SQL,
    "l31_pii_redaction": L31_SQL,
    "l32_decontaminate": L32_SQL,
    "l33_bm25_search": L33_SQL,
    "l34_boilerplate_grams": L34_SQL,
    "l35_novelty_gate": L35_SQL,
    "l36_fuzzy_edit_dedup": L36_SQL,
    "l37_heavy_hitters": L37_SQL,
    "l38_rare_token_score": L38_SQL,
    "l39_bpe_pair_counts": L39_SQL,
    "l40_incremental_lsh": L40_SQL,
    "l41_winnow_fingerprints": L41_SQL,
    "l42_matryoshka_energy": L42_SQL,
    "l43_semantic_dedup": L43_SQL,
    "l44_embedding_covariance": L44_SQL,
    "l45_hamming_neardup": L45_SQL,
    "l46_jl_projection": L46_SQL,
    "l47_token_concentration": L47_SQL,
    "l48_segment_dedup": L48_SQL,
    "l49_pq_encode": L49_SQL,
    "l50_hybrid_search": L50_SQL,
    "l51_minhash_jaccard_audit": L51_SQL,
    "l52_weighted_sample": L52_SQL,
    "l53_weighted_reservoir": L53_SQL,
    "l54_countmin_sketch": L54_SQL,
    "l55_containment_pairs": L55_SQL,
    "l56_linear_model_score": L56_SQL,
    "l57_source_leakage": L57_SQL,
    "l58_ivfpq_search": L58_SQL,
    "l59_token_drift": L59_SQL,
    "l60_vocab_coverage": L60_SQL,
    "l61_fuzzy_decontaminate": L61_SQL,
    "l62_cluster_balanced_sample": L62_SQL,
    "l63_shard_manifest": L63_SQL,
    "l64_decontaminate_spans": L64_SQL,
    "l65_payload_dedup": L65_SQL,
    "l66_attribution_union": L66_SQL,
    "l67_group_aware_split": L67_SQL,
    "l68_threshold_sweep": L68_SQL,
    "l69_corpus_diff": L69_SQL,
    "l70_real_encoder_embed": L70_SQL,
    "l71_bpe_train": L71_SQL,
    "l72_intra_doc_repetition": L72_SQL,
    "l73_bpe_apply": L73_SQL,
    "l74_two_tower_align": L74_SQL,
    "l75_mixture_sample": L75_SQL,
    "l76_png_decode_stats": L76_SQL,
    "l77_jpeg_decode_stats": L77_SQL,
    "l78_wav_decode_stats": L78_SQL,
    "l79_y4m_frame_stats": L79_SQL,
    "l80_bigram_lm_score": L80_SQL,
    "l81_dsir_importance": L81_SQL,
    "l82_audio_vad_segments": L82_SQL,
    "l83_image_phash_dedup": L83_SQL,
    "l84_duplicate_text_spans": L84_SQL,
    "l85_kmeans_train": L85_SQL,
    "l86_audio_downsample": L86_SQL,
    "l87_image_augment": L87_SQL,
    "l88_audio_zcr": L88_SQL,
    "l89_video_scene_cuts": L89_SQL,
    "l90_audio_autocorr": L90_SQL,
    "l91_maxsim_retrieval": L91_SQL,
    "l92_score_calibration": L92_SQL,
    "l93_curriculum_shards": L93_SQL,
    "l94_cdc_chunks": L94_SQL,
    "l95_url_canonical_dedup": L95_SQL,
    "l97_audio_tone_power": L97_SQL,
    "l96_domain_dup_stats": L96_SQL,
    "l98_corpus_e2e": L98_SQL,
    "l99_policy_gate": L99_SQL,
    "l100_robots_gate": L100_SQL,
    "l101_corpus_to_tokenizer": L101_SQL,
}
