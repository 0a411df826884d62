"""Text-analysis operators: tokenization, language-ID heuristic, quality
scoring, token counting, document fingerprinting.

All pure ``pyspark.sql.functions`` expressions — JVM-side, inside
whole-stage codegen, no Python in the hot path. Transcendentals
(exp/log) are deliberately avoided in scores so results are bit-portable
across libms (only +,-,*,/ and integer ops are used).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny English function-word list for the language-ID heuristic. The
# ratio of function words to tokens is a classic cheap LID signal.
EN_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it")


def tokens(text_col: Column) -> Column:
    """Whitespace tokenization with empty-token filtering."""
    return F.filter(F.split(text_col, " "), lambda w: w != F.lit(""))


def with_tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("words", tokens(F.col(text_col)))


def en_stopword_ratio(words: Column) -> Column:
    """Fraction of tokens that are English function words."""
    is_stop = lambda w: w.isin(*EN_STOPWORDS)  # noqa: E731
    return F.size(F.filter(words, is_stop)).cast("double") / F.size(words)


def langid(df: DataFrame, text_col: str = "text", threshold: float = 0.08) -> DataFrame:
    """Heuristic language ID: stopword-ratio thresholding.

    Scale: pure projection; at 100 TB this is the cheap first pass that
    routes documents before any model-based LID.
    """
    words = tokens(F.col(text_col))
    ratio = en_stopword_ratio(words)
    return df.select(
        "doc_id",
        ratio.alias("en_ratio"),
        F.when(ratio >= threshold, F.lit("en")).otherwise(F.lit("other")).alias(
            "pred_lang"
        ),
    )


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features + linear score
    (length / punctuation / stopword ratios — the classic pre-training
    filter set)."""
    words = tokens(F.col(text_col))
    n_tokens = F.size(words)
    total_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    avg_token_len = total_len.cast("double") / n_tokens
    n_chars = F.length(F.col(text_col))
    # Letters of either case count as letters — stripping only [a-z0-9 ]
    # would score uppercase (and any mixed-case) text as punctuation.
    punct_ratio = (
        F.length(
            F.regexp_replace(F.col(text_col), "[A-Za-z0-9 ]", "")
        ).cast("double")
        / n_chars
    )
    stop_ratio = en_stopword_ratio(words)
    quality = (
        F.lit(0.25) * avg_token_len
        + F.lit(2.0) * stop_ratio
        - F.lit(1.5) * punct_ratio
    )
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        avg_token_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + regex word-chunk tokens (the
    BPE-ish lower bound) + chars-per-token."""
    words = tokens(F.col(text_col))
    ws_tokens = F.size(words)
    re_tokens = F.regexp_count(F.col(text_col), F.lit("[a-z0-9]+"))
    return df.select(
        "doc_id",
        ws_tokens.alias("ws_tokens"),
        re_tokens.alias("re_tokens"),
        (F.length(F.col(text_col)).cast("double") / ws_tokens).alias(
            "chars_per_token"
        ),
    )


def char_fingerprints(df: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Document fingerprint: min over polynomial hashes of character
    k-grams (the winnowing/MOSS family, collapsed to window = whole
    document). Each k-gram hash is a Horner fold of the char codes
    ((h*B + code) % p) over an int array — no substring allocation, no
    md5; measured ~4x faster than hashing k-char substrings, and still
    engine-exact (pure integer arithmetic both sides of the oracle).
    """
    from pyspark_recs.llmops.hashing import MINHASH_PRIME, SHINGLE_BASE

    text = F.col(text_col)
    # split('') explodes to single chars with no trailing empty — 2.4x
    # faster than per-position substr (one pass vs O(len) substring
    # calls against the same string).
    codes = F.transform(
        F.split(text, ""), lambda c: F.ascii(c).cast("long")
    )
    from pyspark_recs.io.loaders import spread_partitions

    staged = spread_partitions(df.filter(F.length(text) >= k)).select(
        "doc_id", codes.alias("codes")
    )
    m = F.size(F.col("codes")) - (k - 1)
    acc = F.slice(F.col("codes"), 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(F.col("codes"), 1 + j, m),
            lambda a, b: (a * F.lit(SHINGLE_BASE) + b) % MINHASH_PRIME,
        )
    return staged.select("doc_id", F.array_min(acc).alias("fingerprint"))


def tf_idf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """TF-IDF with smoothed idf, top-k terms per document (the
    CountVectorizer/HashingTF-IDF surface of SURVEY §7.7, kept
    relational so it is oracle-checkable; swap in MLlib HashingTF+IDF
    when a fixed-width feature vector is the goal).

    tfidf = tf · (ln((N+1)/(df+1)) + 1), rounded to 6 decimals so the
    cross-engine compare is stable at the float boundary; ranking ties
    break on the rounded score then token ascending.

    Scale: one shuffle on (doc_id, token) for tf, one map-side-combined
    shuffle on token for df (a tiny table — vocabulary-sized — joined
    back broadcast), WindowGroupLimit for the per-doc top-k.
    """
    from pyspark.sql import Window

    flat = df.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("token")
    )
    tf = flat.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )  # tf is already distinct per (doc, token)
    n_docs = df.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(doc_freq), "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bigram_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition statistics: for each document, the
    fraction of all bigram occurrences taken by the single most frequent
    bigram, and the distinct-bigram fraction. High top-bigram fraction /
    low distinct fraction flags boilerplate and degenerate repetition —
    the standard pre-training repetition filter (Rae et al. 2021 §A1.1).

    Scale: bigrams are generated JVM-side from the token array (two
    slices zipped — no self-join), then one (doc_id, bigram) hash
    aggregation with map-side combine; the per-doc rollup aggregates
    counts, never token text. Both shuffles are bounded by token volume,
    linear in corpus size.
    """
    words = tokens(F.col(text_col))
    bigrams = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    flat = (
        df.select("doc_id", bigrams.alias("bigrams"))
        .filter(F.size(F.col("bigrams")) >= 1)
        .select("doc_id", F.explode("bigrams").alias("bigram"))
    )
    counts = flat.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.max("cnt").alias("top_bigram_count"),
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top_bigram_frac"),
        (F.count(F.lit(1)).cast("double") / F.sum("cnt")).alias(
            "distinct_bigram_frac"
        ),
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 30,
    max_tokens: int = 100,
    min_mean_len: float = 3.0,
    max_mean_len: float = 8.0,
    min_stop_frac: float = 0.05,
) -> DataFrame:
    """Rule-based document filter in the Gopher/C4 style: hard
    accept/reject flags (token-count bounds, mean token length bounds,
    minimum stopword fraction) plus the combined pass verdict. The
    thresholds are the knobs a pre-training pipeline sweeps; every flag
    is emitted so downstream can audit *why* a document was dropped.

    Scale: pure projection over the token array — one pass, no shuffle,
    stays inside whole-stage codegen. Ratios are exact integer divisions
    so the verdicts are engine- and partitioning-independent.
    """
    words = tokens(F.col(text_col))
    n_tokens = F.size(words)
    mean_len = (
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)).cast(
            "double"
        )
        / n_tokens
    )
    stop_frac = en_stopword_ratio(words)
    tokens_ok = (n_tokens >= min_tokens) & (n_tokens <= max_tokens)
    mean_len_ok = (mean_len >= min_mean_len) & (mean_len <= max_mean_len)
    stop_ok = stop_frac >= min_stop_frac
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        stop_frac.alias("stopword_frac"),
        tokens_ok.alias("tokens_ok"),
        mean_len_ok.alias("mean_len_ok"),
        stop_ok.alias("stop_ok"),
        (tokens_ok & mean_len_ok & stop_ok).alias("passes"),
    )


def chunk_documents(
    df: DataFrame,
    chunk: int = 32,
    stride: int = 24,
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunking (chunk size / stride in
    tokens) — the retrieval/embedding-pipeline primitive that turns one
    document into the N overlapping passages an encoder actually
    embeds. Emits (doc_id, chunk_idx, chunk_text, chunk_tokens); the
    final chunk is the partial tail, matching standard chunkers.

    Scale: the start offsets are generated JVM-side per document
    (``sequence`` + ``posexplode``) and each chunk is a slice of the
    token array — one projection + one explode, no shuffle, no Python.
    Output volume is ~len/stride rows per doc; downstream embedding
    cost, not this operator, is the bottleneck at 100 TB.
    """
    starts = F.sequence(
        F.lit(0), F.size(F.col("words")) - 1, F.lit(stride)
    )
    flat = (
        df.select("doc_id", tokens(F.col(text_col)).alias("words"))
        .filter(F.size("words") >= 1)
        .select(
            "doc_id",
            "words",
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
    )
    piece = F.slice(F.col("words"), F.col("start") + 1, chunk)
    return flat.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("chunk_tokens"),
    )


def pack_sequences(
    df: DataFrame,
    capacity: int = 512,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Greedy in-order sequence packing for LLM training batches:
    assign each document to a fixed-token-budget bin via an EXCLUSIVE
    prefix sum of token counts — bin = floor(prev_cum / capacity) —
    within each ``group_col`` partition, documents in doc_id order.
    A doc that crosses a bin boundary belongs to the bin where it
    starts (the downstream tokenizer splits it); packing is therefore a
    pure window computation, deterministic and oracle-checkable.

    Scale: the window partitions by ``group_col`` (shard/source), never
    globally — each group's prefix sum is independent, so packing 100 TB
    is one shuffle on the group key. Choose group granularity so a
    group's docs fit one task (re-shard upstream if a source is huge).
    """
    from pyspark.sql import Window

    n_tok = F.size(tokens(F.col(text_col)))
    w = Window.partitionBy(group_col).orderBy("doc_id")
    staged = df.select(
        "doc_id", F.col(group_col), n_tok.alias("n_tokens")
    )
    cum_excl = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return staged.withColumn(
        "bin_idx", F.floor(cum_excl / F.lit(capacity)).cast("int")
    )


def heavy_hitters(
    df: DataFrame,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Corpus heavy hitters: every token whose total frequency exceeds
    N/k tokens, via the two-phase Misra-Gries pattern — per-partition
    candidate summaries (capacity k keeps only tokens that COULD exceed
    N/k), then an exact recount restricted to surviving candidates.

    Misra-Gries guarantees no false negatives: a token with global count
    > N/k survives at least one partition summary, so the exact second
    pass over candidates only is EQUAL to the full count-filter — which
    is exactly what the DuckDB oracle computes. What the pattern buys at
    scale: the shuffle carries ≤ k rows per partition instead of the
    full long-tail vocabulary (100 TB of web text has billions of
    distinct tokens; the candidate set is bounded by partitions × k).

    The local summaries run in one `applyInPandas`-free pass: Spark's
    partial aggregation already combines map-side, so here the
    candidate phase is expressed as a per-partition groupBy via
    `spark_partition_id()` — keeping everything JVM-side — and the
    decrement step of Misra-Gries is replaced by a local-threshold
    filter (count_local > N_local/k), which has the same no-false-
    negative guarantee by the pigeonhole argument.

    Output: (token, cnt BIGINT, share DOUBLE = cnt/N, one bigint
    division — bit-exact).
    """
    toks = df.select(
        F.explode(tokens(F.col(text_col))).alias("token"),
        F.spark_partition_id().alias("pid"),
    )
    # The returned plan reads toks three times (local counts, partition
    # sizes, exact recount) — a run-scoped snapshot, released at
    # session teardown (it must outlive this call).
    from pyspark_recs.workloads.common import snapshot_plan

    toks = snapshot_plan(toks)
    total = toks.count()  # N: one job over the snapshot blocks
    # Phase 1: per-partition counts and local threshold. A token with
    # global count > N/k must exceed N_p/k in ≥1 partition p (else
    # summing the per-partition bounds gives ≤ Σ N_p/k = N/k).
    local = toks.groupBy("pid", "token").agg(F.count("*").alias("c_loc"))
    part_sizes = toks.groupBy("pid").agg(F.count("*").alias("n_loc"))
    candidates = (
        local.join(part_sizes, "pid")
        .filter(F.col("c_loc") * k > F.col("n_loc"))
        .select("token")
        .distinct()
    )
    # Phase 2: exact recount of candidates only (left_semi prunes the
    # tail before the global shuffle).
    exact = (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * k > F.lit(total))
    )
    out = exact.select(
        "token",
        "cnt",
        (F.col("cnt").cast("double") / F.lit(float(total))).alias("share"),
    )
    return out


def rare_token_score(
    df: DataFrame,
    text_col: str = "text",
    ppm_threshold: int = 2000,
) -> DataFrame:
    """Per-document rare-token quality signal: the mean corpus frequency
    of a document's tokens (KenLM-style unigram scoring with the log
    dropped so arithmetic stays exact). Documents whose tokens are
    mostly corpus-rare (OCR noise, mojibake, codes) score low and get
    flagged.

    Arithmetic is integer until the final division: per-token corpus
    counts (bigint) are summed per doc (bigint), then divided by
    n_tokens × corpus_total once — parts-per-million as DOUBLE, the
    same IEEE-754 division DuckDB performs, so the oracle matches
    bit-exactly (no transcendentals, see module docstring).

    Scale: the token→count join is against the unigram table, which is
    heavy-hitter-dominated but long-tailed; at 100 TB broadcast the
    top-M vocabulary and hash-join the tail, or pre-aggregate doc-level
    token multisets before joining. Here the unigram table is small and
    broadcast. Two shuffles total (unigram agg, per-doc re-agg).
    """
    toks = df.select("doc_id", F.explode(tokens(F.col(text_col))).alias("token"))
    # Consumed twice (unigram agg + scoring join) — snapshotted, as in
    # heavy_hitters above.
    from pyspark_recs.workloads.common import snapshot_plan

    toks = snapshot_plan(toks)
    unigrams = toks.groupBy("token").agg(F.count("*").alias("tok_cnt"))
    total = toks.count()
    scored = (
        toks.join(F.broadcast(unigrams), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("tok_cnt").alias("sum_cnt"),
        )
    )
    # mean frequency in parts-per-million: 1e6 * sum_cnt / (n_tokens*N)
    ppm = (F.col("sum_cnt") * F.lit(1000000)).cast("double") / (
        F.col("n_tokens") * F.lit(total)
    ).cast("double")
    return scored.select(
        "doc_id",
        "n_tokens",
        "sum_cnt",
        ppm.alias("mean_freq_ppm"),
        (ppm < F.lit(float(ppm_threshold))).alias("flag_rare"),
    )


def bpe_pair_counts(
    df: DataFrame,
    top_n: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Adjacent-token pair frequencies — the statistic behind one BPE /
    WordPiece merge step (the most frequent pair is the next merge).
    Returns the top ``top_n`` pairs with a total-order tiebreak
    (count desc, pair asc), so the boundary is deterministic and
    oracle-comparable.

    Scale: pair generation is a pure projection (transform over the
    token array — no self-join); counting is one combiner-friendly
    shuffle on the pair; the bounded head plans TakeOrderedAndProject
    (per-partition top-n, then a single merge of n-row heaps — never a
    global sort). This is the per-iteration inner loop of a distributed
    BPE trainer; iterate by re-tokenizing with the merged vocab.
    """
    pairs = F.expr(
        "transform(sequence(0, size(words) - 2), "
        "i -> concat(words[i], ' ', words[i + 1]))"
    )
    return (
        with_tokens(df, text_col)
        .filter(F.size("words") >= 2)
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(top_n)
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """MOSS winnowing (the windowed generalization of
    char_fingerprints' whole-document min): hash every character k-gram
    (Horner fold, no substrings), then take the minimum of each sliding
    window of ``w`` consecutive k-gram hashes; the DISTINCT window
    minima are the document's fingerprint set. Winnowing guarantees any
    shared substring of length ≥ k + w - 1 contributes at least one
    SHARED fingerprint — the locality property whole-doc minima lack —
    which is what makes fingerprint-set overlap a plagiarism/dup signal.

    Output: (doc_id, n_fingerprints, min_fp, max_fp) — the set profile,
    scalar-shaped for the oracle harness; the full set explodes to a
    posting table in the pair-detection pipeline.

    Scale: pure projection (no shuffle), O(chars·w) integer ops per
    doc. The downstream pair step is the LSH-banding shape: explode
    fingerprints, bucket-join — never all-pairs.
    """
    from pyspark_recs.llmops.hashing import MINHASH_PRIME, SHINGLE_BASE

    from pyspark_recs.io.loaders import spread_partitions

    text = F.col(text_col)
    codes = F.transform(F.split(text, ""), lambda c: F.ascii(c).cast("long"))
    staged = spread_partitions(
        df.filter(F.length(text) >= k + w - 1)
    ).select("doc_id", codes.alias("codes"))
    m = F.size(F.col("codes")) - (k - 1)
    acc = F.slice(F.col("codes"), 1, m)
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(F.col("codes"), 1 + j, m),
            lambda a, b: (a * F.lit(SHINGLE_BASE) + b) % MINHASH_PRIME,
        )
    hashed = staged.select("doc_id", acc.alias("kh"))
    n_win = F.size(F.col("kh")) - (w - 1)
    wins = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.array_min(F.slice(F.col("kh"), i, w)),
    )
    fps = F.array_distinct(wins)
    return hashed.select(
        "doc_id",
        F.size(fps).alias("n_fingerprints"),
        F.array_min(fps).alias("min_fp"),
        F.array_max(fps).alias("max_fp"),
    )


def bpe_train_merges(
    df: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Distributed BPE TOKENIZER TRAINING — the iterative loop whose
    single-step statistic ``bpe_pair_counts`` (l39) exposes: start from
    character-level word forms, and for each of ``n_merges`` rounds
    (1) count adjacent symbol pairs over the corpus vocabulary weighted
    by word frequency (one map-side-combined shuffle of pair keys),
    (2) pick the most frequent pair (count desc, pair asc — a total
    order, so training is deterministic), (3) apply the merge to every
    word form. Returns the learned merge table:
    (round, pair, merged, pair_count) — the artifact a tokenizer ships.

    Merge application is a delimiter-safe string replace: symbols are
    separated by TWO spaces and the form is padded with one space each
    side, so the pattern ``' a  b '`` consumes one space from each
    flank and the replacement ``' ab '`` restores them — consecutive
    occurrences (``a b a b``) merge in the same pass and a symbol
    ending in ``a`` can never false-match. Both engines' ``replace``
    are literal, non-overlapping, left-to-right, so the fold is
    engine-agreed by construction (the oracle replays it with the
    identical expressions, best pair via scalar subquery).

    Scale: after the first aggregation everything operates on the
    VOCABULARY (word, freq) table — corpus size only matters for the
    initial word count. Per round: one pair-count shuffle (keys =
    distinct pairs), one single-row argmax to the driver (the scalar
    fit statistic, like any fit-transform stat), one projection. The
    vocabulary is cached once; at a 10^8-type vocabulary, swap the
    driver argmax for ``F.max_by`` into a 1-row DataFrame and keep the
    loop fully lazy.
    """
    from pyspark_recs.workloads.common import held

    wf = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.expr(
                "array_join(transform(sequence(1, length(w)),"
                " i -> substring(w, i, 1)), '  ')"
            ).alias("form"),
            "freq",
        )
    )
    spark = df.sparkSession
    out_rows = []
    with held(wf) as (forms,):
        for rnd in range(1, n_merges + 1):
            syms = F.split(F.col("form"), "  ")
            pair_arr = F.when(
                F.size(syms) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.concat(
                        F.element_at(syms, i),
                        F.lit(" "),
                        F.element_at(syms, i + 1),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
            best = (
                forms.select(F.explode(pair_arr).alias("pair"), "freq")
                .groupBy("pair")
                .agg(F.sum("freq").alias("c"))
                .orderBy(F.desc("c"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not best:
                break
            pair, count = best[0].pair, int(best[0].c)
            a, b = pair.split(" ")
            out_rows.append((rnd, pair, a + b, count))
            # Learned symbols go in as Column LITERALS, never interpolated
            # into SQL text — a corpus token containing a quote or backslash
            # (don't, C:\x) must not be able to break or re-shape the
            # generated expression.
            pattern, repl = F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            forms = forms.select(
                F.btrim(
                    F.replace(
                        F.concat(F.lit(" "), F.col("form"), F.lit(" ")),
                        pattern,
                        repl,
                    ),
                    F.lit(" "),
                ).alias("form"),
                "freq",
            )
    return spark.createDataFrame(
        out_rows, "merge_round int, pair string, merged string, pair_count bigint"
    )


def bpe_train_oracle_sql(n_merges: int = 3, toks_cte: str = "") -> str:
    """DuckDB twin of :func:`bpe_train_merges` over the ``documents``
    view: the merge loop unrolled as CTE rounds, the best pair chosen
    by the identical (count desc, pair asc) rule via window, and the
    merge applied with the same delimiter-safe replace."""
    parts = [
        f"""wf AS (
  SELECT array_to_string(list_transform(range(1, length(w) + 1),
             i -> substring(w, i, 1)), '  ') AS form,
         CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest(words) AS w FROM toks) GROUP BY w)"""
    ]
    prev = "wf"
    selects = []
    for r in range(1, n_merges + 1):
        parts.append(
            f"""p{r} AS (
  SELECT unnest(list_transform(range(1, len(s)),
             i -> s[i] || ' ' || s[i + 1])) AS pair, freq
  FROM (SELECT string_split(form, '  ') AS s, freq FROM {prev})),
best{r} AS (
  SELECT pair, c FROM (
    SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM p{r} GROUP BY pair)
  ORDER BY c DESC, pair LIMIT 1),
f{r} AS (
  SELECT trim(replace(' ' || form || ' ',
             ' ' || replace(b.pair, ' ', '  ') || ' ',
             ' ' || replace(b.pair, ' ', '') || ' '), ' ') AS form, freq
  FROM {prev}, best{r} b)"""
        )
        selects.append(
            f"SELECT {r} AS merge_round, pair, replace(pair, ' ', '') AS merged,"
            f" c AS pair_count FROM best{r}"
        )
        prev = f"f{r}"
    return (
        "WITH toks AS (" + toks_cte + "),\n"
        + ",\n".join(parts)
        + "\n"
        + "\nUNION ALL\n".join(selects)
    )


def bpe_apply_counts(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned BPE merge table (``bpe_train_merges`` output
    rows, in order) to every document and report the compression it
    buys: per doc, the character-symbol count before any merge and the
    symbol count after the chained merges, plus the saving in exact
    ppm — the tokenizer-efficiency statistic that decides whether a
    merge table is worth shipping.

    The per-word fold is the EXACT transform the trainer applied to
    its vocabulary forms (pad → literal replace → trim per round, on
    the double-space symbol encoding), expressed as one nested
    JVM-side expression over the token array — pure projection, no
    shuffle, no Python. Merge symbols enter as Column LITERALS (same
    escaping-proof rule as the trainer): a learned pair containing a
    quote or backslash must not break the expression.
    """

    def _bpe_form(w):
        form = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length(w)),
                lambda i: F.substring(w, i, F.lit(1)),
            ),
            "  ",
        )
        for row in merges:
            a, b = row.pair.split(" ")
            form = F.btrim(
                F.replace(
                    F.concat(F.lit(" "), form, F.lit(" ")),
                    F.lit(f" {a}  {b} "),
                    F.lit(f" {a}{b} "),
                ),
                F.lit(" "),
            )
        return form

    per_word = lambda w: F.struct(  # noqa: E731
        F.length(w).cast("long").alias("nc"),
        F.size(F.split(_bpe_form(w), "  ")).cast("long").alias("ns"),
    )
    counts = F.aggregate(
        F.transform(F.col("tokens_arr"), per_word),
        F.struct(
            F.lit(0).cast("long").alias("nc"),
            F.lit(0).cast("long").alias("ns"),
        ),
        lambda acc, x: F.struct(
            (acc["nc"] + x["nc"]).alias("nc"),
            (acc["ns"] + x["ns"]).alias("ns"),
        ),
    )
    toks = df.select(
        "doc_id", tokens(F.col(text_col)).alias("tokens_arr")
    ).filter(F.size("tokens_arr") > 0)
    return (
        toks.select("doc_id", counts.alias("c"))
        .select(
            "doc_id",
            F.col("c.nc").alias("n_char_symbols"),
            F.col("c.ns").alias("n_bpe_symbols"),
        )
        .withColumn(
            "saved_ppm",
            F.expr(
                "CAST((1000000 * (n_char_symbols - n_bpe_symbols))"
                " div n_char_symbols AS BIGINT)"
            ),
        )
    )


def bpe_apply_oracle_sql(n_merges: int = 3, toks_cte: str = "") -> str:
    """DuckDB twin of :func:`bpe_apply_counts` with the merge table
    re-derived in-query (the ``bpe_train_oracle_sql`` CTE chain) and
    the same pad → replace → trim fold chained per word."""
    train = bpe_train_oracle_sql(n_merges=n_merges, toks_cte=toks_cte)
    # reuse the training CTEs; cut the final merge-table SELECT off
    ctes = train[: train.rindex("\nSELECT 1 AS merge_round")]
    form = (
        "array_to_string(list_transform(range(1, length(w) + 1),"
        " i -> substring(w, i, 1)), '  ')"
    )
    for r in range(1, n_merges + 1):
        form = (
            f"trim(replace(' ' || {form} || ' ',"
            f" ' ' || replace(b{r}.pair, ' ', '  ') || ' ',"
            f" ' ' || replace(b{r}.pair, ' ', '') || ' '), ' ')"
        )
    froms = ", ".join(f"best{r} b{r}" for r in range(1, n_merges + 1))
    return f"""{ctes},
docw AS (
  SELECT doc_id, unnest(words) AS w FROM toks WHERE len(words) >= 1),
applied AS (
  SELECT doc_id, CAST(length(w) AS BIGINT) AS nc,
         CAST(len(string_split({form}, '  ')) AS BIGINT) AS ns
  FROM docw, {froms})
SELECT doc_id,
       CAST(sum(nc) AS BIGINT) AS n_char_symbols,
       CAST(sum(ns) AS BIGINT) AS n_bpe_symbols,
       CAST((1000000 * (sum(nc) - sum(ns))) // sum(nc) AS BIGINT)
         AS saved_ppm
FROM applied GROUP BY doc_id
"""


def bigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    ppm_threshold: int = 34000,
) -> DataFrame:
    """Per-document bigram-LM fluency score — the CCNet/KenLM quality
    filter (reference's data-quality gate family) with the log dropped
    so arithmetic stays exact: fit corpus bigram conditionals
    p(w2 | w1) = c(w1 w2) / c(w1 ·), then score each document by the
    mean conditional probability of its bigrams. Fluent documents reuse
    corpus-frequent transitions and score high; shuffled/garbled text
    hits rare transitions and gets flagged. The bigram lift of
    :func:`rare_token_score` (which this deliberately complements:
    unigram frequency can't see word ORDER, conditionals can).

    Arithmetic is integer until the final division: each distinct
    bigram's conditional is the exact bigint division
    ``(c12 * 1_000_000) div c1`` (DuckDB ``//``), per-doc sums are
    bigint, and the mean is one final double division — bit-portable,
    no transcendentals (module docstring).

    Scale: the model is built from a doc-level bigram multiset
    (``doc_id, bigram, cnt``), so the scoring join probes with at most
    one row per distinct bigram per doc, not one per token. Three
    combiner-friendly shuffles (bigram agg, context agg, doc re-agg);
    the bigram→conditional join is broadcast here (test-scale vocab) —
    at 100 TB the model table is vocab²-bounded, heavy-hitter
    dominated: broadcast the top-M bigrams and shuffle-hash-join the
    tail, exactly the rare_token_score vocabulary split.
    """
    pairs = F.expr(
        "transform(sequence(0, size(words) - 2), "
        "i -> concat(words[i], ' ', words[i + 1]))"
    )
    dbc = (
        with_tokens(df, text_col)
        .filter(F.size("words") >= 2)
        .select("doc_id", F.explode(pairs).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # fit + score read it once each — snapshotted
    from pyspark_recs.workloads.common import snapshot_plan

    dbc = snapshot_plan(dbc)
    big = (
        dbc.groupBy("bigram")
        .agg(F.sum("cnt").alias("c12"))
        .withColumn("w1", F.expr("split(bigram, ' ')[0]"))
    )
    ctx = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    model = big.join(ctx, "w1").select(
        "bigram",
        F.expr("(c12 * CAST(1000000 AS BIGINT)) div c1").alias("q"),
    )
    scored = (
        dbc.join(F.broadcast(model), "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("q") * F.col("cnt")).alias("q_sum"),
        )
    )
    mean_ppm = F.col("q_sum").cast("double") / F.col("n_bigrams").cast(
        "double"
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "q_sum",
        mean_ppm.alias("mean_cond_ppm"),
        (mean_ppm < F.lit(float(ppm_threshold))).alias("flag_disfluent"),
    )


def dsir_importance(
    df: DataFrame,
    target_col: str = "lang",
    target_value: str = "en",
    n_buckets: int = 4096,
    text_col: str = "text",
    ppm_threshold: int = 433_000,
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    hash every token into ``n_buckets`` buckets, fit add-one-smoothed
    bucket counts on the TARGET slice (rows where ``target_col ==
    target_value``) and on the RAW corpus, and score each document by
    the mean per-token target/raw count ratio. Documents distributed
    like the target slice score high — the signal DSIR resamples on.

    The log-likelihood-ratio sum is replaced by a mean of fixed-point
    count ratios so arithmetic stays exact (module docstring): each
    bucket's ratio is the bigint division ``((ct+1) * 1_000_000) div
    (cr+1)`` (DuckDB ``//``), per-doc sums are bigint, one final double
    division. The score is the UNCALIBRATED ratio mean — multiply by
    ``(Nr + B) / (Nt + B) / 1e6`` for the calibrated importance weight;
    ranking and thresholding are invariant to that constant.

    Scale — the whole point of the hashing: the bucket table is
    B-bounded (4096 rows) at ANY corpus size, so the scoring join is a
    guaranteed broadcast; no vocabulary-sized shuffle ever exists. Doc
    multisets pre-aggregate the probe side. At 100 TB this is two
    counting shuffles + one broadcast join — the cheapest trainable
    quality signal in the family.
    """
    from pyspark_recs.llmops.hashing import md5_long

    tb = df.select(
        "doc_id",
        F.col(target_col).alias("_t"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    ).select(
        "doc_id",
        "_t",
        (md5_long(F.col("token")) % n_buckets).alias("bucket"),
    )
    # raw counts, target counts, doc multisets — snapshotted
    from pyspark_recs.workloads.common import snapshot_plan

    tb = snapshot_plan(tb)
    raw = tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        tb.filter(F.col("_t") == target_value)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    model = (
        raw.join(tgt, "bucket", "left")
        .select(
            "bucket",
            F.expr(
                "((coalesce(ct, CAST(0 AS BIGINT)) + 1)"
                " * CAST(1000000 AS BIGINT)) div (cr + 1)"
            ).alias("s"),
        )
    )
    dbc = tb.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    scored = (
        dbc.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("s") * F.col("cnt")).alias("s_sum"),
        )
    )
    mean_ppm = F.col("s_sum").cast("double") / F.col("n_tokens").cast(
        "double"
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "s_sum",
        mean_ppm.alias("mean_ratio_ppm"),
        (mean_ppm >= F.lit(float(ppm_threshold))).alias(
            "flag_target_like"
        ),
    )
