"""End-to-end training-corpus preparation flow: the llmops operators
composed as one lazily-built DataFrame program (the LLM-data analog of
pipeline.run_flow's recsys DAG):

    url keep-first (optional) → quality-filter (gopher_rules) →
    near-dup dedup (LSH → verify → connected components →
    canonical-only) → chunk (overlapping token windows) → pack
    (token-budget bins)

Each stage is DataFrame→DataFrame; nothing is collected; the funnel
counts are themselves a DataFrame so the whole flow stays one plan
until an action runs — EXCEPT the connected-components fixpoint, which
is inherently iterative (one snapshot per round). Callers that want a
fully lazy serve path pre-compute the canonical ids once (e.g. through
``workloads.common.artifact_plan`` — dedup clustering is a standing
corpus-index job at 100 TB) and inject them via ``canonical_ids``.

Scale: the stages shuffle on canonical-url / doc_id / LSH band keys /
the pack group key only — never on document text. The URL keep-first
pass runs FIRST because it is the cheapest filter of all (a groupBy on
a canonicalized string that rides the scan); the quality filter is a
pure projection applied next, so every downstream shuffle sees only
surviving documents (cheapest-filter-first, the same reason the
reference's dbt layer dedups before joining — SURVEY §4).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_recs.llmops.dedup import (
    connected_components,
    verified_neardup_edges,
)
from pyspark_recs.llmops.textstats import (
    chunk_documents,
    gopher_rules,
    pack_sequences,
)


@dataclass
class CorpusResult:
    url_kept: DataFrame   # documents surviving URL keep-first (== input
                          # when no url_col was given)
    kept: DataFrame       # documents passing the quality rules
    canonical: DataFrame  # kept, minus near-duplicates (cluster reps)
    chunks: DataFrame     # overlapping token windows of canonical docs
    packed: DataFrame     # canonical docs assigned to token-budget bins
    funnel: DataFrame     # (stage, n_docs) retention counts


def prepare_corpus(
    docs: DataFrame,
    neardup_threshold: float = 0.5,
    chunk: int = 32,
    stride: int = 24,
    pack_capacity: int = 512,
    group_col: str = "source",
    url_col: str | None = None,
    canonical_ids: DataFrame | None = None,
) -> CorpusResult:
    """Run the full corpus-prep flow over a ``documents``-shaped frame
    (doc_id, text, ``group_col``). Returns every stage as a DataFrame.

    ``url_col``: name of a CANONICAL-url column on ``docs`` (produce it
    with :func:`pyspark_recs.llmops.urls.canonicalize_url`); when given,
    a keep-first pass (min doc_id per canonical url — l95's shape) runs
    before the quality rules, the standard first stage of a crawl
    pipeline.

    ``canonical_ids``: optional pre-computed (doc_id) frame of near-dup
    cluster representatives. When given, the expensive LSH → verify →
    connected-components fit is SKIPPED and these ids are trusted — the
    serve path of the train≠serve artifact discipline. When None, the
    fit runs here (iterative, executes eagerly).
    """
    # SNAPSHOT the survivor ID SETS, not the text (r13-opt, guide
    # §3.3): every downstream stage (chunks, packed, the funnel
    # brackets, l98's external counts, l101's BPE source) re-derives
    # its input frame, and without materialization each re-derivation
    # re-ran the URL keep-first aggregate and the tokenizing
    # gopher_rules pass from the raw scan (l98's before-plan: 19
    # document scans, 5 of them full-text). The id sets are
    # doc_id-only (KB–MB at any corpus scale); consumers re-attach
    # text with a cheap semi-join probe of the scan, so text itself
    # never materializes and never shuffles.
    from pyspark_recs.workloads.common import snapshot_plan

    if url_col is not None:
        url_winners = docs.groupBy(url_col).agg(
            F.min("doc_id").alias("doc_id")
        )
        url_kept = docs.join(
            snapshot_plan(url_winners.select("doc_id")),
            "doc_id",
            "left_semi",
        )
    else:
        url_kept = docs

    rules = gopher_rules(url_kept)
    kept = url_kept.join(
        snapshot_plan(rules.filter(F.col("passes")).select("doc_id")),
        "doc_id",
        "left_semi",
    )

    if canonical_ids is None:
        edges = verified_neardup_edges(kept, threshold=neardup_threshold)
        labels = connected_components(edges, kept.select("doc_id"))
        canonical_ids = labels.filter(
            F.col("node") == F.col("label")
        ).select(F.col("node").alias("doc_id"))
    canonical = kept.join(
        canonical_ids.select("doc_id"), "doc_id", "left_semi"
    )

    chunks = chunk_documents(canonical, chunk=chunk, stride=stride)
    packed = pack_sequences(
        canonical, capacity=pack_capacity, group_col=group_col
    )

    def stage_count(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"), F.count(F.lit(1)).alias("n_docs")
        )

    funnel = stage_count("input", docs)
    if url_col is not None:
        funnel = funnel.unionByName(stage_count("url_kept", url_kept))
    funnel = (
        funnel.unionByName(stage_count("quality_kept", kept))
        .unionByName(stage_count("canonical", canonical))
        .unionByName(stage_count("chunks", chunks))
    )
    return CorpusResult(
        url_kept=url_kept,
        kept=kept,
        canonical=canonical,
        chunks=chunks,
        packed=packed,
        funnel=funnel,
    )
