"""100x spill validation (SCALING.md §100x): replicate the sf0.1 fact
tables 100x (lineitem ≈ 60 M rows), run the headline join/agg queries
under the standard 8 GiB driver heap, and verify the two promises the
engine makes at scale:

1. **Spill, don't die** — with 60 M-row shuffles on a bounded heap the
   shuffle/aggregate/sort paths must engage their external (spilling)
   implementations and complete. Spill volumes are read from the Spark
   event log (TaskEnd metrics: memory/disk bytes spilled, shuffle
   bytes written, peak execution memory), attributed per query via job
   groups.
2. **Bit-identical results under re-partitioning** — every query is
   executed at two different ``spark.sql.shuffle.partitions`` settings
   (32 and 13) and the full-row checksum
   (``pyspark_recs.measure.run_query``) must match exactly:
   the fixed-point aggregate design means partitioning, AQE decisions
   and spill behavior can never change a result.

Usage: python tools/scale100.py [--rebuild] [--markdown]
Scratch dir: $SPARK_GRAFT_SCALE100_DIR (default /tmp/spark_graft_scale100).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC_SF = "/root/testdata/sf0.1"
REPLICAS = 100
KEY_SHIFT = 10_000_000  # > max o_orderkey at sf0.1
DOC_SHIFT = 1_000_000  # > max doc_id / vec_id / event_id at sf0.1
USER_SHIFT = 100_000  # > max events.user_id at sf0.1 (1499)

# Join/agg-heavy, fact-table-driven headliners: scan-agg, 3-way join,
# window-per-key, top-k, distribution agg, join-reorder, semi-join,
# fact⋈fact profit, interaction assembly, capped co-occurrence.
QUERIES_100X = [
    "r01_pricing_summary",
    "r10_three_way_join",
    "r11_per_part_avg_price",
    "r14_topk_per_customer",
    "r44_custdist",
    "r54_nation_trade",
    "r77_returned_customers",
    "r86_product_type_profit",
    "rs01_interactions",
    "rs05_item_cooccurrence",
    # llmops heavies (VERDICT r5 task 5): LSH->verify->connected
    # components, pigeonhole Hamming blocks, IVF-PQ search, and
    # positional-gram span excision — the dedup/ANN family that IS the
    # 100 TB north star, now proven spill-safe and partition-invariant
    # like the relational set.
    "l21_dedup_components",
    "l45_hamming_neardup",
    "l58_ivfpq_search",
    "l64_decontaminate_spans",
    # round-9 addition: the basket-counts builder (artifact-routed this
    # round — the 100x run validates the BUILD path, see the artifact
    # isolation note in main()
    "rs15_association_rules",
    # round-9 quality/trainer additions: the bigram-conditional model
    # join (vocabulary-sized build side), arbitrary-offset span dedup
    # (gram-hash shuffle + doc-partitioned island windows), and the
    # fixed-point Lloyd trainer (iterative assign/update loop) — the
    # three new shapes whose partition-invariance isn't implied by an
    # existing entry. l81's 4096-bucket join and the l82/l83 codec
    # seams are bounded by construction (B rows / per-doc payloads).
    "l80_bigram_lm_score",
    "l84_duplicate_text_spans",
    "l85_kmeans_train",
    # round-9 session-3 additions: the Arrow-batched MaxSim pair
    # scorer over the 5 M-vector replicated corpus (the pair stream is
    # the stress: 40 M pairs x 128 floats through the Arrow seam), and
    # the BFS trade-reach whose pair aggregation rides the 60 M-row
    # fact join before the nation-sized frontier loop. l90/rs33/s17
    # are bounded-by-construction shapes already implied by l88/r01/
    # s10 entries.
    "l91_maxsim_retrieval",
    "r89_trade_reach",
    # round-10 additions (VERDICT r9 #4): the three round-9 shapes
    # whose partition-invariance wasn't yet demonstrated under memory
    # pressure — the iterative k-core peel (artifact BUILD path runs
    # under both settings thanks to the per-setting artifact roots),
    # the prefix-sum token-mass sharder, and FastCDC chunking over the
    # 500k salted docs.
    "rs35_kcore_trace",
    "l93_curriculum_shards",
    "l94_cdc_chunks",
    # round-10 committed-plan validation: the partition-offset tercile
    # plan (three ranked_by_range passes over the per-customer
    # aggregate of 60 M facts) and the full ingest→…→serve DAG (the
    # JSON envelope stage IS the fact scan at this scale; the model
    # build runs under both settings via the per-setting artifact
    # roots).
    "rs17_rfm_segments",
    "rs39_e2e_pipeline",
    # round-10 URL-curation family over the 500k-doc salted corpus:
    # the canonicalize-then-group dedup and the domain audit with its
    # distinct-inside-aggregate.
    "l95_url_canonical_dedup",
    "l96_domain_dup_stats",
    # round-11 additions (VERDICT r10 #3): the heaviest per-doc audio
    # projection (256-sample × 3-probe quantized-oscillator fold), the
    # rs34-protocol-lineage config selection, and the llmops flagship
    # corpus DAG (url keep-first → rules → LSH/CC dedup → pack over
    # the 500k salted docs; the canonical-id FIT runs under both
    # partition settings via the per-setting artifact roots).
    "l97_audio_tone_power",
    "rs40_serving_config_selection",
    "l98_corpus_e2e",
    # round-11 crawl-policy pair: the page-head policy gate (pure
    # regexp projection over synthesized heads) and the robots.txt
    # evaluator (host-dim parse broadcast into the URL-decision join +
    # per-doc max-struct aggregate) over the 500k salted docs.
    "l99_policy_gate",
    "l100_robots_gate",
    # round-12 streaming-EXECUTED family (VERDICT r11 missing #2) over
    # the 10 M-row replicated events table: real readStream/
    # checkpoint/state-store machinery under the bounded heap — state
    # bounds measured instead of argued (watermark-horizon × overlap
    # windows for s18, 10 M dedup keys for s19, day keys for s20/s22,
    # one row per user for s21), sinks executor-side, and s22's
    # 8-batch rate-limited replay carrying state across 1.25 M-row
    # micro-batches. The measured session runs the RocksDB state-store
    # provider — the production answer for state that outgrows the
    # heap (the default HDFS-backed provider keeps every loaded
    # provider's map on-heap, which is exactly what an 8 GiB driver
    # can't afford at 10 M dedup keys).
    "s18_streaming_hopping_exec",
    "s19_streaming_dedup_exec",
    "s20_streaming_kv_sink_exec",
    "s21_streaming_sessionize_exec",
    "s22_streaming_multibatch_exec",
    # round-12 session-2: the stream-stream interval join — BOTH
    # sides' state stores hold the 100x-dense per-user buffers and
    # the emitted pair set grows quadratically in density (~3.7 M
    # pairs at 100x) through the executor-side file sink.
    "s23_streaming_stream_join_exec",
]
PARTITION_SETTINGS = (32, 13)

# Per-replica vowel-substitution alphabets for the documents table.
# Replicating TEXT verbatim would make every doc a 100-way exact/near
# duplicate of its replicas — a pathological corpus where LSH buckets
# hold 100-cliques and the verify stage goes quadratic in REPLICAS, a
# shape no real 100x corpus has. translate()-ing the vowels through a
# per-replica consonant key changes nearly every shingle/word hash
# while preserving length, token boundaries and the WITHIN-replica
# duplicate structure — so dedup work scales linearly with volume,
# which is the honest 100x shape.
_CONSONANTS = "bcdfghjklmnpqrstvwxz"


def _vowel_key(rep: int) -> str:
    return "".join(
        _CONSONANTS[(rep * 7 + k * 3) % len(_CONSONANTS)] for k in range(5)
    )


def build_scratch(scale_dir: str) -> None:
    from pyspark.sql import functions as F

    from pyspark_recs.io import load_table
    from pyspark_recs.io.loaders import TABLES
    from pyspark_recs.session import get_spark

    spark = get_spark("scale100-build")
    os.makedirs(scale_dir, exist_ok=True)
    for name in ("lineitem", "orders"):
        df = load_table(spark, SRC_SF, name)
        key = "l_orderkey" if name == "lineitem" else "o_orderkey"
        replicas = df.crossJoin(
            spark.range(REPLICAS).select(F.col("id").alias("_rep"))
        ).withColumn(key, F.col(key) + F.col("_rep") * F.lit(KEY_SHIFT))
        # Repartition the write so the scan side starts from many splits
        # (a 60 M-row table arriving as 2-3 files would serialize scans).
        replicas.drop("_rep").repartition(64).write.mode(
            "overwrite"
        ).parquet(os.path.join(scale_dir, f"{name}.parquet"))
    # documents: shift ids, salt text per replica (see _vowel_key note)
    docs = load_table(spark, SRC_SF, "documents")
    salted = None
    for rep in range(REPLICAS):
        part = docs.select(
            (F.col("doc_id") + F.lit(rep * DOC_SHIFT)).alias("doc_id"),
            F.translate("text", "aeiou", _vowel_key(rep)).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        salted = part if salted is None else salted.unionByName(part)
    salted.repartition(64).write.mode("overwrite").parquet(
        os.path.join(scale_dir, "documents.parquet")
    )

    # events: shift event_id AND user_id per replica — 10 M rows /
    # 150k users for the streaming-executed family. Users grow WITH
    # volume (the growth shape of a real 100x site — the same reason
    # rs11 is excluded above: replicating activity over a FIXED user
    # set densifies per-user interactions quadratically, which blows
    # up any per-user pairing — s23's interval join went from 371 to
    # 3.7 M pairs and 380+ s under that shape). With users shifted:
    # dedup keys scale 100x (s19), per-user state rows scale 100x
    # (s21: 150k state-store entries), window/day state stays
    # horizon-bounded (s18/s20/s22), and per-user join fan-out stays
    # sf0.1-sized so s23's pair set grows linearly (~37k).
    ev = load_table(spark, SRC_SF, "events")
    ev.crossJoin(
        spark.range(REPLICAS).select(F.col("id").alias("_rep"))
    ).withColumn(
        "event_id", F.col("event_id") + F.col("_rep") * F.lit(DOC_SHIFT)
    ).withColumn(
        "user_id", F.col("user_id") + F.col("_rep") * F.lit(USER_SHIFT)
    ).drop("_rep").repartition(64).write.mode("overwrite").parquet(
        os.path.join(scale_dir, "events.parquet")
    )

    # embeddings: shift ids, keep vectors (ANN search is per-query
    # top-k over pruned cells — denser cells are the stress, identical
    # vectors don't blow anything up the way identical text does)
    emb = load_table(spark, SRC_SF, "embeddings")
    emb.crossJoin(
        spark.range(REPLICAS).select(F.col("id").alias("_rep"))
    ).select(
        (F.col("vec_id") + F.col("_rep") * F.lit(DOC_SHIFT)).alias("vec_id"),
        "embedding",
        "label",
    ).repartition(64).write.mode("overwrite").parquet(
        os.path.join(scale_dir, "embeddings.parquet")
    )

    for name in TABLES:
        if name in (
            "lineitem",
            "orders",
            "documents",
            "embeddings",
            "events",
        ):
            continue
        src = os.path.join(SRC_SF, f"{name}.parquet")
        dst = os.path.join(scale_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(src, dst)
    spark.stop()


def parse_event_log(log_dir: str) -> dict:
    """Aggregate TaskEnd metrics per job group from the event log:
    {group: {mem_spill, disk_spill, shuffle_write, peak_exec_mem}}."""
    stage_group: dict[int, str] = {}
    agg: dict[str, dict] = {}
    for fname in os.listdir(log_dir):
        path = os.path.join(log_dir, fname)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id"
                    )
                    if group:
                        for si in ev.get("Stage Infos", []):
                            stage_group[si["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if not group:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    d = agg.setdefault(
                        group,
                        {
                            "mem_spill": 0,
                            "disk_spill": 0,
                            "shuffle_write": 0,
                            "peak_exec_mem": 0,
                        },
                    )
                    d["mem_spill"] += tm.get("Memory Bytes Spilled", 0)
                    d["disk_spill"] += tm.get("Disk Bytes Spilled", 0)
                    d["shuffle_write"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    d["peak_exec_mem"] = max(
                        d["peak_exec_mem"],
                        tm.get("Peak Execution Memory", 0),
                    )
    return agg


def main() -> None:
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE100_DIR", "/tmp/spark_graft_scale100"
    )
    rebuild = "--rebuild" in sys.argv
    if rebuild or not os.path.exists(
        os.path.join(scale_dir, "lineitem.parquet")
    ):
        if "--build-only" in sys.argv:
            build_scratch(scale_dir)
            return
        # Build in a SUBPROCESS so the measured session starts in a
        # fresh JVM: in local mode the build session's JVM is reused by
        # the next SparkSession, and the round-6 run that shared a JVM
        # with the 100x replication write OOM'd on rs01's 60 M-row
        # groupBy where a fresh-JVM run survives with spills.
        import subprocess

        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--rebuild",
             "--build-only"],
            check=True,
            env={**os.environ, "SPARK_GRAFT_SCALE100_DIR": scale_dir},
        )

    log_dir = os.path.join(scale_dir, "eventlog")
    if os.path.isdir(log_dir):
        shutil.rmtree(log_dir)
    os.makedirs(log_dir, exist_ok=True)

    from pyspark.sql import SparkSession

    from pyspark_recs.measure import run_query
    from pyspark_recs.session import apply_runtime_confs
    from pyspark_recs.workloads import QUERIES
    from pyspark_recs.workloads.common import unpersist_shared

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = apply_runtime_confs(
        SparkSession.builder.appName("scale100")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        # plain single-file JSON log so the spill parser below can read
        # it without zstd/rolling handling
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        # RocksDB state store for the streaming-executed rows: the
        # default HDFS-backed provider pins every loaded provider's
        # key map on-heap — s19's 10 M dedup keys across 2 runs x 2
        # partition settings would eat the 8 GiB heap. RocksDB keeps
        # state off-heap/on-disk, the deployment shape any 100 TB
        # streaming job runs with. Semantics (and checksums) are
        # provider-independent, which the invariance check verifies.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .getOrCreate()
    )
    sc = spark.sparkContext

    # artifact_plan (round 9) checkpoints builders to parquet keyed by
    # code+data fingerprint — if both partition settings shared one
    # artifact root, the p=13 run would LOAD what p=32 WROTE and the
    # invariance checksum would compare the artifact against itself.
    # Point each setting at its own scratch root so the BUILDER runs
    # under both partitionings (the claim being validated).
    from pyspark_recs.workloads import common as _common

    def _artifact_root(parts: int) -> str:
        return os.path.join(scale_dir, f"artifacts_p{parts}")

    def run_checksum(name: str, parts: int):
        _common.ARTIFACT_ROOT = _artifact_root(parts)
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        sc.setJobGroup(f"{name}@p{parts}", name)
        t0 = time.perf_counter()
        checksum = run_query(spark, QUERIES[name], scale_dir)
        sec = time.perf_counter() - t0
        sc.setJobGroup("idle", "idle")
        return checksum, round(sec, 2)

    for parts in PARTITION_SETTINGS:
        if os.path.isdir(_artifact_root(parts)):
            shutil.rmtree(_artifact_root(parts))

    # --only q1,q2 reruns a subset (e.g. after an environmental OOM
    # killed one query mid-suite) — merge the rows into the committed
    # table by hand; checksums/spills are per-query, so a partial run
    # is as valid as a full one.
    only = None
    for i, a in enumerate(sys.argv):
        if a == "--only" and i + 1 < len(sys.argv):
            only = set(sys.argv[i + 1].split(","))
    if only is not None:
        unknown = sorted(only - set(QUERIES_100X))
        if unknown:
            # A typo must fail loudly (ADVICE r10): silently skipping
            # the query would let the hand-merged table look complete
            # while the rerun never happened.
            raise SystemExit(
                f"--only names not in QUERIES_100X: {', '.join(unknown)}"
            )
    todo = [q for q in QUERIES_100X if only is None or q in only]

    results: dict[str, dict] = {}
    mismatches = []
    for name in todo:
        c_a, t_a = run_checksum(name, PARTITION_SETTINGS[0])
        # Clear session-shared subplans between the two settings:
        # otherwise the p=13 run would read subplans MATERIALIZED at
        # p=32 (simhash32, gram tables, capped histories) and the
        # invariance claim would be partly vacuous.
        unpersist_shared(spark)
        spark.catalog.clearCache()
        c_b, t_b = run_checksum(name, PARTITION_SETTINGS[1])
        unpersist_shared(spark)
        spark.catalog.clearCache()
        if c_a != c_b:
            mismatches.append(name)
        results[name] = {
            "sec_p32": t_a,
            "sec_p13": t_b,
            "checksum_match": c_a == c_b,
        }

    unpersist_shared(spark)
    spark.stop()  # flush the event log before parsing

    metrics = parse_event_log(log_dir)
    gib = 1024**3
    for name in todo:
        m = metrics.get(f"{name}@p{PARTITION_SETTINGS[0]}", {})
        results[name].update(
            {
                "mem_spill_gib": round(m.get("mem_spill", 0) / gib, 2),
                "disk_spill_gib": round(m.get("disk_spill", 0) / gib, 2),
                "shuffle_write_gib": round(
                    m.get("shuffle_write", 0) / gib, 2
                ),
                "peak_exec_mem_gib": round(
                    m.get("peak_exec_mem", 0) / gib, 2
                ),
            }
        )

    out = {
        "metric": "scale100_validation",
        "replicas": REPLICAS,
        "lineitem_rows": 600_000 * REPLICAS,
        "all_checksums_partition_invariant": not mismatches,
        "checksum_mismatches": mismatches,
        "queries": results,
    }
    print(json.dumps(out))
    if "--markdown" in sys.argv:
        lines = [
            "| query | p=32 (s) | p=13 (s) | checksum match |"
            " mem spill (GiB) | disk spill (GiB) | shuffle write (GiB) |",
            "|---|---|---|---|---|---|---|",
        ]
        for name, r in results.items():
            lines.append(
                f"| {name} | {r['sec_p32']} | {r['sec_p13']} |"
                f" {'yes' if r['checksum_match'] else 'NO'} |"
                f" {r['mem_spill_gib']} | {r['disk_spill_gib']} |"
                f" {r['shuffle_write_gib']} |"
            )
        print("\n".join(lines))


if __name__ == "__main__":
    main()
