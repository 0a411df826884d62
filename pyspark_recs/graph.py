"""Graph analytics over DataFrame edge lists: triangle counting (the
third graph primitive next to connected components in llmops/dedup.py
and the co-occurrence graph in workloads/recsys.py).

Scale design: triangle enumeration orients every undirected edge once
along a total node order (degree, ties by id), so each triangle is
found exactly once and every out-degree is O(√m); the wedges live
inside a per-edge adjacency-array intersection, never as join rows
(see ``triangle_counts``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Distributed PageRank over a directed edge list, bit-reproducible
    across engines, partitionings and cluster sizes.

    The fourth graph primitive (next to connected components, triangle
    counting and the co-occurrence graph). Each iteration is exactly
    one shuffle: contributions rank(src)/out_deg(src) are aggregated
    per dst (map-side combined), then LEFT-joined back to the node set
    so sinks and sources keep the teleport term (1-d)/N. Dangling-node
    mass is dropped (the standard simplified formulation) — documented
    rather than silently redistributed.

    Determinism: the per-dst contribution sum is the one order-dependent
    double reduction, so it uses the workloads.common fixed-point
    discipline — quantize each contribution to a BIGINT at 10^-scale,
    SUM exactly, divide once. Every other operation (1/N, rank/out_deg,
    the damping affine map) is an identical scalar double expression,
    so iteration t+1 is bit-identical given iteration t is. With
    rank ≤ 1 and scale 12, terms stay < 10^12 and sums < 2^63 up to
    ~9 M in-edges per node per 2^63/10^12; raise/lower scale to taste.

    Scale: edges are snapshotted once and re-scanned per iteration; ranks
    are node-sized. Per iteration: one equi-join edges⋈ranks on src
    (co-partition or broadcast ranks when the node set is small), one
    groupBy(dst) exact sum, one left join nodes⋈sums. The iterations
    stay lazy and fuse into the caller's job — the plan grows linearly
    in ``iterations``, which is fine at the ≤ 3 rounds its callers
    run; a long run would snapshot each round the way
    ``llmops.dedup.connected_components`` does.
    """
    mult = float(10**scale)
    from pyspark_recs.workloads.common import snapshot_plan

    # SNAPSHOT the distinct'd edge list instead of .cache() (r12-opt,
    # guide §3.3): a cache keeps the FULL edge-derivation lineage in
    # every consumer's plan (r57's static plan embedded the fact-join
    # subtree 180+ times → Catalyst re-optimized a huge tree per run),
    # and the first action (nodes.count()) races the two union branches
    # into computing the un-filled cache twice. The eager
    # localCheckpoint materializes the derivation exactly once and
    # truncates lineage, so every consumer — nodes, deg, 3 iterations —
    # plans against a leaf.
    e = snapshot_plan(
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
    )
    nodes = snapshot_plan(
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()  # scalar driver-side; the only collect
    inv_n = 1.0 / float(n)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    ranks = nodes.select("node", F.lit(inv_n).alias("rank"))
    teleport = (1.0 - damping) * inv_n
    for _ in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    (F.col("rank") / F.col("out_deg")) * F.lit(mult)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("q"),
            )
            .groupBy("node")
            .agg(F.sum("q").alias("s"))
        )
        ranks = nodes.join(contrib, "node", "left_outer").select(
            "node",
            (
                F.lit(teleport)
                + F.lit(damping)
                * (
                    F.coalesce(F.col("s"), F.lit(0)).cast("double")
                    / F.lit(mult)
                )
            ).alias("rank"),
        )
    return ranks


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 12,
    src: str = "src",
    dst: str = "dst",
    pre_normalized: bool = False,
) -> DataFrame:
    """Personalized PageRank: the random walk restarts into the SEED
    set instead of uniformly — the classic graph recommender (Pixie /
    item-rank style): seed with one user's nodes on the user–item
    bipartite graph and the stationary mass over item nodes IS the
    recommendation score. Same fixed-point bit-reproducibility
    discipline as :func:`pagerank`; the teleport term is
    (1-d)/|S| on seed nodes and 0 elsewhere, rank_0 is the seed
    distribution, so unreached nodes stay exactly 0.0 and the frontier
    grows hop by hop (3 iterations = 3-hop neighborhood — sparse
    output, not node-count output).

    ``seeds`` is a one-column (node) DataFrame. Scale notes match
    pagerank; additionally the per-iteration join only carries nodes
    with non-zero rank, so early iterations touch the seed
    neighborhood, not the graph.

    ``pre_normalized``: the caller PROMISES ``edges`` is already
    self-loop-free, distinct and cheap to re-read (a snapshot or a
    projection of one) — the normalize+snapshot here is skipped. Use
    it when the caller can normalize more cheaply than this generic
    pass (rs16: distinct + snapshot HALF the bipartite edge list, then
    mirror the materialized half — the union's two fact-join branches
    and a double-width distinct never run, r13-opt, guide §1.2/§2.3).
    A caller that breaks the promise double-counts contributions
    (duplicate edges) — the oracle catches it, but nothing here does.
    """
    mult = float(10**scale)
    from pyspark_recs.workloads.common import snapshot_plan

    # SNAPSHOT the distinct'd edge list (r12-opt, guide §3.3): building
    # e_deg below consumes e TWICE (the degree aggregate and the join
    # side), and rs16's e derives from a union of two fact-join
    # branches — un-materialized, the lineitem⋈orders join executed
    # 4× per run. The eager localCheckpoint runs the derivation once;
    # deg and the join both read the materialized pairs.
    if pre_normalized:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    else:
        e = snapshot_plan(
            edges.filter(F.col(src) != F.col(dst))
            .select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct()
        )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # Pre-join out-degrees ONCE and snapshot: the iteration then needs a
    # single join per hop, and broadcasting the frontier (bounded by
    # the seed neighborhood, not the graph) keeps the big edge side
    # unshuffled — without the hint Spark's unknown-size estimate for
    # the chained frontier plan falls back to a sort-merge join that
    # re-shuffles all edges every iteration (measured 3.4 s → 2.3 s at
    # sf0.1; the residual is the one-time distinct over the raw
    # user-item pairs). For frontiers past the broadcast budget (huge seed sets,
    # many hops on a connected graph), drop the hint and pre-bucket the
    # edge table on src instead.
    # Both snapshots feed every hop of the returned lazy plan.
    e_deg = snapshot_plan(e.join(deg, "src"))
    s = snapshot_plan(
        seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    )
    n_seeds = s.count()
    inv_s = 1.0 / float(n_seeds)
    teleport_val = (1.0 - damping) * inv_s
    ranks = s.select("node", F.lit(inv_s).alias("rank"))
    for _ in range(iterations):
        contrib = (
            e_deg.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    (F.col("rank") / F.col("out_deg")) * F.lit(mult)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("q"),
            )
            .groupBy("node")
            .agg(F.sum("q").alias("s"))
        )
        # frontier = reached nodes ∪ seeds (teleport keeps seeds alive)
        ranks = (
            contrib.join(
                s.withColumn("_seed", F.lit(1)), "node", "full_outer"
            )
            .select(
                "node",
                (
                    F.when(
                        F.col("_seed").isNotNull(), F.lit(teleport_val)
                    ).otherwise(F.lit(0.0))
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("s"), F.lit(0)).cast("double")
                        / F.lit(mult)
                    )
                ).alias("rank"),
            )
        )
    return ranks


def personalized_pagerank_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 12,
) -> str:
    """DuckDB twin of :func:`personalized_pagerank` (unrolled CTEs,
    identical fixed-point sums). ``seeds_cte`` must select a single
    ``node`` column, distinct."""
    mult = float(10**scale)
    tp = f"({1.0 - damping!r} * (1.0 / ns.n))"
    parts = [
        f"WITH edges AS ({edges_cte})",
        f"seeds AS ({seeds_cte})",
        "ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds)",
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg"
        " FROM edges GROUP BY src)",
        "r0 AS (SELECT node, 1.0 / ns.n AS rank FROM seeds, ns)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"sum(CAST(floor((r.rank / d.out_deg) * {mult!r} + 0.5)"
            f" AS BIGINT)) AS s "
            f"FROM edges e JOIN r{i - 1} r ON e.src = r.node "
            f"JOIN deg d ON e.src = d.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT coalesce(c{i}.node, seeds.node) AS node, "
            f"(CASE WHEN seeds.node IS NOT NULL THEN {tp} ELSE 0.0 END)"
            f" + {damping!r} * (CAST(coalesce(c{i}.s, 0) AS DOUBLE)"
            f" / {mult!r}) AS rank "
            f"FROM c{i} FULL OUTER JOIN seeds ON c{i}.node = seeds.node, ns)"
        )
    return ",\n".join(parts) + f"\nSELECT node, rank FROM r{iterations}"


def pagerank_oracle_sql(
    edges_cte: str,
    iterations: int = 3,
    damping: float = 0.85,
    scale: int = 12,
) -> str:
    """DuckDB twin of :func:`pagerank` — the iteration unrolled as CTEs
    with the identical fixed-point contribution sums. ``edges_cte`` must
    select distinct (src, dst) with src <> dst."""
    mult = float(10**scale)
    teleport = f"({1.0 - damping!r} * (1.0 / nn.n))"
    parts = [
        f"WITH edges AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg"
        " FROM edges GROUP BY src)",
        "r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"sum(CAST(floor((r.rank / d.out_deg) * {mult!r} + 0.5)"
            f" AS BIGINT)) AS s "
            f"FROM edges e JOIN r{i - 1} r ON e.src = r.node "
            f"JOIN deg d ON e.src = d.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT n.node, {teleport} + {damping!r} * "
            f"(CAST(coalesce(c{i}.s, 0) AS DOUBLE) / {mult!r}) AS rank "
            f"FROM nodes n LEFT JOIN c{i} ON n.node = c{i}.node, nn)"
        )
    return (
        ",\n".join(parts) + f"\nSELECT node, rank FROM r{iterations}"
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    broadcast_adjacency: bool = True,
    node_order: DataFrame | None = None,
) -> DataFrame:
    """Per-node triangle participation counts via the edge-iterator
    (adjacency-intersection) algorithm.

    Edges are oriented low→high along a TOTAL order on nodes, so each
    triangle {x,y,z} is found exactly once: as an edge (u,v) plus a
    common OUT-neighbor w of u and v. Per-node sorted out-adjacency
    arrays are built once; each edge intersects its two endpoint
    arrays JVM-side (`array_intersect`). The per-node RESULT is
    identical under ANY total order (each triangle is detected exactly
    once via its two lowest corners and credits each corner exactly
    once); the order only steers the WORK bound — ordering by degree
    (ties by id) bounds every out-degree by O(√m), capping the wedge
    work at Σ_e (d⁺(u)+d⁺(v)) = O(m^1.5). The wedge stream (measured
    41× the edge count on the sf0.1 co-purchase graph: 49 M wedges
    from 1.2 M edges) is never materialized as join rows; it lives
    inside a codegen'd array intersection. This rewrite took rs11 from
    7.6 s to ~2 s at sf0.1.

    ``node_order``: optional (node, w) weight table defining the
    orientation order (w asc, ties by node id) — it must cover every
    non-self-loop endpoint. Callers that can compute a degree-like
    weight CHEAPER than a full edge-distinct pass (rs11: item
    frequency straight off the fact scan, one map-side-combined
    aggregation) pass it here; the default derives multigraph degree
    from the edge stream itself (equal to simple degree up to
    duplicate edges — just as valid an orientation, see above).

    One fused aggregation replaces the old distinct + adjacency-build
    pair (guide §1.2 "don't compute things you throw away", §3.3):
    ``collect_set`` per oriented source DEDUPES duplicate edges while
    building the adjacency arrays, so the canonical edge list is never
    materialized separately — the probe stream is the adjacency table
    re-exploded (carrying its own ``nu`` for free), and only the
    ``nv`` lookup needs a join. The adjacency table is SNAPSHOT once
    per run (eager localCheckpoint, teardown-registered, invisible to
    the CacheManager so every run honestly recomputes — the round-13
    fix for rs11's cache-accounting bench number, VERDICT r12 #1).

    Corner attribution without a second pass: endpoints u and v each
    credit |intersection| per edge; third corners come from exploding
    the intersection (one row per triangle). Integer-exact, no
    windows, no collects.

    ``broadcast_adjacency`` ships the adjacency map to every task
    (Σ out-degrees = m longs ≈ 1 GB at 10⁸ edges). Past the broadcast
    budget, disable it: the nv lookup becomes a shuffle join keyed on
    v — still edge-sized rows, never wedge-sized.
    """
    from pyspark_recs.workloads.common import snapshot_plan

    pairs = edges.filter(F.col(src) != F.col(dst)).select(
        F.least(F.col(src), F.col(dst)).alias("lo"),
        F.greatest(F.col(src), F.col(dst)).alias("hi"),
    )
    if node_order is None:
        node_order = (
            pairs.select(F.explode(F.array("lo", "hi")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("w"))
        )
    # ONE broadcast consulted twice: two alias-projected broadcasts
    # (node AS lo / node AS hi) are not `sameResult` and each rebuilt
    # the weight aggregate (rs11: an extra fact scan per endpoint);
    # joining the identical frame twice makes the second
    # BroadcastExchange a ReusedExchange by construction.
    bw = F.broadcast(node_order)
    with_w = (
        pairs.join(bw, F.col("lo") == F.col("node"))
        .select("lo", "hi", F.col("w").alias("w_lo"))
        .join(bw, F.col("hi") == F.col("node"))
        .select("lo", "hi", "w_lo", F.col("w").alias("w_hi"))
    )
    lo_first = (F.col("w_lo") < F.col("w_hi")) | (
        (F.col("w_lo") == F.col("w_hi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = with_w.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
    )
    # No sort_array on the adjacency: array_intersect is hash-based
    # (order-insensitive), intersection SIZE and the per-node credit
    # sums are set-determined, so the final counts are identical for
    # any element order — the sort was pure cost (~0.3 s at sf0.1,
    # A/B'd; oracle-confirmed invariant).
    adj = snapshot_plan(
        oriented.groupBy("u").agg(F.collect_set("v").alias("nu"))
    )
    nv_side = adj.select(F.col("u").alias("v"), F.col("nu").alias("nv"))
    if broadcast_adjacency:
        nv_side = F.broadcast(nv_side)
    with_adj = (
        adj.select("u", "nu", F.explode("nu").alias("v"))
        .join(nv_side, "v")
        .select("u", "v", F.array_intersect("nu", "nv").alias("common"))
        .filter(F.size("common") > 0)
    )
    # ONE explode emits all three corners' credits (u and v get
    # |common| each, every w in the intersection gets 1), so the
    # intersection subtree is evaluated once — a union of two readers
    # would re-derive the whole upstream (Spark has no DataFrame CSE).
    n = F.size("common").cast("long")
    credits = with_adj.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("u").alias("node"), n.alias("n")),
                    F.struct(F.col("v").alias("node"), n.alias("n")),
                ),
                F.transform(
                    F.col("common"),
                    lambda w: F.struct(
                        w.alias("node"), F.lit(1).cast("long").alias("n")
                    ),
                ),
            )
        ).alias("c")
    ).select("c.node", "c.n")
    return credits.groupBy("node").agg(F.sum("n").alias("n_triangles"))


def khop_min_distance(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-depth BFS over a directed edge list: minimum hop count
    from any seed node, for every node reachable within ``max_hops``
    (the fifth graph primitive — single-source/multi-source shortest
    path next to components, triangles and the PageRank pair).

    Algorithm: classic frontier iteration. ``visited`` holds
    (node, distance) for everything reached so far; each hop expands
    the CURRENT frontier only (never the whole visited set), dedups
    the successor list, then anti-joins visited so a node keeps its
    FIRST (= minimum) distance. Hop h is two shuffles: the
    frontier⋈edges equi-join on src (broadcast the frontier when it is
    small — here it is nation-sized, so Spark's AQE does) and the
    distinct. Each hop's ``visited`` is a ``snapshot_plan`` and the
    superseded one is released once the new one has materialized, so
    lineage stays O(1) in depth (the l21 connected-components
    discipline); an empty frontier ends the loop, so a converged BFS
    stops issuing jobs.

    Exactness: distances are integer hop counts; no floats anywhere.
    ``seeds``' FIRST column is the seed node id (any name).

    Scale: state is node-sized, never edge-sized; expansion work per
    hop is |frontier ⋈ edges| before an immediate dedup. For
    billion-edge graphs co-partition edges on src once (bucketing) so
    every hop's probe is shuffle-free on the edge side.
    """
    # Snapshot (not cache) the pruned edge list: every hop references
    # it, and a cache would re-embed the full backbone-derivation
    # lineage in each hop's plan (see pagerank's note; r12-opt).
    from pyspark_recs.workloads.common import release_snapshot, snapshot_plan

    e = snapshot_plan(
        edges.filter(F.col(src) != F.col(dst))
        .select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
    )
    visited = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("distance"))
    )
    for h in range(1, max_hops + 1):
        frontier = visited.filter(F.col("distance") == h - 1)
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(h).cast("long").alias("distance"))
        )
        grown = snapshot_plan(visited.unionAll(nxt))
        release_snapshot(visited)
        visited = grown
        if visited.filter(F.col("distance") == h).isEmpty():
            break  # converged: the next frontier is empty
    return visited
