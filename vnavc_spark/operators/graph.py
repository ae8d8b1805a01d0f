"""Graph analytics over aggregated relational data.

Complements ``dedup.dedup_clusters`` (connected components): here the
iterative fixed-point is PageRank over a weighted digraph that is
SMALL BY AGGREGATION (e.g. the event-type transition graph — nodes
are types, not events), while the heavy work — building the edge
list — is a distributed window + aggregation.

Integer-arithmetic power iteration: ranks are carried as scaled
BIGINTs and every step uses integer multiply / integer (``div``)
division, so the result is bit-exact on any engine, partitioning, or
summation order — a float PageRank cannot be hash-certified because
per-node contribution sums are order-dependent. Precision: 1/scale
per iteration of rounding, far below ranking differences for any
graph this is meant for.

Overflow bound: pr ≤ scale and contributions multiply pr·cnt, so the
caller needs scale · max(cnt) < 2^63 — with the default scale 10^6
edge counts up to ~9·10^12 are safe (a 100 TB event log clears it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_integer(
    edges: DataFrame,
    *,
    iters: int = 10,
    scale: int = 1_000_000,
    src: str = "src",
    dst: str = "dst",
    cnt: str = "cnt",
) -> DataFrame:
    """Weighted PageRank (damping 0.85) over an aggregated edge list
    (src, dst, cnt). Returns (node, pr) with pr in units of 1/scale.

    Plan shape: the edge table is tiny by contract (post-aggregation)
    and is persisted once; every iteration broadcasts the current
    rank vector onto it — no shuffle of anything corpus-sized ever
    happens here (that already happened building ``edges``). Nodes
    with no incoming edges keep the teleport term; mass on dangling
    nodes is dropped identically on both engines.
    """
    from vnavc_spark.cache import tracked_persist

    deg = edges.groupBy(src).agg(F.sum(cnt).alias("deg"))
    # tracked: repeated calls in one session would otherwise leak one
    # cached edge table + node list per call (see cache.py)
    e = tracked_persist(edges.join(deg, on=src), "pagerank_edges")
    nodes = tracked_persist(
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst).alias("node")))
        .distinct(),
        "pagerank_nodes",
    )
    ncnt = nodes.agg(F.count("*").alias("n"))
    pr = nodes.crossJoin(F.broadcast(ncnt)).selectExpr(
        "node", f"{scale} div n AS pr"
    )
    for _ in range(iters):
        contrib = e.join(
            F.broadcast(pr), F.col(src) == F.col("node")
        ).select(
            F.col(dst).alias("_d"),
            F.expr(f"(pr * {cnt}) div deg").alias("c"),
        )
        s = contrib.groupBy("_d").agg(F.sum("c").alias("s"))
        pr = (
            nodes.crossJoin(F.broadcast(ncnt))
            .join(s, F.col("node") == F.col("_d"), "left")
            .selectExpr(
                "node",
                f"(15 * {scale}) div (100 * n)"
                " + (85 * coalesce(s, 0)) div 100 AS pr",
            )
        )
    return pr


def _driver_triangle_stats(e: DataFrame) -> DataFrame:
    """Driver-side exact mirror of :func:`triangle_stats` for a
    SMALL (cap-gated, persisted) deduped edge table: same
    (degree, id)-oriented triangle enumeration, same wedge/node/edge
    counts, same floor-rounded clustering double (IEEE tree
    identical to ``stable_round``). Null endpoints mirror the joins
    (a null never matches, so such an edge contributes to nothing
    downstream of the degree join — exactly like the distributed
    inner joins drop it)."""
    import math

    _NULL = object()  # the degree groupBy keeps one null-node group
    rows = [(a, b) for a, b in e.collect()]
    deg: dict = {}
    for a, b in rows:
        ka = _NULL if a is None else a
        kb = _NULL if b is None else b
        deg[ka] = deg.get(ka, 0) + 1
        deg[kb] = deg.get(kb, 0) + 1
    n_nodes = len(deg)
    n_edges = len(rows)
    n_wedges = sum(d * (d - 1) // 2 for d in deg.values())
    # orient each edge from its lower (deg, id) endpoint; count
    # triangles as |N+(u) ∩ N+(v)| over oriented edges (u, v); the
    # distributed degree joins are INNER, so null-endpoint edges
    # never orient
    out: dict = {}
    for a, b in rows:
        if a is None or b is None:
            continue
        if (deg[a], a) < (deg[b], b):
            u, v = a, b
        else:
            u, v = b, a
        out.setdefault(u, set()).add(v)
    n_tri = 0
    for u, nbrs in out.items():
        for v in nbrs:
            vn = out.get(v)
            if vn:
                n_tri += len(nbrs & vn)
    clustering = (
        math.floor(
            3.0 * n_tri / float(n_wedges) * 1000000.0 + 0.5
        )
        / 1000000.0
        if n_wedges > 0
        else 0.0
    )
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("n_nodes", LongType(), True),
            StructField("n_edges", LongType(), True),
            StructField("n_wedges", LongType(), True),
            StructField("n_triangles", LongType(), True),
            StructField("clustering", DoubleType(), True),
        ]
    )
    return e.sparkSession.createDataFrame(
        [(n_nodes, n_edges, n_wedges, n_tri, clustering)], schema
    )


def triangle_stats(
    edges: DataFrame, driver_edge_cap: int | None = None
) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected simple graph given as (a, b) edges with a < b — the
    Suri-Vassilvitskii degree-ordered wedge join (WWW'11): every edge
    is oriented from its lower endpoint in the (degree, id) TOTAL
    order, so each triangle is generated exactly once from its
    minimum vertex and — the scale point — every wedge join fans out
    by ORIENTED degree, which is O(sqrt(m)) even when a raw-degree
    hub would make the naive wedge join quadratic. The result is
    orientation-independent (an exact count), so the oracle can use
    plain id-ordered 3-way joins.

    Returns ONE row: n_nodes, n_edges, n_wedges (raw-degree wedge
    count — the clustering denominator), n_triangles, clustering =
    3·triangles/wedges (one terminal division, rounded at 1e-6).
    """
    from vnavc_spark.cache import tracked_persist
    from vnavc_spark.functions.portable import stable_round

    # defensive dedup: a repeated input edge would inflate every
    # count downstream (edge-table-sized, costs one tiny shuffle).
    # Self-loops (an a == b contract violation) are dropped here so
    # the driver and distributed paths agree on malformed input —
    # the driver orientation loop would count (a, a) as a phantom
    # triangle while the distributed wedge filter never forms the
    # wedge (r13 ADVICE). Null-endpoint edges pass through unchanged
    # (both paths already share null semantics).
    e = tracked_persist(
        edges.select(
            F.col("a").cast("long"), F.col("b").cast("long")
        )
        .filter(
            F.col("a").isNull()
            | F.col("b").isNull()
            | (F.col("a") != F.col("b"))
        )
        .distinct(),
        "tri_edges",
    )
    # size gate (round-13, the dedup_clusters stance): the SV wedge
    # pipeline costs 3 persists + 5 aggregates of driver sync (~2 s
    # measured on q131's 2,859-edge graph) regardless of cluster
    # size; a cap-gated graph counts exactly driver-side. Above the
    # cap the degree-ordered wedge join below is unchanged. The
    # shared cap is documented as a DOUBLED-edge budget (SCALE.md;
    # dedup_clusters/kcore_peel gate the doubled table), and this
    # table is undoubled — compare 2·n against it (r13 ADVICE) and
    # byte-check the collect like the other gates.
    from vnavc_spark.operators import dedup

    cap = (
        dedup.CC_DRIVER_EDGE_CAP
        if driver_edge_cap is None
        else driver_edge_cap
    )
    if dedup._driver_gate_fits(e, ("a", "b"), cap, n_scale=2):
        return _driver_triangle_stats(e)
    deg = tracked_persist(
        e.select(F.col("a").alias("x"))
        .unionByName(e.select(F.col("b").alias("x")))
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("deg")),
        "tri_deg",
    )
    da = deg.select(F.col("x").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("x").alias("b"), F.col("deg").alias("degb"))
    ej = e.join(da, on="a").join(db, on="b")
    lower = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    o = tracked_persist(
        ej.select(
            F.when(lower, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lower, F.col("degb")).otherwise(F.col("dega")).alias(
                "degv"
            ),
        ),
        "tri_oriented",
    )
    o1 = o.select("u", F.col("v").alias("p"), F.col("degv").alias("dp"))
    o2 = o.select("u", F.col("v").alias("q"), F.col("degv").alias("dq"))
    wedge = o1.join(o2, on="u").filter(
        (F.col("dp") < F.col("dq"))
        | ((F.col("dp") == F.col("dq")) & (F.col("p") < F.col("q")))
    )
    closing = o.select(F.col("u").alias("p"), F.col("v").alias("q"))
    tri = wedge.join(closing, on=["p", "q"]).agg(
        F.count("*").cast("long").alias("n_triangles")
    )
    nn = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("deg * (deg - 1) div 2")).cast("long").alias(
            "n_wedges"
        ),
    )
    ne = e.agg(F.count("*").cast("long").alias("n_edges"))
    row = nn.crossJoin(F.broadcast(ne)).crossJoin(F.broadcast(tri))
    return row.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            stable_round(
                (F.lit(3) * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )
