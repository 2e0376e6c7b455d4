"""kNN and within-distance joins over point geometries.

- ``within_distance_join``: the global phase assigns each build-side
  geometry to every tile its d-expanded envelope overlaps (exactly the
  DBSCAN-style expanded-envelope query of the reference,
  ``include/geos/operation/cluster/DBSCANClusterFinder.h:34-38``);
  probe points join on their containing tile; a native squared-
  distance filter refines. No python in the plan at all for
  point-to-point distance.

- ``knn_join_broadcast``: exact kNN against a small build side —
  broadcast + window top-k (ties by id, matching GEOSSTRtree_nearest
  determinism).

- ``knn_join``: cell-ring-expansion kNN for large build sides:
  candidates from the probe's tile ring r=0,1,2... until the k-th
  candidate distance is below the ring lower bound. Implemented as a
  bounded iterative DataFrame loop (driver-side ring counter, no
  collect of data rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geos_spark.functions.hilbert_native import (
    grid_xy,
    sql_name,
    with_tile_key,
    with_tile_keys_exploded,
)
from geos_spark.functions.st import DEFAULT_EXTENT


def within_distance_join(
    probe: DataFrame,
    build: DataFrame,
    distance: float,
    *,
    probe_xy: tuple[str, str] = ("x", "y"),
    build_xy: tuple[str, str] = ("cx", "cy"),
    level: int = 6,
    extent=DEFAULT_EXTENT,
) -> DataFrame:
    """Pairs (probe, build) with euclidean distance <= d. Native-only
    plan: tile equijoin against the broadcast build side + codegen'd
    squared-distance filter."""
    px, py = probe_xy
    bx, by = build_xy
    p = with_tile_key(probe, px, py, level, extent)
    # exploded side has no size estimate -> hint (see spatial_join)
    b = F.broadcast(
        with_tile_keys_exploded(build, (bx, by, bx, by), level, extent, pad=distance)
    )
    d2 = (F.col(px) - F.col(bx)) ** 2 + (F.col(py) - F.col(by)) ** 2
    return p.join(b, "__cell").where(d2 <= F.lit(distance * distance)).drop("__cell")


def knn_join_broadcast(
    probe: DataFrame,
    build: DataFrame,
    k: int,
    *,
    probe_id: str = "doc_id",
    build_id: str = "poly_id",
    probe_xy: tuple[str, str] = ("x", "y"),
    build_xy: tuple[str, str] = ("cx", "cy"),
) -> DataFrame:
    """Exact kNN vs a broadcastable build side.

    Returns probe columns + (rank, build_id, dist2). Ties break by
    build id ascending (GEOSSTRtree_nearest tie determinism).
    """
    px, py = probe_xy
    bx, by = build_xy
    d2 = (F.col(px) - F.col(bx)) ** 2 + (F.col(py) - F.col(by)) ** 2
    scored = probe.join(F.broadcast(build)).withColumn("dist2", d2)
    w = Window.partitionBy(probe_id).orderBy(
        F.col("dist2").asc(), F.col(build_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def knn_join(
    probe: DataFrame,
    build: DataFrame,
    k: int,
    *,
    probe_id: str = "doc_id",
    build_id: str = "poly_id",
    probe_xy: tuple[str, str] = ("x", "y"),
    build_xy: tuple[str, str] = ("cx", "cy"),
    level: int = 4,
    extent=DEFAULT_EXTENT,
    broadcast_build: bool | None = None,
) -> DataFrame:
    """Cell-ring-expansion kNN (scale path for large build sides).

    ``broadcast_build``: force (True/False) the broadcast hint on the
    build side. Default None adds no hint and runs no plan-time action
    — Catalyst/AQE decide from actual sizes.

    Two-phase plan (constant job count for dense build sides, no
    iterative lineage):

    1. **Neighborhood pass** — every probe joins the 3x3 cell block
       around its own cell (plain hash equijoin). Probes whose k-th
       candidate distance is within the ring-1 lower bound are final.
    2. **Radius pass** — each remaining probe computes its *own* exact
       search radius from its k-th candidate distance
       (``r_i = floor(sqrt(kth)/tile) + 1``: every point beyond radius
       r_i is strictly farther than the current k-th neighbor — the
       branch-and-bound lower-bound reasoning of GEOSSTRtree_nearest,
       src/index/strtree/BoundablePair.cpp, transplanted to the grid)
       and explodes exactly the cells inside it via a native
       ``F.sequence`` fan-out. One join, one window — final by
       construction.

    Probes that found fewer than k candidates in their 3x3 block
    (sparse regions) fall back to a doubling-radius loop until k
    candidates exist, then take the same exact radius pass. Exact
    results; ties break by build id (GEOSSTRtree_nearest
    determinism).
    """
    minx, miny, maxx, maxy = extent
    n = 1 << level
    sx = (maxx - minx) / n
    sy = (maxy - miny) / n
    px, py = probe_xy
    bx, by = build_xy

    def grid(df: DataFrame, xc: str, yc: str, pre: str) -> DataFrame:
        gx, gy = grid_xy(sql_name(xc), sql_name(yc), level, extent)
        return df.withColumns({pre + "gx": F.expr(gx), pre + "gy": F.expr(gy)})

    def ckpt(df: DataFrame) -> DataFrame:
        """Cut lineage lazily: the reuse pattern here is a handful of
        consumers inside one final DAG, so a lazy cache avoids the
        extra materialization job an eager localCheckpoint would run
        (the iterative starving loop below is bounded at log2(n)
        rounds, so lineage depth stays small)."""
        return df.cache()

    p = grid(probe, px, py, "p_")
    b = grid(build, bx, by, "b_")

    # the probe-side explode destroys Catalyst's size estimate, so the
    # planner may not pick a broadcast join on its own (the same trap
    # as spatial_join). Callers who know the build side is small pass
    # broadcast_build=True; with the default None we add NO plan-time
    # action — the build scan keeps its own statistics, so Catalyst's
    # autoBroadcastJoinThreshold and AQE's runtime join-strategy switch
    # handle the decision from real sizes.
    if broadcast_build:
        b = F.broadcast(b)

    d2 = (F.col(px) - F.col(bx)) ** 2 + (F.col(py) - F.col(by)) ** 2
    tile_min = min(sx, sy)
    out_cols = [c for c in probe.columns] + ["rank", build_id, "dist2"]
    w = Window.partitionBy(probe_id).orderBy(
        F.col("dist2").asc(), F.col(build_id).asc()
    )

    def cand_join(probes: DataFrame, radius) -> DataFrame:
        """Equijoin each probe against the build rows in the cells
        within Chebyshev ``radius`` of its cell (radius is a Column or
        an int — native sequence fan-out, no cross join)."""
        rcol = radius if isinstance(radius, Column) else F.lit(radius)
        exploded = (
            probes.withColumn(
                "__ngx",
                F.explode(
                    F.sequence(
                        F.greatest(F.lit(0), F.col("p_gx") - rcol),
                        F.least(F.lit(n - 1), F.col("p_gx") + rcol),
                    )
                ),
            )
            .withColumn(
                "__ngy",
                F.explode(
                    F.sequence(
                        F.greatest(F.lit(0), F.col("p_gy") - rcol),
                        F.least(F.lit(n - 1), F.col("p_gy") + rcol),
                    )
                ),
            )
        )
        return exploded.join(
            b,
            (F.col("__ngx") == F.col("b_gx"))
            & (F.col("__ngy") == F.col("b_gy")),
        ).withColumn("dist2", d2)

    def topk_of(cand: DataFrame) -> DataFrame:
        return cand.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )

    # phase 1: 3x3 neighborhood pass
    topk1 = ckpt(topk_of(cand_join(p, 1)))
    stats1 = topk1.groupBy(probe_id).agg(
        F.count(F.lit(1)).alias("__n"), F.max("dist2").alias("__kth")
    )
    bound1 = tile_min * tile_min  # ring-1 lower bound (uses r, not r+1)
    final1 = stats1.where(
        (F.col("__n") >= k) & (F.col("__kth") <= F.lit(bound1))
    ).select(probe_id)
    results = topk1.join(final1, probe_id, "left_semi").select(*out_cols)

    # probes that saw >= k candidates but aren't provably final: their
    # exact radius comes from their own k-th distance
    need_radius = stats1.where(
        (F.col("__n") >= k) & (F.col("__kth") > F.lit(bound1))
    ).select(probe_id, F.col("__kth"))

    # sparse regions: < k candidates in the 3x3 block — double the
    # radius until k exist (each round touches only these probes)
    starving = ckpt(
        p.join(
            stats1.where(F.col("__n") >= k).select(probe_id),
            probe_id,
            "left_anti",
        )
    )
    r = 2
    live = starving.limit(1).count() > 0
    while live:
        prev_starving = starving
        if r >= n:
            # whole grid in reach: rank whatever exists and finish
            results = results.unionByName(
                topk_of(cand_join(starving, n)).select(*out_cols)
            )
            break
        got = topk_of(cand_join(starving, r))
        stats_s = got.groupBy(probe_id).agg(
            F.count(F.lit(1)).alias("__n"), F.max("dist2").alias("__kth")
        )
        sated = stats_s.where(F.col("__n") >= k)
        need_radius = need_radius.unionByName(
            sated.select(probe_id, F.col("__kth"))
        )
        starving = ckpt(
            starving.join(sated.select(probe_id), probe_id, "left_anti")
        )
        # materialize the new frontier (one job a round: it is also
        # the loop's emptiness test), then release the previous
        # round's cache blocks — the loop would otherwise hold
        # O(log n) cached copies of the shrinking probe set
        live = starving.limit(1).count() > 0
        try:
            prev_starving.unpersist()
        except Exception:  # noqa: BLE001
            pass
        r *= 2

    # phase 2: one exact per-probe radius pass. Every point beyond
    # radius r_i = floor(sqrt(kth)/tile)+1 is strictly farther than
    # the current k-th neighbor, so the result is final.
    p2 = p.join(need_radius, probe_id)
    r_i = F.least(
        F.lit(n),
        (F.floor(F.sqrt(F.col("__kth")) / F.lit(tile_min)) + 1).cast("int"),
    )
    topk2 = topk_of(cand_join(p2.withColumn("__r", r_i), F.col("__r")))
    return results.unionByName(topk2.select(*out_cols))
