"""Distributed polygonal-coverage validation.

``coverage_validate``: per-polygon validation of a coverage table
against its envelope-near neighbours — the distributed form of the
reference's ``CoverageValidator`` loop
(src/coverage/CoverageValidator.cpp:80-126, which queries an STRtree
per polygon; here the candidate neighbour discovery is a tile-key
equijoin + envelope filter, and each polygon's validation runs in a
vectorized applyInPandas group on the kernel
``kernels/coverage_valid.py``).

Scale shape: work per group = one polygon + its geometric neighbours
(bounded by coverage density, not table size); neighbour discovery is
the same cell-join used by the spatial joins — no cross product, no
driver-side geometry.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geos_spark.functions.hilbert_native import grid_xy, with_tile_keys_exploded
from geos_spark.functions.st import DEFAULT_EXTENT

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("is_valid", T.BooleanType()),
        T.StructField("invalid_wkb", T.BinaryType()),
    ]
)


def coverage_validate(
    df: DataFrame,
    id_col: str = "id",
    wkb_col: str = "wkb",
    gap_width: float = 0.0,
    level: int = 6,
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
) -> DataFrame:
    """(id, is_valid, invalid_wkb) for every coverage member.

    ``invalid_wkb`` is the member's invalid boundary linework
    (LINESTRING / MULTILINESTRING WKB), NULL when the member is
    coverage-valid — the per-member contract of
    ``CoverageValidator::validate``."""
    from geos_spark.functions.st import st_envelope_struct
    from geos_spark.operators.cluster import _materialize

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(wkb_col).alias("wkb"),
    ).withColumn("env", st_envelope_struct(F.col("wkb")))
    # base feeds three consumers (target side, neighbour side, the
    # no-neighbour left join) — materialize once or the upstream plan
    # (often an expensive clip/transform) recomputes per consumer
    base = _materialize(base)
    base = base.select(
        "id",
        "wkb",
        (F.col("env.xmin") - F.lit(gap_width)).alias("xmin"),
        (F.col("env.ymin") - F.lit(gap_width)).alias("ymin"),
        (F.col("env.xmax") + F.lit(gap_width)).alias("xmax"),
        (F.col("env.ymax") + F.lit(gap_width)).alias("ymax"),
    )

    # materialize the exploded-cell table: it feeds both sides of the
    # ``__cell`` self-join, so the explode runs once, not per side
    cells = _materialize(
        with_tile_keys_exploded(
            base, ("xmin", "ymin", "xmax", "ymax"), level, extent
        )
    )
    tgt = cells.select(
        F.col("id").alias("t_id"),
        F.col("wkb").alias("t_wkb"),
        F.col("xmin").alias("t_xmin"),
        F.col("ymin").alias("t_ymin"),
        F.col("xmax").alias("t_xmax"),
        F.col("ymax").alias("t_ymax"),
        "__cell",
    )
    nbr = cells.select(
        F.col("id").alias("n_id"),
        F.col("wkb").alias("n_wkb"),
        F.col("xmin").alias("n_xmin"),
        F.col("ymin").alias("n_ymin"),
        F.col("xmax").alias("n_xmax"),
        F.col("ymax").alias("n_ymax"),
        "__cell",
    )
    pairs = (
        tgt.join(nbr, "__cell")
        .where(F.col("t_id") != F.col("n_id"))
        .where(
            (F.col("t_xmin") <= F.col("n_xmax"))
            & (F.col("n_xmin") <= F.col("t_xmax"))
            & (F.col("t_ymin") <= F.col("n_ymax"))
            & (F.col("n_ymin") <= F.col("t_ymax"))
        )
        # a pair can meet in several cells: keep one copy
        .groupBy("t_id", "n_id")
        .agg(F.first("n_wkb").alias("n_wkb"))
    )
    # every member validates, neighbours or not
    work = base.select(
        F.col("id").alias("t_id"), F.col("wkb").alias("t_wkb")
    ).join(pairs, "t_id", "left")

    gw = float(gap_width)

    def _validate(pdf: pd.DataFrame) -> pd.DataFrame:
        from geos_spark.kernels.coverage_valid import (
            validate_coverage_polygon,
        )
        from geos_spark.kernels.wkb import parse_wkb, write_wkb

        tid = int(pdf["t_id"].iloc[0])
        target = parse_wkb(bytes(pdf["t_wkb"].iloc[0]))
        adj = [
            parse_wkb(bytes(w)) for w in pdf["n_wkb"] if w is not None
        ]
        inv = validate_coverage_polygon(target, adj, gw)
        return pd.DataFrame(
            {
                "id": [tid],
                "is_valid": [inv is None],
                "invalid_wkb": [None if inv is None else write_wkb(inv)],
            }
        )

    # the group rows are tiny in bytes but heavy in python compute —
    # AQE would coalesce the shuffle to one partition and serialize
    # the whole validation; an explicit hash repartition on the group
    # key pins the fan-out (and satisfies the groupBy clustering, so
    # no second shuffle)
    nparts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        or "32"
    )
    work = work.repartition(nparts, "t_id")
    return work.groupBy("t_id").applyInPandas(_validate, _OUT_SCHEMA)


_SIMP_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("simplified_wkb", T.BinaryType()),
    ]
)


def coverage_simplify_partitioned(
    df: DataFrame,
    tolerance: float,
    id_col: str = "id",
    wkb_col: str = "wkb",
    level: int = 4,
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
) -> DataFrame:
    """Distributed TPVW coverage simplification (CoverageSimplifier
    semantics, kernels/coverage_simplify.py) with a deterministic
    partitioned contract:

    - each member belongs to the cell of its envelope center at
      ``level`` (its home partition);
    - members whose envelope intersects a partition's tiles are
      shipped there as constraint-only halo;
    - within a partition, edges shared with halo members are pinned
      (not simplified), everything else simplifies exactly as the
      single-node kernel would.

    Cross-partition shared edges are therefore preserved verbatim on
    both sides — the output is a valid coverage at any scale, with
    simplification applied everywhere except the partition seams.
    Work per group is bounded by the members per cell, not the table
    size."""
    from geos_spark.functions.st import st_envelope_struct
    from geos_spark.operators.cluster import _materialize

    minx, miny, maxx, maxy = extent
    n = 1 << level
    sx = (maxx - minx) / n
    sy = (maxy - miny) / n

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(wkb_col).alias("wkb"),
    ).withColumn("env", st_envelope_struct(F.col("wkb")))
    base = _materialize(
        base.select(
            "id",
            "wkb",
            F.col("env.xmin").alias("xmin"),
            F.col("env.ymin").alias("ymin"),
            F.col("env.xmax").alias("xmax"),
            F.col("env.ymax").alias("ymax"),
        )
    )
    hgx, hgy = grid_xy("((xmin + xmax) / 2)", "((ymin + ymax) / 2)", level, extent)
    home = base.withColumn("part", F.expr(f"CAST({hgx} * {n} + {hgy} AS BIGINT)"))
    # halo: every partition whose tile range the CLOSED envelope
    # touches. A member whose envelope ends exactly on a partition
    # line shares boundary with the tile on the other side — the min
    # ordinate must reach back one tile when it sits on the line, or
    # seam edges would be pinned on one side only
    def lo(col, origin, stride):
        f = F.floor((col - F.lit(origin)) / F.lit(stride))
        f = F.when(col == f * F.lit(stride) + F.lit(origin), f - 1).otherwise(f)
        return F.greatest(F.lit(0), F.least(F.lit(n - 1), f))

    gx0 = lo(F.col("xmin"), minx, sx)
    gy0 = lo(F.col("ymin"), miny, sy)
    gx1, gy1 = grid_xy("xmax", "ymax", level, extent)
    spread = (
        home.withColumn("tgx", F.explode(F.sequence(gx0, F.expr(gx1))))
        .withColumn("tgy", F.explode(F.sequence(gy0, F.expr(gy1))))
        .withColumn(
            "touch_part", (F.col("tgx") * F.lit(n) + F.col("tgy")).cast("long")
        )
        .select("id", "wkb", "part", "touch_part")
    )
    work = spread.select(
        F.col("touch_part").alias("grp"),
        "id",
        "wkb",
        (F.col("part") == F.col("touch_part")).alias("is_owned"),
    )

    tol = float(tolerance)

    def _simplify(pdf: pd.DataFrame) -> pd.DataFrame:
        from geos_spark.kernels.coverage_simplify import coverage_simplify
        from geos_spark.kernels.wkb import parse_wkb, write_wkb

        own = pdf[pdf["is_owned"]]
        halo = pdf[~pdf["is_owned"]]
        if len(own) == 0:
            return pd.DataFrame({"id": [], "simplified_wkb": []})
        geoms = [parse_wkb(bytes(w)) for w in own["wkb"]] + [
            parse_wkb(bytes(w)) for w in halo["wkb"]
        ]
        out = coverage_simplify(geoms, tol, owned=len(own))
        return pd.DataFrame(
            {
                "id": own["id"].to_numpy(),
                "simplified_wkb": [write_wkb(g) for g in out],
            }
        )

    nparts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        or "32"
    )
    return (
        work.repartition(nparts, "grp")
        .groupBy("grp")
        .applyInPandas(_simplify, _SIMP_SCHEMA)
    )


_CLEAN_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("cleaned_wkb", T.BinaryType()),
    ]
)


def coverage_clean_partitioned(
    df: DataFrame,
    id_col: str = "id",
    wkb_col: str = "wkb",
    snapping_distance: float = -1.0,
    overlap_merge_strategy: int = 0,
    gap_maximum_width: float = 0.0,
    halo_margin: float | None = None,
    level: int = 4,
    extent: tuple[float, float, float, float] = DEFAULT_EXTENT,
) -> DataFrame:
    """Distributed coverage cleaning (CoverageCleaner semantics,
    src/coverage/CoverageCleaner.cpp:142-460 via
    ``kernels/coverage_clean.py``): snap+node the linework, classify
    resultant faces as face / overlap / gap, merge overlaps by
    strategy and narrow gaps to the longest-border neighbour, return
    one cleaned geometry per member (dropped when collapsed/covered).

    Partitioned contract (same shape as
    ``coverage_simplify_partitioned``):

    - each member is *owned* by the tile of its envelope center at
      ``level``;
    - a member ships as halo context to every tile its envelope,
      expanded by ``halo_margin``, touches;
    - each group runs the single-node kernel over owned + halo,
      members ordered by global id (so index-based merge decisions
      — MERGE_MIN_INDEX, scan-order tie-breaks — are the
      deterministic id order everywhere), and emits owned results
      only.

    ``halo_margin`` defaults to ``r_max + snapping_distance +
    gap_maximum_width`` where ``r_max`` is the largest member
    half-extent — every member within snap/gap reach of an owned
    member is then present in its group, so face classification and
    merge decisions replay identically in every group that sees the
    same seam.  Caveat (documented, not hidden): a *gap* whose
    adjacent members are farther apart than the margin (a sliver much
    longer than ``gap_maximum_width``) can see different candidate
    sets in different groups; pass an explicit ``halo_margin`` of at
    least the longest expected gap diameter for strict global parity.

    Passing explicit ``snapping_distance >= 0`` and ``halo_margin``
    keeps plan construction lazy; otherwise ONE dim-sized agg
    (4 doubles) runs eagerly to derive them, exactly like the
    reference's default snap tolerance (diagonal / 1e8,
    CoverageCleaner.cpp computeDefaultSnappingDistance)."""
    from geos_spark.functions.st import st_envelope_struct
    from geos_spark.operators.cluster import _materialize

    n = 1 << level

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(wkb_col).alias("wkb"),
    ).withColumn("env", st_envelope_struct(F.col("wkb")))
    base = _materialize(
        base.select(
            "id",
            "wkb",
            F.col("env.xmin").alias("xmin"),
            F.col("env.ymin").alias("ymin"),
            F.col("env.xmax").alias("xmax"),
            F.col("env.ymax").alias("ymax"),
        )
    )

    tol = float(snapping_distance)
    margin = halo_margin
    if tol < 0 or margin is None:
        stats = base.agg(
            F.min("xmin").alias("x0"),
            F.min("ymin").alias("y0"),
            F.max("xmax").alias("x1"),
            F.max("ymax").alias("y1"),
            F.max(
                F.greatest(
                    F.col("xmax") - F.col("xmin"),
                    F.col("ymax") - F.col("ymin"),
                )
            ).alias("ext"),
        ).collect()[0]
        if tol < 0:
            import math

            diag = math.hypot(
                (stats.x1 or 0.0) - (stats.x0 or 0.0),
                (stats.y1 or 0.0) - (stats.y0 or 0.0),
            )
            tol = diag / 1.0e8
        if margin is None:
            margin = (
                (stats.ext or 0.0) / 2.0 + tol + float(gap_maximum_width)
            )
    margin = float(margin)

    hgx, hgy = grid_xy("((xmin + xmax) / 2)", "((ymin + ymax) / 2)", level, extent)
    home = base.withColumn("part", F.expr(f"CAST({hgx} * {n} + {hgy} AS BIGINT)"))

    m = f"{margin!r}D"
    gx0, gy0 = grid_xy(f"(xmin - {m})", f"(ymin - {m})", level, extent)
    gx1, gy1 = grid_xy(f"(xmax + {m})", f"(ymax + {m})", level, extent)
    work = (
        home.withColumn("tgx", F.expr(f"explode(sequence({gx0}, {gx1}))"))
        .withColumn("tgy", F.expr(f"explode(sequence({gy0}, {gy1}))"))
        .select(
            (F.col("tgx") * F.lit(n) + F.col("tgy")).cast("long").alias("grp"),
            "id",
            "wkb",
            (
                F.col("part") == F.col("tgx") * F.lit(n) + F.col("tgy")
            ).alias("is_owned"),
        )
    )

    strategy = int(overlap_merge_strategy)
    gap_w = float(gap_maximum_width)

    def _clean(pdf: pd.DataFrame) -> pd.DataFrame:
        from geos_spark.kernels.coverage_clean import coverage_clean
        from geos_spark.kernels.wkb import parse_wkb, write_wkb

        pdf = pdf.sort_values("id", kind="mergesort")
        if not pdf["is_owned"].any():
            return pd.DataFrame({"id": [], "cleaned_wkb": []})
        geoms = [parse_wkb(bytes(w)) for w in pdf["wkb"]]
        out = coverage_clean(
            geoms,
            snapping_distance=tol,
            overlap_merge_strategy=strategy,
            gap_maximum_width=gap_w,
        )
        ids, wkbs = [], []
        for i, (gid, owned) in enumerate(
            zip(pdf["id"].to_numpy(), pdf["is_owned"].to_numpy())
        ):
            if owned and out[i] is not None:
                ids.append(int(gid))
                wkbs.append(write_wkb(out[i]))
        return pd.DataFrame({"id": ids, "cleaned_wkb": wkbs})

    nparts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        or "32"
    )
    return (
        work.repartition(nparts, "grp")
        .groupBy("grp")
        .applyInPandas(_clean, _CLEAN_SCHEMA)
    )
