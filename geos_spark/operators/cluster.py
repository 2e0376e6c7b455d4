"""Clustering operators (SURVEY §2.6): within-distance / DBSCAN
connected components over the spatial pair table.

The reference clusters with a union-find over STRtree queries
(``src/operation/cluster/AbstractClusterFinder.cpp``,
``DBSCANClusterFinder.h:28-38`` — each item's envelope expanded by
eps drives the candidate search).  Distributed shape:

1. candidate pairs from the cell-partitioned within-distance join
   (the same expanded-envelope prefilter, Catalyst equijoin on cell);
2. iterative min-label propagation with pointer doubling (path
   halving: ``cluster <- label(cluster)`` after each propagation) to
   a fixpoint — the union-find re-expressed as a bounded loop of
   shuffles converging in O(log(diameter)) rounds even on chain
   graphs; each round is a groupBy plus two joins, all on the point
   id — AQE-coalesced at scale.

No GraphFrames dependency; the loop materialises each round with
``localCheckpoint`` to cut the growing lineage (the scale-safe
pattern for iterative DataFrame algorithms).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def neighbor_pairs(
    df: DataFrame,
    eps: float,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    level: int = 6,
    extent=(0.0, 0.0, 4096.0, 4096.0),
) -> DataFrame:
    """Symmetric candidate pairs within ``eps`` (id_a < id_b).

    Native two-phase join: assign each point to every grid cell its
    eps-expanded envelope touches (the DBSCAN envelope expansion),
    equijoin on cell, exact distance refine, reference-point dedup by
    the cell equijoin + distinct."""
    from geos_spark.functions.hilbert_native import with_hilbert_cell

    x0, y0, x1, y1 = extent
    n = (1 << level) - 1
    stride_x = (x1 - x0) / n if n else 1.0
    stride_y = (y1 - y0) / n if n else 1.0

    def cells(df_in, expand):
        gx_lo = F.floor((F.col(x_col) - expand - F.lit(x0)) / F.lit(stride_x))
        gx_hi = F.floor((F.col(x_col) + expand - F.lit(x0)) / F.lit(stride_x))
        gy_lo = F.floor((F.col(y_col) - expand - F.lit(y0)) / F.lit(stride_y))
        gy_hi = F.floor((F.col(y_col) + expand - F.lit(y0)) / F.lit(stride_y))
        clamp = lambda c: F.greatest(
            F.lit(0), F.least(c, F.lit(n))
        ).cast("long")
        out = df_in.withColumn(
            "gx", F.explode(F.sequence(clamp(gx_lo), clamp(gx_hi)))
        ).withColumn(
            "gy", F.explode(F.sequence(clamp(gy_lo), clamp(gy_hi)))
        )
        return with_hilbert_cell(out, "gx", "gy", level, out="cell")

    a = cells(
        df.select(
            F.col(id_col).alias("id_a"),
            F.col(x_col).alias("xa"),
            F.col(y_col).alias("ya"),
        ).withColumnRenamed("xa", x_col).withColumnRenamed("ya", y_col),
        0.0,
    ).select("id_a", F.col(x_col).alias("xa"), F.col(y_col).alias("ya"), "cell")
    b = cells(
        df.select(
            F.col(id_col).alias("id_b"),
            F.col(x_col).alias("xb"),
            F.col(y_col).alias("yb"),
        ).withColumnRenamed("xb", x_col).withColumnRenamed("yb", y_col),
        eps,
    ).select("id_b", F.col(x_col).alias("xb"), F.col(y_col).alias("yb"), "cell")
    pairs = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
            + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            <= F.lit(eps * eps)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return pairs


def _materialize(df: DataFrame) -> DataFrame:
    """Cut lineage AND stop recomputation: iterative loops below read
    the same table every round — without materialization each round's
    job re-runs the full upstream plan (the candidate pair join), the
    classic iterative-DataFrame trap at any scale."""
    try:
        return df.localCheckpoint(eager=True)
    except Exception:  # noqa: BLE001 - e.g. checkpointing disabled
        df = df.cache()
        df.count()
        return df


def _local_uf_mapping(part_col: str = "part"):
    """applyInPandas kernel: union-find over one partition's edges,
    emitting (node, root=min id of the node's partition-local
    component).  Memory is bounded by the partition's edge count —
    the caller sizes the partition count accordingly."""
    import numpy as np
    import pandas as pd

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf["src"].to_numpy(dtype=np.int64)
        dst = pdf["dst"].to_numpy(dtype=np.int64)
        nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        parent = np.arange(len(nodes), dtype=np.int64)

        def find(i: int) -> int:
            r = i
            while parent[r] != r:
                r = parent[r]
            while parent[i] != r:  # path compression
                parent[i], i = r, parent[i]
            return r

        m = len(src)
        si, di = inv[:m], inv[m:]
        for a, b in zip(si, di):
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                # union by smaller node id -> root is the local min
                if nodes[ra] < nodes[rb]:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        roots = np.array([find(int(i)) for i in range(len(nodes))])
        return pd.DataFrame({"node": nodes, "root": nodes[roots]})

    return _run


def _driver_uf(edges_pdf) -> "dict":
    """Exact union-find on the (bounded) quotient graph, on the
    driver.  Returns {node: min id of component}."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(
        edges_pdf["src"].to_numpy(), edges_pdf["dst"].to_numpy()
    ):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    seen = set(edges_pdf["src"].tolist()) | set(edges_pdf["dst"].tolist())
    return {n: find(int(n)) for n in seen}


def connected_components(
    ids: DataFrame,
    pairs: DataFrame,
    max_iter: int = 50,
    driver_cap: int = 4_000_000,
    max_contractions: int = 6,
) -> DataFrame:
    """(id, cluster) with cluster = min id reachable through pairs.

    Distributed contraction (the scale path, O(log) rounds each a
    constant number of shuffles), not iterate-to-fixpoint:

    1. hash-partition the edge table on ``src``; union-find each
       partition locally (``applyInPandas``, memory bounded by the
       partition size) -> mapping (node, root = partition-local min);
    2. contract: rewrite each edge through the mapping on both
       endpoints, drop self-loops, dedupe.  Spatial eps-graphs
       collapse geometrically (a partition's whole local cluster
       becomes one node);
    3. when the quotient graph fits under ``driver_cap`` edges,
       finish with an exact union-find on the driver (bounded -- the
       same shape as GEOS's own in-memory union-find,
       ``src/operation/cluster/UnionFind.cpp``) and broadcast the
       root labels back;
    4. unwind: each contraction level's labels come from one
       broadcast-or-shuffle join through its saved mapping.

    Min-label semantics are exact at every level: the global min id
    of a component is the min of any local subset containing it, so
    it is its own root in every partition and survives contraction
    as the component's representative.

    If ``max_contractions`` rounds don't get under the cap (not a
    spatial-graph shape), falls back to min-label propagation with
    pointer doubling, on the (much smaller) contracted graph.
    """
    sc = ids.sparkSession
    nparts = int(
        sc.conf.get("spark.sql.shuffle.partitions", "32") or "32"
    )
    cur = _materialize(
        pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ).where(F.col("src") != F.col("dst"))
    )
    mappings: list[DataFrame] = []
    labels = None
    for _ in range(max_contractions):
        n_edges = cur.count()
        if n_edges <= driver_cap:
            break
        part = cur.withColumn(
            "part", F.pmod(F.hash("src"), F.lit(nparts))
        )
        mapping = _materialize(
            part.groupBy("part")
            .applyInPandas(_local_uf_mapping(), "node long, root long")
            .groupBy("node")
            .agg(F.min("root").alias("root"))
        )
        mappings.append(mapping)
        m_src = mapping.select(
            F.col("node").alias("src"), F.col("root").alias("r_src")
        )
        m_dst = mapping.select(
            F.col("node").alias("dst"), F.col("root").alias("r_dst")
        )
        nxt = _materialize(
            cur.join(m_src, "src")
            .join(m_dst, "dst")
            .select(
                F.col("r_src").alias("src"), F.col("r_dst").alias("dst")
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        cur.unpersist()
        cur = nxt
    n_edges = cur.count()
    if n_edges <= driver_cap:
        # bounded driver finish on the quotient graph
        lbl = _driver_uf(cur.toPandas())
        if lbl:
            labels = sc.createDataFrame(
                list(lbl.items()), "id long, cluster long"
            )
        else:
            labels = sc.createDataFrame([], "id long, cluster long")
    else:
        labels = _propagate_labels(cur.select("src", "dst"), max_iter)
    # unwind through the contraction mappings (deepest first): a
    # node's cluster is its root's cluster; roots not present in the
    # quotient labels are their own component min
    for mapping in reversed(mappings):
        labels = _materialize(
            mapping.join(
                labels.withColumnRenamed("id", "root"), "root", "left"
            )
            .select(
                F.col("node").alias("id"),
                F.coalesce("cluster", "root").alias("cluster"),
            )
        )
    return ids.join(labels, "id", "left").select(
        "id", F.coalesce("cluster", "id").alias("cluster")
    )


def _propagate_labels(edge_df: DataFrame, max_iter: int) -> DataFrame:
    """Fallback fixpoint loop (pointer-doubling min-label
    propagation) for non-contracting graphs; returns (id, cluster)
    for every node that appears in ``edge_df``."""
    ids = _materialize(
        edge_df.select(F.col("src").alias("id"))
        .union(edge_df.select(F.col("dst").alias("id")))
        .distinct()
    )
    edges = _materialize(
        edge_df.select("src", "dst").union(
            edge_df.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
    )
    labels = _materialize(
        ids.select(F.col("id"), F.col("id").alias("cluster"))
    )

    def label_sum(df: DataFrame):
        # labels are monotone non-increasing per id, so the total is
        # strictly decreasing until the fixpoint — an O(1)-shuffle
        # convergence check (no join). decimal(38,0) keeps the sum
        # exact at 10^12-row x 64-bit-id scale.
        return df.agg(
            F.sum(F.col("cluster").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = label_sum(labels)
    converged = False
    for _ in range(max_iter):
        # one-hop min-label propagation over the edge table
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster").alias("nbr_cluster"))
        )
        prop = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("nbr_cluster"), F.col("cluster")),
                ).alias("cluster"),
            )
        )
        # pointer doubling (path halving): cluster <- label(cluster).
        # labels are monotone non-increasing (label(x) <= x), so the
        # hop distance to the component minimum roughly halves every
        # round — O(log diameter) rounds even for chain graphs, where
        # plain propagation needs O(diameter).
        parent = prop.select(
            F.col("id").alias("p_id"), F.col("cluster").alias("p_cluster")
        )
        new_labels = (
            prop.join(parent, prop.cluster == parent.p_id, "left")
            .select(
                "id",
                F.coalesce(F.col("p_cluster"), F.col("cluster")).alias(
                    "cluster"
                ),
            )
        )
        new_labels = _materialize(new_labels)
        new_sum = label_sum(new_labels)
        # drop the previous round's blocks eagerly — a long chain of
        # retained checkpoint/cache blocks is what OOMs small heaps
        try:
            labels.unpersist()
        except Exception:  # noqa: BLE001
            pass
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after {max_iter} rounds; "
            "cluster labels may be split",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def cluster_within_distance(
    df: DataFrame,
    eps: float,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    **kw,
) -> DataFrame:
    """GEOSClusterGeometryDistance semantics for points: components of
    the within-eps graph."""
    pairs = neighbor_pairs(df, eps, id_col, x_col, y_col, **kw)
    ids = df.select(F.col(id_col).alias("id"))
    return connected_components(ids, pairs)


def cluster_dbscan(
    df: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    **kw,
) -> DataFrame:
    """GEOSClusterDBSCAN (capi geos_c.h.in:1939): core points have
    >= min_pts neighbours (self included); clusters = components of
    the core-core graph; border points join a neighbouring core's
    cluster; noise gets cluster NULL."""
    # the pair table feeds four consumers (degree, core filter, the
    # component loop, border adoption) — materialize it once
    pairs = _materialize(neighbor_pairs(df, eps, id_col, x_col, y_col, **kw))
    sym = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr")
    ).union(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nbr"))
    )
    degree = sym.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    ids = df.select(F.col(id_col).alias("id"))
    core = (
        ids.join(degree, "id", "left")
        .select("id", (F.coalesce("deg", F.lit(0)) + 1 >= min_pts).alias("is_core"))
    )
    core_ids = core.where("is_core").select("id")
    core_pairs = (
        pairs.join(core_ids.withColumnRenamed("id", "id_a"), "id_a")
        .join(core_ids.withColumnRenamed("id", "id_b"), "id_b")
        .select("id_a", "id_b")
    )
    cc = connected_components(core_ids, core_pairs)
    # border points: min cluster among neighbouring cores
    border = (
        sym.join(cc.withColumnRenamed("id", "nbr"), "nbr")
        .groupBy("id")
        .agg(F.min("cluster").alias("border_cluster"))
    )
    return (
        core.join(cc, "id", "left")
        .join(border, "id", "left")
        .select(
            "id",
            F.when(F.col("is_core"), F.col("cluster"))
            .otherwise(F.col("border_cluster"))
            .alias("cluster"),
        )
    )
