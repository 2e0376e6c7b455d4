"""Deterministic corpus-shaping operators for training-data
pipelines: hash-based sampling and per-source quota capping.

Both are the shapes a 100 TB pipeline actually uses:

- ``hash_sample`` is a stateless map (zero shuffle, reproducible
  across reruns and cluster sizes — unlike ``df.sample`` whose
  output depends on partitioning).  The hash is the engine's
  portable md5-prefix integer (operators/dedup.py md5_i64), so any
  SQL engine can replay the exact row set.
- ``source_quota`` caps documents per source/domain (boilerplate
  and crawl-skew control).  Implemented as a salted two-phase
  top-k: a partial window over (source, salt-bucket) first reduces
  every source to at most k*salt_buckets rows, so the final exact
  window never shuffles a mega-domain's full row set — the classic
  skew-safe top-k shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geos_spark.operators.dedup import md5_i64

_DENOM = 1_000_000


def hash_sample(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Keep rows where md5(key:salt) mod 1e6 < fraction*1e6.

    Deterministic per (key, salt): re-running, repartitioning, or
    changing cluster size yields the identical sample; changing the
    salt draws an independent sample.
    """
    thresh = int(round(fraction * _DENOM))
    h = md5_i64(
        F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))
    )
    return df.where(F.pmod(h, F.lit(_DENOM)) < F.lit(thresh))


def source_quota(
    df: DataFrame,
    k: int,
    source_col: str = "source",
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    salt_buckets: int = 16,
) -> DataFrame:
    """At most ``k`` rows per source, keeping the largest
    ``order_col`` (ties broken by ascending ``id_col``).  Output adds
    ``rank`` (1-based within the source).

    Phase 1 caps each (source, hash-bucket) at k rows — map-scale
    shuffle keyed on a salted key, so a source with 10^9 rows ships
    at most k*salt_buckets rows onward.  Phase 2 is the exact
    window.  Top-k of a union of per-bucket top-ks is exact.
    """
    bucket = F.pmod(F.hash(F.col(id_col)), F.lit(salt_buckets))
    order = [
        F.col(order_col).desc_nulls_last(),
        F.col(id_col).asc(),
    ]
    partial = Window.partitionBy(F.col(source_col), bucket).orderBy(
        *order
    )
    pruned = (
        df.withColumn("__pr", F.row_number().over(partial))
        .where(F.col("__pr") <= k)
        .drop("__pr")
    )
    final = Window.partitionBy(source_col).orderBy(*order)
    return (
        pruned.withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= k)
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a hash-chosen
    ``fractions[stratum]`` of each stratum (language rebalancing,
    domain downweighting).

    Same determinism contract as :func:`hash_sample` — the kept set
    is a pure function of (key, salt), invariant under partitioning
    and cluster size. The per-stratum thresholds ride along as a
    BROADCAST dim join (the fractions map is tiny by construction),
    so the corpus-side scan never shuffles: at 100 TB this stays a
    map-only pass.

    Strata absent from ``fractions`` keep ``default_fraction``.
    """
    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(k, int(round(v * _DENOM))) for k, v in sorted(fractions.items())],
        schema=f"{strata_col} string, __thresh int",
    )
    h = md5_i64(
        F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))
    )
    default_thresh = int(round(default_fraction * _DENOM))
    joined = df.join(F.broadcast(dim), on=strata_col, how="left")
    return joined.where(
        F.pmod(h, F.lit(_DENOM))
        < F.coalesce(F.col("__thresh"), F.lit(default_thresh))
    ).drop("__thresh")


def pack_shards(
    df: DataFrame,
    budget: int,
    size_col: str = "n_tokens",
    order_col: str = "doc_id",
    num_ranges: int = 64,
) -> DataFrame:
    """GPT-style sequence packing: documents are laid end-to-end in
    ``order_col`` order and cut into training shards of ``budget``
    tokens (documents may straddle a cut — the concatenate-and-split
    regime). Adds ``global_offset`` (tokens before this doc),
    ``shard_id`` and ``shard_offset``.

    Scale shape — a DISTRIBUTED PREFIX SUM, not a global window (a
    window with no partition key collapses the whole corpus onto one
    task):
    1. ``repartitionByRange`` on the order key (RangePartitioner
       assigns ascending key ranges to ascending partition ids);
    2. within-partition running sums via a window partitioned by
       ``spark_partition_id()`` — parallel across partitions;
    3. per-partition totals are one tiny aggregate (``num_ranges``
       rows) collected to the driver, turned into cumulative base
       offsets, and joined back as a broadcast dim.
    At 100 TB the only data-sized movements are the range shuffle and
    the final projection; the driver sees ``num_ranges`` longs.
    """
    ranged = df.repartitionByRange(num_ranges, F.col(order_col))
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = with_pid.withColumn(
        "__before",
        F.coalesce(F.sum(size_col).over(w), F.lit(0)).cast("long"),
    ).persist()
    totals = (
        local.groupBy("__pid")
        .agg(F.sum(size_col).cast("long").alias("__tot"))
        .collect()
    )
    base, acc = {}, 0
    for r in sorted(totals, key=lambda r: r["__pid"]):
        base[r["__pid"]] = acc
        acc += r["__tot"]
    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(p, b) for p, b in sorted(base.items())],
        schema="__pid int, __base long",
    )
    out = local.join(F.broadcast(dim), on="__pid")
    goff = F.col("__base") + F.col("__before")
    soff = F.pmod(goff, F.lit(budget))
    # exact integer shard id: (goff - soff) is an exact multiple of
    # budget, so the double division is correctly rounded to the
    # integer quotient even for 2^50-token corpora (float floor(a/b)
    # would not be)
    sid = ((goff - soff) / F.lit(budget)).cast("long")
    return (
        out.withColumn("global_offset", goff)
        .withColumn("shard_id", sid)
        .withColumn("shard_offset", soff)
        .drop("__pid", "__before", "__base")
    )
