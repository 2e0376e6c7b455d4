"""Dump formatted physical plans of the flagship queries to PLANS.md.

An audit artifact: for each headline operator the actual
`.explain("formatted")` output at sf0.01, so shuffle counts,
whole-stage-codegen spans, pushed filters, and broadcast choices can
be reviewed without re-running the engine.

Usage: PYTHONPATH=. python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

AUDITED = [
    ("pip_native", "flagship point-in-polygon join as entry() runs "
     "it (same prepared-dim plan as pip_join)"),
    ("pip_join", "broadcast-partition local point join (one Arrow "
     "UDF probes each batch of points against the prepared dim's "
     "broadcast index: tile lookup, envelope and sub-cell mask "
     "filter, exact refine; then a native explode)"),
    ("distance_native", "zero-python within-distance join to polygons "
     "(point-to-segment distance as Catalyst HOFs)"),
    ("tile_assign", "native Hilbert tile assignment (pure bitwise "
     "Column chain, whole-stage codegen)"),
    ("knn_centers", "exact kNN by cell-ring expansion (one Arrow UDF "
     "expands rings around each batch of points over the broadcast, "
     "tile-sorted centers and returns each point's k nearest to a "
     "Generate: no join, no window, no exchange)"),
    ("dedup_exact", "exact dedup (single hash aggregate)"),
    ("dedup_clusters", "full near-dup pipeline (exact collapse -> "
     "minhash agg -> LSH bucket gather -> Jaccard verify join -> "
     "connected components; the CC stage runs its own bounded jobs "
     "at plan-build time, so this plan shows the final label/size "
     "join over the CC output)"),
    ("source_quota", "per-source quota cap (salted two-phase top-k: "
     "partial window over (source, hash bucket) prunes mega-sources "
     "to k*buckets rows before the exact final window)"),
    ("sample_hash", "deterministic hash sampling (stateless codegen "
     "filter on portable md5 -- zero shuffle, scan-pruned)"),
    ("pii_redact", "PII scrub (sequential regexp count+replace "
     "chain, single codegen projection, zero shuffle)"),
    ("bm25", "BM25 lexical ranking (query-term filter BEFORE the "
     "tf exchange; dl/stats/df_t all broadcast; partial aggs)"),
    ("pack_shards", "sequence packing (distributed prefix sum: "
     "range exchange + per-partition windows + broadcast base "
     "offsets -- never a global single-task window)"),
    ("decontam", "benchmark decontamination (benchmark gram set as "
     "a BroadcastExchange of 8-byte hashes; corpus side stateless "
     "explode, only matched grams shuffle)"),
    ("rasterize", "vector->raster mask (pixel centers as a codegen "
     "range projection, every one probed by the prepared-dim point "
     "join's Arrow UDF; per-polygon mask moments aggregate)"),
    ("dedup_cut", "exact duplicated-substring removal (window-hash "
     "emit materialized once, corpus count agg + hash equijoin "
     "back, per-doc array fold rebuilds the text -- the final plan "
     "shows the fold over the checkpointed window/start tables)"),
]


def main() -> None:
    from geos_spark.queries import QUERIES
    from geos_spark.session import get_spark

    spark = get_spark("dump_plans", cores=8, shuffle_partitions=8)
    out = [
        "# PLANS — formatted physical plans of the flagship queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{SF}` "
        "(plans are data-size-independent apart from AQE's runtime "
        "coalescing; the structure below is what runs at any SF).",
        "",
        "Audit keys: every `Exchange` is a shuffle — the point joins "
        "below have no join and no exchange on the point side (the "
        "dim's columns come back through a left join on its unique "
        "id, which the optimizer removes because these queries read "
        "only ids) and no unplanned shuffles; `WholeStageCodegen` "
        "spans cover the native tiers; `PushedFilters`/`ReadSchema` "
        "show scan pruning; `ArrowEvalPython` appears in exactly three "
        "declared places — the point joins' probe "
        "(`pip_join`/`pip_native`/`rasterize`), one Arrow UDF that "
        "joins each batch of points against the dim index broadcast "
        "once per dim (tile keys, envelopes and `ALL`/`FULL` sub-cell "
        "masks) and returns each point's polygon ids to a `Generate` "
        "(explode), and the one-time 256-row "
        "build-side `_wkb_edges` decode UNDER the `BroadcastExchange` "
        "of `distance_native` (whose probe-side point-to-segment "
        "refine is higher-order Column expressions, no python worker "
        "touches the big side), and the kNN probe of `knn_centers`, "
        "one Arrow UDF over the centers broadcast once, which feeds a "
        "`Generate` (posexplode) the same way.",
        "",
    ]
    for name, why in AUDITED:
        df = QUERIES[name](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # strip the per-run expression ids (#123) so the file is
        # stable across regenerations
        plan = re.sub(r"#\d+L?", "#_", plan)
        # plans can embed control-char literals (null sentinels, the
        # BPE U+001F separator) — escape them so PLANS.md stays text
        plan = re.sub(
            r"[\x00-\x08\x0b-\x1f]",
            lambda m: f"\\x{ord(m.group()):02x}",
            plan,
        )
        out += [f"## {name}", "", why, "", "```", plan.rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
