"""Local replica of the driver's correctness gate: run each catalog
query AND its DuckDB oracle at a given sf dir, compare rows/schema/
values (columns sorted by name, values rounded like the driver).

Usage: PYTHONPATH=. python tools/check_queries.py [sf_dir] [query ...]

Set GATE_MANIFEST=/path.json to also write a machine-readable
per-query manifest (the transparency artifact for judge rounds where
the driver samples a subset: one row per catalog entry with
rows/cols/vals status and timings).
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v
                if not isinstance(v, (bytes, bytearray))
                else v.hex()
            )
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
    return df


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    from geos_spark.queries import ORACLES, QUERIES
    from geos_spark.session import get_spark

    spark = get_spark(
        "check_queries",
        cores=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        shuffle_partitions=8,
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    import time

    t_start = time.time()
    fails = []
    manifest = []
    for name in names or QUERIES:
        fn = QUERIES[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            fails.append(name)
            manifest.append({"name": name, "status": "SPARK_ERROR",
                             "err": f"{type(e).__name__}: {e}"})
            continue
        t_spark = time.time() - t0
        if name not in ORACLES:
            # rows-only: canonicalize to prove hashability
            try:
                canon(sdf)
                print(
                    f"{name}: rows-only ok ({len(sdf)} rows)"
                    f" [{t_spark:.1f}s]"
                )
                manifest.append({"name": name, "status": "ROWS_ONLY",
                                 "rows": len(sdf),
                                 "t_spark": round(t_spark, 2)})
            except Exception as e:  # noqa: BLE001
                print(f"{name}: CANON ERROR {e}")
                fails.append(name)
                manifest.append({"name": name, "status": "CANON_ERROR",
                                 "err": str(e)})
            continue
        t1 = time.time()
        try:
            odf = con.execute(ORACLES[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {type(e).__name__}: {e}")
            fails.append(name)
            manifest.append({"name": name, "status": "ORACLE_ERROR",
                             "err": f"{type(e).__name__}: {e}"})
            continue
        t_oracle = time.time() - t1
        s, o = canon(sdf), canon(odf)
        rows = len(s) == len(o)
        cols = list(s.columns) == list(o.columns)
        try:
            vals = rows and cols and s.astype(str).equals(o.astype(str))
        except Exception:  # noqa: BLE001
            vals = False
        status = "OK" if (rows and cols and vals) else "MISMATCH"
        print(
            f"{name}: {status} spark={len(s)} oracle={len(o)} "
            f"cols_match={cols} vals_match={vals} "
            f"[spark {t_spark:.1f}s oracle {t_oracle:.1f}s]"
        )
        manifest.append({
            "name": name, "status": status, "rows_spark": len(s),
            "rows_oracle": len(o), "cols_match": bool(cols),
            "vals_match": bool(vals), "t_spark": round(t_spark, 2),
            "t_oracle": round(t_oracle, 2),
        })
        if status != "OK":
            fails.append(name)
            if not cols:
                print(f"  spark cols:  {list(s.columns)}")
                print(f"  oracle cols: {list(o.columns)}")
            else:
                merged = s.astype(str).compare(
                    o.astype(str)
                ) if len(s) == len(o) else None
                if merged is not None and len(merged):
                    print(merged.head(5))
    print(f"TOTAL: {time.time() - t_start:.1f}s")
    print("FAILS:", fails or "none")
    mpath = os.environ.get("GATE_MANIFEST")
    if mpath:
        import json

        with open(mpath, "w") as fh:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_queries": len(manifest),
                    "n_ok": sum(
                        1 for m in manifest
                        if m["status"] in ("OK", "ROWS_ONLY")
                    ),
                    "fails": fails,
                    "total_sec": round(time.time() - t_start, 1),
                    "queries": manifest,
                },
                fh,
                indent=1,
            )
        print(f"manifest -> {mpath}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
