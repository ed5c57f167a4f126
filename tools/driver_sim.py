"""Strict driver simulation — the definitive pre-flight check.

Reproduces the external driver's behavior more faithfully than
check_correctness.py: vanilla SparkSession (no engine conf), every
``queries()`` entry vs its ``oracle_sql()`` via DuckDB, compared by
order-insensitive md5 over repr-stringified rows with columns sorted by
name (so dtype-kind drift fails loudly), plus the ``entry()`` smoke.

Usage: python tools/driver_sim.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def vhash(pdf) -> str:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        dt = str(pdf[c].dtype)
        if dt.startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif dt in ("int32", "uint32", "int16", "uint64"):
            pdf[c] = pdf[c].astype("int64")
    lines = sorted(
        ",".join(map(repr, r)) for r in pdf.itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from realtime_banking_cdc_pipeline_spark.schemas import TESTDATA_TABLES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # Default heap on purpose: r12's full sweep OOM'd ~query 210 on
    # accumulated localCheckpoint blocks; caching.track_local_checkpoint
    # now registers those RDDs so the per-query release_caches() frees
    # them — the full 212-query sweep must fit the default driver heap.
    # The two extra confs are LOGGING-side only (no query-semantics
    # change, so the run stays faithful to the driver): the r15 full
    # sweep OOM'd in QueryExecution.explainString while rendering a
    # huge AQE plan tree for the UI/event log — cap the rendered
    # string and drop the UI's retained-execution history.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.sql.maxPlanStringLength", "100000")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    smoke = entry_mod.entry(spark)
    rows = smoke.collect()
    print(f"entry(): {len(rows)} rows, {len(smoke.columns)} cols")

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = sys.argv[2:] or list(qs)
    fails = []
    from realtime_banking_cdc_pipeline_spark.caching import release_caches

    for name in names:
        # one query's failure (e.g. its DuckDB oracle running out of
        # memory) is counted, and the sweep goes on to the next query
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            if name not in oracles:
                print(f"  {name}: rows-only {len(sdf)}")
                continue
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"  ERROR {name}: {e}")
            fails.append(name)
            continue
        finally:
            release_caches()  # operator-persisted frames don't leak across queries
        ok = len(sdf) == len(ddf) and vhash(sdf) == vhash(ddf)
        print(f"  {name}: {'HASH-OK' if ok else 'HASH-FAIL'} rows={len(sdf)}")
        if not ok:
            fails.append(name)
    print(f"\n{len(names) - len(fails)}/{len(names)} strict matches; FAILS: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
