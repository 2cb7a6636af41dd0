"""Local replica of the driver's correctness gate: run every queries() entry
on Spark AND its oracle_sql() on DuckDB at sf0.01, compare row count, column
names and order-insensitive values (sorted by column name, rows sorted)."""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    h.update("\x01".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update("\x02".join(row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _compare_one(con, name: str, sdf: pd.DataFrame, sql: str | None,
                 t_spark: float, report: dict) -> bool:
    """DuckDB + normalize + hash for one already-collected Spark result.
    Returns True on failure."""
    t1 = time.time()
    if sql is None:
        print(f"ok?  {name}: rows={len(sdf)} (rows-only, no oracle) "
              f"spark={t_spark:.1f}s")
        report[name] = {"rows_match": len(sdf) > 0,
                        "schema_match": None, "hash_match": None,
                        "spark_rows": len(sdf), "oracle_rows": None,
                        "err": None}
        if len(sdf) == 0:
            print(f"WARN {name}: zero rows")
        return False
    try:
        ddf = con.sql(sql).df()
    except Exception as e:  # noqa: BLE001
        print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
        report[name] = {"rows_match": False, "schema_match": False,
                        "hash_match": False, "spark_rows": len(sdf),
                        "oracle_rows": None,
                        "err": f"duckdb {type(e).__name__}: {e}"[:400]}
        return True
    ns, nd = norm_frame(sdf), norm_frame(ddf)
    ok_rows = len(ns) == len(nd)
    ok_cols = list(ns.columns) == list(nd.columns)
    ok_vals = ok_rows and ok_cols and value_hash(ns) == value_hash(nd)
    status = "PASS" if (ok_rows and ok_cols and ok_vals) else "FAIL"
    report[name] = {"rows_match": ok_rows, "schema_match": ok_cols,
                    "hash_match": ok_vals, "spark_rows": len(ns),
                    "oracle_rows": len(nd), "err": None}
    print(f"{status} {name}: rows {len(ns)}/{len(nd)} cols_ok={ok_cols} "
          f"vals_ok={ok_vals} spark={t_spark:.1f}s duck={time.time()-t1:.1f}s")
    if not ok_vals and ok_rows and ok_cols:
        merged = ns.merge(nd, how="outer", indicator=True)
        diff = merged[merged["_merge"] != "both"]
        print(diff.head(6).to_string())
    return status == "FAIL"


def main(only: list[str], json_out: str | None = None) -> int:
    """The Spark session is the serial bottleneck, so the DuckDB oracle +
    compare for query i runs on a consumer thread WHILE the Spark side of
    query i+1 executes (one DuckDB connection, used by the consumer thread
    only). This overlap plus the registry's session-scoped memo
    (queries._memo) is what makes the full-registry gate fit a per-round
    budget: 328s -> ~150s for 71 queries (VERDICT r4 item 1)."""
    import json
    import queue as queue_mod
    import threading

    import __spark_entry__ as entrymod
    from arekit_r335_spark.config import ScaleConfig
    from arekit_r335_spark.session import get_spark

    qs = entrymod.queries()
    unknown = sorted(set(only) - set(qs))
    if unknown:
        # a typo must not pass the gate by running zero queries
        print(f"FAIL unknown query keys: {', '.join(unknown)}")
        return len(unknown)
    sqls = entrymod.oracle_sql()

    # the console progress bar shares stdout with the report: off, so every
    # result line starts a line (`grep -c '^PASS'` counts the passes)
    spark = get_spark(app_name="oracle-check", master="local[8]",
                      scale=ScaleConfig(extra_conf={
                          "spark.ui.showConsoleProgress": "false"}))
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for name in ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    # session warm-up: JVM codegen + Python worker spin-up are session
    # costs, not per-query gate costs (same discipline as bench.py)
    if not only:
        try:
            qs["kg_triples"](spark, "/root/testdata/sf0.001").toPandas()
        except Exception:  # noqa: BLE001
            pass

    failures = [0]
    report: dict[str, dict] = {}
    q: queue_mod.Queue = queue_mod.Queue(maxsize=4)

    def consumer():
        while True:
            item = q.get()
            if item is None:
                return
            name, sdf, t_spark = item
            if _compare_one(con, name, sdf, sqls.get(name), t_spark, report):
                failures[0] += 1

    t = threading.Thread(target=consumer, daemon=True)
    t.start()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            report[name] = {"rows_match": False, "schema_match": False,
                            "hash_match": False, "spark_rows": None,
                            "oracle_rows": None,
                            "err": f"spark {type(e).__name__}: {e}"[:400]}
            failures[0] += 1
            continue
        q.put((name, sdf, time.time() - t0))
    q.put(None)
    t.join()
    if json_out:
        with open(json_out, "w") as f:
            json.dump(report, f, indent=1)
    return failures[0]


if __name__ == "__main__":
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            sys.exit("usage: check_oracles.py [query ...] --json <path>")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    sys.exit(1 if main(args, json_out) else 0)
