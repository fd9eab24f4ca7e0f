"""Pin the expected result digests of the query workloads.

Runs each named query on Spark and its ``oracle_sql()`` twin on DuckDB
over the benchmark's tables, and writes ``digests.json``: per query the
row count, the digest, and whether the oracle agreed (``"oracle"``) or
could not run (``"rows-only"``). A query whose Spark and oracle digests
differ is reported and not pinned.

    SPARK_GRAFT_CPUS=$(nproc) python3 perfbench/pin_digests.py [query ...]

With no names it pins every query op of ``perfbench/workloads.py``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from tools.check_correctness import TABLES, normalize  # noqa: E402
from workloads import DATA_DIR, QUERY_WORKLOADS  # noqa: E402


def main() -> None:
    import duckdb

    from reddit_etl_pipeline_spark.session import get_spark

    import __spark_entry__ as entry

    os.environ.setdefault("PYTHONPATH", ROOT)
    names = sys.argv[1:] or [n for ops in QUERY_WORKLOADS.values() for n in ops]
    data = os.path.join(ROOT, DATA_DIR)
    spark = get_spark(app_name="pin_digests")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    queries, oracles = entry.queries(), entry.oracle_sql()
    path = os.path.join(HERE, "digests.json")
    pins = {}
    if os.path.exists(path):
        with open(path) as fh:
            pins = json.load(fh)
    for name in names:
        rows, dig = normalize(queries[name](spark, data).toPandas())
        spark.catalog.clearCache()
        rec = {"rows": rows, "digest": dig, "check": "rows-only"}
        if name in oracles:
            try:
                o_rows, o_dig = normalize(con.execute(oracles[name]).df())
            except duckdb.Error as exc:
                print(f"{name}: oracle failed ({exc}); pinning rows only")
            else:
                if (o_rows, o_dig) != (rows, dig):
                    print(f"{name}: MISMATCH spark={rows}/{dig} oracle={o_rows}/{o_dig}")
                    continue
                rec["check"] = "oracle"
        pins[name] = rec
        print(name, rec, flush=True)
    with open(path, "w") as fh:
        json.dump(dict(sorted(pins.items())), fh, indent=1)
        fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
