"""Record the ``corpus_queries`` reference: row count and order-insensitive
hash of every query's result on the generated corpus, per corpus scale.

    python3 perfbench/record_golden.py 30000 2000

Each argument is a corpus size (lineitem rows, as ``run.py --rows`` takes
it). Every query runs twice, in two orders, and must digest the same both
times. Its result is also compared with the query's DuckDB oracle
(``__spark_entry__.oracle_sql()``, canonicalized by
``tools/oracle_check.canon``); the outcome is stored as ``oracle_match``.
The reference is written to perfbench/golden_corpus.json.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> None:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = ROOT
    import duckdb

    import __spark_entry__ as entry
    from bench_extra import BENCH_QUERIES
    from mdvalidate_spark.session import get_spark
    from stage import stage
    from tools.oracle_check import canon
    from workloads import GOLDEN_CORPUS, result_digest

    spark = get_spark(
        app_name="perfbench-golden", master=f"local[{len(os.sched_getaffinity(0))}]"
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    oracle = entry.oracle_sql()
    names = [n for n in BENCH_QUERIES if n in qs]
    try:
        with open(GOLDEN_CORPUS) as f:
            golden = json.load(f)
    except FileNotFoundError:
        golden = {}
    for rows in map(int, sys.argv[1:]):
        staged = stage("corpus_queries", rows, 0)
        d = staged["dir"]
        con = duckdb.connect()
        for t in staged["tables"]:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        ref = {}
        for order in (names, names[::-1]):
            for n in order:
                got = result_digest(qs[n](spark, d))
                if n in ref and [ref[n]["rows"], ref[n]["hash"]] != [got[0], str(got[1])]:
                    raise SystemExit(f"{n}: digest differs between runs")
                ref[n] = {"rows": got[0], "hash": str(got[1])}
        for n in names:
            try:
                want = canon(con.sql(oracle[n]).df())
                have = canon(qs[n](spark, d).toPandas())
                ref[n]["oracle_match"] = want == have
            except Exception as e:  # noqa: BLE001 - recorded, not fatal
                ref[n]["oracle_match"] = f"{type(e).__name__}"
            print(n, ref[n], flush=True)
        golden[repr(staged["params"]["scale"])] = ref
    spark.stop()
    with open(GOLDEN_CORPUS, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
