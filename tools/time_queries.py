#!/usr/bin/env python
"""Per-query timing + plan capture for the optimization loop (guide
§1: measure first, isolate with the noop sink, keep the plan).

    PYTHONPATH=/root/repo python tools/time_queries.py name1 name2 \
        [--sf=/root/testdata/sf0.1] [--runs=2] [--plans=plans/r15] \
        [--suffix=before]

Times each named catalog query with the same methodology as bench.py
(noop sink, min of N runs, shared stages pre-materialized when the
query belongs to a cached family) and, when --plans is given, writes
``<plans>/<name>_<suffix>.txt`` with the ``explain("formatted")``
output. Uses the bench session factory so numbers are comparable."""

from __future__ import annotations

import os
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for p in (_REPO_ROOT, os.path.join(_REPO_ROOT, "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(
        a[2:].split("=", 1) for a in sys.argv[1:] if a.startswith("--")
    )
    sf_dir = opts.get("sf", "/root/testdata/sf0.1")
    runs = int(opts.get("runs", "2"))
    plans_dir = opts.get("plans")
    suffix = opts.get("suffix", "plan")

    from rs_streamloader_spark.operators import REGISTRY
    from rs_streamloader_spark.session import get_session

    spark = get_session(app_name="rs_streamloader_spark-timeq")
    spark.sparkContext.setLogLevel("ERROR")
    # same warmup as bench.py so first-query numbers are comparable
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(1000).selectExpr("id % 10 AS k").groupBy("k").count().collect()
    from rs_streamloader_spark.session import load_tables

    for _name, df in load_tables(
        spark, sf_dir, "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ).items():
        df.limit(1).count()
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    _warm = pandas_udf(lambda s: s, "bigint")
    spark.range(100).select(_warm("id")).count()

    results = {}
    for name in names:
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(f"timeq:{name}")
        best = None
        try:
            for _ in range(runs):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
                best = elapsed if best is None else min(best, elapsed)
            results[name] = round(best, 3)
            print(f"TIME {name}: {best:.3f}s", flush=True)
            if plans_dir:
                # explain the last timed frame: calling fn again would
                # re-run a replay's streaming job and empty the scratch
                # dir that frame reads
                os.makedirs(os.path.join(_REPO_ROOT, plans_dir), exist_ok=True)
                txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                out = os.path.join(
                    _REPO_ROOT, plans_dir, f"{name}_{suffix}.txt"
                )
                with open(out, "w") as fh:
                    fh.write(txt)
                print(f"PLAN -> {out}", flush=True)
        except Exception as exc:
            results[name] = -1.0
            print(f"TIME FAIL {name}: {exc}", flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)
    total = sum(t for t in results.values() if t >= 0)
    print(f"TOTAL {total:.3f}s over {len(results)} queries", flush=True)
    out_json = opts.get("json")
    if out_json:
        import json

        with open(os.path.join(_REPO_ROOT, out_json), "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
