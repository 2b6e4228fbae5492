"""Time individual registered queries with the noop sink (guide §1.4)
— the focused before/after harness for optimization work. Same
methodology as bench.py (warmup at sf0.001, per-query min over n runs,
external-CPU covariate per sample), without the full headline sweep.

Usage: python tools/time_queries.py [-n RUNS] <query> [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = "/root/testdata/sf0.001"

    import bench

    from cdc_poc_spark.queries import all_specs
    from cdc_poc_spark.session import get_spark

    spark = get_spark(app_name="time-queries")
    specs = all_specs()
    jvm_gc = spark.sparkContext._jvm.System.gc  # type: ignore[attr-defined]
    results = {}
    for name in names:
        fn = specs[name].fn
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        bench._force(fn(spark, warm_dir))
        spark.catalog.clearCache()
        ts, exts = [], []
        for _ in range(n):
            jvm_gc()
            spark.sparkContext.setJobDescription(f"timed: {name}")
            wall, ext = bench._timed_sample(spark, fn, sf_dir)
            ts.append(wall)
            exts.append(ext)
        spark.sparkContext.setJobDescription(None)
        results[name] = (min(ts), ts, max(exts))
        print(
            f"{name}: min={min(ts):.3f}s samples={[round(t, 3) for t in ts]}"
            f" ext_max={max(exts)}",
            flush=True,
        )
    print("---")
    for name, (mn, _, ext) in results.items():
        print(f"{mn:8.3f}s ext={ext:<5} {name}")


if __name__ == "__main__":
    main()
