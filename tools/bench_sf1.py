"""The sf1 scale anchor (round 13, VERDICT r12 task #3): run the
core-15 bench set plus pipeline_curation_e2e ONCE at sf1-scale data
(the 10x replica of sf0.1 built by tools/make_scale_probe.py — ~6 M
lineitem rows) and at sf0.1, and record the per-query sf0.1 -> sf1
scaling exponent alpha = log10(t_sf1 / t_sf0.1). alpha == 1 is
perfectly linear; the 10x-clone replica makes the documents-table
queries ADVERSARIAL (every doc/embedding is a 10x clone family), so a
collapse-first operator can legitimately score < 1 on bytes touched
past the collapse, while anything > 1 needs (and gets, in PLANS.md) a
structural explanation.

Timing discipline: bench.py's — warm every plan at sf0.001 first, n
warm samples per (query, scale) with the external-CPU covariate on
each, per-query MIN as the contention-robust statistic.

Usage: python tools/bench_sf1.py [--n 2]
Env: BENCH_SF1_DIR (default /tmp/sfprobe), writes BENCH_SF1.json.
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (repo-root bench.py — the timing machinery)
from cdc_poc_spark.queries import all_specs  # noqa: E402
from cdc_poc_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = 2
    if "--n" in sys.argv:
        n = int(sys.argv[sys.argv.index("--n") + 1])
    sf1_dir = os.environ.get("BENCH_SF1_DIR", "/tmp/sfprobe")
    names = bench.CORE + ["pipeline_curation_e2e"]
    spark = get_spark(app_name="cdc-poc-bench-sf1")
    specs = all_specs()

    for name in names:  # codegen/JIT warmup outside the timed region
        bench._force(specs[name].fn(spark, "/root/testdata/sf0.001"))
        spark.catalog.clearCache()

    jvm_gc = spark.sparkContext._jvm.System.gc  # type: ignore[attr-defined]
    out: dict[str, dict] = {}
    load_start = bench._loadavg()
    for name in names:
        row: dict = {}
        for key, sf_dir in (("sf0.1", "/root/testdata/sf0.1"), ("sf1", sf1_dir)):
            walls, exts = [], []
            for _ in range(n):
                jvm_gc()
                wall, ext = bench._timed_sample(spark, specs[name].fn, sf_dir)
                walls.append(wall)
                exts.append(ext)
            row[key] = {
                "min_sec": round(min(walls), 3),
                "samples": [round(w, 3) for w in walls],
                "ext_cpu_frac": exts,
            }
        r = row["sf1"]["min_sec"] / max(row["sf0.1"]["min_sec"], 1e-9)
        row["ratio_10x"] = round(r, 3)
        row["alpha"] = round(math.log10(max(r, 1e-9)), 3)
        out[name] = row
        print(
            f"{name}: sf0.1={row['sf0.1']['min_sec']}s "
            f"sf1={row['sf1']['min_sec']}s ratio={row['ratio_10x']} "
            f"alpha={row['alpha']}",
            flush=True,
        )
    record = {
        "sf1_dir": sf1_dir,
        "n_samples": n,
        "loadavg_start": load_start,
        "loadavg_end": bench._loadavg(),
        "queries": out,
        "total_sf01_min": round(sum(v["sf0.1"]["min_sec"] for v in out.values()), 3),
        "total_sf1_min": round(sum(v["sf1"]["min_sec"] for v in out.values()), 3),
    }
    with open(os.path.join(REPO, "BENCH_SF1.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(
        f"BENCH_SF1.json: {len(out)} queries, total "
        f"{record['total_sf01_min']}s -> {record['total_sf1_min']}s"
    )


if __name__ == "__main__":
    main()
