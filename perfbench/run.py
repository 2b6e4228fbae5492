"""Benchmark entry point. Run it from the root of a checkout:

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 20 --trace 0

Workloads: ``curation_e2e``, ``cdc_ingest`` (see README.md).
It builds a ``local[min(nproc // 2, 4)]`` session through the program's own
environment variables, keeps every file it writes under ``.perfbench_work``
(removed at exit) and ``.perfbench_out`` (results and traces), prints one
human-readable line per metric, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` spans are recorded around the program's layers and the
metrics are the per-layer ones. It exits 2, printing no result, when the
program is not in the current directory.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "result_p50_s": "s", "result_p90_s": "s",
    "landed_p50_s": "s", "landed_p90_s": "s", "peak_rss_mb": "MB",
}
E2E_LAYERS = [f"e2e.{s}_s" for s in (
    "stage1_exact", "stage2_containment", "stage3_minhash_lsh", "stage4_semdedup",
    "stage5_decontam", "stage6_quality_lang", "stage7_quota_waterfill", "stage8_pack")]
PER_LAYER = {
    "session.start_s": "s", "warmup_s": "s", "gen.inputs_s": "s", "operators.dedup_s": "s",
    **{k: "s" for k in E2E_LAYERS},
    "e2e.final_exec_s": "s", "e2e.jobs": "count", "e2e.stages": "count",
    "consumer.mirror_batch_s": "s", "consumer.log_batch_s": "s",
    "apply.merge_bucketed_s": "s", "apply.buckets_touched_frac": "ratio",
    "apply.bytes_rewritten_per_event": "B/event",
    "stream.mirror_overhead_s": "s", "stream.log_overhead_s": "s",
    "stream.mirror_jobs_per_batch": "count", "stream.log_jobs_per_batch": "count",
    "stream.mirror_rows_per_batch": "count", "stream.log_rows_per_batch": "count",
    "mirror.state_rows": "count", "mirror.state_bytes": "B", "dlq.rows": "count",
    "live.backlog_end_events": "count", "live.mirror_batches": "count", "gen.late_ms_max": "ms",
    "trace.top_level_frac": "ratio", "trace.overhead_frac": "ratio",
}
MAX_CPUS = 4


def _driver_heap_gb() -> int:
    """A quarter of the host's RAM, between 1 and 4 GB. MemTotal, not
    MemAvailable, so the setting does not move with other tenants."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def _configure_env(work: str, cpus: int | None) -> dict:
    """Size the session through the program's environment variables and
    keep the JVM's and Python's scratch files inside ``work``.

    The default parallelism is half the CPUs this process may use: on a
    shared virtual machine, task threads on every CPU leave none for the
    JVM's own threads (the two stream drivers, GC, JIT), Python and the
    OS, and the walls then follow the host's scheduler more than the
    program. The heap is fixed at its maximum from the start, so peak
    RSS does not follow the JVM's heap-growth decisions."""
    cpus = cpus or max(1, min(len(os.sched_getaffinity(0)) // 2, MAX_CPUS))
    heap = f"{_driver_heap_gb()}g"
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    confs = [
        "spark.ui.showConsoleProgress=false",
        f"spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
        "spark.sql.streaming.numRecentProgressUpdates=1000",
    ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_EXTRA_CONFS": ";".join(confs),
        # spark-submit's launcher JVM would otherwise keep a perf-data
        # file under /tmp while it runs.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return {"cpus": cpus, "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"]}


def _untraced_wall(path: str) -> float | None:
    """``wall_s`` of the correct untraced run recorded at ``path``, if any."""
    try:
        with open(path) as fh:
            r = json.load(fh)
    except (OSError, ValueError):
        return None
    return r["end_to_end"]["wall_s"] if r["correct"] else None


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("curation_e2e", "cdc_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=None,
                   help="local[N] parallelism (default min(nproc // 2, 4); 1 for the baseline)")
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs, for the self-test")
    p.add_argument("--inject", default="none",
                   choices=("none", "wrong_result", "drop_event", "corrupt_mirror"),
                   help="damage one output before the check, for the self-test")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec("cdc_poc_spark") is None:
        print("perfbench: no cdc_poc_spark package in the current directory;"
              " run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(work, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    config = _configure_env(work, args.cpus)

    from cdc_poc_spark.session import get_spark
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    tracer = Tracer(bool(args.trace))
    prepare, run = WORKLOADS[args.workload]
    ctx = Ctx(None, args.seed, args.seconds, work, tracer, tiny=args.tiny, inject=args.inject)
    spark = None
    try:
        t0 = time.perf_counter()
        prep = prepare(ctx)
        prep_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = ctx.spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        res = run(ctx, prep)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": prep_s + session_s + res.setup_s, **res.e2e}
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update(res.layers)
    layers["session.start_s"] = session_s
    correct = res.failed == 0
    tag = (f"{args.workload}-seed{args.seed}" + (f"-cpus{args.cpus}" if args.cpus else "")
           + ("-tiny" if args.tiny else "") + ("" if args.inject == "none" else f"-{args.inject}"))
    untraced = None
    if args.trace:
        # The trace against the untraced run of the same seed and size in
        # this checkout; without one, against this run's own wall.
        untraced = _untraced_wall(os.path.join(out_dir, f"{tag}-trace0.json"))
        ref = untraced or e2e["wall_s"]
        layers["trace.top_level_frac"] = res.top_level_s / ref
        layers["trace.overhead_frac"] = e2e["wall_s"] / ref - 1.0
    tag += f"-trace{args.trace}"
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "tiny": args.tiny, "inject": args.inject, **config,
              "correct": correct, "attempted": res.attempted, "failed": res.failed,
              "failed_frac": res.failed / res.attempted, "end_to_end": e2e,
              "untraced_wall_s": untraced,
              "per_layer": layers if args.trace else res.layers, "info": res.info}
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if tracer.enabled:
        tracer.dump(os.path.join(out_dir, f"trace-{tag}.json"), {"run": record})

    print(f"perfbench {args.workload} seed={args.seed} cpus={config['cpus']} "
          f"driver_mem={config['driver_mem']} trace={args.trace} "
          f"external_cpu_frac={res.info['external_cpu_frac']:.3f} "
          f"steal_frac={res.info['steal_frac']:.3f}")
    for k, v in e2e.items():
        print(f"  {k} {v:.4f} {END_TO_END[k]}")
    print(f"  failed_frac {record['failed_frac']:.4f} ratio"
          f" ({res.failed} of {res.attempted})")
    if "snapshot_events_per_s" in res.info:
        print(f"  snapshot_events_per_s {res.info['snapshot_events_per_s']:.4f} 1/s"
              f" (valid={res.info['valid']})")
    if args.trace:
        for k, v in layers.items():
            print(f"  {k} {v:.6g} {PER_LAYER[k]}")
    names = PER_LAYER if args.trace else END_TO_END
    source = layers if args.trace else e2e
    print(json.dumps({
        "correct": correct, "attempted": int(res.attempted), "failed": int(res.failed),
        "metrics": {k: {"value": float(source[k]), "unit": u} for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
