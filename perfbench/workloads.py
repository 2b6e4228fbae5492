"""The two benchmark workloads.

Each workload is a pair ``(prepare, run)``: ``prepare(ctx)`` runs before
the session starts, ``run(ctx, prep) -> Result`` measures the program and
checks every output against an oracle that shares no code with the
program: DuckDB running the registry's own oracle SQL, or the
generator's last-writer-wins replay.

Layers are timed from outside, in traced runs only, through their public
functions: ``CDCConsumer.merge_mirror_batch``/``land_log_batch``
(installed on the instance before ``start_*_query``),
``cdc.apply.merge_into_parquet_bucketed`` (the module attribute the
consumer calls), ``operators.dedup`` and the ``stage4..8_*``/``stage_row``
names ``queries.curation_e2e`` calls, and the registry query's ``fn`` and
the read of its result. Each workload also reports ``top_level_s``, the
sum of the top-level layer spans of the unit of work ``wall_s`` times,
which ``run.py`` compares with the untraced run of the same seed.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import threading
import time
from collections import Counter
from dataclasses import dataclass
from datetime import datetime

from . import gen
from .spans import Tracer, cpu_jiffies, external_cpu_frac, peak_rss_mb, steal_frac

# Pinned here, not imported from bench.py: the benchmark must not move
# when bench.py's query lists or its round-derived cohort change.
CURATION_QUERY = "pipeline_curation_e2e"
E2E_STAGES = (
    "stage1_exact", "stage2_containment", "stage3_minhash_lsh", "stage4_semdedup",
    "stage5_decontam", "stage6_quality_lang", "stage7_quota_waterfill", "stage8_pack",
)
# sf0.01 puts both corpus tables at the fixtures' 500-row floor; a run of
# the pipeline in a fresh session then costs ~25-30 s at local[2].
CURATION_SF = 0.01
MIRROR_BUCKETS = 64


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    tiny: bool = False
    inject: str = "none"


@dataclass
class Result:
    attempted: int
    failed: int
    setup_s: float          # inputs + warm-up (the session start is added by run.py)
    e2e: dict               # every end-to-end metric but setup_s
    layers: dict
    info: dict
    top_level_s: float = 0.0  # traced runs: top-level layer spans of the wall_s unit


def pctl(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _job_counts(sc, group: str) -> tuple[int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages += len(info.stageIds)
    return len(jobs), stages


# ---------------------------------------------------------------------------
# curation_e2e
# ---------------------------------------------------------------------------

def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, repr(x)) for x in r))


def same_result(spark_pdf, oracle_pdf) -> bool:
    """Order-insensitive exact equality, columns matched by name."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False
    return len(spark_pdf) == len(oracle_pdf) and _rows(spark_pdf) == _rows(oracle_pdf)


def _oracle(data_dir: str):
    """The curation query's expected rows: its DuckDB oracle SQL over the
    generated parquet files."""
    import duckdb

    from cdc_poc_spark.queries import all_specs

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(os.environ.get('SPARK_GRAFT_CPUS', '4'))}")
        con.execute("SET enable_progress_bar = false")
        for t in gen.CORPUS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        return con.execute(all_specs()[CURATION_QUERY].oracle).fetchdf()
    finally:
        con.close()


def _inject_wrong(df):
    """Fault injection for the self-test: drop one output row."""
    from pyspark.sql import functions as F

    first = df.limit(1).collect()
    if not first:
        return df
    cond = None
    for c, v in first[0].asDict().items():
        if isinstance(v, (list, dict)):
            continue
        e = F.col(c).eqNullSafe(F.lit(v))
        cond = e if cond is None else cond & e
    return df.filter(~cond) if cond is not None else df


class _Background:
    """Runs ``fn`` on a thread; ``result()`` joins and re-raises."""

    def __init__(self, fn):
        self._out: dict = {}

        def target():
            try:
                self._out["value"] = fn()
            except BaseException as e:  # re-raised by result()
                self._out["error"] = e

        self._t = threading.Thread(target=target, name="perfbench-oracle", daemon=True)
        self._t.start()

    def result(self):
        self._t.join()
        if "error" in self._out:
            raise self._out["error"]
        return self._out["value"]


def _patch_curation(tracer: Tracer) -> None:
    """Wrap every public ``operators.dedup`` function and the stage
    boundaries ``queries.curation_e2e`` calls, until ``tracer.restore``."""
    import inspect

    from cdc_poc_spark.operators import dedup
    from cdc_poc_spark.queries import curation_e2e

    for name, obj in list(vars(dedup).items()):
        if inspect.isfunction(obj) and not name.startswith("_") \
                and obj.__module__ == dedup.__name__:
            tracer.patch(dedup, name, f"dedup:{name}")
    for name in ("stage4_semdedup", "stage5_decontam", "stage6_quality",
                 "stage7_waterfill", "stage8_pack", "stage_row"):
        tracer.patch(curation_e2e, name, f"e2e:{name}")


def _dedup_time(spans: list[dict]) -> float:
    """Time inside operators.dedup: the outermost dedup spans."""
    ids = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["name"].startswith("dedup:"):
            p = ids.get(s["parent"])
            if p is None or not p["name"].startswith("dedup:"):
                total += s["end"] - s["start"]
    return total


def _stage_layers(spans: list[dict]) -> dict:
    """A traced run's spans -> the e2e.* layer times. A stage runs from
    entry to its first boundary call until entry to the next one, so
    each handoff's eager pin is billed to its own stage; the final
    execution is the rest of ``fn`` plus the read of the result."""
    inside = sorted(spans, key=lambda s: s["start"])

    def first(name):
        return next(s["start"] for s in inside if s["name"] == name)

    fn = next(s for s in inside if s["name"] == f"fn:{CURATION_QUERY}")
    read = next(s for s in inside if s["name"] == f"read:{CURATION_QUERY}")
    marks = [fn["start"], first("dedup:with_shingles"),
             first("dedup:minhash_lsh_dedup_pairs"), first("e2e:stage4_semdedup"),
             first("e2e:stage5_decontam"), first("e2e:stage6_quality"),
             first("e2e:stage7_waterfill"), first("e2e:stage8_pack"),
             first("e2e:stage_row")]
    out = {f"e2e.{s}_s": marks[i + 1] - marks[i] for i, s in enumerate(E2E_STAGES)}
    out["e2e.final_exec_s"] = fn["end"] - marks[-1] + read["end"] - read["start"]
    out["operators.dedup_s"] = _dedup_time(spans)
    return out


def prepare_curation_e2e(ctx: Ctx) -> dict:
    """Before the session starts: write the corpus, then compute the
    expected result on a background thread while the JVM starts."""
    sf = 0.001 if ctx.tiny else CURATION_SF
    data = os.path.join(ctx.work, "data")
    t0 = time.perf_counter()
    n_docs = gen.write_corpus(data, sf, ctx.seed)
    gen_s = time.perf_counter() - t0
    return {"sf": sf, "docs": n_docs, "data": data, "gen_s": gen_s,
            "expected": _Background(lambda: _oracle(data))}


def curation_e2e(ctx: Ctx, prep: dict) -> Result:
    """One run of the pipeline in the fresh session, as a user runs it:
    build (``fn``, which runs the stages' eager pins) and read the result.
    It takes longer than ``ctx.seconds``, so that only bounds it below.
    The oracle finishes before the run starts, so it takes no CPU from it."""
    from cdc_poc_spark.queries import all_specs

    spark, tr = ctx.spark, ctx.tracer
    sc = spark.sparkContext
    fn = all_specs()[CURATION_QUERY].fn
    if ctx.inject == "wrong_result":
        fn = (lambda s, d, _f=fn: _inject_wrong(_f(s, d)))
    t0 = time.perf_counter()
    expected = prep["expected"].result()
    oracle_wait_s = time.perf_counter() - t0

    group = "perfbench-curation"
    if tr.enabled:
        _patch_curation(tr)
        sc.setJobGroup(group, group)
    cpu0 = cpu_jiffies()
    p0 = time.perf_counter()
    with tr.span(f"fn:{CURATION_QUERY}"):
        df = fn(spark, prep["data"])
    p1 = time.perf_counter()
    with tr.span(f"read:{CURATION_QUERY}"):
        got = df.toPandas()
    p2 = time.perf_counter()
    cpu1 = cpu_jiffies()
    rss = peak_rss_mb()
    tr.restore()

    ok = same_result(got, expected)
    info = {"sf": prep["sf"], "docs": prep["docs"], "oracle_wait_s": oracle_wait_s,
            "external_cpu_frac": external_cpu_frac(cpu0, cpu1),
            "steal_frac": steal_frac(cpu0, cpu1), "output_ok": ok}
    layers = {"gen.inputs_s": prep["gen_s"]}
    top = 0.0
    if tr.enabled:
        sc.setLocalProperty("spark.jobGroup.id", None)
        layers["e2e.jobs"], layers["e2e.stages"] = _job_counts(sc, group)
        layers.update(_stage_layers(tr.spans))
        top = sum(layers[f"e2e.{s}_s"] for s in E2E_STAGES) + layers["e2e.final_exec_s"]
    wall = p2 - p0
    e2e = {"wall_s": wall, "result_p50_s": wall, "result_p90_s": wall,
           "landed_p50_s": p1 - p0, "landed_p90_s": p1 - p0, "peak_rss_mb": rss}
    return Result(1, 0 if ok else 1, prep["gen_s"], e2e, layers, info, top)


# ---------------------------------------------------------------------------
# cdc_ingest
# ---------------------------------------------------------------------------

CDC_SIZES = {  # tiny -> (snapshot events, live events/s, warm-up live events, live mirror batches needed)
    False: (10_000, 250, 1_000, 3),
    True: (400, 200, 100, 1),
}
# Phase A is drained this many times, each time by a fresh pipeline on
# its own snapshot; wall_s is the median drain. The last pipeline goes
# on into phase B.
SNAPSHOT_DRAINS = {False: 3, True: 2}
LIVE_TICK_S = 0.1
# A run is valid only if the generator was never later than this, and
# the events not yet read by the mirror when the live phase ended are at
# most this many batches' worth (live rate x median live batch time).
LATE_LIMIT_MS = 250.0
BACKLOG_LIMIT_BATCHES = 1.5


def _table_specs():
    from pyspark.sql import types as T

    from cdc_poc_spark.streaming.consumer import TableSpec

    return {
        "commerce_account": TableSpec(T.StructType([
            T.StructField("user_id", T.IntegerType()),
            T.StructField("email", T.StringType()),
            T.StructField("created_at", T.LongType())]), ("user_id",)),
        "commerce_product": TableSpec(T.StructType([
            T.StructField("product_id", T.IntegerType()),
            T.StructField("product_name", T.StringType()),
            T.StructField("created_at", T.LongType())]), ("product_id",)),
    }


class _Pipeline:
    """Both consumption paths over one envelope file stream, each with
    its own DLQ (a shared DLQ directory would let one path's epoch
    overwrite the other's), sharing one warehouse. With ``traced`` the
    two batch functions are wrapped in spans keyed by (pipeline, epoch)."""

    def __init__(self, ctx: Ctx, base: str, traced: bool):
        from cdc_poc_spark.sources.files import envelope_json_stream
        from cdc_poc_spark.streaming.consumer import CDCConsumer

        self.base = base
        self.input = os.path.join(base, "input")
        os.makedirs(self.input, exist_ok=True)
        wh, ck = os.path.join(base, "warehouse"), os.path.join(base, "ckpt")
        self.log = CDCConsumer(wh, ck, dlq_dir=os.path.join(base, "dlq_log"))
        self.mirror = CDCConsumer(wh, ck, tables=_table_specs(), mirror_buckets=MIRROR_BUCKETS,
                                  dlq_dir=os.path.join(base, "dlq_mirror"))
        if traced:
            tr = ctx.tracer
            label = os.path.basename(base)
            epoch = (lambda args: (label, int(args[1])))
            self.log.land_log_batch = tr.wrap(self.log.land_log_batch, "consumer.log_batch", epoch)
            self.mirror.merge_mirror_batch = tr.wrap(
                self.mirror.merge_mirror_batch, "consumer.mirror_batch", epoch)
        self.stream = lambda: envelope_json_stream(ctx.spark, self.input)
        self.queries = []

    def write(self, name: str, records) -> None:
        gen.write_jsonl(os.path.join(self.input, name), records)

    def stage_snapshot(self, g: gen.CdcGenerator, n: int) -> dict[str, int]:
        """Write an ``op=r`` backlog of ``n`` events as four files; return
        file name -> events."""
        snap = g.snapshot(n, int(time.time() * 1000))
        per_file = max(1, len(snap) // 4)
        out = {}
        for i in range(0, len(snap), per_file):
            name = f"snap-{i // per_file:03d}.json"
            self.write(name, snap[i:i + per_file])
            out[name] = len(snap[i:i + per_file])
        return out

    def start(self, available_now: bool) -> None:
        self.queries = [self.log.start_log_query(self.stream(), available_now),
                        self.mirror.start_mirror_query(self.stream(), available_now)]

    def drain(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def drain_snapshot(self) -> float:
        """Phase A, closed loop: start both paths on the staged backlog and
        wait until both have committed it. Returns the seconds from the
        start to the end of the later path's last snapshot batch."""
        ta = time.time()
        self.start(available_now=False)
        self.drain()
        ends = []
        for path, q in zip(("log", "mirror"), self.queries):
            fb = self.file_batches(path)
            prog = _progress(q)
            ends.append(max(prog[fb[f]]["end"] for f in fb if f.startswith("snap-")))
        return max(ends) - ta

    def stop(self, finish: bool = False) -> None:
        """Stop both queries; with ``finish`` (available-now queries) first
        let each run to its end."""
        for q in self.queries if finish else ():
            q.awaitTermination(120)
        for q in self.queries:
            q.stop()
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")

    def file_batches(self, path: str) -> dict[str, int]:
        """Input file name -> batch id, from the file source's log."""
        out = {}
        for f in sorted(glob.glob(os.path.join(self.base, "ckpt", path, "sources", "0", "*"))):
            with open(f) as fh:
                for line in fh.read().splitlines()[1:]:
                    if line.strip():
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = int(e["batchId"])
        return out


def _progress(q) -> dict[int, dict]:
    """batch id -> start and end (epoch seconds), rows, addBatch and
    triggerExecution seconds, for every micro-batch that read data."""
    out = {}
    for p in q.recentProgress:
        if not p.numInputRows:
            continue
        d = p.durationMs
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        out[p.batchId] = {"start": start, "end": start + d["triggerExecution"] / 1000.0,
                          "rows": p.numInputRows,
                          "add_s": d.get("addBatch", 0) / 1000.0,
                          "trigger_s": d["triggerExecution"] / 1000.0}
    return out


def _dir_snapshot(path: str) -> dict[str, dict[str, int]]:
    snap: dict[str, dict[str, int]] = {}
    if not os.path.isdir(path):
        return snap
    for b in os.listdir(path):
        d = os.path.join(path, b)
        if b.startswith("__bucket=") and os.path.isdir(d):
            snap[b] = {f: os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                       if f.endswith(".parquet")}
    return snap


class _ApplyProbe:
    """Wraps ``cdc.apply.merge_into_parquet_bucketed`` in traced runs and
    diffs the target's bucket directories around each call."""

    def __init__(self, tracer: Tracer):
        from cdc_poc_spark.cdc import apply as cdc_apply

        self.calls = 0
        self.touched = 0
        self.bytes = 0
        if not tracer.enabled:
            return
        orig = cdc_apply.merge_into_parquet_bucketed

        def probe(spark, target_path, *args, **kwargs):
            before = _dir_snapshot(target_path)
            with tracer.span("apply.merge_bucketed"):
                orig(spark, target_path, *args, **kwargs)
            after = _dir_snapshot(target_path)
            changed = [b for b in after if after[b] != before.get(b)]
            changed_gone = [b for b in before if b not in after]
            self.calls += 1
            self.touched += len(changed) + len(changed_gone)
            self.bytes += sum(sum(after[b].values()) for b in changed)

        tracer._patched.append((cdc_apply, "merge_into_parquet_bucketed", orig))
        cdc_apply.merge_into_parquet_bucketed = probe


def cdc_ingest(ctx: Ctx, prep: None) -> Result:
    spark, tr = ctx.spark, ctx.tracer
    n_snap, rate, n_warm, min_batches = CDC_SIZES[ctx.tiny]
    t0 = time.perf_counter()

    # Pre-warm both paths on throwaway pipelines: a full-size snapshot and
    # then a live batch compile the mirror's create and update paths, the
    # log and both DLQs; then one more snapshot drain on a fresh pipeline.
    # Without that drain the first timed drain ran 10-40% slower than
    # the later ones.
    warm = _Pipeline(ctx, os.path.join(ctx.work, "warm"), traced=False)
    wgen = gen.CdcGenerator(ctx.seed + 1_000_003)
    warm.stage_snapshot(wgen, n_snap)
    warm.drain_snapshot()
    warm.write("live-warm.json", wgen.live(n_warm, int(time.time() * 1000)))
    warm.drain()
    warm.stop()
    warm = _Pipeline(ctx, os.path.join(ctx.work, "warm2"), traced=False)
    warm.stage_snapshot(wgen, n_snap)
    warm.drain_snapshot()
    warm.stop()
    warm_s = time.perf_counter() - t0

    # Every drain's snapshot is staged before the first one starts; the
    # last pipeline's generator has the run's seed.
    t0 = time.perf_counter()
    n_drains = SNAPSHOT_DRAINS[ctx.tiny]
    runs = []
    for j in range(n_drains):
        g = gen.CdcGenerator(ctx.seed + 2_000_003 * (n_drains - 1 - j))
        p = _Pipeline(ctx, os.path.join(ctx.work, f"run{j}"), traced=tr.enabled)
        runs.append((p, g, p.stage_snapshot(g, n_snap)))
    pipe, g, file_events = runs[-1]
    n_live = int(rate * ctx.seconds)
    per_tick = max(1, int(rate * LIVE_TICK_S))
    gen_s = time.perf_counter() - t0
    probe = _ApplyProbe(tr)

    cpu0 = cpu_jiffies()
    snap_walls = []
    for p, _, _ in runs:
        snap_walls.append(p.drain_snapshot())
        if p is not pipe:
            p.stop()
    snap_wall = statistics.median(snap_walls)
    steal_a = steal_frac(cpu0, cpu_jiffies())

    # Phase B: live changes on a fixed schedule, open loop. Event i is
    # due at tb + i/rate; a file holds the events due in one tick and is
    # written at the tick's end, however far behind the pipeline is.
    files: list[tuple[str, list[float]]] = []
    late_ms: list[float] = []
    tb = time.time() + 0.2
    i = k = 0
    while i < n_live:
        n = min(per_tick, n_live - i)
        due = tb + (i + n) / rate
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        name = f"live-{k:05d}.json"
        pipe.write(name, g.live(n, int(due * 1000)))
        late_ms.append(max(0.0, (time.time() - due) * 1000.0))
        files.append((name, [tb + (i + j) / rate for j in range(n)]))
        file_events[name] = n
        i += n
        k += 1
    t_live_end = time.time()
    pipe.drain()
    cpu1 = cpu_jiffies()
    ext, steal = external_cpu_frac(cpu0, cpu1), steal_frac(cpu0, cpu1)
    rss = peak_rss_mb()
    prog = {"log": _progress(pipe.queries[0]), "mirror": _progress(pipe.queries[1])}
    run_ids = {"log": str(pipe.queries[0].runId), "mirror": str(pipe.queries[1].runId)}
    pipe.stop()
    tr.restore()

    if ctx.inject != "none":
        _inject_cdc(pipe, ctx.inject)

    # Freshness: scheduled creation -> end of the batch that committed it.
    fresh: dict[str, list[float]] = {}
    fbs: dict[str, dict[str, int]] = {}
    batch_events: dict[str, Counter] = {}
    for path in ("log", "mirror"):
        fb = fbs[path] = pipe.file_batches(path)
        batch_events[path] = Counter()
        for name, b in fb.items():
            batch_events[path][b] += file_events[name]
        fresh[path] = [prog[path][fb[name]]["end"] - t for name, ts in files for t in ts]

    # Did the mirror keep up? The backlog is the live events no mirror
    # batch had started on when the live phase ended; a pipeline that
    # keeps up has at most about one batch's worth of them.
    mirror = prog["mirror"]
    live_batches = sorted({fbs["mirror"][name] for name, _ in files})
    started = [b for b in live_batches if mirror[b]["start"] <= t_live_end]
    backlog = sum(len(ts) for name, ts in files if mirror[fbs["mirror"][name]]["start"] > t_live_end)
    batch_s = statistics.median(mirror[b]["trigger_s"] for b in started) if started else 0.0
    backlog_limit = BACKLOG_LIMIT_BATCHES * rate * batch_s
    valid = (len(started) >= min_batches and backlog <= backlog_limit
             and max(late_ms) <= LATE_LIMIT_MS)

    failed, detail = _check_cdc(spark, pipe, g)
    attempted = len(g.events) + len(g.poisoned)
    for p, pg, _ in runs[:-1]:
        failed += _check_cdc(spark, p, pg)[0]
        attempted += len(pg.events) + len(pg.poisoned)
    if not valid:
        failed = attempted

    layers = {"gen.inputs_s": gen_s, "warmup_s": warm_s,
              "live.backlog_end_events": backlog, "live.mirror_batches": len(started),
              "gen.late_ms_max": max(late_ms)}
    sc = spark.sparkContext
    for path in ("mirror", "log"):
        ps = list(prog[path].values())
        layers[f"stream.{path}_overhead_s"] = statistics.median(
            p["trigger_s"] - p["add_s"] for p in ps)
        layers[f"stream.{path}_rows_per_batch"] = statistics.median(batch_events[path].values())
        layers[f"stream.{path}_jobs_per_batch"] = (
            len(sc.statusTracker().getJobIdsForGroup(run_ids[path])) / len(ps))
    layers.update(detail["layers"])
    top = 0.0
    if tr.enabled:
        def durations(name):
            return [s["end"] - s["start"] for s in tr.named(name)]

        layers["consumer.mirror_batch_s"] = statistics.median(durations("consumer.mirror_batch"))
        layers["consumer.log_batch_s"] = statistics.median(durations("consumer.log_batch"))
        layers["apply.merge_bucketed_s"] = statistics.median(durations("apply.merge_bucketed"))
        layers["apply.buckets_touched_frac"] = probe.touched / (MIRROR_BUCKETS * probe.calls)
        layers["apply.bytes_rewritten_per_event"] = probe.bytes / (
            sum(batch_events["mirror"].values()) + n_snap * (n_drains - 1))
        # The top-level span of phase A: the mirror path's snapshot batch,
        # the slower of the two paths; the median over the drains, as
        # wall_s is.
        per_drain = []
        for p, _, _ in runs:
            label = os.path.basename(p.base)
            snap = {b for f, b in p.file_batches("mirror").items() if f.startswith("snap-")}
            per_drain.append(sum(s["end"] - s["start"] for s in tr.named("consumer.mirror_batch")
                                 if s["key"][0] == label and s["key"][1] in snap))
        top = statistics.median(per_drain)

    info = {"snapshot_events": n_snap, "rate_events_per_s": rate, "live_s": ctx.seconds,
            "live_events": n_live, "snapshot_drain_s": snap_walls,
            "snapshot_events_per_s": n_snap / snap_wall,
            "mirror_batches": [(b, batch_events["mirror"][b], p["trigger_s"])
                               for b, p in sorted(mirror.items())],
            "log_batches": [(b, batch_events["log"][b], p["trigger_s"])
                            for b, p in sorted(prog["log"].items())],
            "backlog_end_events": backlog, "backlog_limit_events": backlog_limit,
            "live_mirror_batches": len(started), "gen_late_ms_max": max(late_ms),
            "late_limit_ms": LATE_LIMIT_MS, "valid": valid, "external_cpu_frac": ext,
            "steal_frac": steal, "phase_a_steal_frac": steal_a,
            **detail["info"]}
    e2e = {"wall_s": snap_wall,
           "result_p50_s": pctl(fresh["mirror"], 50), "result_p90_s": pctl(fresh["mirror"], 90),
           "landed_p50_s": pctl(fresh["log"], 50), "landed_p90_s": pctl(fresh["log"], 90),
           "peak_rss_mb": rss}
    return Result(attempted, min(failed, attempted), gen_s + warm_s, e2e, layers, info, top)


def _inject_cdc(pipe: _Pipeline, fault: str) -> None:
    """Fault injection for the self-test: damage one landed row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if fault == "drop_event":
        files = sorted(glob.glob(os.path.join(pipe.base, "warehouse", "cdc_log", "*", "*",
                                              "*.parquet")))
    elif fault == "corrupt_mirror":
        files = sorted(glob.glob(os.path.join(pipe.base, "warehouse", "mirror",
                                              "commerce_account", "*", "*.parquet")))
    else:
        return
    f = next(p for p in files if pq.read_metadata(p).num_rows > 0)
    crc = os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    t = pq.read_table(f)
    if fault == "drop_event":
        t = t.slice(1)
    else:
        emails = t.column("email").to_pylist()
        emails[0] = "corrupted@example.com"
        t = t.set_column(t.schema.get_field_index("email"), "email", pa.array(emails))
    pq.write_table(t, f)


def _check_cdc(spark, pipe: _Pipeline, g: gen.CdcGenerator) -> tuple[int, dict]:
    """Failures against the generator: every mirror key that differs from
    the replay, every log row missing, duplicated or with the wrong op,
    and every DLQ row missing or extra, on each path."""
    failed = 0
    state = g.replay()
    rows = 0
    for table, key in gen.KEYS.items():
        got = {}
        for r in pipe.mirror.read_mirror(spark, f"commerce_{table}").drop("op").collect():
            d = r.asDict()
            seq = d.pop("seq")
            got[d[key]] = tuple(sorted(d.items())) + (("seq", seq),)
        rows += len(got)
        want = state[table]
        failed += sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))

    landed = Counter()
    for table in gen.KEYS:
        for r in pipe.log.read_log_table(spark, f"commerce_{table}").select("seq", "op").collect():
            landed[(table, r.seq, r.op)] += 1
    expect = Counter((t, off, op) for t, off, op, _ in g.events)
    failed += sum(((landed - expect) + (expect - landed)).values())

    poisoned = Counter(g.poisoned)
    topic_table = {v: k for k, v in gen.TOPICS.items()}
    dlq_rows = 0
    for path in ("dlq_log", "dlq_mirror"):
        d = os.path.join(pipe.base, path)
        got = Counter()
        # A snapshot-only pipeline has no poisoned events, so no DLQ files.
        if glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
            for r in spark.read.parquet(d).select("topic", "offset").collect():
                got[(topic_table[r.topic], r.offset)] += 1
        dlq_rows += sum(got.values())
        failed += sum(((got - poisoned) + (poisoned - got)).values())

    state_bytes = sum(os.path.getsize(f) for f in glob.glob(
        os.path.join(pipe.base, "warehouse", "mirror", "**", "*.parquet"), recursive=True))
    return failed, {"layers": {"mirror.state_rows": rows, "mirror.state_bytes": state_bytes,
                               "dlq.rows": dlq_rows},
                    "info": {"poisoned": len(g.poisoned)}}


#: name -> (prepare, before the session starts; run)
WORKLOADS = {
    "curation_e2e": (prepare_curation_e2e, curation_e2e),
    "cdc_ingest": (lambda ctx: None, cdc_ingest),
}
