"""KG-engine benchmark: seeded workloads against the engine's public entry
points, every iteration checked against the repo's oracles.

    python3 kgbench/run.py --workload ep2_samples --seed 1 --seconds 10 \
        --trace 0
    python3 kgbench/run.py --smoke        # every workload once at sf0.001

One driver process runs ``local[nproc]`` with no extra client threads
(closed loop: the next iteration starts when the previous one is checked).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
iteration untraced and then traced (Spark event log on) and decomposes it
into layers, printing the per-layer metrics. Human-readable lines come
first; the last line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WARMUP_SF = 0.001
SETUPS = 3            # session set-ups per run; setup_s is their median
RUN_BUDGET_S = 150    # no new iteration once a run could pass this

# Wall-clock throughput is printed but not a bounded metric: on a shared
# 4-vCPU VM it follows hypervisor steal (0.6% -> 27% steal moved one
# ep2_samples iteration 4.2 s -> 8.4 s wall, but 14.3 -> 16.9 s CPU).
END_TO_END = [  # name, unit
    ("setup_s", "s"), ("cpu_s", "s"), ("peak_rss_mb", "MB"),
]
PER_LAYER = [  # name, unit
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("parse.busy_s", "s"), ("parse.python_s", "s"),
    ("parse.bytes_to_python", "B"), ("parse.bytes_from_python", "B"),
    ("parse.passes", "ratio"), ("pipeline.build_s", "s"),
    ("mentions.busy_s", "s"), ("mentions.rows", "count"),
    ("pairs.busy_s", "s"), ("pairs.rows", "count"),
    ("pairs.cross_rows", "count"), ("pairs.yield", "ratio"),
    ("opinions.busy_s", "s"), ("opinions.rows", "count"),
    ("expansion.busy_s", "s"), ("expansion.rows_in", "count"),
    ("expansion.rows_out", "count"),
    ("samples.busy_s", "s"), ("samples.rows", "count"),
    ("exchange.count", "count"), ("exchange.shuffle_bytes", "B"),
    ("exchange.shuffle_write_s", "s"), ("exchange.broadcast_bytes", "B"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
    ("runner.bucket_s", "s"), ("runner.lineage_s", "s"),
    ("runner.finalize_s", "s"), ("runner.bytes_written", "B"),
    ("runner.files_written", "count"), ("runner.scan_amplification", "ratio"),
    ("streaming.batches", "count"), ("streaming.batch_s", "s"),
    ("streaming.add_batch_s", "s"), ("streaming.plan_s", "s"),
    ("streaming.rows_per_batch", "count"),
    ("trace.busy_sum_s", "s"), ("trace.remainder_s", "s"),
    ("trace.overhead_s", "s"), ("trace.first_call_cpu_s", "s"),
]
LAYERS = ("parse", "mentions", "pairs", "opinions", "expansion", "samples")


def _env() -> None:
    """Keep every file the run writes inside this directory and let Spark's
    Python workers import the engine from the checkout root."""
    tmp = os.path.join(HERE, "_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVM reads this before spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(HERE, "_work", "spark-local")
    # HotSpot writes perf data to /tmp whatever java.io.tmpdir says; this
    # covers the spark-submit launcher JVM (the driver JVM gets the flag too)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT]


class Sessions:
    """Starts and stops Spark sessions in this process; owns the JVM."""

    def __init__(self, nproc: int, run_dir: str):
        self.nproc, self.run_dir = nproc, run_dir
        self.spark = None

    def start(self, event_log: str | None = None):
        from arekit_r335_spark.config import ScaleConfig
        from arekit_r335_spark.session import get_spark
        tmp = os.path.join(HERE, "_work", "tmp")
        conf = {
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # display only: keeps scan locations in the logged plans whole,
            # so eventlog.scan_of can match the input path
            "spark.sql.maxMetadataStringLength": "1000",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.dir": event_log})
        self.spark = get_spark(app_name="kgbench",
                               master=f"local[{self.nproc}]",
                               scale=ScaleConfig(
                                   shuffle_partitions=2 * self.nproc,
                                   extra_conf=conf))
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext
        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, then wait for the JVM and every process it started
        (the Python worker daemon and its workers) to exit."""
        import subprocess

        from pyspark import SparkContext

        import probes
        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        descendants = probes.tree_pids(proc.pid)[1:]
        gw.shutdown()
        proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.time() + 30
        while time.time() < deadline and any(
                probes.alive(pid) for pid in descendants):
            time.sleep(0.1)


def warmup(spark, corpus: str) -> None:
    """One Arrow-parse job at sf0.001: spawns the Python workers (engine
    import included) and loads the scan and Arrow paths in the JVM."""
    from arekit_r335_spark.config import PipelineConfig
    from arekit_r335_spark.lexicons import FramesLexicon, KgInputs
    from arekit_r335_spark.operators.parse import parse_transcripts
    inputs = KgInputs.at(corpus)
    parse_transcripts(spark.read.parquet(inputs.transcripts),
                      FramesLexicon.from_json(inputs.frames),
                      PipelineConfig()).count()


def set_up(sessions: Sessions, warm_corpus: str, event_log=None):
    t0 = time.perf_counter()
    spark = sessions.start(event_log)
    t1 = time.perf_counter()
    warmup(spark, warm_corpus)
    return spark, t1 - t0, time.perf_counter() - t1


class Spans:
    """Named wall-clock spans, kept in memory and written out at the end."""

    def __init__(self):
        self.items: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.items.append({"name": name, "parent": parent,
                               "t0": t0, "t1": time.time()})

    def total(self, name: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.items if s["name"] == name)

    def window_ms(self, name: str) -> tuple[float, float]:
        s = next(s for s in self.items if s["name"] == name)
        return s["t0"] * 1e3, s["t1"] * 1e3


def iterate(ctx, w, sessions, expected, n_turns) -> dict:
    """One timed iteration plus its untimed check."""
    import probes
    shutil.rmtree(ctx.scratch, ignore_errors=True)
    os.makedirs(ctx.scratch)
    jvm = sessions.jvm_pid
    probes.reset_peak_rss(jvm)
    cpu0, steal = probes.tree_cpu_s(jvm), probes.Steal()
    t0 = time.perf_counter()
    rec = {"ok": False, "problems": []}
    try:
        out = w.run(ctx)
        wall = time.perf_counter() - t0
        rec.update(wall=wall, turns_per_s=n_turns / wall,
                   cpu_s=probes.tree_cpu_s(jvm) - cpu0,
                   peak_rss_mb=probes.tree_peak_rss_mb(jvm),
                   steal=steal.fraction(), outcome=out)
        rec["problems"] += out.check(expected)
        rec["ok"] = not rec["problems"]
    except Exception:  # noqa: BLE001 - a failed iteration is counted
        rec["problems"].append(traceback.format_exc(limit=3))
    return rec


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(setups, measured) -> dict:
    return {
        "setup_s": _median([a + b for a, b in setups]),
        "cpu_s": _median([r["cpu_s"] for r in measured]),
        "peak_rss_mb": _median([r["peak_rss_mb"] for r in measured]),
    }


def layer_metrics(w, ctx, events, spans, setups, priming, untraced, traced,
                  rows, lineage_s) -> dict:
    from eventlog import Summary, named, scan_of
    it = Summary(events, *spans.window_ms("traced"))
    one_pass = Summary(events, *spans.window_ms("parse")).metric(
        named("MapInArrow"), "data sent to Python workers")
    arrow = named("MapInArrow")
    sent = it.metric(arrow, "data sent to Python workers")
    src = ctx.inputs.transcripts
    if not it.count(scan_of(src)):
        raise RuntimeError(f"no scan of {src} in the logged plans")
    busy = {name: spans.total(name) for name in LAYERS}
    m = {
        "session.start_s": _median([a for a, _ in setups]),
        "session.warmup_s": _median([b for _, b in setups]),
        "parse.python_s": it.metric(arrow, "time to run Python workers") / 1e3,
        "parse.bytes_to_python": sent,
        "parse.bytes_from_python": it.metric(
            arrow, "data returned from Python workers"),
        "parse.passes": sent / (one_pass * w.ingests) if one_pass else 0.0,
        "pipeline.build_s": spans.total("pipeline"),
        "mentions.rows": rows["mentions"],
        "pairs.rows": rows["pairs"], "pairs.cross_rows": rows["cross"],
        "pairs.yield": rows["pairs"] / rows["cross"] if rows["cross"] else 0.0,
        "opinions.rows": rows["opinions"],
        "expansion.rows_in": rows["expansion_in"],
        "expansion.rows_out": rows["expansion_out"],
        "samples.rows": rows.get("samples", 0),
        "exchange.count": it.count(named("Exchange")),
        "exchange.shuffle_bytes": it.metric(named("Exchange"),
                                            "shuffle bytes written"),
        "exchange.shuffle_write_s": it.metric(named("Exchange"),
                                              "shuffle write time") / 1e9,
        "exchange.broadcast_bytes": it.metric(named("BroadcastExchange"),
                                              "data size"),
        "spark.jobs": it.jobs, "spark.stages": it.stages,
        "spark.tasks": it.tasks, "spark.executor_run_s": it.executor_run_s,
        "spark.executor_cpu_s": it.executor_cpu_s, "spark.gc_s": it.gc_s,
        "runner.bucket_s": 0.0, "runner.lineage_s": lineage_s,
        "runner.finalize_s": 0.0, "runner.bytes_written": 0,
        "runner.files_written": 0,
        "runner.scan_amplification": it.metric(
            scan_of(src), "size of files read") / os.path.getsize(src),
        "streaming.batches": 0, "streaming.batch_s": 0.0,
        "streaming.add_batch_s": 0.0, "streaming.plan_s": 0.0,
        "streaming.rows_per_batch": 0,
        "trace.busy_sum_s": sum(busy.values()),
        "trace.remainder_s": untraced["wall"] - sum(busy.values()),
        "trace.overhead_s": traced["wall"] - untraced["wall"],
        "trace.first_call_cpu_s": priming["cpu_s"] - untraced["cpu_s"],
    }
    m.update({f"{name}.busy_s": t for name, t in busy.items()})
    out = untraced["outcome"]
    if "sink" in out.extra:
        files = [os.path.join(dp, f)
                 for dp, _, fs in os.walk(out.extra["sink"])
                 for f in fs if f.endswith(".parquet")]
        m.update({"runner.bucket_s": _median(out.extra["bucket_s"]),
                  "runner.finalize_s": out.extra["finalize_s"],
                  "runner.bytes_written": sum(map(os.path.getsize, files)),
                  "runner.files_written": len(files)})
    if "progress" in out.extra:
        ps = out.extra["progress"]
        m.update({
            "streaming.batches": len(ps),
            "streaming.batch_s": _median(
                [p.durationMs["triggerExecution"] / 1e3 for p in ps]),
            "streaming.add_batch_s": _median(
                [p.durationMs.get("addBatch", 0) / 1e3 for p in ps]),
            "streaming.plan_s": _median(
                [p.durationMs.get("queryPlanning", 0) / 1e3 for p in ps]),
            "streaming.rows_per_batch": _median([p.numInputRows for p in ps]),
        })
    return m


def traced_run(ctx, w, sessions, expected, n_turns, warm, spans, setups):
    """Two untraced iterations (the second, past the first-call codegen, is
    the reference), then the last set-up with the event log on, the same
    iteration traced, and the layer decomposition; returns (records,
    per-layer metrics)."""
    import workloads
    from eventlog import read_events
    priming = iterate(ctx, w, sessions, expected, n_turns)
    untraced = iterate(ctx, w, sessions, expected, n_turns)
    sessions.stop()
    log_dir = os.path.join(sessions.run_dir, "eventlog")
    ctx.spark, start_s, warm_s = set_up(sessions, warm, event_log=log_dir)
    setups.append((start_s, warm_s))
    with spans.span("traced"):
        traced = iterate(ctx, w, sessions, expected, n_turns)
    lineage_s = 0.0
    if traced["ok"] and "sink" in traced["outcome"].extra:
        from arekit_r335_spark import runner
        t0 = time.perf_counter()
        runner.completed_buckets(
            ctx.spark, runner.GraphSink(traced["outcome"].extra["sink"]),
            num_buckets=workloads.SINK_BUCKETS)
        lineage_s = time.perf_counter() - t0
    decomposed = {"ok": False, "problems": []}
    try:
        rows = workloads.decompose(ctx, w, spans.span)
        decomposed["ok"] = rows["output"] == expected
        if not decomposed["ok"]:
            decomposed["problems"].append("layer decomposition output "
                                          "differs from the oracle")
    except Exception:  # noqa: BLE001 - counted like a failed iteration
        decomposed["problems"].append(traceback.format_exc(limit=3))
    sessions.stop()  # flushes the event log
    recs = [priming, untraced, traced, decomposed]
    if not all(r["ok"] for r in recs):
        return recs, None
    return recs, layer_metrics(w, ctx, read_events(log_dir), spans, setups,
                               priming, untraced, traced, rows, lineage_s)


def run(args) -> int:
    _env()
    import arekit_r335_spark  # noqa: F401 - fail fast outside a checkout
    import inputs
    import probes
    from workloads import WORKLOADS, Ctx

    t_start = time.perf_counter()
    w = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    host = probes.host_info(nproc)
    corpus = inputs.corpus(args.seed, w.sf)
    warm = inputs.corpus(args.seed, WARMUP_SF)
    expected = w.expected(corpus)
    run_dir = os.path.join(HERE, "_work", "runs", f"{w.name}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ctx = Ctx(None, corpus, os.path.join(run_dir, "scratch"))
    if w.stream:
        from workloads import STREAM_FILES
        ctx.stream_dir = inputs.stream_files(corpus, STREAM_FILES)
    n_turns = inputs.n_turns(ctx.inputs.transcripts) * w.ingests

    sessions, spans = Sessions(nproc, run_dir), Spans()
    setups, recs, layers = [], [], None
    try:
        # a traced run makes its last set-up with the event log on
        for i in range(SETUPS - args.trace):
            if i:
                sessions.stop()
            ctx.spark, start_s, warm_s = set_up(sessions, warm)
            setups.append((start_s, warm_s))
        if args.trace:
            recs, layers = traced_run(ctx, w, sessions, expected, n_turns,
                                      warm, spans, setups)
        else:
            t0 = time.perf_counter()
            while True:
                recs.append(iterate(ctx, w, sessions, expected, n_turns))
                now = time.perf_counter()
                last = recs[-1].get("wall", now - t0)
                measured = len(recs) - w.warmup_iters
                if ((now - t0 >= args.seconds and measured >= w.min_iters)
                        or now - t_start + last > RUN_BUDGET_S):
                    break
    finally:
        sessions.shutdown()
        shutil.rmtree(ctx.scratch, ignore_errors=True)  # outputs were checked
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(spans.items, f)

    failed = sum(not r["ok"] for r in recs)
    for i, r in enumerate(recs):
        if "wall" in r:
            print(f"iter {i} wall_s={r['wall']:.3f} "
                  f"turns_per_s={r['turns_per_s']:.1f} cpu_s={r['cpu_s']:.2f} "
                  f"peak_rss_mb={r['peak_rss_mb']:.0f} "
                  f"steal={r['steal']:.3f} ok={r['ok']}")
        for p in r["problems"]:
            print(f"iter {i} FAILED: {p}")
    print("host " + " ".join(f"{k}={v}" for k, v in host.items()))
    print(f"setup_runs_s {[round(a + b, 3) for a, b in setups]}")
    print(f"error_rate {failed / max(1, len(recs)):.4f} "
          f"({failed}/{len(recs)} iterations)")
    measured = [r for r in recs[w.warmup_iters:] if r["ok"]]
    if not measured or (args.trace and layers is None):
        print("no successful measurement", file=sys.stderr)
        return 1
    if args.trace:
        names = PER_LAYER
        metrics = layers
        busy = layers["trace.busy_sum_s"]
        print(f"layers busy_sum_s={busy:.3f} untraced_wall_s="
              f"{recs[1]['wall']:.3f} remainder_s="
              f"{layers['trace.remainder_s']:.3f} overhead_s="
              f"{layers['trace.overhead_s']:.3f}")
    else:
        names = END_TO_END
        metrics = end_to_end(setups, measured)
        print(f"turns_per_s_median "
              f"{_median([r['turns_per_s'] for r in measured]):.1f} "
              "(printed only: wall time follows host steal)")
    for name, unit in names:
        print(f"metric {w.name} {name} {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(recs), "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in names}}))
    return 0


def smoke() -> int:
    """Every workload once at sf0.001 on one session: a fast end-to-end
    check of the benchmark itself."""
    _env()
    import arekit_r335_spark  # noqa: F401
    import inputs
    from workloads import STREAM_FILES, WORKLOADS, Ctx

    run_dir = os.path.join(HERE, "_work", "runs", f"smoke-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    sessions = Sessions(len(os.sched_getaffinity(0)), run_dir)
    corpus = inputs.corpus(1, WARMUP_SF)
    results = {}
    try:
        ctx = Ctx(set_up(sessions, corpus)[0], corpus,
                  os.path.join(run_dir, "scratch"),
                  inputs.stream_files(corpus, STREAM_FILES))
        for w in WORKLOADS.values():
            r = iterate(ctx, w, sessions, w.expected(corpus),
                        inputs.n_turns(ctx.inputs.transcripts) * w.ingests)
            results[w.name] = r["ok"]
            print(f"smoke {w.name} ok={r['ok']} wall_s={r.get('wall', 0):.2f}")
            for p in r["problems"]:
                print(f"smoke {w.name} FAILED: {p}")
    finally:
        sessions.shutdown()
    failed = sum(not ok for ok in results.values())
    print(json.dumps({"correct": failed == 0, "attempted": len(results),
                      "failed": failed, "metrics": {}}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
