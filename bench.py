"""Benchmark harness (driver contract).

Default: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "turns_per_sec": ...}

``--scaling`` additionally runs the flagship KG pipeline at CPU-pinned
local[2] / local[8] / local[32] on the SAME input and reports throughput at
every level, scaling efficiency for both N->4N pairs (2->8 and 8->32), and
the host's aggregate-copy-bandwidth envelope (the sandbox substitute for the
N vs 4N executor protocol in BASELINE.md) into BENCH_SCALING.json.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# per-query walls must not share work across queries: the registry's
# session-scoped memo (queries._memo) would let kg_triples
# warm kg_samples — correct for the correctness gate, dishonest for timing
os.environ["AREKIT_QUERY_CACHE"] = "0"

HEADLINE = [
    "kg_triples",
    "kg_triples_noframes",
    "kg_mentions_noframes",
    "kg_samples",      # EP2 masking-expression plan (r3 verdict item 10)
    "kg_pagerank",     # iterative shape: 5x (|E|-join + combinable sum)
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "doc_fingerprints",
    "dedup_simhash",
    "events_hourly",
]


def _sf_of(sf_dir: str) -> float:
    name = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def run_query(spark, fn, sf_dir: str) -> float:
    t0 = time.time()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def run_query_quiet(spark, fn, sf_dir: str, attempts: int = 3,
                    steal_thresh: float = 0.05) -> tuple[float, float]:
    """Steal-gated per-query timing — the headline counterpart of the
    scaling protocol's quiet-iteration rule.  This sandbox takes
    multi-minute hypervisor steal bursts that inflate identical-binary
    walls 2-3x (measured 24.1s vs 52.7s back-to-back full-suite runs);
    accept THE FIRST attempt whose /proc/stat steal fraction stays under
    the threshold — not the min over attempts, which under steal would
    conflate steal mitigation with warm-OS/page-cache retry speedup
    (ADVICE r3) — and only fall back to the minimum when no attempt is
    quiet.  Returns (seconds, steal fraction of the accepted attempt,
    quiet flag); quiet=False marks the min-of-attempts fallback so a
    no-quiet-window round is distinguishable in the JSON (ADVICE r4)."""
    best, best_steal = float("inf"), 1.0
    for _ in range(attempts):
        j0, s0 = _cpu_stat()
        dt = run_query(spark, fn, sf_dir)
        j1, s1 = _cpu_stat()
        steal = (s1 - s0) / max(1, j1 - j0)
        if steal < steal_thresh:
            return dt, steal, True
        if dt < best:
            best, best_steal = dt, steal
    return best, best_steal, False


def _tmpfs_local_dir() -> str | None:
    """tmpfs shuffle dirs are the local-mode stand-in for cluster NVMe
    shuffle volumes, but past a few GB of input the spill competes with the
    JVM heap for the same RAM — so tmpfs is gated: BENCH_TMPFS=1 forces it,
    =0 disables, default 'auto' uses it only for small inputs (ADVICE r1).
    The choice is reported in the JSON output so runs stay comparable."""
    mode = os.environ.get("BENCH_TMPFS", "auto")
    if mode == "0" or not os.path.isdir("/dev/shm"):
        return None
    if mode != "1":  # auto: threshold on the input size
        try:
            from arekit_r335_spark.datagen import repo_data_dir
            path = os.path.join(repo_data_dir(SF_DIR), "transcripts.parquet")
            if os.path.getsize(path) > 2 * 1024**3:
                return None
        except OSError:
            return None
    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    return "/dev/shm/spark-local"


def make_spark(master: str):
    from arekit_r335_spark.config import ScaleConfig
    extra = {}
    local_dir = _tmpfs_local_dir()
    if local_dir:
        extra["spark.local.dir"] = local_dir
    return make_spark_scaled(master, ScaleConfig(shuffle_partitions=32,
                                                 extra_conf=extra))


def make_spark_scaled(master: str, scale):
    from arekit_r335_spark.session import get_spark
    spark = get_spark(app_name="arekit-bench", master=master, scale=scale)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def count_turns(sf_dir: str) -> int:
    import pyarrow.parquet as pq
    from arekit_r335_spark.datagen import repo_data_dir
    path = os.path.join(repo_data_dir(sf_dir), "transcripts.parquet")
    return pq.ParquetFile(path).metadata.num_rows


def scale_input_dir() -> str:
    """The scaling protocol needs a compute-dominated run (pinned cores on
    one host substitute the N-vs-4N executor criterion): use the sf1 fixture
    replicated 16x (~7.2M turns) so per-core work dwarfs fixed driver and
    AQE-planning overhead at every parallelism level."""
    import arekit_r335_spark.datagen as dg
    name = os.environ.get("SPARK_GRAFT_SCALE_DATA", "sf1x16")
    return dg.repo_data_dir(os.path.join("/root/testdata", name))


def _cpu_stat():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]  # total jiffies, steal jiffies


def membw_gbps(procs: int, size: int = 64_000_000, iters: int = 20) -> float:
    """Aggregate streaming copy bandwidth (GB/s) of ``procs`` concurrent
    processes — the host's hardware scaling envelope. On this class of VM the
    DRAM controller saturates well below 4x between 8 and 32 cores, which
    bounds any shuffle/sort-heavy stage regardless of software; a real N->4N
    EXECUTOR scale-up multiplies per-node DRAM and does not hit this wall."""
    import multiprocessing as mp
    import numpy as np

    def worker(q):
        b = np.frombuffer(np.random.bytes(size), dtype=np.uint8).copy()
        t0 = time.time()
        for _ in range(iters):
            b.copy()
        q.put(iters * size * 2 / (time.time() - t0))

    best = 0.0
    for _ in range(3):  # max over trials = the quietest host window
        q = mp.Queue()
        ps = [mp.Process(target=worker, args=(q,)) for _ in range(procs)]
        for p in ps:
            p.start()
        agg = sum(q.get() for _ in ps)
        for p in ps:
            p.join()
        best = max(best, agg)
    return best / 1e9


def _scale_level_child(cores: int, data_dir: str, warmup_dir: str,
                       iters: int, max_iters: int) -> None:
    """Subprocess body for one parallelism level (``--scale-level``): pins
    itself to ``cores`` CPUs BEFORE the JVM is forked — an unpinned local[8]
    on a 32-core host borrows idle cores for Python workers and shuffle
    threads, which is not what an 8-core cluster slice gets; affinity set on
    the driver pre-fork is inherited by every JVM thread and Python worker.

    One warm-up run (JVM codegen + Python worker spin-up are session costs,
    not steady-state throughput), then timed iterations; the minimum wall
    over iterations is accepted, iterating past ``iters`` (up to
    ``max_iters``) until one quiet iteration (<5% hypervisor steal in
    /proc/stat — this sandbox shows multi-minute steal episodes) has been
    seen. Shuffle partitions scale with the core count (2 waves) exactly as
    a real cluster conf would; shuffle dirs on tmpfs (the local-mode
    stand-in for cluster NVMe shuffle volumes); 4m scan splits give the
    parse stage its parallelism from the file source instead of an up-front
    repartition."""
    os.sched_setaffinity(0, set(range(cores)))
    from arekit_r335_spark.config import ScaleConfig
    from arekit_r335_spark.lexicons import KgInputs
    from arekit_r335_spark.pipeline import build_triple_pipeline
    local_dir = "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    extra = {"spark.sql.files.maxPartitionBytes": "4m"}
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        extra["spark.local.dir"] = local_dir
    spark = make_spark_scaled(f"local[{cores}]", ScaleConfig(
        shuffle_partitions=2 * cores, extra_conf=extra))
    try:
        if warmup_dir:
            w = build_triple_pipeline(spark, KgInputs.at(warmup_dir),
                                      persist=False)
            w.triples.write.format("noop").mode("overwrite").save()
        inputs = KgInputs.at(data_dir)
        best, best_steal, quiet_seen = float("inf"), 1.0, False
        n = 0
        while n < iters or (not quiet_seen and n < max_iters):
            j0, s0 = _cpu_stat()
            t0 = time.time()
            res = build_triple_pipeline(spark, inputs, persist=False)
            res.triples.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            j1, s1 = _cpu_stat()
            steal = (s1 - s0) / max(1, j1 - j0)
            if steal < 0.05:
                quiet_seen = True
            if dt < best:
                best, best_steal = dt, steal
            n += 1
        print(json.dumps({"sec": best, "steal_frac": round(best_steal, 4),
                          "iters": n}))
    finally:
        spark.stop()


def flagship_wall(cores: int, data_dir: str, warmup_dir: str | None,
                  iters: int = 2, max_iters: int = 5) -> dict:
    """Run one pinned parallelism level in a fresh subprocess (a fresh JVM —
    PySpark reuses the gateway JVM across stop()/getOrCreate(), so affinity
    must be set before any JVM exists) and return its timing dict."""
    import subprocess
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--scale-level",
         str(cores), data_dir, warmup_dir or "", str(iters), str(max_iters)],
        cwd=REPO, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    scaling = "--scaling" in sys.argv

    import __spark_entry__ as entrymod
    qs = entrymod.queries()

    spark = make_spark(f"local[{CPUS}]")
    # one tiny warm-up of the flagship at sf0.001: JVM codegen + Python
    # worker spin-up are session costs, not query costs — excluded exactly
    # like the scaling protocol does.
    run_query(spark, qs["kg_triples"], "/root/testdata/sf0.001")
    per_query: dict[str, float] = {}
    steals: dict[str, float] = {}
    fallbacks: list[str] = []
    total = 0.0
    for name in HEADLINE:
        dt, steal, quiet = run_query_quiet(spark, qs[name], SF_DIR)
        per_query[name] = round(dt, 3)
        steals[name] = round(steal, 4)
        if not quiet:
            fallbacks.append(name)
        total += dt
    turns = count_turns(SF_DIR)
    flag = per_query.get("kg_triples", 1.0)
    spark.stop()

    out = {
        "metric": "headline_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "sf": _sf_of(SF_DIR),
        "turns": turns,
        "turns_per_sec": round(turns / flag, 1) if flag > 0 else None,
        "protocol": {"warmup": "one sf0.001 flagship run",
                     "shuffle_dir": "tmpfs" if _tmpfs_local_dir() else "disk",
                     "timing": "per-query first attempt with /proc/stat "
                               "steal <5% (<=3 attempts; min-of-attempts "
                               "fallback only when none is quiet)",
                     "steal_frac": steals,
                     "min_fallback_queries": fallbacks},
    }

    if scaling:
        import pyarrow.parquet as pq
        from arekit_r335_spark.datagen import repo_data_dir
        scale_dir = scale_input_dir()
        warm = repo_data_dir("/root/testdata/sf0.001")
        scale_turns = pq.ParquetFile(
            os.path.join(scale_dir, "transcripts.parquet")).metadata.num_rows
        # Two N->4N pairs, every level CPU-pinned in its own subprocess:
        # 2->8 sits inside the host's linear-DRAM-bandwidth region; 8->32
        # additionally reports the hardware envelope (aggregate copy
        # bandwidth scaling), since one shared memory controller is the one
        # resource a single-host substitute cannot scale 4x — a real N->4N
        # executor scale-up multiplies per-node DRAM.
        # INTERLEAVED passes: this host's effective bandwidth drifts +/-25%
        # on a ~30-45 min timescale (measured via identical-binary reruns),
        # which is longer than one level but shorter than a sequential
        # 3-level protocol — running all levels per pass and taking the
        # per-level best brackets the drift across levels instead of letting
        # it load one level's denominator.
        levels = {}
        raw_passes = []
        for _p in range(2):
            row = {}
            for c in (2, 8, 32):
                row[c] = flagship_wall(c, scale_dir, warm, iters=1,
                                       max_iters=3)
            raw_passes.append(row)
        for c in (2, 8, 32):
            levels[c] = min((r[c] for r in raw_passes),
                            key=lambda v: v["sec"])
            levels[c]["turns_per_sec"] = round(scale_turns / levels[c]["sec"], 1)
        bw = {c: round(membw_gbps(c), 1) for c in (2, 8, 32)}

        def eff(n, n4):
            return round(levels[n4]["turns_per_sec"]
                         / (4 * levels[n]["turns_per_sec"]), 3)

        scaling_out = {
            "turns": scale_turns, "input": os.path.basename(scale_dir),
            "levels": {str(c): {"sec": round(v["sec"], 2),
                                "turns_per_sec": v["turns_per_sec"],
                                "steal_frac": v["steal_frac"],
                                "iters": v["iters"]}
                       for c, v in levels.items()},
            "pairs": {
                "2->8": {"scaling_efficiency": eff(2, 8),
                         "host_copy_bw_scaling": round(bw[8] / (4 * bw[2]), 3)},
                "8->32": {"scaling_efficiency": eff(8, 32),
                          "host_copy_bw_scaling": round(bw[32] / (4 * bw[8]), 3)},
            },
            "host_copy_bw_gbps": {str(c): v for c, v in bw.items()},
            "passes_sec": [{str(c): round(r[c]["sec"], 2) for c in r}
                           for r in raw_passes],
            "protocol": "two interleaved passes over (2, 8, 32) cores, "
                        "best per level; each level = fresh subprocess "
                        "pinned to that many CPUs (sched_setaffinity "
                        "pre-JVM), warm-up run + timed runs with <5% "
                        "steal; identical input and job at every level; "
                        "interleaving brackets the host's ~30-45 min "
                        "bandwidth-drift windows across all levels",
        }
        with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as f:
            json.dump(scaling_out, f, indent=1)

    # the headline only: the scaling, materialized, skew and stream-resume
    # evidence lives in its own BENCH_*.json (tools/bench_*.py)
    print(json.dumps(out))


if __name__ == "__main__":
    if "--scale-level" in sys.argv:
        i = sys.argv.index("--scale-level")
        _scale_level_child(int(sys.argv[i + 1]), sys.argv[i + 2],
                           sys.argv[i + 3] or None, int(sys.argv[i + 4]),
                           int(sys.argv[i + 5]))
    else:
        main()
