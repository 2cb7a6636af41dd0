"""Materialized-analytics benchmark at sf1x8 (VERDICT r4 item 3).

The 100 TB deployment shape is two-step: extraction writes the bucketed
graph sink ONCE (resumable, lineage-checkpointed), then every analytics
query READS the sink instead of rebuilding EP1 inline.  The sf0.1 bench
rows for ``kg_pagerank`` measure the inline rebuild where fixed per-job
overhead dominates; this tool records the number the scale story actually
needs — sink-write wall separately from analytics-read wall — at sf1x8
(3.6M turns) on pinned local[8], the same protocol as the crash-resume
evidence in BASELINE.md.

Phases run in separate subprocesses so the read walls are measured against
a cold JVM (no shared block cache with the write phase):

    python tools/bench_materialized.py          # runs both, writes JSON
    python tools/bench_materialized.py --phase write <sink_dir> <out.json>
    python tools/bench_materialized.py --phase read  <sink_dir> <out.json>

Output: ``BENCH_MATERIALIZED.json`` at the repo root; ``bench.py`` embeds
it under a ``materialized`` key so the per-round BENCH snapshot carries
the write/read split.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORES = 8
SF = "sf1x8"
NUM_BUCKETS = 8


def _spark():
    os.sched_setaffinity(0, set(range(CORES)))
    from arekit_r335_spark.config import ScaleConfig
    from arekit_r335_spark.session import get_spark
    scale = ScaleConfig(shuffle_partitions=2 * CORES)
    spark = get_spark(app_name="bench-materialized",
                      master=f"local[{CORES}]", scale=scale)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def phase_write(sink_dir: str, out_json: str) -> None:
    from arekit_r335_spark.datagen import repo_data_dir
    from arekit_r335_spark.lexicons import KgInputs
    from arekit_r335_spark.runner import run_incremental

    data_dir = repo_data_dir(SF)  # generated before timing starts
    spark = _spark()
    inputs = KgInputs.at(data_dir)
    t0 = time.time()
    metrics = run_incremental(spark, inputs, sink_dir,
                              num_buckets=NUM_BUCKETS)
    write_s = time.time() - t0
    n_turns = sum(m["n_turns"] for m in metrics)
    with open(out_json, "w") as f:
        json.dump({"sink_write_s": round(write_s, 2), "n_turns": n_turns,
                   "buckets": len(metrics)}, f)
    spark.stop()


def phase_read(sink_dir: str, out_json: str) -> None:
    from arekit_r335_spark.datagen import repo_data_dir
    from arekit_r335_spark.lexicons import KgInputs
    from arekit_r335_spark.operators.canonical import (alias_components,
                                                       canonical_edges)
    from arekit_r335_spark.operators.graph import node_degrees, pagerank
    from arekit_r335_spark.runner import read_opinions

    data_dir = repo_data_dir(SF)
    spark = _spark()
    inputs = KgInputs.at(data_dir)

    def run(build):
        t0 = time.time()
        rows = build().collect()
        return round(time.time() - t0, 2), len(rows)

    def edges():
        # the alias-CC map is part of every analytics read (NOT pre-cached:
        # each timed query pays the full read-the-sink cost)
        ops = read_opinions(spark, sink_dir).drop("bucket")
        return canonical_edges(alias_components(spark, inputs), ops)

    ops_rows = read_opinions(spark, sink_dir).count()
    pr_cold, pr_rows = run(lambda: pagerank(edges(), n_iter=5))
    pr_warm, _ = run(lambda: pagerank(edges(), n_iter=5))
    dg_cold, dg_rows = run(lambda: node_degrees(edges()))
    with open(out_json, "w") as f:
        json.dump({"opinions_rows": ops_rows,
                   "pagerank_read_s": pr_cold,
                   "pagerank_read_warm_s": pr_warm,
                   "pagerank_rows": pr_rows,
                   "degrees_read_s": dg_cold,
                   "degrees_rows": dg_rows}, f)
    spark.stop()


def main() -> int:
    if "--phase" in sys.argv:
        i = sys.argv.index("--phase")
        phase, sink_dir, out_json = sys.argv[i + 1:i + 4]
        (phase_write if phase == "write" else phase_read)(sink_dir, out_json)
        return 0

    sink_dir = "/tmp/bench_materialized_sink"
    shutil.rmtree(sink_dir, ignore_errors=True)
    result = {"sf": SF, "master": f"local[{CORES}] (pinned)",
              "num_buckets": NUM_BUCKETS}
    for phase, out in (("write", "/tmp/bm_write.json"),
                       ("read", "/tmp/bm_read.json")):
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--phase", phase, sink_dir, out], check=True)
        with open(out) as f:
            result.update(json.load(f))
    result["write_over_read_x"] = round(
        result["sink_write_s"] / result["pagerank_read_s"], 1)
    path = os.path.join(REPO, "BENCH_MATERIALIZED.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
