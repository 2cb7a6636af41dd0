"""Planted-skew stress benchmark (VERDICT r4 item 4; SURVEY §4 risk).

Generates two otherwise-identical fixtures at the given sf — uniform, and
one where synonym group 0 owns ~40%+ of all mentions corpus-wide
(``datagen.generate(skew_group_frac=0.4)``) — then measures, per fixture
in its own CPU-pinned local[8] subprocess:

* ``triples_s``  — full EP1 wall (parse -> pairs -> J6 expansion -> dedup),
  the path the verdict names for the expansion join;
* ``edges_s``    — alias-CC + canonical edge rollup wall (the groupBy
  whose src key the planted skew hits hardest);

plus the measured hot-group mention share and whether AQE's skew-join
split engaged anywhere in the executed triples plan (``skew=true`` in the
AQE final plan, only emitted on sort-merge joins AQE actually split).

The engine's defenses under test: map-side partial aggregation on every
hot-key rollup, conv_id inside the expansion join key (the hot group is
spread across conversations), AQE skew-join splitting (on in session.py).

Usage:  python tools/bench_skew.py [sf]      # default sf=1.0
Writes BENCH_SKEW.json at the repo root.
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


def measure(spark, data_dir: str) -> dict:
    """Walls + skew evidence for one fixture on an existing session.
    One warm-up pass (JVM codegen/session costs), then the timed pass."""
    from pyspark.sql import functions as F

    from arekit_r335_spark.config import PipelineConfig
    from arekit_r335_spark.lexicons import FramesLexicon, KgInputs
    from arekit_r335_spark.operators.canonical import (alias_components,
                                                       canonical_edges)
    from arekit_r335_spark.pipeline import build_triple_pipeline

    inputs = KgInputs.at(data_dir)

    def build():
        return build_triple_pipeline(spark, inputs, PipelineConfig(),
                                     persist=False,
                                     frames_override=FramesLexicon.empty())

    out: dict = {}
    for attempt in ("warmup", "timed"):
        res = build()
        t0 = time.time()
        out["n_triples"] = res.triples.count()
        out["triples_s"] = round(time.time() - t0, 2)
        plan = res.triples._jdf.queryExecution().executedPlan().toString()
        out["aqe_skew_split_triples"] = "skew=true" in plan

        edges = canonical_edges(alias_components(spark, inputs),
                                res.doc_opinions)
        t0 = time.time()
        out["n_edges"] = edges.count()
        out["edges_s"] = round(time.time() - t0, 2)
        plan = edges._jdf.queryExecution().executedPlan().toString()
        out["aqe_skew_split_edges"] = "skew=true" in plan

        if attempt == "timed":
            m = build().mentions
            total = m.count()
            top = (m.groupBy("group_key").count()
                   .orderBy(F.desc("count")).first())
            out["hot_group_share"] = round(top["count"] / total, 4)
            out["n_mentions"] = total
    return out


def _child(data_dir: str, out_json: str) -> None:
    os.sched_setaffinity(0, set(range(CORES)))
    from arekit_r335_spark.config import ScaleConfig
    from arekit_r335_spark.session import get_spark
    spark = get_spark(app_name="bench-skew", master=f"local[{CORES}]",
                      scale=ScaleConfig(shuffle_partitions=2 * CORES))
    spark.sparkContext.setLogLevel("ERROR")
    with open(out_json, "w") as f:
        json.dump(measure(spark, data_dir), f)
    spark.stop()


def main() -> int:
    if "--child" in sys.argv:
        i = sys.argv.index("--child")
        _child(sys.argv[i + 1], sys.argv[i + 2])
        return 0

    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    from arekit_r335_spark.datagen import generate

    result = {"sf": sf, "master": f"local[{CORES}] (pinned)"}
    for name, frac in (("uniform", None), ("skewed", 0.4)):
        d = f"/tmp/bench_skew_{name}"
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        generate(d, sf, skew_group_frac=frac)
        print(f"generated {name} in {time.time() - t0:.0f}s", flush=True)
        out = f"/tmp/bench_skew_{name}.json"
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--child", d, out], check=True)
        with open(out) as f:
            result[name] = json.load(f)

    for k in ("triples_s", "edges_s"):
        result[f"{k}_skew_over_uniform"] = round(
            result["skewed"][k] / result["uniform"][k], 3)
    with open(os.path.join(REPO, "BENCH_SKEW.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
