"""Dump physical plans of the key operators into PLANS.md with pushdown/
broadcast/codegen evidence notes, PLUS an EXECUTED-plan audit of the
flagship query (static plans cannot show whether the parse subtree actually
re-runs — only the post-action adaptive plan can)."""

from __future__ import annotations

import os
import re
import sys

# audit the REAL standalone plans, not the correctness-gate memo's
# InMemoryRelation wrappers (queries.py session cache) — same as bench.py
os.environ["AREKIT_QUERY_CACHE"] = "0"

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arekit_r335_spark.session import get_spark  # noqa: E402


def formatted(df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString(mode))


def mask_locations(plan: str, roots: list[str]) -> str:
    """Scan locations name the data root, which differs per checkout: a fixed
    placeholder keeps a regenerated PLANS.md free of path-only diffs."""
    for root in roots:
        plan = plan.replace(f"file:{root}", "file:<data>")
    return plan


def summarize(plan: str, simple_plan: str) -> dict:
    """All counts derive from the SAME AQE-off build (formatted + simple
    modes of one plan), so the numbers are internally consistent."""
    return {
        # codegen span ids only appear in simple-mode output (`*(N) Op`)
        "whole_stage_codegen_spans":
            len(set(re.findall(r"\*\((\d+)\)", simple_plan))),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "exchanges": len(re.findall(r"\n\(\d+\) Exchange", plan)),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]+\]", plan)),
        "arrow_python_stages": plan.count("ArrowEvalPython")
                               + plan.count("MapInArrow"),
        # lexicon literals embedded in expressions (the EP2 anti-pattern
        # fixed in round 3: synonym/type maps now ride the parse closure;
        # only the KB-sized frame-polarity map may legitimately remain)
        "map_literals": plan.count("keys: ["),
    }


def executed_audit(df) -> dict:
    """Run the query and inspect the post-action adaptive plan: how many
    times does the Python parse ACTUALLY execute, and do the consuming
    branches read the materialized checkpoint instead?"""
    import time
    t0 = time.time()
    n = df.count()
    wall = time.time() - t0
    ep = df._jdf.queryExecution().executedPlan().toString()
    return {
        "rows": n,
        "wall_sec": round(wall, 2),
        "mapinarrow_in_executed_plan": ep.count("MapInArrow"),
        "checkpoint_scans (Scan ExistingRDD)": ep.count("Scan ExistingRDD"),
        "reused_exchanges": ep.count("ReusedExchange"),
        "sort_merge_joins": ep.count("SortMergeJoin"),
        "broadcast_joins": ep.count("BroadcastHashJoin"),
    }


def main() -> None:
    from arekit_r335_spark.datagen import repo_data_dir
    from arekit_r335_spark.lexicons import KgInputs
    from arekit_r335_spark.pipeline import build_triple_pipeline
    from arekit_r335_spark.queries import registry

    spark = get_spark(app_name="plans", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.01"
    data_dir = repo_data_dir(sf_dir)

    sections = []

    def build_all():
        res = build_triple_pipeline(spark, KgInputs.at(data_dir),
                                    persist=False)
        plans = {
            "kg_triples (EP1 end-to-end, frames + connotation)": res.triples,
            "mentions (parse + windows)": res.mentions,
        }
        qs = registry()
        for key in ["kg_samples", "dedup_minhash_lsh", "dedup_ngram_jaccard",
                    "knn_bruteforce", "knn_ivf", "doc_fingerprints",
                    "events_sessionize", "orders_by_region",
                    "kg_canonical_edges", "corpus_select",
                    "kg_cooccurrence", "kg_triangles",
                    "kg_pagerank", "kg_khop"]:
            plans[key] = qs[key](spark, sf_dir)
        return plans

    plans = build_all()
    # codegen span ids only print on non-adaptive plans (`*(N) Op`); AQE
    # does not change which operators support codegen. ALL static counts
    # come from this one AQE-off build (ADVICE r1: never mix plans).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        off = build_all()
        off_formatted = {k: mask_locations(formatted(v), [data_dir, sf_dir])
                         for k, v in off.items()}
        off_simple = {k: formatted(v, "simple") for k, v in off.items()}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    notes = {
        "kg_pagerank":
            "Iterative query: the static plan is TINY BY DESIGN — each of "
            "the 5 iterations ended in an eager `localCheckpoint`, so the "
            "final plan is one `Scan ExistingRDD` of the last rank vector. "
            "That constant plan size (vs lineage growing ~3 joins per "
            "iteration) is the scale property being audited. The scan "
            "metadata shows `hashpartitioning(node, 32)` + node-sorted "
            "output preserved by the checkpoint: the per-iteration "
            "contrib left-join reuses the rank vector's partitioning "
            "instead of reshuffling it, so each iteration shuffles only "
            "the |E| contribution aggregate.",
        "kg_khop":
            "Iterative frontier BFS, same discipline as kg_pagerank: the "
            "per-layer frontier join + anti-join are checkpointed, the "
            "final plan is one `Scan ExistingRDD` of the visited set. Per "
            "layer only the frontier (bounded by newly reached nodes) "
            "shuffles — the checkpointed edge list never re-shuffles.",
    }
    for name in plans:
        s = summarize(off_formatted[name], off_simple[name])
        noteworthy = ", ".join(f"{k}={v}" for k, v in s.items())
        note = notes.get(name)
        note_md = f"{note}\n\n" if note else ""
        sections.append(f"## {name}\n\n`{noteworthy}` (AQE-off static "
                        f"counts)\n\n{note_md}```\n"
                        + off_formatted[name].strip()[:7000] + "\n```\n")

    # runtime evidence: the parse materializes ONCE (localCheckpoint), every
    # branch reads the checkpoint blocks — in EP1 and in EP2
    audit = executed_audit(build_all()[
        "kg_triples (EP1 end-to-end, frames + connotation)"])
    audit_md = "\n".join(f"* {k}: {v}" for k, v in audit.items())
    samples_audit = executed_audit(registry()["kg_samples"](spark, sf_dir))
    samples_audit_md = "\n".join(
        f"* {k}: {v}" for k, v in samples_audit.items())

    hdr = (
        "# PLANS — physical-plan audit (generated by tools/dump_plans.py)\n\n"
        "What to look for (and what these plans show):\n"
        "* scans are column-pruned (`ReadSchema` lists only used columns) "
        "and filters are pushed (`PushedFilters`);\n"
        "* kg_triples runs one plan (operators/pairs.py, expansion.py): "
        "with subset co-partitioning "
        "(`requireAllClusterKeysForCoPartition=false`, session.py) the "
        "candidate self-join on (conv_id, turn_idx), the frame-vote join, "
        "and the group-expansion joins on (conv_id, group) all reuse the "
        "conv_id partitioning of the checkpointed parse output — "
        "SortMergeJoins without their own corpus-sized shuffles, every "
        "window/aggregate on superset clustering;\n"
        "* the parse output is localCheckpoint'ed WHEN THE FRAMES/J4b "
        "BRANCH IS LIVE because AQE exchange reuse CANNOT deduplicate the "
        "parse branches (per-branch column pruning makes each exchange "
        "subtree non-identical; measured 7 MapInArrow executions without "
        "the checkpoint at sf0.1, 16s vs 4-5s). The low-fan-out NO-frames "
        "EP1 plan skips the checkpoint (round-3 gating: alternating A/B at "
        "sf1x8/local[8] pinned, ckpt-off 43.3s vs ckpt-on 45.1s best). EP2 "
        "(kg_samples) always checkpoints its one terms-bearing parse. The "
        "executed-plan audits below prove both at runtime;\n"
        "* kg_samples (EP2) carries NO synonym/type lexicon literals: "
        "entity terms arrive group/type-annotated from the parse closure "
        "(`map_literals` in its summary counts only the KB-sized frame-"
        "polarity map, bounded by the frame inventory);\n"
        "* dictionaries join via `BroadcastHashJoin`;\n"
        "* the only Python boundary is the `MapInArrow` parse stage;\n"
        "* everything else sits inside WholeStageCodegen spans.\n\n"
        "## EXECUTED-plan audit — kg_triples at sf0.01 (post-action "
        "adaptive plan)\n\n"
        f"{audit_md}\n\n"
        "`mapinarrow_in_executed_plan=0` + 7 checkpoint scans = the Python "
        "parse ran exactly once (inside the checkpoint materialization "
        "job); every consuming branch reads the materialized blocks.\n\n"
        "## EXECUTED-plan audit — kg_samples at sf0.01 (post-action "
        "adaptive plan)\n\n"
        f"{samples_audit_md}\n\n"
        "`mapinarrow_in_executed_plan=0` = the Python parse ran exactly "
        "once here too: EP2 checkpoints ONE terms-bearing parse, and both "
        "the EP1 triple branches and the sample-masking join read it "
        "(pipeline.build_samples_pipeline).\n\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(hdr + "\n".join(sections))
    print("PLANS.md written")
    print(audit)
    print(samples_audit)


if __name__ == "__main__":
    main()
