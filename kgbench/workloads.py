"""The benchmark's workloads and the traced per-layer decomposition.

Each workload calls public entry points of the engine on a seeded corpus.
``run`` is the timed part: it returns once the results are complete
(collected to the driver, or written and committed). The returned
``Outcome`` then reads them back and compares each with the expected output,
untimed.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow.parquet as pq

from inputs import (TRIPLE_COLS, expected_samples, expected_triples,
                    read_triples, rows_of)

SINK_BUCKETS = 2      # run_incremental stops at half, a resume does the rest
STREAM_FILES = 4      # 4 files per trigger (streaming.stream) -> 1 batch


@dataclass
class Ctx:
    spark: object
    corpus: str           # fixture dir (KgInputs layout)
    scratch: str          # emptied before every iteration
    stream_dir: str = ""  # conv-aligned stream input files

    @property
    def inputs(self):
        from arekit_r335_spark.lexicons import KgInputs
        return KgInputs.at(self.corpus)


@dataclass
class Outcome:
    outputs: list                     # callables -> Counter of output rows
    problems: Callable = lambda: []   # -> list of non-row mismatches
    extra: dict = field(default_factory=dict)

    def check(self, expected) -> list:
        out = []
        for read in self.outputs:
            got = read()
            if got != expected:
                out.append(f"output mismatch: {sum((got - expected).values())}"
                           f" extra, {sum((expected - got).values())} missing")
        return out + self.problems()


def ep2_samples(ctx: Ctx) -> Outcome:
    from arekit_r335_spark.lexicons import FramesLexicon
    from arekit_r335_spark.pipeline import build_samples_pipeline
    tbl = build_samples_pipeline(
        ctx.spark, ctx.inputs, frames_override=FramesLexicon.empty()).toArrow()
    return Outcome([lambda: rows_of(tbl)])


def _done_buckets(sink: str) -> list:
    t = pq.ParquetDataset(os.path.join(sink, "lineage")).read(
        columns=["bucket", "status"]).to_pydict()
    return sorted(b for b, s in zip(t["bucket"], t["status"]) if s == "done")


def sink_incremental(ctx: Ctx) -> Outcome:
    """run_incremental stopped half way, resumed, then finalize_nodes."""
    from arekit_r335_spark import runner
    sink = os.path.join(ctx.scratch, "sink")
    half = SINK_BUCKETS // 2
    first = runner.run_incremental(ctx.spark, ctx.inputs, sink,
                                   num_buckets=SINK_BUCKETS, max_buckets=half)
    rest = runner.run_incremental(ctx.spark, ctx.inputs, sink,
                                  num_buckets=SINK_BUCKETS)
    t0 = time.perf_counter()
    n_nodes = runner.finalize_nodes(ctx.spark, ctx.inputs, sink)
    finalize_s = time.perf_counter() - t0

    def problems():
        out = []
        if (len(first), len(rest)) != (half, SINK_BUCKETS - half):
            out.append(f"bucket runs {len(first)}+{len(rest)}")
        if _done_buckets(sink) != list(range(SINK_BUCKETS)):
            out.append(f"lineage done buckets {_done_buckets(sink)}")
        if n_nodes < 1:
            out.append("empty node table")
        return out

    return Outcome([lambda: read_triples(os.path.join(sink, "edges"))],
                   problems=problems,
                   extra={"finalize_s": finalize_s, "sink": sink,
                          "bucket_s": [m["wall_sec"] for m in first + rest]})


def stream_microbatch(ctx: Ctx) -> Outcome:
    """availableNow stream of the conv-aligned files into an edges table."""
    from arekit_r335_spark.streaming.stream import stream_triples_to_sink
    out = os.path.join(ctx.scratch, "stream_edges")
    q = stream_triples_to_sink(ctx.spark, ctx.inputs, ctx.stream_dir, out,
                               os.path.join(ctx.scratch, "checkpoint"))
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    return Outcome([lambda: read_triples(out)], extra={"progress": batches})


def incremental(ctx: Ctx) -> Outcome:
    """The two incremental paths over the same corpus: bucketed batch, then
    stream."""
    a, b = sink_incremental(ctx), stream_microbatch(ctx)
    return Outcome(a.outputs + b.outputs, problems=a.problems,
                   extra={**a.extra, **b.extra})


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    run: Callable[[Ctx], Outcome]
    expected: Callable[[str], object]
    frames: bool = True       # frame lexicon live (EP1 default)
    samples: bool = False     # EP2 sample layer on the path
    stream: bool = False      # needs the conv-aligned stream files
    ingests: int = 1          # times one iteration feeds the corpus in
    # first-call code generation is paid once per session: a workload short
    # enough to repeat keeps its first iteration out of the medians
    warmup_iters: int = 0
    min_iters: int = 1        # measured iterations per run, at least


WORKLOADS = {w.name: w for w in (
    Workload("ep2_samples", 0.01, ep2_samples, expected_samples,
             frames=False, samples=True, warmup_iters=1, min_iters=2),
    Workload("incremental", 0.01, incremental, expected_triples,
             stream=True, ingests=2),
)}


# ------------------------------------------------------ traced decomposition

def decompose(ctx: Ctx, w: Workload, span) -> dict:
    """Materialize each layer's public-function output from checkpointed
    inputs, in the order the entry point composes them, each inside a
    ``span(layer)``; returns row counts and the final output rows.

    The EP1 composition mirrors ``pipeline.build_triple_pipeline``; EP2 adds
    the terms parse and ``build_samples`` as in ``build_samples_pipeline``.
    """
    from pyspark.sql import functions as F

    from arekit_r335_spark.config import PipelineConfig
    from arekit_r335_spark.lexicons import (FramesLexicon, load_entity_types,
                                            load_synonym_seed)
    from arekit_r335_spark.operators.connotation import frame_doc_opinions
    from arekit_r335_spark.operators.expansion import (
        dedup_across_annotators, expand_to_text_opinions,
        triples_schema_select)
    from arekit_r335_spark.operators.grouping import (seed_groups_df,
                                                      with_group_key)
    from arekit_r335_spark.operators.mentions import (frames_table,
                                                      mentions_table)
    from arekit_r335_spark.operators.opinions import (
        nolabel_doc_opinions, predefined_doc_opinions, union_annotators)
    from arekit_r335_spark.operators.pairs import candidate_pairs
    from arekit_r335_spark.operators.parse import parse_transcripts
    from arekit_r335_spark.operators.samples import build_samples
    from arekit_r335_spark.pipeline import build_triple_pipeline

    spark, inputs, cfg = ctx.spark, ctx.inputs, PipelineConfig()
    frames = (FramesLexicon.from_json(inputs.frames) if w.frames
              else FramesLexicon.empty())
    seed = load_synonym_seed(inputs.synonyms)
    seed_df = seed_groups_df(spark, seed)
    rows = {}

    def layer(name, build, count_as=None):
        with span(name):
            df = build().localCheckpoint(eager=True)
        rows[count_as or name] = df.count()
        return df

    with span("pipeline"):
        build_triple_pipeline(spark, inputs, cfg, frames_override=frames,
                              persist=True)
    scan = spark.read.parquet(inputs.transcripts)
    parsed = layer("parse", lambda: parse_transcripts(scan, frames, cfg))
    mentions = layer("mentions", lambda: with_group_key(
        mentions_table(parsed), seed_df,
        register_missed=cfg.register_missed_synonyms))
    pairs = layer("pairs", lambda: candidate_pairs(mentions, cfg))
    rows["cross"] = (mentions.groupBy("conv_id", "turn_idx").count()
                     .select(F.sum(F.col("count") * F.col("count")))
                     .first()[0]) or 0

    def opinions():
        frame_ops = (frame_doc_opinions(pairs, frames_table(parsed),
                                        frames.polarity)
                     if frames.polarity else None)
        return union_annotators(
            predefined_doc_opinions(spark.read.parquet(inputs.seed_opinions),
                                    seed_df),
            nolabel_doc_opinions(pairs, cfg.no_label), frame_ops)
    doc_ops = layer("opinions", opinions)
    expanded = layer("expansion", lambda: expand_to_text_opinions(
        doc_ops, mentions, cfg), count_as="expansion_in")
    text_ops = layer("expansion", lambda: dedup_across_annotators(expanded),
                     count_as="expansion_out")
    if not w.samples:
        rows["output"] = rows_of(triples_schema_select(text_ops).toArrow(),
                                 TRIPLE_COLS)
        return rows
    groups = {str(r.sid): f"g{int(r.group_id)}" for r in seed.itertuples()}
    parsed_terms = layer("parse", lambda: parse_transcripts(
        scan, frames, cfg, with_terms=True, groups=groups,
        types=load_entity_types(inputs.entity_types)), count_as="parse_terms")
    triples_pos = text_ops.select(
        "conv_id", F.col("s_turn").alias("turn_idx"), "s_ent_id", "t_ent_id",
        "s_group", "t_group", "label", "s_pos", "t_pos")
    samples = layer("samples", lambda: build_samples(triples_pos,
                                                     parsed_terms))
    rows["output"] = rows_of(samples.toArrow())
    return rows
