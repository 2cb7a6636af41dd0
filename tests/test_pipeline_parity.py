"""Differential test (SURVEY.md §5b): the Spark triple pipeline vs the
pure-Python oracle transcription of the reference algorithms, on the
deterministic synthetic fixtures. Gate: P >= 0.95 and R >= 0.95 computed with
the reference's own P/R formulas (metrics_pr.py:5-78); exact equality is the
expected outcome."""

import os

import pandas as pd

from arekit_r335_spark.config import PipelineConfig
from arekit_r335_spark.lexicons import FramesLexicon, KgInputs, load_entity_types
from arekit_r335_spark.oracle import pyref
from arekit_r335_spark.pipeline import build_triple_pipeline


def run_both(spark, data_dir, cfg, ocfg, types_map=None):
    inputs = KgInputs.at(data_dir)
    res = build_triple_pipeline(spark, inputs, cfg, persist=True)
    got = {
        (r.conv_id, r.turn_idx, r.s_ent_id, r.t_ent_id, r.s_value, r.t_value,
         r.s_group, r.t_group, r.label)
        for r in res.triples.collect()
    }

    frames = FramesLexicon.from_json(inputs.frames)
    tr = pd.read_parquet(inputs.transcripts)
    seed = pd.read_parquet(inputs.seed_opinions)
    syn = pd.read_parquet(inputs.synonyms)
    want = pyref.extract_all_triples(
        tr, seed, list(zip(syn["group_id"], syn["value"])),
        frames.variants, frames.max_variant_len, ocfg, types_map,
        polarity=frames.polarity)
    return got, want


def prf(got, want):
    tp = len(got & want)
    p = tp / len(got) if got else (0.0 if want else 1.0)
    r = tp / len(want) if want else (0.0 if got else 1.0)
    return p, r


def test_triples_parity_default(spark, sf0001_dir):
    got, want = run_both(spark, sf0001_dir, PipelineConfig(),
                         pyref.OConfig())
    p, r = prf(got, want)
    assert p >= 0.95 and r >= 0.95, (p, r, len(got), len(want))
    # design goal is exact parity, not just the 0.95 gate
    assert got == want, (
        sorted(got - want)[:5], sorted(want - got)[:5])


def test_frame_connotation_labels_triples(spark, sf0001_dir):
    """The J4b frame-connotation annotator must actually LABEL triples:
    pos/neg labels on non-seed mention pairs (priority between predefined and
    nolabel), not just constant nolabel — exact parity with the pyref
    transcription of try_provide + negation-invert + AVERAGE sign."""
    got, want = run_both(spark, sf0001_dir, PipelineConfig(), pyref.OConfig())
    assert got == want
    from arekit_r335_spark.operators.opinions import PRI_FRAMES
    inputs = KgInputs.at(sf0001_dir)
    res = build_triple_pipeline(spark, inputs, PipelineConfig(),
                                persist=False)
    frame_rows = res.text_opinions.filter(
        res.text_opinions.priority == PRI_FRAMES)
    labs = {r.label for r in frame_rows.select("label").distinct().collect()}
    assert frame_rows.count() > 0
    assert labs <= {"pos", "neg"} and labs


def test_triples_parity_tight_window(spark, sf0001_dir):
    cfg = PipelineConfig(dist_in_terms_bound=10, terms_per_context=10)
    ocfg = pyref.OConfig(dist_in_terms_bound=10, terms_per_context=10)
    got, want = run_both(spark, sf0001_dir, cfg, ocfg)
    assert got == want


def test_triples_parity_strict_vs_inclusive_bounds(spark, sf0001_dir):
    """dist bound (<=) at candidate time vs strict (<) at sample time must
    both be present: bound=50/window=50 differs from bound=49."""
    cfg = PipelineConfig(dist_in_terms_bound=12, terms_per_context=12)
    ocfg = pyref.OConfig(dist_in_terms_bound=12, terms_per_context=12)
    got, want = run_both(spark, sf0001_dir, cfg, ocfg)
    assert got == want
    # triples at exactly dist == bound would witness a bounds bug
    # (candidate kept inclusively, sample filter strictly below window)


def test_triples_parity_type_whitelist(spark, sf0001_dir):
    wl = ("GPE", "PERSON", "ORG")
    cfg = PipelineConfig(entity_type_whitelist=wl)
    ocfg = pyref.OConfig(type_whitelist=wl)
    types = load_entity_types(os.path.join(sf0001_dir, "entity_types.json"))
    got, want = run_both(spark, sf0001_dir, cfg, ocfg, types_map=types)
    assert got == want


def test_closed_world_synonyms(spark, sf0001_dir):
    """register_missed_synonyms=False (closed-world J7: a mention outside the
    synonym seed gets no group and so joins no opinion) yields exactly the
    default run's triples minus every row touching an open-world ``u:``
    group."""
    inputs = KgInputs.at(sf0001_dir)
    closed = build_triple_pipeline(
        spark, inputs, PipelineConfig(register_missed_synonyms=False),
        persist=False).triples.collect()
    assert closed and all(r.s_group is not None and r.t_group is not None
                          for r in closed)
    default = build_triple_pipeline(spark, inputs, PipelineConfig(),
                                    persist=False).triples
    want = default.filter(~default.s_group.startswith("u:")
                          & ~default.t_group.startswith("u:")).collect()
    assert {tuple(r) for r in closed} == {tuple(r) for r in want}


def test_partition_count_invariance(spark, sf0001_dir):
    """Same triples regardless of input partitioning (SURVEY.md §4 item 3).
    Each input is checkpointed so its partition count reaches the parse: a
    bare repartition(n) collapses into the parse's own conv_id
    repartition, and both sides would run one plan. The wide input has
    spark.sql.shuffle.partitions partitions, so the parse keeps them; the
    1-partition input is below that and reaches the parse through the
    conv_id repartition, which AQE coalesces to one task here."""
    from arekit_r335_spark.operators.parse import parse_transcripts

    inputs = KgInputs.at(sf0001_dir)
    frames = FramesLexicon.from_json(inputs.frames)
    tr = spark.read.parquet(inputs.transcripts)
    wide = int(spark.conf.get("spark.sql.shuffle.partitions"))
    triples = []
    for n in (1, wide):
        part = tr.repartition(n).localCheckpoint(eager=True)
        assert parse_transcripts(part, frames, PipelineConfig()) \
            .rdd.getNumPartitions() == n
        res = build_triple_pipeline(spark, inputs, transcripts=part,
                                    persist=False)
        triples.append({tuple(r) for r in res.triples.collect()})
    assert triples[0] and triples[0] == triples[1]


def test_parse_sized_by_input(spark, sf0001_dir):
    """The parse repartition carries no count, so AQE coalescing sizes the
    Python stage from the shuffle bytes: the small fixture parses in fewer
    tasks than spark.sql.shuffle.partitions, with the same rows as a parse
    of an input that already has that many partitions."""
    from arekit_r335_spark.operators.parse import parse_transcripts

    inputs = KgInputs.at(sf0001_dir)
    frames = FramesLexicon.from_json(inputs.frames)
    cfg = PipelineConfig()
    tr = spark.read.parquet(inputs.transcripts)
    wide = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parsed = parse_transcripts(tr, frames, cfg).localCheckpoint(eager=True)
    assert parsed.rdd.getNumPartitions() < wide

    def rows(df):
        return sorted(df.collect(), key=lambda r: (r.conv_id, r.turn_idx))

    # checkpointed so the wide split reaches the parse: a bare
    # repartition(n) collapses into the parse's own conv_id repartition
    ref = parse_transcripts(tr.repartition(wide).localCheckpoint(eager=True),
                            frames, cfg)
    assert ref.rdd.getNumPartitions() == wide
    got = rows(parsed)
    assert got and got == rows(ref)


def test_scan_splits_of_unlisted_input(spark):
    """An input with no file listing reports its LogicalRDD leaves'
    partition counts (a foreachBatch micro-batch, a checkpoint), through
    filters and unions; a repartitioned plan or any other unlisted leaf
    keeps the assume-parallel sentinel."""
    import pandas as pd

    from arekit_r335_spark.operators.parse import _estimated_scan_splits

    ck = spark.range(100).repartition(3).localCheckpoint()
    assert _estimated_scan_splits(ck) == 3
    assert _estimated_scan_splits(ck.filter("id > 5").union(ck)) == 6
    assert _estimated_scan_splits(ck.repartition(8)) == 1 << 30
    local = spark.createDataFrame(pd.DataFrame({"id": [1, 2]}))
    assert _estimated_scan_splits(local) == 1 << 30


def test_entity_type_lookup_is_local_relation(spark):
    """The whitelist type table is built through Arrow: a LocalRelation,
    not a LogicalRDD whose scan would run a Python task."""
    from pyspark.sql import functions as F

    from arekit_r335_spark.pipeline import attach_entity_types

    mentions = spark.range(3).select(F.col("id").cast("string").alias("value"))
    typed = attach_entity_types(mentions, spark, {"1": "PER", "2": "ORG"})
    plan = typed._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert {(r.value, r.ent_type) for r in typed.collect()} == {
        ("0", None), ("1", "PER"), ("2", "ORG")}
