"""Checkpoint/resume + lineage tests (runner.py): a restart mid-run loses no
completed conv_id bucket; re-running is idempotent; resumed output equals a
one-shot run."""

import os

from arekit_r335_spark.lexicons import KgInputs
from arekit_r335_spark.runner import (GraphSink, completed_buckets,
                                      read_edges, run_incremental)

NB = 4


def _edge_set(spark, sink_dir):
    return {tuple(r) for r in
            read_edges(spark, sink_dir)
            .select("conv_id", "s_ent_id", "t_ent_id", "label")
            .collect()}


def test_resume_equals_oneshot(spark, sf0001_dir, tmp_path):
    inputs = KgInputs.at(sf0001_dir)

    oneshot = str(tmp_path / "oneshot")
    run_incremental(spark, inputs, oneshot, num_buckets=NB)
    full = _edge_set(spark, oneshot)
    assert full

    resumed = str(tmp_path / "resumed")
    # simulate a crash after two buckets
    first = run_incremental(spark, inputs, resumed, num_buckets=NB,
                            max_buckets=2)
    assert len(first) == 2
    assert completed_buckets(spark, GraphSink(resumed)) == {0, 1}

    # restart: only the remaining buckets run
    second = run_incremental(spark, inputs, resumed, num_buckets=NB)
    assert sorted(m["bucket"] for m in second) == [2, 3]

    assert _edge_set(spark, resumed) == full


def test_canonical_nodes_finalize(spark, sf0001_dir, tmp_path):
    """Nodes finalize merges per-bucket partials + CC canonicalization, is
    idempotent, and resumed partials equal the one-shot's."""
    from arekit_r335_spark.runner import finalize_nodes, read_nodes

    inputs = KgInputs.at(sf0001_dir)
    sink = str(tmp_path / "sink")
    run_incremental(spark, inputs, sink, num_buckets=NB)
    n1 = finalize_nodes(spark, inputs, sink)
    nodes = read_nodes(spark, sink)
    assert n1 == nodes.count() and n1 > 0
    # every mention group key appears in exactly one canonical node
    keys = [k for r in nodes.select("group_keys").collect() for k in r[0]]
    assert len(keys) == len(set(keys))
    # mention mass is conserved through partials + canonical rollup
    lineage = spark.read.parquet(GraphSink(sink).lineage)
    total_mentions = sum(r.n_mentions for r in lineage.collect())
    assert (sum(r.n_mentions for r in nodes.collect()) == total_mentions)
    # re-finalize is a no-op rewrite
    assert finalize_nodes(spark, inputs, sink) == n1
    # alias evidence actually merged something (aliases fixture chains
    # open-world groups): fewer canonical nodes than group keys
    assert n1 < len(keys) or len(keys) == 0


def test_rerun_is_noop(spark, sf0001_dir, tmp_path):
    inputs = KgInputs.at(sf0001_dir)
    sink = str(tmp_path / "sink")
    run_incremental(spark, inputs, sink, num_buckets=2)
    again = run_incremental(spark, inputs, sink, num_buckets=2)
    assert again == []


def test_incremental_leaves_session_conf(spark, sf0001_dir, tmp_path):
    """The sink's dynamic partition overwrite is a per-write option:
    run_incremental leaves the session's partitionOverwriteMode as it
    found it, so later partitioned overwrites keep their static meaning."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        run_incremental(spark, KgInputs.at(sf0001_dir),
                        str(tmp_path / "sink"), num_buckets=2,
                        max_buckets=1)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prior)


def test_lineage_metrics(spark, sf0001_dir, tmp_path):
    inputs = KgInputs.at(sf0001_dir)
    sink = str(tmp_path / "sink")
    metrics = run_incremental(spark, inputs, sink, num_buckets=2)
    assert all(m["status"] == "done" for m in metrics)
    assert sum(m["n_turns"] for m in metrics) > 0
    assert sum(m["n_triples"] for m in metrics) > 0
    lineage = spark.read.parquet(GraphSink(sink).lineage)
    assert lineage.count() == 2
    assert os.path.exists(GraphSink(sink).edges)


def test_format_seam_partition_overwrite_idempotent(spark, tmp_path):
    """The table-format seam's dynamic-partition overwrite (round-3 verdict
    item 6): rewriting one bucket's partition through the seam replaces
    exactly that partition and re-running is byte-idempotent; other
    partitions are untouched."""
    sink = GraphSink(str(tmp_path / "seam"))
    df = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 1)], "x int, v string, bucket int")
    sink.write_overwrite_partitions(df, "edges")
    b0 = df.filter("bucket = 0")
    for _ in range(2):  # overwrite the same partition twice
        sink.write_overwrite_partitions(b0, "edges")
        got = sorted(map(tuple, sink.read(spark, "edges")
                         .select("x", "v", "bucket").collect()))
        assert got == [(1, "a", 0), (2, "b", 0), (3, "c", 1)]


def test_format_seam_iceberg_requires_catalog(spark, tmp_path):
    """fmt='iceberg' is switch-flippable: without a configured catalog the
    seam fails loudly (never silently falls back to parquet)."""
    import pytest

    sink = GraphSink("icecat.kg", fmt="iceberg")
    df = spark.createDataFrame([(1, 0)], "x int, bucket int")
    for op in (lambda: sink.write_overwrite_partitions(df, "edges"),
               lambda: sink.write_overwrite(df, "nodes"),
               lambda: sink.append(df, "lineage"),
               lambda: sink.read(spark, "edges"),
               lambda: sink.exists(spark, "lineage")):
        with pytest.raises(RuntimeError, match="catalog 'icecat'"):
            op()
    assert sink.path("edges") == "icecat.kg.edges"


def test_opinion_sink_matches_inline_pipeline(spark, sf0001_dir, tmp_path):
    """The runner's opinions table (union over buckets) equals the inline
    pipeline's doc-opinion output — the materialize->analyze two-step reads
    what extraction computed, row for row."""
    from arekit_r335_spark.config import PipelineConfig
    from arekit_r335_spark.pipeline import build_triple_pipeline
    from arekit_r335_spark.runner import read_opinions

    inputs = KgInputs.at(sf0001_dir)
    sink = str(tmp_path / "opsink")
    metrics = run_incremental(spark, inputs, sink, num_buckets=NB)
    assert sum(m["n_opinions"] for m in metrics) > 0
    cols = ["conv_id", "s_group", "t_group", "label", "priority"]
    mat = sorted(map(tuple, read_opinions(spark, sink)
                     .select(*cols).collect()))
    res = build_triple_pipeline(spark, inputs, PipelineConfig(),
                                persist=False)
    inline = sorted(map(tuple, res.doc_opinions.select(*cols).collect()))
    assert mat == inline and len(mat) == sum(m["n_opinions"]
                                             for m in metrics)


def test_resume_rejects_changed_bucket_count(spark, sf0001_dir, tmp_path):
    """Resuming a sink under a different num_buckets must fail loudly: the
    bucket predicate pmod(xxhash64(conv_id), N) changes meaning with N, so
    a silent resume would skip some conversations and duplicate others."""
    import pytest

    inputs = KgInputs.at(sf0001_dir)
    sink = str(tmp_path / "nbsink")
    run_incremental(spark, inputs, sink, num_buckets=NB, max_buckets=1)
    with pytest.raises(ValueError, match="num_buckets"):
        run_incremental(spark, inputs, sink, num_buckets=NB * 2)
    # the original count still resumes cleanly
    rest = run_incremental(spark, inputs, sink, num_buckets=NB)
    assert sorted(m["bucket"] for m in rest) == list(range(1, NB))


def test_lineage_row_is_local_relation(spark):
    """The lineage append builds its row through Arrow: a LocalRelation
    with the lineage schema, not a LogicalRDD whose scan would run a
    Python task (and start a second Python daemon on first use)."""
    from arekit_r335_spark.runner import LINEAGE_DDL, lineage_row

    # keys out of schema order: columns are matched by name
    metrics = {"wall_sec": 1.25, "status": "done", "bucket": 3,
               "num_buckets": 8, "n_turns": 10, "n_mentions": 20,
               "n_triples": 5, "n_opinions": 4, "n_convs": 2,
               "n_groups": 7}
    row = lineage_row(spark, metrics)
    plan = row._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    assert row.schema == spark.createDataFrame([], LINEAGE_DDL).schema
    assert row.collect()[0].asDict() == metrics
