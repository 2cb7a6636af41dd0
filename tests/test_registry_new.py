"""Fixture-scale invariants for the round-3 registry additions
(eval_accuracy / eval_context_prf / kg_balanced_counts /
kg_canonical_edges / kg_opinion_rollup_first). The driver's DuckDB oracle
hash-checks exact values at sf0.01; these tests pin the semantic
invariants locally so regressions surface in pytest before the gate."""

from pyspark.sql import functions as F


def test_balanced_counts_majority_invariant(spark):
    from arekit_r335_spark.queries import q_kg_balanced_counts
    rows = q_kg_balanced_counts(spark, "/root/testdata/sf0.001").collect()
    assert rows, "balancing produced no classes"
    mx = max(r.n_src_ids for r in rows)
    for r in rows:
        # A3: every class oversampled to EXACTLY the majority size
        # (deterministic ceil/floor repeats sum to mx per class)
        assert r.n_out == mx, (r.label, r.n_out, mx)
        assert r.n_src_ids <= mx


def test_balance_deterministic(spark):
    from arekit_r335_spark.operators.samples import balance_by_label
    from arekit_r335_spark.queries import q_kg_samples
    s = q_kg_samples(spark, "/root/testdata/sf0.001")
    a = sorted(map(tuple, balance_by_label(s).collect()))
    b = sorted(map(tuple, balance_by_label(s).collect()))
    assert a == b


def test_balance_two_phase_equals_global_window(spark):
    """The two-phase bucketed rank must reproduce the single-window
    formulation byte-for-byte: bucketing by the TOP bits of the rank hash
    is monotone in the hash, so (bucket, hash) order == global hash order
    and the oversample selection is identical."""
    from pyspark.sql import Window
    from arekit_r335_spark.operators.samples import balance_by_label
    from arekit_r335_spark.queries import q_kg_samples

    def global_window_balance(samples, seed=42):
        counts = samples.groupBy("label").agg(F.count("*").alias("n"))
        mx = counts.agg(F.max("n").alias("mx"))
        plan = counts.crossJoin(mx).select(
            "label", (F.col("mx") / F.col("n")).alias("ratio"),
            ((F.col("mx") % F.col("n"))).alias("rem"))
        s = samples.join(F.broadcast(plan), "label")
        w = Window.partitionBy("label").orderBy(F.xxhash64("id",
                                                           F.lit(seed)))
        s = s.withColumn("__rk", F.row_number().over(w) - 1)
        reps = (F.floor("ratio")
                + F.when(F.col("__rk") < F.col("rem"), 1).otherwise(0))
        return (s.withColumn("__rep",
                             F.explode(F.sequence(F.lit(1),
                                                  reps.cast("int"))))
                .drop("ratio", "rem", "__rk", "__rep"))

    s = q_kg_samples(spark, "/root/testdata/sf0.001")
    ref = sorted(map(tuple, global_window_balance(s).collect()))
    got = sorted(map(tuple, balance_by_label(s).collect()))
    assert ref == got


def test_canonical_edges_alias_collapse(spark):
    """Every doc opinion whose endpoint group is alias-connected must be
    re-pointed at the component id; endpoints never keep a group key that
    the component map covers."""
    from arekit_r335_spark.queries import q_kg_canonical_edges
    from arekit_r335_spark.queries import _kg
    from arekit_r335_spark.operators.canonical import alias_components
    sf = "/root/testdata/sf0.001"
    _, inputs = _kg(spark, sf)
    comps = alias_components(spark, inputs)
    remapped = {r.node for r in comps.collect()
                if r.node != r.component}
    edges = q_kg_canonical_edges(spark, sf)
    endpoints = {r.v for r in
                 edges.select(F.explode(F.array("src", "dst")).alias("v"))
                 .distinct().collect()}
    assert remapped, "fixture alias graph should remap at least one group"
    assert not (endpoints & remapped), (
        "canonical edge endpoints still carry remapped group keys")


def test_rollup_first_vs_average_modes(spark):
    """FIRST picks an existing context label; AVERAGE takes the sign of the
    sum — same pair keys, same n_contexts, labels may differ."""
    from arekit_r335_spark.queries import (q_kg_opinion_rollup,
                                           q_kg_opinion_rollup_first)
    sf = "/root/testdata/sf0.001"
    avg = {(r.conv_id, r.s_group, r.t_group): (r.label, r.n_contexts)
           for r in q_kg_opinion_rollup(spark, sf).collect()}
    first = {(r.conv_id, r.s_group, r.t_group): (r.label, r.n_contexts)
             for r in q_kg_opinion_rollup_first(spark, sf).collect()}
    assert avg.keys() == first.keys()
    assert all(avg[k][1] == first[k][1] for k in avg)


def test_eval_accuracy_bounds_and_context_counts(spark):
    from arekit_r335_spark.queries import (q_eval_accuracy,
                                           q_eval_context_prf)
    sf = "/root/testdata/sf0.001"
    accs = q_eval_accuracy(spark, sf).collect()
    assert accs and all(0.0 <= r.acc <= 1.0 for r in accs)
    prf = q_eval_context_prf(spark, sf).collect()
    assert prf
    for r in prf:
        assert 0 <= r.tp <= min(r.n_test, r.n_etalon) or r.n_test == 0
        assert 0.0 <= r.prec <= 1.0 and 0.0 <= r.rec <= 1.0


def test_registry_oracle_key_parity():
    """Driver-contract invariant: every queries() entry carries an
    oracle_sql() entry (the correctness gate hashes both sides), and every
    oracle is a non-trivial SQL string.  No Spark session needed."""
    import os

    import __spark_entry__ as m
    qs, sqls = m.queries(), m.oracle_sql()
    # oracles() adds the embedding-backed keys only when the fixture file
    # exists at the default sf dir — exclude them on hosts without it
    # rather than failing spuriously (ADVICE r3)
    gated = set()
    if not os.path.exists("/root/testdata/sf0.01/embeddings.parquet"):
        gated = {"knn_lsh", "dedup_embedding", "emb_kmeans"}
    assert set(qs) - gated == set(sqls) - gated, (
        (set(qs) ^ set(sqls)) - gated)
    for name, sql in sqls.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name
