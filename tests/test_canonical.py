"""Connected-components canonicalization tests (J7b / north-rule CC pass)."""

from pyspark.sql import functions as F

from arekit_r335_spark.operators.canonical import (canonical_ids,
                                                   canonical_nodes,
                                                   connected_components)


def cc(spark, pairs):
    edges = spark.createDataFrame(pairs, "src string, dst string")
    return {r.node: r.component
            for r in connected_components(edges).collect()}


def test_cc_basic_merge(spark):
    comp = cc(spark, [("b", "a"), ("c", "b"), ("x", "y")])
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_cc_long_chain(spark):
    # chain of 12 nodes: needs multiple propagation rounds
    nodes = [f"n{i:02d}" for i in range(12)]
    comp = cc(spark, list(zip(nodes[:-1], nodes[1:])))
    assert set(comp.values()) == {"n00"}


def test_cc_star_and_cycle(spark):
    pairs = [("hub", f"s{i}") for i in range(20)] + \
            [("c1", "c2"), ("c2", "c3"), ("c3", "c1")]
    comp = cc(spark, pairs)
    assert all(comp[f"s{i}"] == "c1" or comp[f"s{i}"] == "hub"
               for i in range(20))
    assert len({comp[f"s{i}"] for i in range(20)} | {comp["hub"]}) == 1
    assert comp["c1"] == comp["c2"] == comp["c3"] == "c1"


def test_cc_partition_invariance(spark):
    pairs = [(f"a{i}", f"a{i+1}") for i in range(30)]
    e1 = spark.createDataFrame(pairs, "src string, dst string").repartition(1)
    e2 = spark.createDataFrame(pairs, "src string, dst string").repartition(7)
    c1 = {r.node: r.component for r in connected_components(e1).collect()}
    c2 = {r.node: r.component for r in connected_components(e2).collect()}
    assert c1 == c2


def test_canonical_nodes_rollup(spark):
    # node partials as the runner writes them: group u:dm spans two buckets
    rows = spark.createDataFrame(
        [("g0", "america", 2), ("u:dm", "dm", 1), ("u:dm", "d-m", 3),
         ("u:deepmind", "deepmind", 1)],
        "group_key string, canon_value string, n_mentions long")
    comps = spark.createDataFrame(
        [("u:dm", "u:deepmind"), ("u:deepmind", "u:deepmind")],
        "node string, component string")
    out = canonical_nodes(rows, comps)
    assert out.columns == ["canon_id", "group_keys", "canon_value",
                           "n_mentions"]
    nodes = {r.canon_id: (list(r.group_keys), r.canon_value, r.n_mentions)
             for r in out.collect()}
    assert nodes == {"g0": (["g0"], "america", 2),
                     "u:deepmind": (["u:deepmind", "u:dm"], "d-m", 5)}


def test_canonical_ids(spark):
    df = spark.createDataFrame([("c1", "u:dm"), ("c2", "g0")],
                               "conv_id string, group_key string")
    comps = spark.createDataFrame([("u:dm", "u:deepmind")],
                                  "node string, component string")
    out = canonical_ids(df, comps)
    assert out.columns == ["group_key", "conv_id", "canon_id"]
    assert ({r.group_key: r.canon_id for r in out.collect()}
            == {"u:dm": "u:deepmind", "g0": "g0"})
