"""J7b — cross-corpus entity canonicalization: connected components over
synonym-group keys (iterative DataFrame joins with checkpointing + salted
two-phase aggregation), per the north rule and SURVEY.md §4 items 1-2.

Reference semantics being generalized: ``SynonymsCollection`` merges values
into groups via shared sids (``common/synonyms/base.py:109-126`` — a value
registered into a later group re-points its sid) and open-world registration
creates singleton groups (``grouping.py:8-15``). At corpus scale, alias
evidence (same sid in two groups, explicit alias pairs) forms a graph whose
connected components are the canonical nodes of the knowledge graph.

Algorithm: iterative min-label propagation —
    comp(v) <- min(comp(v), min over neighbors u of comp(u))
until fixpoint. Each iteration is one shuffle join + aggregation;
``localCheckpoint()`` truncates the growing lineage (required for iterative
DataFrame loops); the min-aggregation is two-phase salted so a celebrity node
with millions of alias edges cannot pin a single reducer (on top of Spark's
map-side partial aggregation; AQE skew-join handles the join side).
Iterations are bounded by the component diameter, which for entity-alias
graphs is tiny; ``MAX_ITER`` guards pathological chains.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..lexicons import KgInputs, load_synonym_seed
from .grouping import seed_groups_df, with_group_key

# iteration cap, salt buckets of the two-phase min
MAX_ITER, SALT = 25, 16


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) [string node ids, undirected interpretation] ->
    (node, component) with component = min node id of the component.

    The first round is one aggregation of the edge list. The fixpoint test
    rides each later round's checkpoint: an ``Observation`` counts the nodes
    whose component fell in that round, and the loop stops at the first
    round where none did — no separate driver action, and no round past the
    one that confirms the fixpoint."""
    sym = (edges.selectExpr("src AS a", "dst AS b")
           .unionByName(edges.selectExpr("dst AS a", "src AS b"))
           .filter(F.col("a") != F.col("b"))
           .distinct()
           .localCheckpoint())

    # round 1 needs no join: every label starts as its node's own id, so a
    # node's first label is the min over itself and its neighbours (map-side
    # partial aggregation bounds what a hub node sends to its reducer)
    comp = (sym.groupBy(F.col("a").alias("node"))
            .agg(F.least(F.col("node"), F.min("b")).alias("component"))
            .localCheckpoint())

    for _ in range(MAX_ITER):
        # neighbor's current component flows across each edge
        nbr = (sym.join(comp.withColumnRenamed("node", "b")
                        .withColumnRenamed("component", "nbr_comp"), "b")
               .select(F.col("a").alias("node"), F.col("nbr_comp")))
        # salted two-phase min: (node, salt-bucket) partial min, then final
        partial = (nbr
                   .withColumn("__salt", F.pmod(F.xxhash64("nbr_comp"),
                                                F.lit(SALT)))
                   .groupBy("node", "__salt")
                   .agg(F.min("nbr_comp").alias("m")))
        candidate = partial.groupBy("node").agg(F.min("m").alias("nbr_min"))

        fell = Observation()
        comp = (comp.join(candidate, "node", "left")
                .observe(fell, F.count(F.when(
                    F.col("nbr_min") < F.col("component"), 1)).alias("n"))
                .select("node",
                        F.least(F.col("component"),
                                F.coalesce(F.col("nbr_min"),
                                           F.col("component")))
                        .alias("component"))
                .localCheckpoint())
        if fell.get["n"] == 0:
            break
    return comp


def alias_components(spark: SparkSession, inputs: KgInputs) -> DataFrame:
    """The alias connected-component map (node, component) of a fixture,
    dictionary-sized and identical for every consumer (canonical nodes and
    edges, co-occurrence, timelines), so every join site broadcasts it.

    Edges: each explicit alias pair (value_a, value_b) in
    ``inputs.aliases`` connects the groups the two values resolve to (seed
    lookup, else the open-world ``u:`` key); a pair inside one group is a
    self-edge, which ``connected_components`` drops. Only groups touched by
    an alias become nodes; every other group is its own component, which
    :func:`canonical_ids` applies.

    No alias path means no edges; so does a missing alias table, with a
    warning: canonicalization then runs on seed-group identity only.
    Existence is checked through Spark, not ``os.path``: the path may be
    remote (s3://, hdfs://), where ``os.path.exists`` is always False and
    would silently leave the node table unmerged on cluster runs."""
    aliases = None
    if inputs.aliases:
        try:
            aliases = spark.read.parquet(inputs.aliases)
        except Exception as e:  # AnalysisException: PATH_NOT_FOUND
            logging.getLogger(__name__).warning(
                "no alias evidence at %s (%s): canonicalization runs on "
                "seed-group identity only", inputs.aliases,
                type(e).__name__)
    if aliases is None:
        return connected_components(
            spark.createDataFrame([], "src string, dst string"))
    seed_df = seed_groups_df(spark, load_synonym_seed(inputs.synonyms))
    a = aliases.withColumn("value", F.lower("value_a"))
    a = with_group_key(a, seed_df, "value", "src")
    a = a.withColumn("value", F.lower("value_b"))
    a = with_group_key(a, seed_df, "value", "dst")
    return connected_components(a.select("src", "dst"))


def canonical_ids(df: DataFrame, comps: DataFrame, key: str = "group_key",
                  out: str = "canon_id") -> DataFrame:
    """The one canonical-identity rule: ``df`` with ``out`` = the alias
    component of its ``key`` group, or the group itself when no alias
    touches it.  ``comps`` is the (node, component) map of
    :func:`alias_components` — dictionary-sized, so the join broadcasts.
    No ``component`` column is left behind."""
    cmap = comps.select(F.col("node").alias(key), "component")
    return (df.join(F.broadcast(cmap), key, "left")
            .withColumn(out, F.coalesce(F.col("component"), F.col(key)))
            .drop("component"))


def canonical_nodes(rows: DataFrame, comps: DataFrame) -> DataFrame:
    """Canonical node table (S12) from (group_key, canon_value, n_mentions)
    rows — one group may span several rows (one per bucket partial):

        (canon_id, group_keys, canon_value, n_mentions)

    ``collect_set``, ``min`` and ``sum`` each compose with themselves, so
    the rollup needs no per-group pre-aggregation."""
    return (canonical_ids(rows, comps)
            .groupBy("canon_id")
            .agg(F.array_sort(F.collect_set("group_key")).alias("group_keys"),
                 F.min("canon_value").alias("canon_value"),
                 F.sum("n_mentions").cast("long").alias("n_mentions")))


def canonical_edges(comps: DataFrame, doc_opinions: DataFrame) -> DataFrame:
    """Canonical edge rollup over ANY doc-opinion table (inline pipeline
    output or the runner's materialized ``opinions`` sink): J9 priority
    dedup per (conv, s, t), alias-CC re-pointing of both endpoints
    (:func:`canonical_ids`), (src, dst, label) aggregate."""
    w = Window.partitionBy("conv_id", "s_group", "t_group").orderBy("priority")
    ops = (doc_opinions.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") == 1).drop("__rn"))
    ops = canonical_ids(ops, comps, key="s_group", out="src")
    ops = canonical_ids(ops, comps, key="t_group", out="dst")
    return (ops.groupBy("src", "dst", "label")
            .agg(F.count("*").cast("long").alias("n_ops")))
