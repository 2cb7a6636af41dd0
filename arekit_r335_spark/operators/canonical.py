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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..lexicons import KgInputs, load_synonym_seed
from .grouping import seed_groups_df, with_group_key

# iteration cap, salt buckets of the two-phase min, fixpoint-test period
MAX_ITER, SALT, CHECK_EVERY = 25, 16, 3


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) [string node ids, undirected interpretation] ->
    (node, component) with component = min node id of the component.

    The fixpoint test (a ``limit(1).count()`` driver action) runs every
    ``CHECK_EVERY`` iterations, not every iteration: min-label propagation
    is idempotent past the fixpoint, so overshooting by <= CHECK_EVERY-1
    no-op iterations is semantically free and cuts the per-iteration driver
    round-trips 3x on deep alias chains (round-3 verdict item 9).  Alias
    graphs have tiny diameters, so the common case is ONE check at
    iteration 3 instead of three."""
    sym = (edges.selectExpr("src AS a", "dst AS b")
           .unionByName(edges.selectExpr("dst AS a", "src AS b"))
           .filter(F.col("a") != F.col("b"))
           .distinct()
           .localCheckpoint())

    comp = (sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("component", F.col("node"))
            .localCheckpoint())

    for it in range(MAX_ITER):
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

        updated = (comp.join(candidate, "node", "left")
                   .select("node",
                           F.least(F.col("component"),
                                   F.coalesce(F.col("nbr_min"),
                                              F.col("component")))
                           .alias("component"))
                   .localCheckpoint())

        prev = comp
        comp = updated
        if (it + 1) % CHECK_EVERY == 0 or it == MAX_ITER - 1:
            changed = (updated.alias("u")
                       .join(prev.alias("c"), "node")
                       .filter(F.col("u.component") != F.col("c.component"))
                       .limit(1).count())
            if changed == 0:
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
    consumers express as ``coalesce(component, group_key)``.

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


def canonical_nodes(mentions: DataFrame, components: DataFrame) -> DataFrame:
    """Canonical node table (S12): one row per component with its member
    groups/values. Groups never touched by an edge stay their own component."""
    m = mentions.join(components.withColumnRenamed("node", "group_key"),
                      "group_key", "left")
    m = m.withColumn("canon_id",
                     F.coalesce(F.col("component"), F.col("group_key")))
    return (m.groupBy("canon_id")
            .agg(F.array_sort(F.collect_set("group_key")).alias("group_keys"),
                 F.array_sort(F.collect_set("value")).alias("values"),
                 F.count("*").cast("long").alias("n_mentions")))


def canonical_edges(comps: DataFrame, doc_opinions: DataFrame) -> DataFrame:
    """Canonical edge rollup over ANY doc-opinion table (inline pipeline
    output or the runner's materialized ``opinions`` sink): J9 priority
    dedup per (conv, s, t), alias-CC re-pointing (dictionary-sized ->
    broadcast joins), (src, dst, label) aggregate.  ``comps`` is the
    alias-CC component map (:func:`alias_components`) — identical for
    every consumer."""
    w = Window.partitionBy("conv_id", "s_group", "t_group").orderBy("priority")
    ops = (doc_opinions.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") == 1).drop("__rn"))
    cs = comps.select(F.col("node").alias("s_group"),
                      F.col("component").alias("s_comp"))
    ct = comps.select(F.col("node").alias("t_group"),
                      F.col("component").alias("t_comp"))
    return (ops.join(F.broadcast(cs), "s_group", "left")
            .join(F.broadcast(ct), "t_group", "left")
            .select(F.coalesce("s_comp", F.col("s_group")).alias("src"),
                    F.coalesce("t_comp", F.col("t_group")).alias("dst"),
                    "label")
            .groupBy("src", "dst", "label")
            .agg(F.count("*").cast("long").alias("n_ops")))
