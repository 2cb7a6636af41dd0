"""J2/J3 — candidate pair enumeration with annotation-time filters.

Reference: ``BasePairProvider._iter_from_entities``
(``common/news/parsed/providers/base_pairs.py:16-42``) enumerates the full
directed cross product of a document's entities;
``PairBasedOpinionAnnotationAlgorithm.__try_create_pair_key``
(``common/opinions/annot/algo/pair_based.py:44-75``) prunes by

* identical mention          (``e1.IdInDocument == e2.IdInDocument``)
* optional entity-ignore     (type whitelist, J12 analog; the pipeline
                               filters mentions before this join)
* sentence distance          ``s_dist > dist_in_sents`` -> reject (INCLUSIVE)
* term distance              ``t_dist > dist_in_terms_bound`` -> reject (INCLUSIVE)
* synonymous opinion already in the doc's existed (predefined) set.

Spark realization: a self-equi-join of the mentions table. When
``dist_in_sents == 0`` (the reference default) the sentence-distance predicate
IS an equi-key — joining on ``(conv_id, turn_idx)`` keeps the shuffle narrow
and per-turn, avoiding the per-conversation quadratic blowup; Catalyst pushes
the remaining inequality predicates into the join. At 100 TB this is the
engine's big shuffle; AQE skew-join splits oversized (conv, turn) buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig


def candidate_pairs(mentions: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Directed mention pairs surviving the J3 filters.

    mentions must carry: conv_id, turn_idx, ent_id, ind_in_doc, value,
    group_key. The entity-type whitelist (J12) is not applied here: the
    caller filters the mention table once, after ids and positions are
    assigned (``pipeline._triples_from_parsed``).
    """
    src = mentions.alias("s")
    tgt = mentions.alias("t")

    if cfg.dist_in_sents == 0:
        cond = (F.col("s.conv_id") == F.col("t.conv_id")) & \
               (F.col("s.turn_idx") == F.col("t.turn_idx"))
    else:
        cond = (F.col("s.conv_id") == F.col("t.conv_id")) & \
               (F.abs(F.col("s.turn_idx") - F.col("t.turn_idx"))
                <= cfg.dist_in_sents)

    cond = cond & (F.col("s.ent_id") != F.col("t.ent_id"))
    if cfg.dist_in_terms_bound is not None:
        cond = cond & (F.abs(F.col("s.ind_in_doc") - F.col("t.ind_in_doc"))
                       <= cfg.dist_in_terms_bound)

    return (src.join(tgt, cond)
            .select(F.col("s.conv_id").alias("conv_id"),
                    F.col("s.turn_idx").alias("s_turn"),
                    F.col("t.turn_idx").alias("t_turn"),
                    F.col("s.ent_id").alias("s_ent_id"),
                    F.col("t.ent_id").alias("t_ent_id"),
                    F.col("s.ind_in_doc").alias("s_ind"),
                    F.col("t.ind_in_doc").alias("t_ind"),
                    F.col("s.value").alias("s_value"),
                    F.col("t.value").alias("t_value"),
                    F.col("s.group_key").alias("s_group"),
                    F.col("t.group_key").alias("t_group")))


def exclude_existed(pairs: DataFrame, existed_opinions: DataFrame) -> DataFrame:
    """U3 — drop pairs whose synonym-group pair already has an opinion
    (``pair_based.py:68-73``): a left-anti join on the synonym-pair key."""
    ex = existed_opinions.select("conv_id", "s_group", "t_group").distinct()
    return pairs.join(ex, ["conv_id", "s_group", "t_group"], "left_anti")
