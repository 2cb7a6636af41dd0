"""The DuckDB side of the correctness gate: one oracle SQL string per
registry key, built against the fixture at ``sf_dir``.

``__spark_entry__.oracle_sql()`` calls ``oracles()``; the gate (for
example ``tools/check_oracles.py``) runs each string on DuckDB and the
same-named ``queries.q_*`` function on Spark, then compares row count,
schema and an order-insensitive value hash. Dependencies run one way: this
module reads engine constants (query-term bags, templates, the negation
list, the corpus-sizing helpers), and no engine module imports ``oracle/``.
"""

from __future__ import annotations

import os

from ..config import NEGATION_WORDS
from ..datagen import repo_data_dir
from ..lexicons import FramesLexicon, load_entity_types
from ..operators.samples import TEXT_B_TEMPLATE
from ..queries import BM25_QUERY_TERMS
from . import duck, duck_docs


def oracles(sf_dir: str) -> dict:
    """DuckDB SQL per query key; a key without SQL gets a rows-only check."""
    data_dir = repo_data_dir(sf_dir)
    tr = os.path.join(data_dir, "transcripts.parquet")
    syn = os.path.join(data_dir, "synonyms.parquet")
    seed = os.path.join(data_dir, "seed_opinions.parquet")
    frames_lex = FramesLexicon.from_json(os.path.join(data_dir, "frames.json"))
    out = {
        "kg_mentions_noframes": duck.mentions_noframes_sql(tr, syn),
        "kg_mention_tones": duck.mention_tones_sql(tr, syn),
        "kg_turn_stats_noframes": duck.turn_stats_noframes_sql(tr),
        "kg_turn_length_profile": (
            "WITH ts AS MATERIALIZED ("
            + duck.turn_stats_noframes_sql(tr)
            + f"""),
lens AS (
  SELECT t.role, ts.n_terms
  FROM ts JOIN read_parquet('{tr}') t
    ON t.conv_id = ts.conv_id AND t.turn_idx = ts.turn_idx),
hist AS (SELECT role, n_terms, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM lens GROUP BY 1, 2),
h AS (SELECT role, n_terms, cnt,
             SUM(cnt) OVER (PARTITION BY role ORDER BY n_terms
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM hist),
tot AS (SELECT role, SUM(cnt) AS n FROM hist GROUP BY 1)
SELECT h.role,
       CAST(MIN(t.n) AS BIGINT) AS n_turns,
       MIN(h.n_terms) AS min_len,
       MAX(h.n_terms) AS max_len,
       MIN(CASE WHEN h.cum * 2 >= t.n THEN h.n_terms END) AS p50,
       MIN(CASE WHEN h.cum * 10 >= t.n * 9 THEN h.n_terms END) AS p90
FROM h JOIN tot t ON t.role = h.role GROUP BY 1 ORDER BY 1"""),
        "kg_triples_noframes": duck.triples_noframes_sql(tr, syn, seed),
        "kg_triples_whitelist": duck.triples_noframes_sql(
            tr, syn, seed,
            entity_types=load_entity_types(
                os.path.join(data_dir, "entity_types.json")),
            whitelist=("GPE", "PERSON")),
        "kg_triples": duck.triples_frames_sql(tr, syn, seed, frames_lex,
                                              NEGATION_WORDS),
        "label_distribution": (
            "SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM ("
            + duck.triples_frames_sql(tr, syn, seed, frames_lex,
                                      NEGATION_WORDS)
            + ") GROUP BY label"),
        "kg_label_timeline": (
            "SELECT CAST(FLOOR(EPOCH(tt.ts) / 86400) AS BIGINT) AS day_idx,"
            " t.label, CAST(COUNT(*) AS BIGINT) AS n_triples FROM ("
            + duck.triples_frames_sql(tr, syn, seed, frames_lex,
                                      NEGATION_WORDS)
            + f") t JOIN (SELECT conv_id, turn_idx, ts FROM"
            f" read_parquet('{tr}')) tt ON tt.conv_id = t.conv_id"
            " AND tt.turn_idx = t.turn_idx GROUP BY 1, 2 ORDER BY 1, 2"),
        "kg_entity_timeline": (
            "SELECT COALESCE(cn.canon_id, m.group_key) AS canon_id,"
            " CAST(MIN(FLOOR(EPOCH(tt.ts) / 86400)) AS BIGINT) AS first_day,"
            " CAST(MAX(FLOOR(EPOCH(tt.ts) / 86400)) AS BIGINT) AS last_day,"
            " CAST(COUNT(*) AS BIGINT) AS n_mentions FROM ("
            + duck.mentions_noframes_sql(tr, syn)
            + f") m JOIN (SELECT conv_id, turn_idx, ts FROM"
            f" read_parquet('{tr}')) tt ON tt.conv_id = m.conv_id"
            " AND tt.turn_idx = m.turn_idx LEFT JOIN ("
            + duck.canonical_nodes_sql(
                tr, syn, os.path.join(data_dir, "aliases.parquet"))
            + ") cn ON cn.group_key = m.group_key"
            " GROUP BY 1 ORDER BY 1"),
        "kg_entity_salience": (
            "WITH m AS MATERIALIZED ("
            + duck.mentions_noframes_sql(tr, syn)
            + "), cn AS MATERIALIZED ("
            + duck.canonical_nodes_sql(
                tr, syn, os.path.join(data_dir, "aliases.parquet"))
            + """),
mc AS (SELECT m.conv_id, COALESCE(cn.canon_id, m.group_key) AS canon,
              CAST(COUNT(*) AS BIGINT) AS n_mentions
       FROM m LEFT JOIN cn ON cn.group_key = m.group_key GROUP BY 1, 2),
dfq AS (SELECT canon, CAST(COUNT(*) AS BIGINT) AS n_convs_entity
        FROM mc GROUP BY 1),
tot AS (SELECT CAST(COUNT(DISTINCT conv_id) AS DOUBLE) AS n FROM mc),
scored AS (
  SELECT mc.conv_id, mc.canon, mc.n_mentions, d.n_convs_entity,
         CAST(round(mc.n_mentions
                    * ln((SELECT n FROM tot)
                         / CAST(d.n_convs_entity AS DOUBLE))
                    * 1000000, 0) AS BIGINT) AS score_e6
  FROM mc JOIN dfq d ON d.canon = mc.canon)
SELECT conv_id, canon, n_mentions, n_convs_entity, score_e6,
       CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
            ORDER BY score_e6 DESC, canon) AS INT) AS rank
FROM scored QUALIFY rank <= 3 ORDER BY conv_id, rank"""),
        "kg_frame_hits": duck.frame_hits_sql(tr, syn, frames_lex,
                                             NEGATION_WORDS),
        "kg_frame_effects": duck.frame_role_labels_sql(tr, syn, frames_lex,
                                                       NEGATION_WORDS),
        "kg_doc_opinions_effect": duck.doc_opinions_effect_sql(
            tr, syn, frames_lex, NEGATION_WORDS),
        "kg_doc_opinions": duck.doc_opinions_frames_sql(tr, syn, seed,
                                                        frames_lex,
                                                        NEGATION_WORDS),
        "kg_samples": duck.samples_noframes_sql(
            tr, syn, seed, load_entity_types(
                os.path.join(data_dir, "entity_types.json"))),
        "kg_samples_pair": duck.samples_noframes_sql(
            tr, syn, seed, load_entity_types(
                os.path.join(data_dir, "entity_types.json")),
            text_b_template=TEXT_B_TEMPLATE),
        "kg_doc_opinions_noframes":
            duck.doc_opinions_noframes_sql(tr, syn, seed),
        "kg_canonical_nodes": duck.canonical_nodes_sql(
            tr, syn, os.path.join(data_dir, "aliases.parquet")),
        "kg_conv_profile": (
            "WITH m AS MATERIALIZED ("
            + duck.mentions_noframes_sql(tr, syn)
            + "), t AS MATERIALIZED ("
            + duck.triples_noframes_sql(tr, syn, seed)
            + f"""),
trs AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(MIN(epoch(ts)) AS BIGINT) AS first_ts,
         CAST(MAX(epoch(ts)) AS BIGINT) AS last_ts
  FROM read_parquet('{tr}') GROUP BY 1),
ms AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_mentions,
         CAST(COUNT(DISTINCT group_key) AS BIGINT) AS n_entities
  FROM m GROUP BY 1),
ts2 AS (
  SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_triples FROM t GROUP BY 1)
SELECT trs.conv_id, trs.n_turns, trs.first_ts, trs.last_ts,
       COALESCE(ms.n_mentions, 0) AS n_mentions,
       COALESCE(ms.n_entities, 0) AS n_entities,
       COALESCE(ts2.n_triples, 0) AS n_triples
FROM trs LEFT JOIN ms ON ms.conv_id = trs.conv_id
LEFT JOIN ts2 ON ts2.conv_id = trs.conv_id
ORDER BY 1"""),
        "kg_tool_profile": (
            "WITH m AS MATERIALIZED ("
            + duck.mentions_noframes_sql(tr, syn)
            + f"""),
trt AS (
  SELECT conv_id, turn_idx, COALESCE(tool, 'none') AS tool,
         length(text) AS n_chars
  FROM read_parquet('{tr}')),
base AS (
  SELECT tool, CAST(COUNT(*) AS BIGINT) AS n_turns,
         CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM trt GROUP BY 1),
mt AS (
  SELECT t.tool, CAST(COUNT(*) AS BIGINT) AS n_mentions
  FROM m JOIN trt t ON t.conv_id = m.conv_id AND t.turn_idx = m.turn_idx
  GROUP BY 1)
SELECT base.tool, base.n_turns, base.n_convs, base.n_chars,
       COALESCE(mt.n_mentions, 0) AS n_mentions
FROM base LEFT JOIN mt ON mt.tool = base.tool
ORDER BY 1"""),
        "knn_bruteforce": duck.knn_bruteforce_sql(),
        "knn_ivf": duck.knn_ivf_sql(),
        "eval_prf_noframes": duck.eval_prf_noframes_sql(syn, seed),
        "eval_micro": duck.eval_micro_sql(syn, seed),
        "eval_macro": duck.eval_macro_sql(syn, seed),
        "eval_prf": duck.eval_prf_frames_sql(tr, syn, seed, frames_lex,
                                             NEGATION_WORDS),
        "kg_opinion_rollup_noframes":
            duck.opinion_rollup_noframes_sql(tr, syn, seed),
        "kg_opinion_rollup": duck.opinion_rollup_frames_sql(
            tr, syn, seed, frames_lex, NEGATION_WORDS),
        "eval_accuracy": duck.eval_accuracy_sql(syn, seed),
        "eval_context_prf": duck.eval_context_prf_sql(tr, syn, seed),
        "kg_balanced_counts": duck.balanced_counts_sql(
            tr, syn, seed, load_entity_types(
                os.path.join(data_dir, "entity_types.json"))),
        "kg_canonical_edges": duck.canonical_edges_sql(
            tr, syn, seed, os.path.join(data_dir, "aliases.parquet")),
        "kg_opinion_rollup_first": duck.opinion_rollup_first_sql(
            tr, syn, seed, frames_lex, NEGATION_WORDS),
        "kg_node_degrees": duck.node_degrees_sql(
            tr, syn, seed, os.path.join(data_dir, "aliases.parquet")),
        "kg_cooccurrence": duck.cooccurrence_sql(
            tr, syn, os.path.join(data_dir, "aliases.parquet")),
        "kg_related_entities": (
            "WITH co AS MATERIALIZED ("
            + duck.cooccurrence_sql(
                tr, syn, os.path.join(data_dir, "aliases.parquet"))
            + ") SELECT entity, other, n_pair, lift,"
            " CAST(rn AS INT) AS rank FROM ("
            " SELECT entity, other, n_pair, lift, ROW_NUMBER() OVER ("
            " PARTITION BY entity ORDER BY lift DESC, n_pair DESC, other)"
            " AS rn FROM ("
            " SELECT e_a AS entity, e_b AS other, n_pair, lift FROM co"
            " UNION ALL"
            " SELECT e_b, e_a, n_pair, lift FROM co))"
            " WHERE rn <= 3 ORDER BY entity, rn"),
        "kg_triangles": duck.triangles_sql(
            tr, syn, os.path.join(data_dir, "aliases.parquet")),
        "kg_clustering": (
            "WITH tri AS MATERIALIZED ("
            + duck.triangles_sql(
                tr, syn, os.path.join(data_dir, "aliases.parquet"))
            + "), co AS MATERIALIZED ("
            + duck.cooccurrence_sql(
                tr, syn, os.path.join(data_dir, "aliases.parquet"))
            + """),
und AS (SELECT e_a AS u, e_b AS v FROM co WHERE n_pair >= 2),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
        (SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY 1),
tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM
       (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri) GROUP BY 1)
SELECT deg.node, deg.degree, COALESCE(tc.n_tri, CAST(0 AS BIGINT)) AS n_tri
FROM deg LEFT JOIN tc ON tc.node = deg.node ORDER BY 1"""),
        "kg_neighbor_jaccard": (
            "WITH co AS MATERIALIZED ("
            + duck.cooccurrence_sql(
                tr, syn, os.path.join(data_dir, "aliases.parquet"))
            + """),
und AS (SELECT e_a AS u, e_b AS v FROM co),
sym AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym GROUP BY 1),
common AS (
  SELECT l.v AS a, r.v AS b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sym l JOIN sym r ON l.u = r.u AND l.v < r.v
  GROUP BY 1, 2)
SELECT c.a, c.b, c.n_common, da.deg AS deg_a, db.deg AS deg_b,
       CAST(round(c.n_common
                  / CAST(da.deg + db.deg - c.n_common AS DOUBLE)
                  * 1000000, 0) AS BIGINT) AS jaccard_e6
FROM common c JOIN deg da ON da.node = c.a JOIN deg db ON db.node = c.b
ORDER BY 1, 2"""),
        "kg_pagerank": duck.pagerank_sql(
            tr, syn, seed, os.path.join(data_dir, "aliases.parquet")),
        "kg_pagerank_weighted": duck.pagerank_sql(
            tr, syn, seed, os.path.join(data_dir, "aliases.parquet"),
            weighted=True),
        "kg_pagerank_materialized": duck.pagerank_sql(
            tr, syn, seed, os.path.join(data_dir, "aliases.parquet"),
            edges_sql=duck.canonical_edges_frames_sql(
                tr, syn, seed, os.path.join(data_dir, "aliases.parquet"),
                frames_lex, NEGATION_WORDS)),
        "kg_degrees_materialized": duck.node_degrees_sql(
            tr, syn, seed, os.path.join(data_dir, "aliases.parquet"),
            edges_sql=duck.canonical_edges_frames_sql(
                tr, syn, seed, os.path.join(data_dir, "aliases.parquet"),
                frames_lex, NEGATION_WORDS)),
        "kg_pagerank_personalized": duck.pagerank_personalized_sql(
            tr, syn, seed, os.path.join(data_dir, "aliases.parquet")),
        "kg_khop": duck.khop_sql(
            tr, syn, seed, os.path.join(data_dir, "aliases.parquet")),
        "kg_min_cost_paths": duck.min_cost_paths_sql(
            tr, syn, seed, os.path.join(data_dir, "aliases.parquet")),
    }
    emb_path = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.exists(emb_path):
        import pyarrow.parquet as pq

        from ..functions.dedup import dims_for_corpus
        from ..functions.similarity import (lsh_table_planes,
                                            planes_for_corpus)
        n_rows = pq.ParquetFile(emb_path).metadata.num_rows
        out["knn_lsh"] = duck.knn_lsh_sql(
            lsh_table_planes(6, planes_for_corpus(n_rows)))
        out["dedup_embedding"] = duck.dedup_embedding_sql(
            threshold=0.45, bucket_dims=dims_for_corpus(n_rows))
        out["emb_kmeans"] = duck.kmeans_sql(k=8, n_iter=3)
    out.update(duck_docs.DOC_SQL)
    out["doc_bm25"] = duck_docs.bm25_sql(BM25_QUERY_TERMS)
    return out
