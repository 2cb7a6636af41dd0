"""The query registry behind ``__spark_entry__.queries()``.

Each ``q_<key>`` function below is one implemented operator/feature from
SURVEY.md §2 (or the training-data-pipeline scope of the build brief), and
is the ONLY declaration of query ``<key>``: ``registry()`` derives the
name -> callable map from the module's ``q_*`` functions. Callables take
``(spark, sf_dir)``. The DuckDB oracle SQL for the same key lives outside
the engine, in ``oracle/gate.py`` (the gate runs both at sf0.01 and
compares row count + schema + order-insensitive value hash — so every
column is aliased identically on both sides and floats are avoided in
favor of exact integers).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .datagen import repo_data_dir
from .lexicons import FramesLexicon, KgInputs, load_synonym_seed
from .operators.canonical import (alias_components, canonical_edges,
                                  canonical_ids)
from .operators.parse import parse_transcripts
from .pipeline import TriplePipelineResult, build_triple_pipeline


def _kg(spark: SparkSession, sf_dir: str):
    data_dir = repo_data_dir(sf_dir)
    return data_dir, KgInputs.at(data_dir)


_MEMO: dict = {}


def _memo(spark: SparkSession, sf_dir: str, name: str | tuple, build):
    """Session-scoped memo for the tables many registry entries share: the
    two default-config EP1 builds (frames on/off) and the derived alias-CC
    map / canonical edge table / co-occurrence rollup.

    The correctness gate runs the whole registry on ONE session, and most
    entries would otherwise rebuild one of these identical plans only to
    read a different member — ~2-3s of redundant Spark work per query at
    sf0.01, ~40% of the full-gate wall (VERDICT r4 item 1: the full-registry
    gate must fit its time budget). Each table is built once per
    session and persisted MEMORY_AND_DISK: the sf0.01 EP1 members are MBs,
    the derived tables are dictionary- or rollup-sized.

    Keyed by applicationId so a fresh session never reuses stale plans; a
    new session evicts prior entries (no unbounded growth across pytest
    sessions). ``AREKIT_QUERY_CACHE=0`` disables the memo entirely —
    bench.py sets it because per-query wall measurements must not share
    work across queries."""
    if os.environ.get("AREKIT_QUERY_CACHE", "1") != "1":
        return build()
    app_id = spark.sparkContext.applicationId
    key = (app_id, sf_dir, name)
    hit = _MEMO.get(key)
    if hit is None:
        for k in [k for k in _MEMO if k[0] != app_id]:
            del _MEMO[k]
        hit = build()
        dfs = ((hit.mentions, hit.frames, hit.doc_opinions,
                hit.text_opinions, hit.triples)
               if isinstance(hit, TriplePipelineResult) else (hit,))
        for df in dfs:
            df.persist(StorageLevel.MEMORY_AND_DISK)
        _MEMO[key] = hit
    return hit


def _pipeline(spark: SparkSession, sf_dir: str,
              frames: bool) -> TriplePipelineResult:
    """Default-config EP1 build, memoized per (session, fixture, frames).
    Non-default configs (whitelist, tight windows) never route through
    here."""
    def build():
        _, inputs = _kg(spark, sf_dir)
        return build_triple_pipeline(
            spark, inputs, PipelineConfig(), persist=False,
            frames_override=None if frames else FramesLexicon.empty())

    return _memo(spark, sf_dir, ("pipeline", frames), build)


def _noframes_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identical to the pipeline's default-config mention table (same
    # with_group_key/register_missed path) — route through the memo
    return _pipeline(spark, sf_dir, frames=False).mentions


def _comps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias-CC component map (``canonical.alias_components``), memoized
    per session: it derives from the alias + synonym-seed dictionaries
    alone, so it is IDENTICAL for every consumer (canonical nodes,
    canonical edges, co-occurrence, timelines, salience)."""
    return _memo(spark, sf_dir, "comps",
                 lambda: alias_components(spark, _kg(spark, sf_dir)[1]))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _parquet_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet footer metadata — the no-extra-job way to size
    corpus-scaled parameters (plane/bucket counts)."""
    import pyarrow.parquet as pq
    path = os.path.join(sf_dir, f"{name}.parquet")
    return pq.ParquetFile(path).metadata.num_rows


def _flip_pos_neg(df: DataFrame, *key: str) -> DataFrame:
    """The deterministic evaluation test side: swap pos <-> neg wherever
    md5 of the ``|``-joined key starts with 0-3 (both engines compute the
    identical flip)."""
    flip = F.substring(F.md5(F.concat_ws("|", *key)), 1, 1) < "4"
    return df.withColumn(
        "label",
        F.when(flip & (F.col("label") == "pos"), F.lit("neg"))
         .when(flip & (F.col("label") == "neg"), F.lit("pos"))
         .otherwise(F.col("label")))


def _per_doc_prf(cmp: DataFrame) -> DataFrame:
    """A4 per-doc per-class P/R counts of a comparison, projected to the
    registry's (conv_id, label, tp, n_test, n_etalon, prec, rec) shape."""
    from .operators.evaluate import per_doc_class_prf
    return per_doc_class_prf(cmp).select(
        F.col("doc").alias("conv_id"), "label", "tp", "n_test", "n_etalon",
        F.round("prec", 6).alias("prec"),
        F.round("rec", 6).alias("rec"))


# --------------------------------------------------------------- KG queries

def q_kg_mentions_noframes(spark, sf_dir):
    """S8+T1/T2+J1: mention detection, positions, ids, synonym groups
    (frames lexicon disabled so term positions are SQL-checkable)."""
    return _noframes_mentions(spark, sf_dir).select(
        "conv_id", "turn_idx", "ent_id", "pos_in_turn", "ind_in_doc",
        "value", "group_key")


def q_kg_mention_tones(spark, sf_dir):
    """RuSentiLex-family tone tagging: the term→tone CSV lexicon
    (deterministic fixture build) broadcast-joined onto the mention
    table; a missing term scores 0, mirroring ``Lexicon.get_score``
    (reference ``contrib/utils/lexicons/lexicon.py:22-24``,
    ``rusentilex.py:10-36``). Scale shape: the lexicon is KBs — one
    broadcast hash join, no shuffle beyond the mentions build."""
    from .lexicons import ToneLexicon, synthetic_tone_csv_lines
    _, inputs = _kg(spark, sf_dir)
    m = _noframes_mentions(spark, sf_dir)
    seed = load_synonym_seed(inputs.synonyms)
    lex = ToneLexicon.from_csv_lines(
        synthetic_tone_csv_lines(list(seed["sid"])))
    lex_df = spark.createDataFrame(
        lex.df.assign(tone=lex.df["tone"].astype(int)))
    return (m.withColumn("__sid", F.trim(F.lower(F.col("value"))))
             .join(F.broadcast(lex_df),
                   F.col("__sid") == F.col("term"), "left")
             .select("conv_id", "turn_idx", "ind_in_doc", "value",
                     F.coalesce(F.col("tone"), F.lit(0))
                      .cast("int").alias("tone")))


def q_kg_turn_stats_noframes(spark, sf_dir):
    """A8 analog: per-turn term/mention counts."""
    _, inputs = _kg(spark, sf_dir)
    tr = spark.read.parquet(inputs.transcripts)
    parsed = parse_transcripts(tr, FramesLexicon.empty(), PipelineConfig())
    return parsed.select(
        "conv_id", "turn_idx",
        F.col("n_terms").cast("long").alias("n_terms"),
        F.size("mentions").cast("long").alias("n_mentions"))


def q_kg_turn_length_profile(spark, sf_dir):
    """Exact per-role turn-length distribution (n, min, max, p50, p90) via
    the TWO-PHASE VALUE HISTOGRAM — the scale-correct exact percentile:
    a sort-based/collecting percentile aggregate holds a group's values in
    memory (impossible per-group at 100 TB), while the histogram is one
    map-side-combinable (role, n_terms) count whose output is
    metadata-sized (roles x distinct lengths), so the cumulative window
    and the threshold argmins run on a dictionary-sized table.
    percentile_disc semantics: smallest value whose cumulative count
    reaches ceil(p * n) — integers end to end."""
    from pyspark.sql import Window
    _, inputs = _kg(spark, sf_dir)
    tr = spark.read.parquet(inputs.transcripts)
    parsed = parse_transcripts(tr, FramesLexicon.empty(), PipelineConfig())
    lens = (parsed.select("role", F.col("n_terms").cast("long")
                          .alias("n_terms")))
    hist = lens.groupBy("role", "n_terms").agg(
        F.count("*").cast("long").alias("cnt"))
    # tiny: the histogram is roles x distinct turn lengths, metadata-sized
    w = (Window.partitionBy("role").orderBy("n_terms")
         .rowsBetween(Window.unboundedPreceding, 0))
    h = hist.withColumn("cum", F.sum("cnt").over(w))
    tot = hist.groupBy("role").agg(F.sum("cnt").alias("n"))
    h = h.join(F.broadcast(tot), "role")
    return (h.groupBy("role")
            .agg(F.first("n").alias("n_turns"),
                 F.min("n_terms").alias("min_len"),
                 F.max("n_terms").alias("max_len"),
                 F.min(F.when(F.col("cum") * 2 >= F.col("n"),
                              F.col("n_terms"))).alias("p50"),
                 F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9,
                              F.col("n_terms"))).alias("p90")))


def q_kg_triples_noframes(spark, sf_dir):
    """EP1 end-to-end (frames disabled): the full relational pipeline
    J2/J3 -> J8 -> U1/J9 -> J6 -> J10/J11 -> triples."""
    res = _pipeline(spark, sf_dir, frames=False)
    return res.triples


def q_kg_triples_whitelist(spark, sf_dir):
    """J12 hash-checked (was parity/pytest-only through round 3): EP1 with
    the entity-type whitelist ("GPE", "PERSON") — mentions typed outside
    the whitelist join no pair on either end, while ent_id / ind_in_doc
    numbering stays that of the UNFILTERED mention table (the filter runs
    after position assignment, ``filters/entity_based.py:9-28``)."""
    _, inputs = _kg(spark, sf_dir)
    cfg = PipelineConfig(entity_type_whitelist=("GPE", "PERSON"))
    res = build_triple_pipeline(spark, inputs, cfg, persist=False,
                                frames_override=FramesLexicon.empty())
    return res.triples


def q_kg_doc_opinions_noframes(spark, sf_dir):
    """Doc-level opinion union (J4+J8 predefined, J2/J3+J8 nolabel, U1)."""
    res = _pipeline(spark, sf_dir, frames=False)
    return res.doc_opinions.select(
        "conv_id", "s_group", "t_group", "label",
        F.col("priority").cast("int").alias("priority"))


def q_kg_triples(spark, sf_dir):
    """EP1 with the full frame lexicon INCLUDING the J4b frame-connotation
    annotator (hash-checked against the DuckDB closed-form frame-scan
    oracle; exact parity additionally via tests/test_pipeline_parity.py)."""
    return _pipeline(spark, sf_dir, frames=True).triples


def q_kg_frame_hits(spark, sf_dir):
    """T4-T6: frame-variant hits with negation, hash-checked for ARBITRARY
    variant span (the greedy longest-match scan is a recursive-CTE walk over
    candidate positions in the oracle — oracle/duck._frames_kg_cte; the
    fixture lexicon carries genuine span-3 variants)."""
    res = _pipeline(spark, sf_dir, frames=True)
    return res.frames.select("conv_id", "turn_idx",
                             F.col("pos_in_turn").cast("long")
                             .alias("pos_in_turn"),
                             "ind_in_doc", "frame_id", "negated")


def q_kg_frame_effects(spark, sf_dir):
    """S5 completion — RuSentiFrames role effects/states: every frame hit
    exploded over the lexicon's per-role annotations (``get_frame_effects``
    / ``get_frame_states``, ``contrib/source/rusentiframes/collection.py:
    86-115``; effect '+'/'-' signs normalized via the
    ``RuSentiFramesEffectLabelsFormatter`` mapping). The annotation table
    is lexicon-sized -> broadcast hash join; probs ride as exact percent
    ints. Frames with no annotations (f_agree: no effects; f_praise: no
    states) simply emit no rows of that kind — the reference's
    ``__check_has_*`` missing-key contract."""
    _, inputs = _kg(spark, sf_dir)
    res = _pipeline(spark, sf_dir, frames=True)
    lex = FramesLexicon.from_json(inputs.frames)
    rows = []
    for kind, m in (("effect", lex.effects), ("state", lex.states)):
        for fid, entries in sorted(m.items()):
            for role, lab, p in entries:
                rows.append((fid, kind, role, lab, int(round(p * 100))))
    ann = spark.createDataFrame(
        rows, "frame_id string, kind string, role string, label string, "
              "prob_pct int")
    return (res.frames.join(F.broadcast(ann), "frame_id")
            .select("conv_id", "turn_idx",
                    F.col("pos_in_turn").cast("long").alias("pos_in_turn"),
                    "ind_in_doc", "frame_id", "negated",
                    "kind", "role", "label", "prob_pct"))


def q_kg_doc_opinions_effect(spark, sf_dir):
    """The ``rusentiframes_effect`` EP1 variant: J4b distant supervision
    voting with the a1-role EFFECT label (how the theme is affected) in
    place of the a0->a1 polarity; negation still flips the vote
    (``term_connotation.py:40-41`` discipline) and frames without an a1
    effect contribute nothing (the ``try_provide`` -> None path —
    f_agree's hits are live in the plan but voteless). Same relational
    shape as ``kg_doc_opinions``'s frame annotator: the pair/frame join
    reuses the conv_id exchange, the effect map is a KB-sized broadcast."""
    from .operators.connotation import frame_doc_opinions
    from .operators.pairs import candidate_pairs
    _, inputs = _kg(spark, sf_dir)
    cfg = PipelineConfig()
    res = _pipeline(spark, sf_dir, frames=True)
    lex = FramesLexicon.from_json(inputs.frames)
    eff = frame_doc_opinions(candidate_pairs(res.mentions, cfg),
                             res.frames, lex.role_effect_map("a1"))
    return eff.select("conv_id", "s_group", "t_group", "label")


def q_kg_doc_opinions(spark, sf_dir):
    """Three-annotator doc-opinion union with frames enabled: predefined(0) /
    frame-connotation(1) / nolabel(2)."""
    res = _pipeline(spark, sf_dir, frames=True)
    return res.doc_opinions.select(
        "conv_id", "s_group", "t_group", "label",
        F.col("priority").cast("int").alias("priority"))


def q_kg_tool_profile(spark, sf_dir):
    """Tool-provenance profile over the transcript input schema's ``tool``
    column: per-tool turn/conversation/char counts plus how many entity
    mentions each tool's turns yield. Scale shape: two map-side-combinable
    groupBys over a tool-cardinality key (a handful of distinct tools) and
    one equi-join of mentions back to their turns on (conv_id, turn_idx) —
    the partitioning every post-parse stage already carries."""
    _, inputs = _kg(spark, sf_dir)
    tr = spark.read.parquet(inputs.transcripts).select(
        "conv_id", "turn_idx",
        F.coalesce("tool", F.lit("none")).alias("tool"),
        F.length("text").alias("n_chars"))
    base = (tr.groupBy("tool")
            .agg(F.count("*").cast("long").alias("n_turns"),
                 F.countDistinct("conv_id").cast("long").alias("n_convs"),
                 F.sum("n_chars").cast("long").alias("n_chars")))
    mt = (_noframes_mentions(spark, sf_dir).select("conv_id", "turn_idx")
          .join(tr.select("conv_id", "turn_idx", "tool"),
                ["conv_id", "turn_idx"])
          .groupBy("tool").agg(F.count("*").cast("long")
                               .alias("n_mentions")))
    return (base.join(mt, "tool", "left")
            .select("tool", "n_turns", "n_convs", "n_chars",
                    F.coalesce("n_mentions", F.lit(0)).cast("long")
                    .alias("n_mentions"))
            .orderBy("tool"))


def q_kg_conv_profile(spark, sf_dir):
    """Per-conversation KG profile — the operational "what did extraction
    yield per document" rollup: turn count, time span, mention count,
    distinct entities, triple count.  Three combinable conv_id aggregates
    left-joined on the partitioning key every stage already uses."""
    _, inputs = _kg(spark, sf_dir)
    res = _pipeline(spark, sf_dir, frames=False)
    tr = (spark.read.parquet(inputs.transcripts)
          .groupBy("conv_id")
          .agg(F.count("*").cast("long").alias("n_turns"),
               F.min(F.unix_timestamp("ts")).cast("long").alias("first_ts"),
               F.max(F.unix_timestamp("ts")).cast("long").alias("last_ts")))
    ms = (res.mentions.groupBy("conv_id")
          .agg(F.count("*").cast("long").alias("n_mentions"),
               F.countDistinct("group_key").cast("long")
               .alias("n_entities")))
    ts = (res.triples.groupBy("conv_id")
          .agg(F.count("*").cast("long").alias("n_triples")))
    return (tr.join(ms, "conv_id", "left").join(ts, "conv_id", "left")
            .select("conv_id", "n_turns", "first_ts", "last_ts",
                    F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
                    F.coalesce("n_entities", F.lit(0)).alias("n_entities"),
                    F.coalesce("n_triples", F.lit(0)).alias("n_triples")))


def q_kg_canonical_nodes(spark, sf_dir):
    """J7b north-rule canonicalization: alias edges over group keys ->
    connected components (iterative joins + checkpointing) -> canonical id
    per synonym group. (group_key, canon_id, n_mentions)."""
    grp = (_noframes_mentions(spark, sf_dir).groupBy("group_key")
           .agg(F.count("*").cast("long").alias("n_mentions")))
    return (canonical_ids(grp, _comps(spark, sf_dir))
            .select("group_key", "canon_id", "n_mentions"))


def q_knn_bruteforce(spark, sf_dir):
    """Similarity search baseline: exact cosine top-10 for query vectors
    vec_id < 10 (deterministic integer scores, id tie-breaks)."""
    from .functions.similarity import knn_bruteforce
    emb = _read(spark, sf_dir, "embeddings")
    return knn_bruteforce(emb, list(range(10)), k=10)


def q_knn_ivf(spark, sf_dir):
    """IVF-flat ANN: md5-sampled centroids -> inverted lists -> nprobe
    probing -> exact re-rank (checked value-exact against DuckDB)."""
    from .functions.similarity import knn_ivf
    emb = _read(spark, sf_dir, "embeddings")
    return knn_ivf(emb, list(range(10)), k=10)


def q_knn_lsh(spark, sf_dir):
    """Approximate ANN: sign-random-projection buckets + exact rerank
    (hash-checked — the oracle recomputes from the same literal planes).
    Corpus size comes from parquet metadata, so the plane-count derivation
    costs no extra Spark job."""
    from .functions.similarity import knn_lsh
    emb = _read(spark, sf_dir, "embeddings")
    return knn_lsh(emb, list(range(10)), k=10,
                   n_rows=_parquet_rows(sf_dir, "embeddings"))


def _eval_pair_dfs(spark, sf_dir):
    """Deterministic etalon/test fixture: etalon = predefined doc opinions;
    test = the md5 pos/neg flip of etalon (``_flip_pos_neg``)."""
    res = _pipeline(spark, sf_dir, frames=False)
    etalon = (res.doc_opinions.filter(F.col("priority") == 0)
              .select("conv_id", "s_group", "t_group", "label"))
    return etalon, _flip_pos_neg(etalon, "conv_id", "s_group", "t_group")


def q_eval_prf_noframes(spark, sf_dir):
    """J14 + A4: per-doc per-class P/R counts over a deterministic
    etalon-vs-test comparison (Extraction mode), exact integer counts +
    per-row divisions only (engine-portable floats)."""
    from .operators.evaluate import compare_opinions
    return _per_doc_prf(compare_opinions(*_eval_pair_dfs(spark, sf_dir)))


def q_eval_micro(spark, sf_dir):
    """A5 — corpus micro P/R (metrics_pr.py:38-55) over the deterministic
    Extraction-mode comparison, with the reference's 1e-5 zero-guards;
    exact integer counts + rounded ratios."""
    from .operators.evaluate import compare_opinions, micro_prf
    etalon, test = _eval_pair_dfs(spark, sf_dir)
    out = micro_prf(compare_opinions(etalon, test))
    return out.select("tp", "n_test", "n_etalon",
                      F.round("prec_micro", 6).alias("prec_micro"),
                      F.round("rec_micro", 6).alias("rec_micro"))


def q_eval_macro(spark, sf_dir):
    """A6+A7 — macro evaluation result (two_class_prf.py:86-114): per-doc
    P/R averaged over docs, then per-class F1 (0 when p*r == 0), then macro
    F1; plus macro accuracy (metrics_acc.py 1e-5 guard). One row, fully
    distributed aggregation (the driver never sees per-doc rows)."""
    from .operators.evaluate import (compare_opinions, per_doc_accuracy,
                                     per_doc_class_prf)
    etalon, test = _eval_pair_dfs(spark, sf_dir)
    cmp = compare_opinions(etalon, test)
    per = per_doc_class_prf(cmp)
    lab = per.agg(
        F.avg(F.when(F.col("label") == "pos", F.col("prec"))).alias("pos_prec"),
        F.avg(F.when(F.col("label") == "pos", F.col("rec"))).alias("pos_rec"),
        F.avg(F.when(F.col("label") == "neg", F.col("prec"))).alias("neg_prec"),
        F.avg(F.when(F.col("label") == "neg", F.col("rec"))).alias("neg_rec"))
    acc = per_doc_accuracy(cmp).agg(F.avg("acc").alias("acc"))

    def f1(p, r):
        return F.when(F.col(p) * F.col(r) != 0,
                      2 * F.col(p) * F.col(r) / (F.col(p) + F.col(r))
                      ).otherwise(F.lit(0.0))

    out = (lab.crossJoin(acc)
           .withColumn("f1_pos", f1("pos_prec", "pos_rec"))
           .withColumn("f1_neg", f1("neg_prec", "neg_rec")))
    return out.select(
        F.round("acc", 6).alias("acc"),
        F.round("pos_prec", 6).alias("pos_prec"),
        F.round("pos_rec", 6).alias("pos_rec"),
        F.round("neg_prec", 6).alias("neg_prec"),
        F.round("neg_rec", 6).alias("neg_rec"),
        F.round("f1_pos", 6).alias("f1_pos"),
        F.round("f1_neg", 6).alias("f1_neg"),
        F.round((F.col("f1_pos") + F.col("f1_neg")) / 2, 6).alias("f1"))


def q_eval_prf(spark, sf_dir):
    """J14 + A4 over FRAME-LABELED opinions: etalon = the pos/neg doc
    opinions of the A1 rollup (connotation + seed labels), test = the
    deterministic md5 flip — the Extraction-mode comparison now sees real
    multi-class disagreements on both classes."""
    from .operators.aggregate import AVERAGE, linkages_to_opinions
    from .operators.evaluate import compare_opinions
    res = _pipeline(spark, sf_dir, frames=True)
    rollup = linkages_to_opinions(res.text_opinions, AVERAGE)
    etalon = (rollup.filter(F.col("label").isin("pos", "neg"))
              .select("conv_id", "s_group", "t_group", "label"))
    test = _flip_pos_neg(etalon, "conv_id", "s_group", "t_group")
    return _per_doc_prf(compare_opinions(etalon, test))


def q_kg_opinion_rollup_noframes(spark, sf_dir):
    """A1 — AVERAGE label aggregation of mention-level triples into one
    doc-level opinion per synonym pair (sign of summed int labels)."""
    from .operators.aggregate import AVERAGE, linkages_to_opinions
    res = _pipeline(spark, sf_dir, frames=False)
    return linkages_to_opinions(res.text_opinions, AVERAGE).select(
        "conv_id", "s_group", "t_group", "label", "n_contexts")


def q_kg_opinion_rollup(spark, sf_dir):
    """A1 AVERAGE over the FRAME-LABELED triples: with the connotation
    annotator live, the rollup mixes pos/neg/nolabel contexts — the sign-of-
    sum aggregation is exercised on real multi-class inputs (the noframes
    variant only ever sees constant labels per pair)."""
    from .operators.aggregate import AVERAGE, linkages_to_opinions
    res = _pipeline(spark, sf_dir, frames=True)
    return linkages_to_opinions(res.text_opinions, AVERAGE).select(
        "conv_id", "s_group", "t_group", "label", "n_contexts")


def q_kg_opinion_rollup_first(spark, sf_dir):
    """A1 FIRST_APPEARED over the frame-labeled triples
    (``SingleLabelsHelper.aggregate_labels``, single.py:6-14): doc-level
    label = the first text opinion in linkage order — deterministically
    (priority, s_ent_id, t_ent_id) — exercising the other aggregation mode
    of the reference on the same multi-class inputs as kg_opinion_rollup."""
    from .operators.aggregate import FIRST_APPEARED, linkages_to_opinions
    res = _pipeline(spark, sf_dir, frames=True)
    return linkages_to_opinions(res.text_opinions, FIRST_APPEARED).select(
        "conv_id", "s_group", "t_group", "label", "n_contexts")


def q_kg_samples(spark, sf_dir):
    """EP2 sample serialization (T9/T10 #S/#O/#E masking, entity columns,
    content-derived ids) in no-frames mode, value-hash checked against a
    DuckDB string-aggregation oracle; frames-mode masking (frame terms ->
    matched phrase) is pytest-asserted."""
    from .pipeline import build_samples_pipeline
    _, inputs = _kg(spark, sf_dir)
    return build_samples_pipeline(spark, inputs,
                                  frames_override=FramesLexicon.empty())


def q_kg_samples_pair(spark, sf_dir):
    """EP2 with the BERT QA/NLI pair provider: text_a PLUS text_b = the
    re-masked inner span between the mentions in the sharp-formatted
    template (text_pair.py:30-59)."""
    from .operators.samples import TEXT_B_TEMPLATE
    from .pipeline import build_samples_pipeline
    _, inputs = _kg(spark, sf_dir)
    return build_samples_pipeline(spark, inputs,
                                  frames_override=FramesLexicon.empty(),
                                  text_b_template=TEXT_B_TEMPLATE)


def q_label_distribution(spark, sf_dir):
    """A9 — label histogram of the flagship frame-labeled triples
    (``labels_count_stat.py`` of the reference: samples/opinions per class).
    Pure map-side-combinable groupBy over the EP1 output — the only full
    aggregation is label-cardinality-sized."""
    from .operators.aggregate import label_distribution
    return label_distribution(q_kg_triples(spark, sf_dir))


# -------------------------------------------------- documents / embeddings

def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing END-TO-END, hash-checked: a media table is
    synthesized deterministically from ``documents`` (payload = the UTF-8
    bytes of ``text``; kind cycles image/audio/video by doc_id), the REAL
    ``mapInPandas`` feature-extraction stage runs with the documented
    deterministic fake decode (8-dim feature = first sha256 digest bytes /
    255, ``functions/multimodal.decode_stub``), and the feature is emitted
    as its exact byte signature so DuckDB replicates decode + feature math
    bit-for-bit. Raw payload bytes never leave the extraction stage — only
    the ~40 B feature rows do, which is the 100 TB-safe shape."""
    from .functions.multimodal import extract_features
    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3).cast("int") + 1).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"))
    feats = extract_features(media, fake_decode=True, buckets=16)
    sig = F.array_join(
        F.transform("feature",
                    lambda x: F.round(x * 255).cast("int").cast("string")),
        ",").alias("feature_sig")
    return feats.select("media_id", "kind",
                        F.col("n_bytes").cast("long").alias("n_bytes"),
                        "sha256", sig)


def q_multimodal_decode_ppm(spark, sf_dir):
    """REAL image decode end-to-end (r4 verdict item 7): valid binary-PPM
    payloads are ENCODED from ``documents`` doc_ids in one Arrow stage
    (``synth_asset_media``), then the decode stage (``decode_assets``)
    magic-dispatches into the pure-Python P6 parser — header token walk,
    comment skipping, exact pixel-channel integer sums. The oracle
    recomputes the sums from the closed-form pixel rule, independent of
    both the encoder and the parser. Bytes never leave the decode stage."""
    from .functions.multimodal import decode_assets, synth_asset_media
    docs = _read(spark, sf_dir, "documents")
    dec = decode_assets(synth_asset_media(docs), buckets=16)
    return (dec.filter(F.col("fmt") == "ppm")
            .select("media_id", "width", "height",
                    "sum_r", "sum_g", "sum_b"))


def q_multimodal_decode_wav(spark, sf_dir):
    """REAL audio decode end-to-end: RIFF/WAVE PCM16 payloads (with a junk
    LIST chunk to exercise the chunk walk) encoded from odd doc_ids, parsed
    by the pure-Python WAV decoder — fmt-chunk validation + exact signed
    PCM sample sum. Oracle = the closed-form sample rule."""
    from .functions.multimodal import decode_assets, synth_asset_media
    docs = _read(spark, sf_dir, "documents")
    dec = decode_assets(synth_asset_media(docs), buckets=16)
    return (dec.filter(F.col("fmt") == "wav")
            .select("media_id", "sample_rate", "n_channels",
                    "n_samples", "amp_sum"))


def q_multimodal_frame_sample(spark, sf_dir):
    """Video frame-sampling plan, hash-checked: media metadata derives
    deterministically from ``documents`` (duration from doc_id), and
    ``frame_sample_plan`` explodes one row per (media_id, frame_ts_ms) at a
    700 ms stride — the pure-relational half of video processing (the
    per-frame decode is the honestly-stubbed kernel). The explode is the
    scale shape: no UDF, no shuffle — frame rows materialize in the scan
    stage and carry ~16 B each."""
    from .functions.multimodal import frame_sample_plan
    docs = _read(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3).cast("int") + 1).alias("kind"),
        ((F.col("doc_id") % 10) * 1500 + 500).cast("int")
        .alias("duration_ms"))
    return (frame_sample_plan(media, every_ms=700)
            .select(F.col("media_id").cast("long").alias("media_id"),
                    F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")))


def q_doc_token_stats(spark, sf_dir):
    from .functions.text_analysis import token_stats
    return token_stats(_read(spark, sf_dir, "documents"))


def q_doc_quality(spark, sf_dir):
    from .functions.text_analysis import quality_signals
    return quality_signals(_read(spark, sf_dir, "documents"))


def q_doc_langid(spark, sf_dir):
    from .functions.text_analysis import langid_scores
    return langid_scores(_read(spark, sf_dir, "documents"))


def q_doc_fingerprints(spark, sf_dir):
    from .functions.text_analysis import fingerprints
    return fingerprints(_read(spark, sf_dir, "documents"))


def q_doc_token_bpe(spark, sf_dir):
    from .functions.text_analysis import bpe_token_stats
    return bpe_token_stats(_read(spark, sf_dir, "documents"))


def q_doc_contamination(spark, sf_dir):
    from .functions.text_analysis import contamination
    return contamination(_read(spark, sf_dir, "documents"))


def q_doc_pii_scrub(spark, sf_dir):
    """PII redaction over deterministic dirty text (the fixture has no
    digits, so adversarial content is synthesized as a pure function of
    (text, doc_id) — same discipline as the multimodal payloads)."""
    from .functions.text_analysis import pii_scrub
    return pii_scrub(_read(spark, sf_dir, "documents"))


def q_dedup_exact(spark, sf_dir):
    from .functions.dedup import exact_dup_groups
    return exact_dup_groups(_read(spark, sf_dir, "documents"))


def q_dedup_minhash_lsh(spark, sf_dir):
    from .functions.dedup import lsh_candidate_pairs
    return lsh_candidate_pairs(_read(spark, sf_dir, "documents"))


def q_dedup_ngram_jaccard(spark, sf_dir, *, n: int = 3, threshold: float = 0.8,
                          minhash_k: int = 8, bands: int = 4,
                          exact: bool = False):
    """Exact n-gram Jaccard verification RESTRICTED to MinHash-LSH candidate
    pairs (the scale path: the shingle self-join only ever touches pairs that
    share a band bucket — never the full quadratic shingle-shingle join).

    Recall trade-off, explicit: with ``minhash_k=8`` hashes in ``bands=4``
    bands of 2 rows, a true pair of Jaccard s survives the prefilter with
    probability 1-(1-s^2)^4 — at the 0.8 threshold ~1.7% of qualifying pairs
    are missed (and near-dup clusters can split accordingly). ``exact=True``
    drops the prefilter and runs the full shingle equi-join — exact recall,
    quadratic per shared shingle; viable only at small corpus scale or after
    an upstream blocking step. The registered oracle checks the default
    (prefiltered) semantics; both engines apply the identical prefilter."""
    from .functions.dedup import lsh_candidate_pairs, ngram_jaccard_pairs
    docs = _read(spark, sf_dir, "documents")
    cands = (None if exact
             else lsh_candidate_pairs(docs, n=n, k=minhash_k, bands=bands))
    return ngram_jaccard_pairs(docs, n=n, threshold=threshold,
                               candidates=cands)


def q_dedup_simhash(spark, sf_dir):
    from .functions.dedup import simhash
    return simhash(_read(spark, sf_dir, "documents"))


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-duplicate SEARCH (banded bit-slices -> bucket equi-join
    -> exact xor+bit_count Hamming verify). Recall is exact for the
    hamming<=3 default by pigeonhole over 4 bands."""
    from .functions.dedup import simhash_near_pairs
    return simhash_near_pairs(_read(spark, sf_dir, "documents"))


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs: sign-bucket prefilter on the leading
    dims prunes the self-join, exact cosine on survivors. The bucket-dim
    count is derived from the corpus row count (``dims_for_corpus`` — same
    log2 rule as the ANN plane sizing; parquet metadata, no extra job).
    Production default threshold is 0.95; the registered query uses 0.45
    because the synthetic embeddings are random (max pairwise cosine ~0.51)
    — the value path must produce rows to be a meaningful check."""
    from .functions.dedup import embedding_near_dup
    return embedding_near_dup(_read(spark, sf_dir, "embeddings"),
                              threshold=0.45,
                              n_rows=_parquet_rows(sf_dir, "embeddings"))


# ------------------------------------------------------- misc relational

def q_events_hourly(spark, sf_dir):
    """Streaming-shaped windowed aggregation, batch form (§2.9): per-user
    hourly event counts + exact integer value sums."""
    ev = _read(spark, sf_dir, "events")
    return (ev.groupBy(
                "user_id",
                F.date_format(F.date_trunc("hour", "ts"),
                              "yyyy-MM-dd HH").alias("hour"))
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum(F.round(F.col("value") * 10000, 0).cast("long"))
                  .alias("value_e4")))


def q_lineitem_pricing(spark, sf_dir):
    """A-ops showcase (TPC-H Q1 shape) on the driver's lineitem table."""
    li = _read(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long"))
                  .alias("sum_qty_e2"),
                 F.sum(F.round(F.col("l_extendedprice") * 100, 0)
                       .cast("long")).alias("sum_base_e2"),
                 F.sum(F.round(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 100, 0)
                       .cast("long")).alias("sum_disc_e2"),
                 F.count("*").cast("long").alias("count_order")))


def q_events_anomalies(spark, sf_dir):
    """Per-user event-rate anomaly hours — |z| > 3 detection carried out
    ENTIRELY in integer arithmetic (the monitoring pass a streaming KG
    ingest runs over its own throughput): hour count c is anomalous for a
    user with n hours, sum s, sum-of-squares q iff
    (c*n - s)^2 > 9*(n*q - s^2), which is z^2 > 9 cross-multiplied —
    no float mean/stddev anywhere, so results are exactly reproducible.
    Two combinable aggregations + one user-keyed join."""
    ev = _read(spark, sf_dir, "events")
    hourly = (ev.groupBy("user_id",
                         F.date_format(F.date_trunc("hour", "ts"),
                                       "yyyy-MM-dd HH").alias("hour"))
              .agg(F.count("*").cast("long").alias("n_events")))
    stats = hourly.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("n_events").cast("long").alias("sum_events"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long")
        .alias("sumsq"))
    j = hourly.join(stats, "user_id")
    dev = F.col("n_events") * F.col("n_hours") - F.col("sum_events")
    rhs = F.lit(9) * (F.col("n_hours") * F.col("sumsq")
                      - F.col("sum_events") * F.col("sum_events"))
    return (j.filter((F.col("n_hours") >= 3) & (dev * dev > rhs))
            .select("user_id", "hour", "n_events", "n_hours", "sum_events"))


def q_doc_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling for training-mix construction:
    per predicted language, keep a fixed per-stratum rate by md5
    thresholding on doc_id (no RNG — re-runs, resumes and the oracle
    agree row-for-row; the rate map is a tiny literal)."""
    from .functions.text_analysis import langid_scores
    rates = {"de": 80, "en": 50, "es": 80, "unk": 10}
    lang = langid_scores(_read(spark, sf_dir, "documents")).select(
        "doc_id", "pred_lang")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                                 1, 15), 16, 10).cast("long") % 100)
    rate_kv = []
    for k in sorted(rates):
        rate_kv += [F.lit(k), F.lit(rates[k])]
    rate = F.element_at(F.create_map(*rate_kv), F.col("pred_lang"))
    return (lang.withColumn("bucket", bucket.cast("int"))
            .filter(F.col("bucket") < rate)
            .select("doc_id", "pred_lang", "bucket"))


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (W2-style lag window, the batch analog of
    stateful streaming sessions): a new session starts after a >30 min gap;
    emits per-session aggregates with exact integer values."""
    from pyspark.sql import Window
    ev = _read(spark, sf_dir, "events").withColumn(
        "__epoch", F.col("ts").cast("timestamp").cast("long"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("__epoch") - F.lag("__epoch").over(w)
    marked = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = marked.withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", F.col("session_seq").cast("long")
                         .alias("session_seq"))
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.min(F.col("event_id")).cast("long").alias("first_event"),
                 (F.max("__epoch") - F.min("__epoch")).cast("long")
                 .alias("duration_sec")))


def q_orders_by_region(spark, sf_dir):
    """Multi-way dimension join (broadcast path): order totals per region /
    order month. Covers the star-join shape of the TPC-H-ish tables."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    dims = (cust.join(F.broadcast(nation),
                      cust["c_nationkey"] == nation["n_nationkey"])
            .join(F.broadcast(region),
                  nation["n_regionkey"] == region["r_regionkey"])
            .select(F.col("c_custkey"), F.col("r_name")))
    return (orders.join(dims, orders["o_custkey"] == dims["c_custkey"])
            .groupBy("r_name",
                     F.date_format("o_orderdate", "yyyy-MM").alias("month"))
            .agg(F.count("*").cast("long").alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
                 .alias("total_e2")))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the n-gram-Jaccard pair
    graph (reuses the canonicalization CC operator on a second domain).
    (doc_id, cluster_id) for every doc in at least one qualifying pair."""
    from .functions.dedup import lsh_candidate_pairs, ngram_jaccard_pairs
    from .operators.canonical import connected_components
    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8,
                                candidates=lsh_candidate_pairs(docs))
    edges = pairs.select(F.col("doc_a").cast("string").alias("src"),
                         F.col("doc_b").cast("string").alias("dst"))
    comp = connected_components(edges)
    return comp.select(F.col("node").cast("long").alias("doc_id"),
                       F.col("component").cast("long").alias("cluster_id"))


def q_corpus_select(spark, sf_dir):
    """Capstone: the end-to-end training-data CURATION pass a 100 TB corpus
    runs before tokenization — quality gate (length / stopword / digit
    ratios, integer-exact), language gate (n-gram marker argmax), exact
    dedup (keep the canonical doc of each md5(norm) group), and near-dup
    dedup (keep only each Jaccard-cluster's representative) — composed
    from the individually oracle-checked operators into ONE plan.

    Scale shape: every per-doc signal joins on doc_id (one co-partitioned
    key); the exact-dedup join keys on text_key (its own map-side-combined
    aggregation); the near-dup cluster table is sparse (only docs in ≥1
    qualifying pair) and left-joins without expansion. No UDFs anywhere."""
    from .functions.dedup import exact_dup_groups
    from .functions.text_analysis import (langid_scores, norm_text,
                                          quality_signals)
    docs = _read(spark, sf_dir, "documents")
    q = quality_signals(docs).select("doc_id", "n_tokens", "stop_hits",
                                     "digit_tokens")
    lang = langid_scores(docs).select("doc_id", "pred_lang")
    exact = exact_dup_groups(docs)
    clusters = q_dedup_clusters(spark, sf_dir)
    keyed = docs.select("doc_id",
                        F.md5(norm_text(F.col("text"))).alias("text_key"))
    out = (keyed.join(q, "doc_id").join(lang, "doc_id")
           .join(exact, "text_key")
           .join(clusters, "doc_id", "left")
           .filter((F.col("n_tokens") >= 10)
                   & (F.col("stop_hits") * 20 >= F.col("n_tokens"))
                   & (F.col("digit_tokens") * 2 <= F.col("n_tokens"))
                   & (F.col("pred_lang") == "en")
                   & (F.col("canonical_doc_id") == F.col("doc_id"))
                   & (F.col("cluster_id").isNull()
                      | (F.col("cluster_id") == F.col("doc_id")))))
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "pred_lang", "n_tokens")


def q_folding_assign(spark, sf_dir):
    """C3 splitter analog: deterministic 5-fold assignment by md5 hash-mod —
    fully distributed (the prior ntile-over-global-order formulation moved
    the whole table into ONE task to number it; hash-mod is a map-only
    expression, equally balanced in expectation, and engine-portable via
    base-16 parsing of the md5 prefix)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    hex15 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15)
    return docs.select(
        "doc_id",
        (F.conv(hex15, 16, 10).cast("long") % 5 + 1).cast("int")
        .alias("fold"))


def q_eval_accuracy(spark, sf_dir):
    """A7 — per-document accuracy table (``metrics_acc.py`` 1e-5 guard)
    over the deterministic Extraction-mode etalon/md5-flip comparison —
    the same pair as eval_prf_noframes, per-doc instead of macro."""
    from .operators.evaluate import compare_opinions, per_doc_accuracy
    etalon, test = _eval_pair_dfs(spark, sf_dir)
    out = per_doc_accuracy(compare_opinions(etalon, test))
    return out.select(F.col("doc").alias("conv_id"),
                      F.round("acc", 6).alias("acc"))


def q_eval_context_prf(spark, sf_dir):
    """J15 — CONTEXT-level opinion comparison (``text_opinions.py:16-25``:
    keyed by doc + sentence + source entity id + target entity id rather
    than by synonym groups), then A4 per-doc per-class counts. Etalon =
    the deduped mention-level triples of the no-frames EP1; test = a
    deterministic md5 flip of pos/neg on the context key."""
    from .operators.evaluate import compare_context_opinions
    etalon = q_kg_triples_noframes(spark, sf_dir).select(
        "conv_id", "turn_idx", "s_ent_id", "t_ent_id", "label")
    test = _flip_pos_neg(etalon, "conv_id", "turn_idx",
                         "s_ent_id", "t_ent_id")
    return _per_doc_prf(compare_context_opinions(etalon, test))


def q_kg_balanced_counts(spark, sf_dir):
    """A3 — deterministic class balancing (``PandasBasedRowsStorage._balance``,
    oversample every class to the majority size) applied to the EP2 sample
    table; checked via the balancing invariant: per-label balanced row
    count == majority-class size exactly (the ceil/floor deterministic
    repeats sum to the majority count), distinct source ids preserved."""
    from .operators.samples import balance_by_label
    data_dir, _ = _kg(spark, sf_dir)
    # n_rows proxy = the transcript turn count from parquet footer metadata
    # (samples are ~1 per turn-pair context; the log2 bit rule only needs
    # the order of magnitude) — no count() job on the derived samples plan
    balanced = balance_by_label(q_kg_samples(spark, sf_dir),
                                n_rows=_parquet_rows(data_dir, "transcripts"))
    return balanced.groupBy("label").agg(
        F.count("*").cast("long").alias("n_out"),
        F.countDistinct("id").cast("long").alias("n_src_ids"))


def q_kg_canonical_edges(spark, sf_dir):
    """North-rule graph materialization — the canonical EDGE table: doc-level
    opinions (J9 priority-dedup) with both endpoint synonym groups re-pointed
    at their alias-connected-component canonical node id, aggregated per
    (src, dst, label). The component map derives from the alias dictionary
    (dictionary-sized even at corpus scale), so both endpoint joins
    broadcast; the only shuffle is the final (src, dst, label) rollup."""
    def build():
        res = _pipeline(spark, sf_dir, frames=False)
        return canonical_edges(_comps(spark, sf_dir), res.doc_opinions)

    return _memo(spark, sf_dir, "canonical_edges", build)


def materialized_graph_sink(spark, sf_dir, num_buckets: int = 4) -> str:
    """Ensure the runner's graph sink exists for this fixture and return
    its path — the two-step materialize -> analyze flow of the 100 TB
    story (round-3 verdict item 2).  ``run_incremental`` skips buckets
    whose lineage row exists, so after the first call this is a metadata
    check, exactly like resuming a production incremental job.  The sink
    lives INSIDE the fixture's data dir, which is atomically replaced on
    DATA_VERSION bumps — stale sinks cannot outlive their inputs."""
    from .runner import SINK_EPOCH, run_incremental
    data_dir, inputs = _kg(spark, sf_dir)
    sink_dir = os.path.join(data_dir, f"graph_sink_e{SINK_EPOCH}")
    run_incremental(spark, inputs, sink_dir, num_buckets=num_buckets)
    return sink_dir


def q_kg_degrees_materialized(spark, sf_dir):
    """Degree profiles by READING the runner's materialized opinion sink
    (second consumer of the same sink as kg_pagerank_materialized — the
    whole point of materializing: N analytics queries amortize ONE
    extraction run)."""
    from .operators.graph import node_degrees
    from .runner import read_opinions
    sink_dir = materialized_graph_sink(spark, sf_dir)
    ops = read_opinions(spark, sink_dir).drop("bucket")
    return node_degrees(canonical_edges(_comps(spark, sf_dir), ops))


def q_kg_pagerank_materialized(spark, sf_dir):
    """PageRank over the RUNNER-MATERIALIZED opinion sink: materialize (or
    resume) the bucketed graph tables via the checkpointed runner, then
    analyze by READING the sink — no inline EP1 rebuild.  This is the
    deployment shape at 100 TB: extraction writes the graph once; every
    analytics query scans the (bucket-pruned, column-pruned) opinion/edge
    tables instead of re-running the parse.  Oracle: the same 5-iteration
    update over the FRAMES-mode canonical edge derivation (what the runner
    writes), repr-exact damping literals."""
    from .operators.graph import pagerank
    from .runner import read_opinions
    sink_dir = materialized_graph_sink(spark, sf_dir)
    ops = read_opinions(spark, sink_dir).drop("bucket")
    return pagerank(canonical_edges(_comps(spark, sf_dir), ops), n_iter=5)


def q_kg_node_degrees(spark, sf_dir):
    """Graph analytics over the canonical edge table: per-node in/out degree
    (distinct neighbors) and opinion mass.  Two map-side-combinable
    aggregations + one full outer join on the node id."""
    from .operators.graph import node_degrees
    return node_degrees(q_kg_canonical_edges(spark, sf_dir))


def _cooccurrence(spark, sf_dir):
    from .operators.graph import conv_entity_sets, cooccurrence

    def build():
        m = _noframes_mentions(spark, sf_dir)
        return cooccurrence(conv_entity_sets(m, _comps(spark, sf_dir)))

    return _memo(spark, sf_dir, "cooc", build)


def q_kg_cooccurrence(spark, sf_dir):
    """Canonical-entity co-occurrence with lift: which canonical entities
    share conversations, how often, and how surprising that is
    (lift = n_pair * n_convs / (n_a * n_b)).  The per-conv self-join
    shuffles once on conv_id — the partitioning every upstream KG stage
    already uses — and is quadratic per conversation, not per corpus."""
    return _cooccurrence(spark, sf_dir)


def q_kg_related_entities(spark, sf_dir):
    """The "entity page" query: top-3 most-related entities per canonical
    node, ranked by co-occurrence lift (ties: support desc, then name).
    The window partitions by entity — no global ordering anywhere — and
    the symmetrized pair list is exactly 2x the co-occurrence output."""
    from pyspark.sql import Window
    co = _cooccurrence(spark, sf_dir)
    sym = (co.select(F.col("e_a").alias("entity"),
                     F.col("e_b").alias("other"), "n_pair", "lift")
           .unionAll(co.select(F.col("e_b").alias("entity"),
                               F.col("e_a").alias("other"),
                               "n_pair", "lift")))
    w = Window.partitionBy("entity").orderBy(
        F.desc("lift"), F.desc("n_pair"), F.asc("other"))
    return (sym.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("entity", "other", "n_pair", "lift", "rank"))


def q_kg_clustering(spark, sf_dir):
    """Per-node local clustering profile over the co-occurrence graph
    (support >= 2 — the kg_triangles graph): (node, degree, n_tri) as
    exact integers; local coefficient = 2*n_tri/(degree*(degree-1)) is the
    caller's one division.  Reuses the degree-ordered triangle machinery:
    the only additions are a 3x corner explode and two combinable counts."""
    from .operators.graph import node_triangle_profile
    co = _cooccurrence(spark, sf_dir)
    und = (co.filter(F.col("n_pair") >= 2)
           .select(F.col("e_a").alias("u"), F.col("e_b").alias("v")))
    return node_triangle_profile(und)


def q_kg_neighbor_jaccard(spark, sf_dir):
    """Entity-pair recommendation by neighborhood overlap: Jaccard
    similarity of co-occurrence neighbor sets for every pair sharing a
    neighbor (wedge enumeration — quadratic per neighborhood, not per
    corpus), 1e6-rounded integer scores."""
    from .operators.graph import neighbor_jaccard
    co = _cooccurrence(spark, sf_dir)
    und = co.select(F.col("e_a").alias("u"), F.col("e_b").alias("v"))
    return neighbor_jaccard(und)


BM25_QUERY_TERMS = ("data", "model", "cluster")


def q_doc_bm25(spark, sf_dir):
    """BM25 retrieval scores for a fixed query-term bag over the documents
    table (targeted corpus pulls); per-term contributions summed in
    literal order for cross-engine determinism."""
    from .functions.text_analysis import bm25_scores
    return bm25_scores(_read(spark, sf_dir, "documents"), BM25_QUERY_TERMS,
                       n_docs=_parquet_rows(sf_dir, "documents"))


def q_doc_tfidf_topk(spark, sf_dir):
    """TF-IDF top-5 terms per document (keyword/topic profile for
    curation): two combinable aggregations + a per-doc window; N from
    parquet footer metadata (no count job)."""
    from .functions.text_analysis import tfidf_topk
    return tfidf_topk(_read(spark, sf_dir, "documents"), k=5,
                      n_docs=_parquet_rows(sf_dir, "documents"))


def q_emb_kmeans(spark, sf_dir):
    """Deterministic k-means assignment over the embeddings table (Lloyd,
    3 updates from md5-seeded centroids): the corpus-curation / IVF-
    training clustering primitive, engine-exact via integer-sum centroid
    numerators + rounded-distance argmin (see functions/clustering.py).
    Hash-checked ROW-FOR-ROW against the unrolled-CTE DuckDB oracle —
    every vector's final cluster id must match."""
    from .functions.clustering import kmeans_assign
    return kmeans_assign(_read(spark, sf_dir, "embeddings"),
                         k=8, n_iter=3)


def q_kg_entity_salience(spark, sf_dir):
    """Per-conversation entity salience: tf-idf transplanted to the KG
    mention space — salience(conv, entity) = n_mentions_in_conv *
    ln(N_convs / n_convs_mentioning_entity), top-3 canonical entities per
    conversation ("what is this conversation about").  Shape: one
    (conv, canon) combinable rollup, a canon-keyed doc-frequency
    aggregate, a one-row broadcast total, and a conv-partitioned window;
    ranking on the 1e6-rounded integer score."""
    from pyspark.sql import Window
    mc = (canonical_ids(_noframes_mentions(spark, sf_dir),
                        _comps(spark, sf_dir), out="canon")
          .groupBy("conv_id", "canon")
          .agg(F.count("*").cast("long").alias("n_mentions")))
    dfq = mc.groupBy("canon").agg(
        F.count("*").cast("long").alias("n_convs_entity"))
    tot = mc.agg(F.countDistinct("conv_id").cast("double").alias("n"))
    scored = (mc.join(dfq, "canon")
              .crossJoin(F.broadcast(tot))
              .withColumn(
                  "score_e6",
                  F.round(F.col("n_mentions")
                          * F.log(F.col("n")
                                  / F.col("n_convs_entity").cast("double"))
                          * 1e6, 0).cast("long")))
    w = Window.partitionBy("conv_id").orderBy(F.desc("score_e6"),
                                              F.asc("canon"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 3)
            .select("conv_id", "canon", "n_mentions", "n_convs_entity",
                    "score_e6", "rank"))


def q_kg_triangles(spark, sf_dir):
    """Triangle enumeration over the co-occurrence graph (support >= 2),
    via degree-ordered edge orientation (Suri & Vassilvitskii, WWW'11):
    wedge fan-out is bounded by O(sqrt(m)) per vertex, so hub entities
    cannot blow up the wedge shuffle at corpus scale."""
    from .operators.graph import triangles
    co = _cooccurrence(spark, sf_dir)
    und = (co.filter(F.col("n_pair") >= 2)
           .select(F.col("e_a").alias("u"), F.col("e_b").alias("v")))
    return triangles(und)


def q_kg_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (5 iters, d=0.85) over the canonical edge
    table.  Iterative Spark shape: per iteration one |E|-join + combinable
    sum + eager localCheckpoint (constant-size plans); dangling mass via a
    one-row broadcast.  Oracle: the same update unrolled into 5 CTE
    generations."""
    from .operators.graph import pagerank
    return pagerank(q_kg_canonical_edges(spark, sf_dir), n_iter=5)


def q_kg_pagerank_weighted(spark, sf_dir):
    """Opinion-weighted PageRank: each canonical edge carries the number
    of supporting doc-level opinions (n_ops summed over labels), so rank
    flows proportionally to evidence mass, not just link existence.  Same
    iterative shape and oracle discipline as kg_pagerank."""
    from .operators.graph import pagerank
    return pagerank(q_kg_canonical_edges(spark, sf_dir), n_iter=5,
                    weight_col="n_ops")


def q_kg_label_timeline(spark, sf_dir):
    """Attitude drift over time: daily triple counts per label — the
    temporal monitoring rollup a KG materialization job runs after each
    batch.  Day index is epoch-based (floor(epoch_sec/86400)) so the
    result is timezone-proof; the (conv_id, turn_idx) join back to the
    transcripts reuses the pipeline's conv_id partitioning, and the final
    (day, label) aggregate is low-cardinality and map-side combinable."""
    _, inputs = _kg(spark, sf_dir)
    triples = _pipeline(spark, sf_dir, frames=True).triples
    tt = (spark.read.parquet(inputs.transcripts)
          .select("conv_id", "turn_idx", "ts"))
    return (triples.join(tt, ["conv_id", "turn_idx"])
            .groupBy(F.floor(F.unix_timestamp("ts") / F.lit(86400))
                     .cast("long").alias("day_idx"),
                     "label")
            .agg(F.count("*").alias("n_triples")))


def q_kg_entity_timeline(spark, sf_dir):
    """Per-canonical-entity lifecycle: first/last epoch-day the entity is
    mentioned plus its mention count — node metadata for emergence /
    staleness monitoring over the KG.  The ts join runs on the pipeline's
    (conv_id, turn_idx) partitioning; the component map is dictionary-
    sized and broadcasts."""
    _, inputs = _kg(spark, sf_dir)
    mentions = _noframes_mentions(spark, sf_dir)
    tt = (spark.read.parquet(inputs.transcripts)
          .select("conv_id", "turn_idx", "ts"))
    m = (canonical_ids(mentions.join(tt, ["conv_id", "turn_idx"]),
                       _comps(spark, sf_dir))
         .select("canon_id",
                 F.floor(F.unix_timestamp("ts") / F.lit(86400))
                 .cast("long").alias("day_idx")))
    return (m.groupBy("canon_id")
            .agg(F.min("day_idx").alias("first_day"),
                 F.max("day_idx").alias("last_day"),
                 F.count("*").alias("n_mentions")))


def _hub_seeds(edges: DataFrame, n: int = 3) -> DataFrame:
    """The ``n`` highest out-degree nodes (distinct neighbors), ties broken
    by node id — the khop seed rule, as a (node) table."""
    return (edges.select("src", "dst").distinct()
            .groupBy(F.col("src").alias("node"))
            .agg(F.countDistinct("dst").alias("__od"))
            .orderBy(F.desc("__od"), F.asc("node"))
            .limit(n)
            .select("node"))


def q_kg_pagerank_personalized(spark, sf_dir):
    """Personalized PageRank: teleport concentrated on the three highest
    out-degree canonical nodes (the khop seed rule), so scores rank every
    entity by walk-proximity to the KG's hub entities; unreachable nodes
    score exactly 0.  Oracle: the t-form update unrolled per generation
    with repr-exact damping literals."""
    from .operators.graph import pagerank
    edges = q_kg_canonical_edges(spark, sf_dir)
    return pagerank(edges, n_iter=5, seeds=_hub_seeds(edges))


def q_doc_negative_pairs(spark, sf_dir):
    """Deterministic contrastive negatives for similarity-model training:
    positives are the SimHash near-dup pairs; each gets up to 3 corrupted
    partners (md5 bucket targeting + md5 arg-min, no RNG) that are NOT
    near-dups — the (anchor, positive, negative) triplets a contrastive
    dedup/similarity model trains on.  The edge list is symmetrized first
    so the positive exclusion is direction-complete.  (The sampler also
    runs over the canonical KG edge table, but the fixture-scale KG is a
    complete graph — every corruption collides with a positive — so the
    registered, non-vacuous instance is the sparse document graph.)"""
    from .operators.graph import negative_samples
    p = q_dedup_simhash_pairs(spark, sf_dir)
    e = p.select(F.col("doc_a").cast("string").alias("src"),
                 F.col("doc_b").cast("string").alias("dst"))
    sym = e.unionAll(e.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst")))
    # buckets=None: the N-derived default (buckets_for_nodes) — the oracle
    # computes the same ceil(|V|/16) inside SQL, so both engines agree
    return negative_samples(sym, k=3)


def q_kg_min_cost_paths(spark, sf_dir):
    """Evidence-weighted proximity: bounded Bellman-Ford (<= 4 edges) from
    the top-3 out-degree seeds over the canonical edge table, edge cost =
    round(1e6 / n_ops) ("resistance": strong evidence = cheap).  The
    second genuinely distinct iterative algorithm family after PageRank —
    min-plus relaxation instead of sum-times propagation.  Oracle: the
    depth-bounded recursive path walk + MIN(total cost)."""
    from .operators.graph import min_cost_paths
    edges = q_kg_canonical_edges(spark, sf_dir)
    return min_cost_paths(edges, _hub_seeds(edges), k=4)


def q_kg_khop(spark, sf_dir):
    """BFS min-hop reachability (<= 3 hops) from the three highest
    out-degree canonical nodes: the frontier — not the graph — shuffles per
    layer.  Oracle: depth-bounded recursive walk + MIN(hops)."""
    from .operators.graph import khop_reachability
    return khop_reachability(q_kg_canonical_edges(spark, sf_dir),
                             k=3, n_seeds=3)


def registry() -> dict:
    """Query key -> callable, derived from this module's ``q_<key>``
    functions in definition order: defining ``q_<key>`` registers ``<key>``."""
    return {name[2:]: fn for name, fn in globals().items()
            if name.startswith("q_") and callable(fn)}
