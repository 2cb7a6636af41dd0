"""End-to-end EP1: transcripts -> (subj, pred, obj) triples.

Composition of the stage functions (SURVEY.md §3 EP1, §7 stage 2):

    scan -> parse UDF -> mentions (+groups) -> candidate pairs (J2/J3)
         -> nolabel doc opinions (J8)    ┐
    seed -> predefined doc opinions (J8) ┴-> union+priority (U1/J9)
         -> group-join expansion (J6) -> filters (J10/J11) -> dedup (J9)
         -> triples

No custom pipeline framework: each stage is DataFrame -> DataFrame; Catalyst
owns the physical plan. The parse output is the one intermediate consumed by
multiple downstream joins — it is localCheckpoint'ed (or written to a
conv_id-bucketed table at real scale) so the Arrow parse runs exactly once
over the corpus regardless of plan fan-out. EP1 checkpoints it when the
frames/J4b branch is live; EP2 (``build_samples_pipeline``) always
checkpoints ONE terms-bearing parse that feeds both the triple plan
(``_triples_from_parsed``) and the sample masking join.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .lexicons import FramesLexicon, KgInputs, load_entity_types, load_synonym_seed
from .operators.connotation import frame_doc_opinions
from .operators.expansion import (dedup_across_annotators,
                                  expand_to_text_opinions,
                                  triples_schema_select)
from .operators.grouping import seed_groups_df, with_group_key
from .operators.mentions import frames_table, mentions_table
from .operators.opinions import (nolabel_doc_opinions, predefined_doc_opinions,
                                 union_annotators)
from .operators.pairs import candidate_pairs
from .operators.parse import parse_transcripts


def _connotation_map(frames_lex: FramesLexicon, cfg) -> dict:
    """J4b label-map selection (cfg.connotation): the reference's a0->a1
    polarity (``try_get_frame_polarity``), or a role's effect labels
    (``get_frame_effects`` + the EffectLabelsFormatter mapping)."""
    c = getattr(cfg, "connotation", "polarity")
    if c == "polarity":
        return frames_lex.polarity
    if c.startswith("effect:"):
        return frames_lex.role_effect_map(c.split(":", 1)[1])
    raise ValueError(f"unknown connotation source: {c!r} "
                     "(expected 'polarity' or 'effect:<role>')")


@dataclass
class TriplePipelineResult:
    mentions: DataFrame
    frames: DataFrame
    doc_opinions: DataFrame
    text_opinions: DataFrame   # deduped mention-level rows incl. positions
    triples: DataFrame


def attach_entity_types(mentions: DataFrame, spark: SparkSession,
                        types: dict[str, str]) -> DataFrame:
    """Broadcast value->type lookup (J12 support); unknown values get NULL.
    The lookup is built through Arrow from a pandas frame, so it is a
    ``LocalRelation`` and runs no Python task."""
    if not types:
        return mentions.withColumn("ent_type", F.lit(None).cast("string"))
    tdf = spark.createDataFrame(
        pd.DataFrame(sorted(types.items()), columns=["value", "ent_type"]),
        "value string, ent_type string")
    return mentions.join(F.broadcast(tdf), "value", "left")


def build_triple_pipeline(spark: SparkSession,
                          inputs: KgInputs,
                          cfg: PipelineConfig | None = None,
                          transcripts: DataFrame | None = None,
                          persist: bool = True,
                          frames_override: FramesLexicon | None = None
                          ) -> TriplePipelineResult:
    """EP1 as one codegen plan: with subset co-partitioning enabled
    (session.py: ``requireAllClusterKeysForCoPartition=false``) the pair
    self-join and the opinion-expansion join both reuse the single post-parse
    conv_id hash partitioning, and every operator stays inside whole-stage
    codegen."""
    cfg = cfg or PipelineConfig()
    if transcripts is None:
        transcripts = spark.read.parquet(inputs.transcripts)

    frames_lex = (frames_override if frames_override is not None
                  else FramesLexicon.from_json(inputs.frames))
    parsed = parse_transcripts(transcripts, frames_lex, cfg)
    # Materialize the parse output ONCE — but only when the plan fan-out
    # warrants it. With the frames branch + J4b annotator live, the triples
    # DAG consumes the parse from up to 7 branches (mention windows, both
    # pair-join sides, the frames table, both expansion sides), and AQE
    # exchange reuse canNOT deduplicate them: per-branch column pruning makes
    # each branch's exchange subtree non-identical, so the executed plan
    # re-runs MapInArrow per branch (measured 7x at sf0.1, 16s -> 4-5s after
    # this checkpoint; 102s -> 62.8s at sf1x8/local[8]). The NO-frames plan
    # has low fan-out (mentions feed the pair self-join + expansion, all
    # reusing one conv_id exchange) and the checkpoint write costs more than
    # the recompute it saves (round-2 regression: kg_triples_noframes 2.68s
    # -> 4.46s at identical semantics; gated A/B at sf0.1 confirms) — so the
    # checkpoint is gated on the frames/J4b branch being live.
    # ``localCheckpoint`` stores the slim row form (no terms column) — unlike
    # a ``persist``, which builds Spark's columnar cache of the nested
    # mention arrays at 5-10x the parse cost in alloc/GC CPU. ``eager=
    # persist`` lets callers that fan out into concurrent writes (runner.py)
    # materialize up front. At real cluster scale the same role is played by
    # writing the parse output to a conv_id-bucketed table (checkpoint
    # blocks are not replicated; lineage is cut deliberately).
    if _connotation_map(frames_lex, cfg):
        # Project role away BEFORE materializing: the checkpoint defeats
        # Catalyst column pruning (it stores every column for all 7
        # consuming branches), and nothing in EP1 past the parse reads
        # role — mentions/frames/pairs/expansion key on (conv_id,
        # turn_idx) only. Without the checkpoint, pruning already removes
        # it, so the no-ckpt plan needs no change.
        parsed = parsed.drop("role").localCheckpoint(eager=persist)
    return _triples_from_parsed(spark, inputs, cfg, parsed, frames_lex)


def _triples_from_parsed(spark: SparkSession, inputs: KgInputs,
                         cfg: PipelineConfig, parsed: DataFrame,
                         frames_lex: FramesLexicon) -> TriplePipelineResult:
    """EP1 past the parse. Reads only ``conv_id, turn_idx, n_terms,
    mentions, frames`` of ``parsed`` — the same values whether or not the
    parse also emitted (annotated) ``terms``, so EP2 feeds its one terms
    parse through here unchanged."""
    seed_df = seed_groups_df(spark, load_synonym_seed(inputs.synonyms))
    conn_map = _connotation_map(frames_lex, cfg)
    mentions = with_group_key(mentions_table(parsed), seed_df,
                              register_missed=cfg.register_missed_synonyms)
    if cfg.entity_type_whitelist is not None:
        # J3's is_entity_ignored_func and the J12 filter agree: a mention
        # whose type is outside the whitelist can join no pair on either end
        # (``filters/entity_based.py:9-28``). Filtering once AFTER positions/
        # ids are assigned preserves ent_id / ind_in_doc numbering.
        mentions = attach_entity_types(
            mentions, spark, load_entity_types(inputs.entity_types))
        mentions = mentions.filter(
            F.col("ent_type").isin(list(cfg.entity_type_whitelist)))

    pairs = candidate_pairs(mentions, cfg)
    frames_df = frames_table(parsed)

    seed_ops = spark.read.parquet(inputs.seed_opinions)
    predefined = predefined_doc_opinions(seed_ops, seed_df)
    # canonical wiring passes get_doc_existed_opinions_func = None for the
    # nolabel annotator (rusentrel/extract_text_opinions.py:78) -> no J3
    # existed-opinion exclusion; exclude_existed() stays available for the
    # wiring that supplies one.
    nolabel = nolabel_doc_opinions(pairs, cfg.no_label)
    # J4b frame-connotation annotator (operators/connotation.py). Skipped
    # when the lexicon carries no polarities — an empty lexicon would only
    # add a dead parse branch to the plan.
    frame_ops = (frame_doc_opinions(pairs, frames_df, conn_map)
                 if conn_map else None)
    doc_opinions = union_annotators(predefined, nolabel, frame_ops)

    expanded = expand_to_text_opinions(doc_opinions, mentions, cfg)
    text_opinions = dedup_across_annotators(expanded)
    triples = triples_schema_select(text_opinions)

    return TriplePipelineResult(
        mentions=mentions,
        frames=frames_df,
        doc_opinions=doc_opinions,
        text_opinions=text_opinions,
        triples=triples,
    )


def build_samples_pipeline(spark: SparkSession, inputs: KgInputs,
                           cfg: PipelineConfig | None = None,
                           store_labels: bool = True,
                           frames_override: FramesLexicon | None = None,
                           text_b_template: str | None = None,
                           entity_fmt: str = "sharp",
                           pos_tagger: str | None = None) -> DataFrame:
    """EP2: triples -> flat ML sample rows (operators/samples.py).

    ``entity_fmt`` picks the T9 masking formatter (operators/formatters.py);
    ``'ru_cased'`` needs a ``pos_tagger`` seam name (default: the UNKN
    tagger) whose declension suffixes are annotated at parse time."""
    from .operators.samples import build_samples

    cfg = cfg or PipelineConfig()
    frames_lex = (frames_override if frames_override is not None
                  else FramesLexicon.from_json(inputs.frames))
    # synonym-group / entity-type lookups ride in the parse closure so the
    # sample-masking expressions carry NO lexicon literals — see
    # operators/samples.py.
    seed = load_synonym_seed(inputs.synonyms)
    seed_groups = {str(r.sid): f"g{int(r.group_id)}"
                   for r in seed.itertuples()}
    if entity_fmt == "ru_cased" and pos_tagger is None:
        pos_tagger = "default"
    # ONE Python parse per EP2 run, as in the reference (the sample row
    # provider reuses EP1's parsed documents): the terms-bearing parse is
    # materialized once and both the EP1 branches and the masking join read
    # the checkpoint. A separate masking parse sent the whole corpus to
    # Python twice (kgbench ep2_samples at sf0.01: parse.passes 2.0 -> 1.0,
    # cpu_s -15%, BASELINE.md). Unlike the EP1-only no-frames plan, the
    # checkpoint always pays here: masking is a consumer no EP1 exchange
    # can serve. role is read by neither side.
    parsed = parse_transcripts(spark.read.parquet(inputs.transcripts),
                               frames_lex, cfg, with_terms=True,
                               groups=seed_groups,
                               types=load_entity_types(inputs.entity_types),
                               pos_tagger=pos_tagger
                               ).drop("role").localCheckpoint(eager=True)
    res = _triples_from_parsed(spark, inputs, cfg, parsed, frames_lex)
    triples_pos = res.text_opinions.select(
        "conv_id", F.col("s_turn").alias("turn_idx"),
        "s_ent_id", "t_ent_id", "s_group", "t_group", "label",
        "s_pos", "t_pos")
    return build_samples(triples_pos, parsed,
                         store_labels=store_labels,
                         text_b_template=text_b_template,
                         entity_fmt=entity_fmt)
