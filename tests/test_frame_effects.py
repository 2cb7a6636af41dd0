"""S5 completion — RuSentiFrames per-role effect/state labels
(``contrib/source/rusentiframes/collection.py:86-115``, ``effect.py``,
``state.py``, ``labels_fmt.py``): lexicon loading, the '+'/'-' effect
formatter mapping, missing-key contract, and the effect-labeled distant
supervision variant on a mixed polarity/effect lexicon."""

import json

from arekit_r335_spark.lexicons import FramesLexicon


def _mixed_lexicon(tmp_path):
    """A lexicon mixing: polarity-only frames, effect+state frames, and a
    frame whose effects lack the a1 role."""
    spec = {
        "f_hit":  {"variants": ["hit", "hits"], "polarity": "neg",
                   "prob": 1.0,
                   "roles": {"a0": "striker", "a1": "struck"},
                   "effects": [["a0", "-", 0.5], ["a1", "-", 1.0]],
                   "states": [["a1", "neg", 0.9]]},
        # the 3-word variant raises max_variant_len to 3 so the 2-word
        # "help out" is matchable (the reference's scan quirk: spans iterate
        # max-1..1, so the longest variant itself never matches)
        "f_help": {"variants": ["help out", "lend a hand"],
                   "polarity": "pos", "prob": 0.8,
                   "effects": [["a1", "+", 0.7]]},
        # effects present but no a1 entry -> role_effect_map('a1') skips it
        "f_brag": {"variants": ["brag", "brags"], "polarity": "pos",
                   "prob": 1.0, "effects": [["a0", "+", 1.0]]},
        # polarity-only (no effects/states keys at all)
        "f_nod":  {"variants": ["nod", "nods"], "polarity": "pos",
                   "prob": 1.0},
    }
    p = tmp_path / "frames.json"
    p.write_text(json.dumps(spec))
    return str(p)


def test_lexicon_effect_state_loading(tmp_path):
    lex = FramesLexicon.from_json(_mixed_lexicon(tmp_path))
    # '+'/'-' effect signs normalized via the EffectLabelsFormatter stol
    assert lex.effects["f_hit"] == (("a0", "neg", 0.5), ("a1", "neg", 1.0))
    assert lex.effects["f_help"] == (("a1", "pos", 0.7),)
    # missing keys -> empty, like __check_has_* returning []
    assert lex.effects["f_nod"] == () and lex.states["f_nod"] == ()
    assert lex.states["f_help"] == ()
    assert lex.roles["f_hit"] == {"a0": "striker", "a1": "struck"}
    # role map: only frames with an a1 effect appear
    assert lex.role_effect_map("a1") == {"f_hit": "neg", "f_help": "pos"}
    assert lex.role_effect_map("a0") == {"f_hit": "neg", "f_brag": "pos"}
    # polarity untouched by the new fields
    assert lex.polarity["f_hit"] == "neg" and lex.prob["f_help"] == 0.8


def test_effect_doc_opinions_mixed_lexicon(spark, tmp_path):
    """End-to-end on in-line turns: the a1-effect vote differs from the
    polarity vote exactly where the lexicon makes them differ, negation
    flips the effect vote, and a1-less frames are voteless."""
    from arekit_r335_spark.config import PipelineConfig
    from arekit_r335_spark.lexicons import FramesLexicon as FL
    from arekit_r335_spark.operators.connotation import frame_doc_opinions
    from arekit_r335_spark.operators.grouping import with_group_key
    from arekit_r335_spark.operators.mentions import (frames_table,
                                                      mentions_table)
    from arekit_r335_spark.operators.pairs import candidate_pairs
    from arekit_r335_spark.operators.parse import parse_transcripts

    lex = FL.from_json(_mixed_lexicon(tmp_path))
    cfg = PipelineConfig()
    rows = [
        # f_brag: polarity pos, but NO a1 effect -> effect annotator silent
        ("c1", 0, "user", "[Alice] brags [Bob]", None, None),
        # f_hit: polarity neg, a1 effect neg -> both vote neg
        ("c2", 0, "user", "[Alice] hits [Bob]", None, None),
        # negated f_help: a1 effect pos, negation flips -> neg
        ("c3", 0, "user", "[Alice] not help out [Bob]", None, None),
        # f_nod: polarity-only frame -> effect annotator silent
        ("c4", 0, "user", "[Alice] nods [Bob]", None, None),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    parsed = parse_transcripts(tr, lex, cfg)
    seed = spark.createDataFrame([], "group_key string, sid string")
    mentions = with_group_key(mentions_table(parsed), seed)
    pairs = candidate_pairs(mentions, cfg)
    frames = frames_table(parsed)

    eff = {(r.conv_id, r.s_group, r.t_group): r.label
           for r in frame_doc_opinions(
               pairs, frames, lex.role_effect_map("a1")).collect()}
    pol = {(r.conv_id, r.s_group, r.t_group): r.label
           for r in frame_doc_opinions(
               pairs, frames, lex.polarity).collect()}

    a, b = "u:alice", "u:bob"
    assert eff == {("c2", a, b): "neg", ("c3", a, b): "neg"}
    assert pol == {("c1", a, b): "pos", ("c2", a, b): "neg",
                   ("c3", a, b): "neg", ("c4", a, b): "pos"}


def test_frame_effects_registry_shapes(spark, sf0001_dir):
    """Registry query sanity at sf0.001: every row's (kind, role, label)
    combination exists in the lexicon, and annotation-less frames emit no
    rows of the missing kind."""
    import os

    from arekit_r335_spark.queries import q_kg_frame_effects
    out = q_kg_frame_effects(spark, sf0001_dir).collect()
    assert out
    lex = FramesLexicon.from_json(os.path.join(sf0001_dir, "frames.json"))
    valid = {(fid, "effect", r, lab, int(round(p * 100)))
             for fid, es in lex.effects.items() for r, lab, p in es}
    valid |= {(fid, "state", r, lab, int(round(p * 100)))
              for fid, es in lex.states.items() for r, lab, p in es}
    assert {(r.frame_id, r.kind, r.role, r.label, r.prob_pct)
            for r in out} <= valid
    kinds_by_frame = {}
    for r in out:
        kinds_by_frame.setdefault(r.frame_id, set()).add(r.kind)
    # fixture contract: f_agree has no effects, f_praise no states
    assert "effect" not in kinds_by_frame.get("f_agree", set())
    assert "state" not in kinds_by_frame.get("f_praise", set())


def test_pipeline_connotation_effect_config(spark, sf0001_dir):
    """cfg.connotation='effect:a1' swaps the J4b label map INSIDE the full
    pipeline (the runner can therefore materialize effect-labeled graphs):
    the union's priority-1 rows equal the standalone effect annotator, and
    an unknown source name fails loudly."""
    import pytest

    from arekit_r335_spark.config import PipelineConfig
    from arekit_r335_spark.lexicons import KgInputs
    from arekit_r335_spark.pipeline import build_triple_pipeline
    from arekit_r335_spark.queries import q_kg_doc_opinions_effect

    inputs = KgInputs.at(sf0001_dir)
    res = build_triple_pipeline(
        spark, inputs, PipelineConfig(connotation="effect:a1"),
        persist=False)
    got = {(r.conv_id, r.s_group, r.t_group, r.label)
           for r in res.doc_opinions.filter("priority = 1")
           .select("conv_id", "s_group", "t_group", "label").collect()}
    want = {(r.conv_id, r.s_group, r.t_group, r.label)
            for r in q_kg_doc_opinions_effect(spark, sf0001_dir).collect()}
    assert got == want and got

    with pytest.raises(ValueError, match="connotation"):
        build_triple_pipeline(spark, inputs,
                              PipelineConfig(connotation="bogus"),
                              persist=False)
