"""EP2 sample serialization, writers (S9/S10/S7), folding (C1-C5),
BRAT ingestion (S1/S3/J13), multimodal plumbing."""

import glob
import gzip
import json
import os

from pyspark.sql import functions as F

from arekit_r335_spark.lexicons import KgInputs
from arekit_r335_spark.pipeline import build_samples_pipeline


def test_samples_schema_and_masking(spark, sf0001_dir):
    """Reconstruct every sample's text_a from the raw turn with the oracle
    masking rules (terms_mapper.py:54-67 + sharp formatter) and require exact
    string equality. NOTE s_ind/t_ind index TERMS, not space-split tokens —
    a multi-word frame phrase renders with internal spaces, exactly like the
    reference's text provider (single.py:36)."""
    import json

    import pandas as pd

    from arekit_r335_spark.lexicons import FramesLexicon, load_synonym_seed
    from arekit_r335_spark.operators import textproc as tp

    inputs = KgInputs.at(sf0001_dir)
    samples = build_samples_pipeline(spark, inputs)
    assert samples.columns == ["id", "doc_id", "sent_ind", "label", "text_a",
                               "entity_values", "entity_types", "entities",
                               "s_ind", "t_ind"]
    rows = samples.limit(300).collect()
    assert rows

    frames = FramesLexicon.from_json(inputs.frames)
    seed = load_synonym_seed(inputs.synonyms)
    seed_groups = {r.sid: f"g{int(r.group_id)}" for r in seed.itertuples()}
    types = json.load(open(inputs.entity_types))
    types = {k.lower(): v for k, v in types.items()}
    tr = pd.read_parquet(inputs.transcripts)
    by_turn = {(r.conv_id, r.turn_idx): r.text for r in tr.itertuples()}
    neg = frozenset({"not", "no", "never", "без", "не"})

    def group(v):
        return seed_groups.get(v, "u:" + v)

    for r in rows:
        terms = tp.parse_turn(by_turn[(r.doc_id, r.sent_ind)],
                              frames.variants, frames.max_variant_len, neg)
        assert terms[r.s_ind].kind == "e" and terms[r.t_ind].kind == "e"
        sg, tg = group(terms[r.s_ind].text), group(terms[r.t_ind].text)
        out = []
        for i, t in enumerate(terms):
            if t.kind == "e":
                if i == r.s_ind:
                    out.append("#S")
                elif i == r.t_ind:
                    out.append("#O")
                elif group(t.text) == sg:
                    out.append("#S")
                elif group(t.text) == tg:
                    out.append("#O")
                else:
                    out.append("#E")
            elif t.kind == "f":
                out.append(t.aux)
            else:
                out.append(t.text)
        assert " ".join(out) == r.text_a, r.id
        ent_inds = [i for i, t in enumerate(terms) if t.kind == "e"]
        assert r.entities == ",".join(str(i) for i in ent_inds)
        assert r.entity_values == ",".join(
            terms[i].text.replace(",", "") for i in ent_inds)
        assert r.entity_types == ",".join(
            types.get(terms[i].text, "") for i in ent_inds)


def test_samples_balance(spark, sf0001_dir):
    from arekit_r335_spark.operators.samples import balance_by_label
    samples = build_samples_pipeline(spark, KgInputs.at(sf0001_dir))
    balanced = balance_by_label(samples)
    counts = {r.label: r.n for r in
              balanced.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert len(set(counts.values())) == 1  # all classes at majority size


def test_writers_roundtrip(spark, sf0001_dir, tmp_path):
    from arekit_r335_spark.sources.writers import (read_opinions_txt,
                                                   write_opinions_txt,
                                                   write_samples_opennre,
                                                   write_samples_tsv_gz)
    samples = build_samples_pipeline(spark, KgInputs.at(sf0001_dir)).limit(50)

    tsv_dir = str(tmp_path / "tsv")
    write_samples_tsv_gz(samples, tsv_dir, single_file=True)
    part = glob.glob(os.path.join(tsv_dir, "part-*.csv.gz"))[0]
    with gzip.open(part, "rt") as f:
        header = f.readline().strip().split("\t")
    assert header[:4] == ["id", "doc_id", "sent_ind", "label"]

    nre_dir = str(tmp_path / "nre")
    write_samples_opennre(samples, nre_dir, single_file=True)
    part = glob.glob(os.path.join(nre_dir, "part-*"))
    line = open([p for p in part if "part-" in p][0]).readline()
    bag = json.loads(line)
    assert set(bag) == {"id_orig", "token", "h", "t", "relation"}
    # token = text_a.split() like the reference (json_opennre.py:54-57);
    # h/t positions are TERM indices (multi-word frame phrases may shift
    # whitespace tokens), so assert membership not position
    assert "#S" in bag["token"] and "#O" in bag["token"]

    ops = spark.createDataFrame(
        [("usa", "russia", "pos"), ("a", "b", "neg")],
        "s_value string, t_value string, label string")
    op_dir = str(tmp_path / "ops")
    write_opinions_txt(ops, op_dir)
    back = read_opinions_txt(spark, op_dir)
    assert {tuple(r) for r in back.collect()} == \
        {("usa", "russia", "pos"), ("a", "b", "neg")}


def test_folding_ops(spark):
    from arekit_r335_spark.operators.folding import (
        cv_fold_state, cv_folding, no_folding, stat_balanced_cv_folding,
        united_folding)
    docs = spark.createDataFrame([(f"c{i}",) for i in range(30)],
                                 "conv_id string")
    nf = no_folding(docs)
    assert nf.count() == 30

    cv = cv_folding(docs, 3)
    sizes = {r.fold: r.n for r in cv.groupBy("fold").agg(
        F.count("*").alias("n")).collect()}
    # hash-mod folds: every fold populated, balanced in expectation (not
    # exactly equal — the distributed trade documented in folding.cv_folding)
    assert set(sizes) == {0, 1, 2} and sum(sizes.values()) == 30
    assert min(sizes.values()) >= 3
    # determinism / partition-count invariance
    cv2 = cv_folding(docs.repartition(5), 3)
    assert {tuple(r) for r in cv.collect()} == {tuple(r) for r in cv2.collect()}

    state = cv_fold_state(cv, 0)
    assert state.filter(F.col("data_type") == "test").count() == sizes[0]

    stats = spark.createDataFrame(
        [(f"c{i}", (i % 7) + 1) for i in range(30)],
        "conv_id string, n_sents int")
    bal = stat_balanced_cv_folding(stats, 3)
    loads = (bal.join(stats, "conv_id").groupBy("fold")
             .agg(F.sum("n_sents").alias("w")).collect())
    ws = [r.w for r in loads]
    assert max(ws) - min(ws) <= 7  # greedy balance within one max weight

    un = united_folding(nf, state)
    assert un.count() == 60


def test_fixed_folding(spark):
    """C2: the explicit (doc, data_type) map comes back row for row, and
    composes with the other folds through united_folding."""
    from arekit_r335_spark.operators.folding import (
        TEST, TRAIN, fixed_folding, united_folding)
    pairs = [("c0", TRAIN), ("c1", TRAIN), ("c2", TEST)]
    fx = fixed_folding(pairs, spark)
    assert fx.columns == ["conv_id", "data_type"]
    assert sorted(tuple(r) for r in fx.collect()) == sorted(pairs)
    assert united_folding(fx, fx).count() == 6


def test_brat_ingestion(spark):
    from arekit_r335_spark.sources.brat import (
        assign_entities_to_sentences, merge_overlapping_entities,
        parse_ann_lines)
    lines = [
        (0, "T1\tORG 0 6\tКремль"),
        (0, "T2\tPERSON 10 15\tПутин"),
        (0, "T3\tGPE 12 20\tOverlap"),        # overlaps T2 -> dropped
        (0, "R1\tPOSITIVE_TO Arg1:T1 Arg2:T2"),
    ]
    raw = spark.createDataFrame(lines, "doc_id int, value string")
    parsed = parse_ann_lines(raw)
    ents = parsed["entities"].orderBy("ann_id").collect()
    assert [e.value for e in ents] == ["кремль", "путин", "overlap"]
    assert ents[0].begin == 0 and ents[0].end == 6
    rels = parsed["relations"].collect()
    assert rels[0].src_ann_id == 1 and rels[0].tgt_ann_id == 2

    merged = merge_overlapping_entities(parsed["entities"])
    assert {e.ann_id for e in merged.collect()} == {1, 2}

    sents = spark.createDataFrame([(0, 0, 0, 8), (0, 1, 9, 30)],
                                  "doc_id int, sent_ind int, "
                                  "ind_begin long, ind_end long")
    assigned = assign_entities_to_sentences(parsed["entities"], sents)
    by_id = {r.ann_id: r.sent_ind for r in assigned.collect()}
    assert by_id == {1: 0, 2: 1, 3: 1}


def test_multimodal_plumbing(spark):
    from arekit_r335_spark.functions.multimodal import (
        decode_stub, extract_features, frame_sample_plan, synth_media)
    import pytest
    media = synth_media(spark, 30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    assert all(len(r.feature) == 8 for r in feats)
    assert all(r.n_bytes > 0 for r in feats)
    # deterministic across partitionings
    feats2 = {r.media_id: r.sha256
              for r in extract_features(media.repartition(7)).collect()}
    assert feats2 == {r.media_id: r.sha256 for r in feats}

    plan = frame_sample_plan(media, every_ms=1000)
    assert plan.filter(F.col("frame_ts_ms") % 1000 != 0).count() == 0

    with pytest.raises(NotImplementedError):
        decode_stub(b"x", "image", fake=False)


def _gen_dat_multi_tagger():
    """Test POS-tagger backend: values ending 's' -> (GEN, MULTI), values
    starting 'u' -> (DAT, SINGLE), else (UNKN, SINGLE)."""
    from arekit_r335_spark.operators.formatters import (DAT, GEN, MULTI,
                                                        SINGLE, UNKN)

    def tagger(value):
        if value.endswith("s"):
            return (GEN, MULTI)
        if value.startswith("u"):
            return (DAT, SINGLE)
        return (UNKN, SINGLE)
    return tagger


def test_entity_formatter_family_semantics():
    """T9 formatter family vs the reference's constants
    (str_simple_fmt/str_simple_uppercase_fmt/str_rus_nocased_fmt) and the
    cased declension tables (str_rus_cased_fmt.py:12-31)."""
    from arekit_r335_spark.operators import formatters as fm
    assert fm.SHARP == ("#S", "#O", "#E")
    assert fm.SIMPLE == ("subject", "object", "e")
    assert fm.UPPERCASE == ("E_SUBJ", "E_OBJ", "ENTITY")
    assert fm.RU_NOCASED == ("субъект", "объект", "сущность")
    # default tagger: UNKN case, single -> bare obj/subj templates, сущность
    m = fm.ru_cased_masks("anything")
    assert m == ("субъект", "объект", "сущность"[:-1] + "ь")
    # GEN plural / DAT singular through a real tagger
    tag = _gen_dat_multi_tagger()
    assert fm.ru_cased_masks("things", tag) == ("субъектов", "объектов",
                                                "сущностей")
    assert fm.ru_cased_masks("un", tag) == ("субъектy", "объектy",
                                            "сущности")


def test_samples_formatter_variants(spark, sf0001_dir):
    """build_samples with non-default formatters: constant masks swap in;
    the cased formatter renders template+declension-suffix masks annotated
    at parse time through the dotted-path POS-tagger seam."""
    from arekit_r335_spark.lexicons import FramesLexicon

    inputs = KgInputs.at(sf0001_dir)
    up = build_samples_pipeline(spark, inputs,
                                frames_override=FramesLexicon.empty(),
                                entity_fmt="uppercase").limit(50).collect()
    assert up
    assert all(("E_SUBJ" in r.text_a and "E_OBJ" in r.text_a) for r in up)
    assert not any("#S" in r.text_a for r in up)

    cased = build_samples_pipeline(
        spark, inputs, frames_override=FramesLexicon.empty(),
        entity_fmt="ru_cased",
        pos_tagger="tests.test_samples_folding:_gen_dat_multi_tagger"
    ).limit(200).collect()
    assert cased
    joined = " ".join(r.text_a for r in cased)
    assert "субъект" in joined and "объект" in joined
    # the GEN-plural suffix actually fires for values ending in 's'
    # (e.g. 'UnitedNations' surfaces) somewhere in the corpus slice
    assert ("субъектов" in joined or "объектов" in joined
            or "сущностей" in joined)


def test_ppm_decode_real():
    """The pure-Python P6 parser: comment + token-walk header handling,
    exact channel sums, loud failures on malformed input."""
    import pytest

    from arekit_r335_spark.functions.multimodal import decode_ppm, encode_ppm

    for d in (0, 3, 7, 14):
        w, h = 4 + d % 5, 3 + d % 4
        expect = [sum((d * 31 + y * 7 + x * 3 + c * 11) % 256
                      for y in range(h) for x in range(w))
                  for c in range(3)]
        assert decode_ppm(encode_ppm(d)) == (w, h, *expect)
    # hand-built 1x1 white pixel with a header comment
    assert decode_ppm(b"P6\n# c\n1 1\n255\n\xff\xff\xff") == (
        1, 1, 255, 255, 255)
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\xff")          # wrong magic
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n1 1\n65535\n\x00\x00")    # unsupported maxval
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n255\n\x00\x00\x00")  # truncated pixels


def test_wav_decode_real():
    """RIFF chunk walk (junk chunk skipped), PCM16 validation, exact
    signed sample sum."""
    import struct

    import pytest

    from arekit_r335_spark.functions.multimodal import decode_wav, encode_wav

    for d in (1, 5, 9, 17):
        nch, n = 2, 16 + d % 9
        amp = sum(((d * 131 + i * 17) % 65536) - 32768
                  for i in range(n * nch))
        assert decode_wav(encode_wav(d)) == (
            8000 + (d % 3) * 4000, nch, n, amp)
    with pytest.raises(ValueError):
        decode_wav(b"RIFX" + b"\x00" * 40)          # bad magic
    # 8-bit PCM rejected
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    bad = (b"RIFF" + struct.pack("<I", 24) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt
           + b"data" + struct.pack("<I", 0))
    with pytest.raises(ValueError):
        decode_wav(bad)


def test_decode_assets_dispatch(spark):
    """decode_assets magic-dispatch: PPM and WAV rows decode for real,
    unknown payloads stay opaque; partition-count invariant."""
    from arekit_r335_spark.functions.multimodal import (decode_assets,
                                                        encode_ppm,
                                                        encode_wav)
    rows = [(0, bytearray(encode_ppm(0))),
            (1, bytearray(encode_wav(1))),
            (2, bytearray(b"\x89PNG not decodable"))]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r.fmt
           for r in decode_assets(media.repartition(5), buckets=4).collect()}
    assert got == {0: "ppm", 1: "wav", 2: "opaque"}


def test_kind_encoding_lever_equivalence(spark, sf0001_dir):
    """terms.kind ships as int8 codes (BASELINE.md A/B: +15% at 32 cores on
    sf1), not letter strings. The schema must carry the compact type, and
    every code must decode to the letter the Python term parser assigns to
    the same term."""
    import pandas as pd
    from pyspark.sql.types import ByteType

    from arekit_r335_spark.config import PipelineConfig
    from arekit_r335_spark.lexicons import FramesLexicon
    from arekit_r335_spark.operators import textproc as tp
    from arekit_r335_spark.operators.parse import KIND_CODES, parse_transcripts

    inputs = KgInputs.at(sf0001_dir)
    frames = FramesLexicon.from_json(inputs.frames)
    parsed = parse_transcripts(spark.read.parquet(inputs.transcripts),
                               frames, PipelineConfig(), with_terms=True)
    kind_t = parsed.schema["terms"].dataType.elementType["kind"].dataType
    assert isinstance(kind_t, ByteType)

    letter = {v: k for k, v in KIND_CODES.items()}
    tr = pd.read_parquet(inputs.transcripts)
    by_turn = {(r.conv_id, r.turn_idx): r.text for r in tr.itertuples()}
    neg = frozenset({"not", "no", "never", "без", "не"})
    rows = (parsed.select("conv_id", "turn_idx", "terms.kind")
            .orderBy("conv_id", "turn_idx").limit(200).collect())
    assert rows
    seen = set()
    for r in rows:
        want = [t.kind for t in tp.parse_turn(by_turn[(r.conv_id, r.turn_idx)],
                                              frames.variants,
                                              frames.max_variant_len, neg)]
        assert [letter[k] for k in r.kind] == want
        seen.update(want)
    assert {"w", "e"} <= seen


def test_samples_parse_once(spark, sf0001_dir):
    """EP2 parses the corpus once: the terms-bearing parse is checkpointed
    and every branch — the EP1 triple plan and the masking join — reads the
    checkpoint, so no Python parse stage is left in the executed plan, with
    the frames/J4b branch live or not."""
    from arekit_r335_spark.lexicons import FramesLexicon

    inputs = KgInputs.at(sf0001_dir)
    for frames in (None, FramesLexicon.empty()):
        df = build_samples_pipeline(spark, inputs, frames_override=frames)
        assert df.count() > 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" not in plan, plan
        assert "Scan ExistingRDD" in plan
