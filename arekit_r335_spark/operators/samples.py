"""EP2 — ML sample serialization (SURVEY.md §3 EP2, §2.2 T9/T10).

Reference flow (``BaseSampleRowProvider._fill_row_core``,
``common/data/input/providers/rows/samples.py:61-101``): one flat row per
text opinion with columns exactly as ``common/data/const.py`` +
``text_a`` (``providers/text/single.py:7``):

    id, doc_id, sent_ind, label, text_a, entity_values, entity_types,
    entities, s_ind, t_ind

``text_a`` masking (``OpinionContainingTextTermsMapper.map_entity``,
``common/data/input/terms_mapper.py:54-67`` + sharp formatter
``str_simple_sharp_prefixed_fmt.py:5-15``): the source mention and its
synonym-group peers -> ``#S``; target + peers -> ``#O``; other entities ->
``#E``; tokens -> their ``<[...]>`` meta values; frame terms -> the matched
variant phrase (``terms_mapper.py:84-86``).

Spark realization: NO per-row Python — one join of triples to the per-turn
term arrays, then JVM higher-order ``transform`` with an index does the
masking; the reference's two-pass idle/count storage protocol is dropped
(SURVEY.md §4: columnar writers need no preallocation). The reference's
sequential sample ids (``row_ids/base.py:27-39``) become content-derived
``o{conv}_{s}_{t}_i0`` keys (partition-count-invariant; SURVEY §7).

Lexicon lookups ride in the PARSE CLOSURE, not in expressions: entity terms
arrive already annotated with ``group_key``/``ent_type``
(``parse.make_parse_func`` with groups/types — the inlined J7a/J12
lookups), and the triple rows carry their ``s_group``/``t_group``. The
earlier formulation embedded the full synonym and type lexicons as
``create_map`` literals inside the per-term ``transform`` lambdas — the
Catalyst expression tree grew with the lexicon (the same
expression-blowup class measured 10x on shingles); a production synonym
dictionary (MBs) never belongs in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregate import label_to_int
from .parse import KIND_CODES

def _default_uint_scale() -> dict[str, int]:
    from ..labels import THREE_CLASS
    return THREE_CLASS.uint_map()


def _term_group(term):
    """Group key of an entity term: the closure-annotated seed hit, or the
    open-world ``u:<value>`` key (J7 register-missed semantics)."""
    return F.coalesce(term["group_key"], F.concat(F.lit("u:"), term["text"]))


# the EN analog of the reference tutorial's text_b template
# (test_tutorial_pipeline_sampling_bert.py:76, RU in the original)
TEXT_B_TEMPLATE = "{subject} to {object} in context : << {context} >>"


def build_samples(triples_pos: DataFrame, parsed_terms: DataFrame,
                  store_labels: bool = True,
                  uint_scale: dict[str, int] | None = None,
                  text_b_template: str | None = None,
                  entity_fmt: str = "sharp") -> DataFrame:
    """triples_pos: triples carrying s_pos/t_pos (in-turn indices) and
    s_group/t_group; parsed_terms: (conv_id, turn_idx, terms array) from
    ``parse_transcripts(with_terms=True, groups=..., types=...)`` — entity
    terms must carry the annotated ``group_key``/``ent_type`` fields.
    ``build_samples_pipeline`` passes the same checkpointed parse its
    triples were extracted from, so the corpus is parsed once per EP2 run.

    Returns the flat sample table with the reference's column set.

    ``text_b_template`` (QA/NLI-style second segment,
    ``contrib/bert/input/providers/text_pair.py:30-59``): when given, adds a
    ``text_b`` column = the template with {subject}/{object} rendered by the
    sharp formatter (constants #S/#O) and {context} = the INNER span of the
    turn between the two mentions inclusive, re-masked with the mapper
    re-pointed to the span ends (``set_s_ind(0)`` / ``set_t_ind(last)``,
    text_pair.py:47-49 — the EARLIER mention masks #S and the LATER #O by
    index, regardless of role, exactly like the reference).

    ``entity_fmt`` selects the T9 formatter (operators/formatters.py):
    'sharp' (#S/#O/#E, the default), 'simple', 'uppercase', 'ru_nocased' —
    constant masks, three literals in the plan — or 'ru_cased', whose
    declension suffixes must already ride the terms (parse with
    ``pos_tagger=...``): mask = template || term.osuf/esuf, still zero
    per-value literals."""
    from .formatters import FORMATTERS, RU_CASED

    if entity_fmt == "ru_cased":
        def masks_of(term):
            return (F.concat(F.lit(RU_CASED.subject), term["osuf"]),
                    F.concat(F.lit(RU_CASED.object), term["osuf"]),
                    F.concat(F.lit(RU_CASED.other), term["esuf"]))
    else:
        mk = FORMATTERS[entity_fmt]

        def masks_of(term):
            return (F.lit(mk.subject), F.lit(mk.object), F.lit(mk.other))

    t = triples_pos.alias("t")
    p = parsed_terms.select("conv_id", "turn_idx", "terms").alias("p")
    j = t.join(p, (F.col("t.conv_id") == F.col("p.conv_id"))
               & (F.col("t.turn_idx") == F.col("p.turn_idx")))

    terms = F.col("p.terms")
    s_grp = F.col("t.s_group")
    t_grp = F.col("t.t_group")

    def mask_with(s_index_col, t_index_col):
        """T10 mapper: subject/object mask by index, then by synonym group,
        the 'other' mask otherwise; tokens keep their meta value, frame
        terms their matched phrase."""
        def mask(term, i):
            subj_mask, obj_mask, other_mask = masks_of(term)
            ent_group = _term_group(term)
            ent_mask = (
                F.when(i == s_index_col, subj_mask)
                .when(i == t_index_col, obj_mask)
                .when(ent_group == s_grp, subj_mask)
                .when(ent_group == t_grp, obj_mask)
                .otherwise(other_mask))
            return (F.when(term["kind"] == KIND_CODES["e"], ent_mask)
                    .when(term["kind"] == KIND_CODES["f"], term["aux"])
                    .otherwise(term["text"]))
        return mask

    text_a = F.array_join(
        F.transform(terms, mask_with(F.col("t.s_pos"), F.col("t.t_pos"))),
        " ")

    text_b = None
    if text_b_template is not None:
        first = F.least(F.col("t.s_pos"), F.col("t.t_pos"))
        last = F.greatest(F.col("t.s_pos"), F.col("t.t_pos"))
        # slice is 1-based; inner span includes both mentions
        inner = F.slice(terms, first + 1, last - first + 1)
        # the mapper re-pointed to the span ends: index masks are positions
        # WITHIN the slice (0 and last-first)
        ctx = F.array_join(
            F.transform(inner, mask_with(F.lit(0), last - first)), " ")
        # template placeholders render the role masks (text_pair.py:38-44);
        # for the cased formatter the placeholder is value-independent, so
        # the bare (UNKN-case) template is used
        mk = RU_CASED if entity_fmt == "ru_cased" else FORMATTERS[entity_fmt]
        pre, _, post = text_b_template.partition("{context}")
        pre = pre.format(subject=mk.subject, object=mk.object)
        post = post.format(subject=mk.subject, object=mk.object)
        text_b = F.concat(F.lit(pre), ctx, F.lit(post))

    ent_terms = F.filter(terms, lambda x: x["kind"] == KIND_CODES["e"])
    entity_values = F.array_join(
        F.transform(ent_terms,
                    lambda x: F.regexp_replace(x["text"], ",", "")), ",")
    entity_types = F.array_join(
        F.transform(ent_terms,
                    lambda x: F.coalesce(x["ent_type"], F.lit(""))), ",")
    # in-sentence indices of entity terms
    idx = F.sequence(F.lit(0), F.size(terms) - 1)
    ent_inds = F.filter(idx, lambda i: F.element_at(terms, i + 1)["kind"]
                        == KIND_CODES["e"])
    entities = F.array_join(F.transform(ent_inds,
                                        lambda i: i.cast("string")), ",")

    # label scaler (labels.LabelScaler) — the configurable label<->uint
    # bijection of the reference's BaseLabelScaler; default = 3-class
    label_uint = label_to_int(F.col("t.label"),
                              uint_scale or _default_uint_scale())

    cols = [
        F.concat(F.lit("o"), F.col("t.conv_id"), F.lit("_"),
                 F.col("t.s_ent_id").cast("string"), F.lit("_"),
                 F.col("t.t_ent_id").cast("string"),
                 F.lit("_i0")).alias("id"),
        F.col("t.conv_id").alias("doc_id"),
        F.col("t.turn_idx").cast("int").alias("sent_ind"),
    ]
    if store_labels:
        cols.append(label_uint.alias("label"))
    cols += [text_a.alias("text_a")]
    if text_b is not None:
        cols.append(text_b.alias("text_b"))
    cols += [
        entity_values.alias("entity_values"),
        entity_types.alias("entity_types"),
        entities.alias("entities"),
        F.col("t.s_pos").cast("long").alias("s_ind"),
        F.col("t.t_pos").cast("long").alias("t_ind"),
    ]
    return j.select(*cols)


def bits_for_corpus(n_rows: int, target_bucket_rows: int = 4096,
                    max_bits: int = 20) -> int:
    """Bucket-bit count scaled with the corpus — the ``dims_for_corpus``
    log2 discipline (round-3 verdict item 3): ~log2(N / target rows) bits
    keep the per-(label, bucket) window bounded by ~target rows as N grows.
    Floor 6 keeps small fixtures multi-bucket (and byte-identical to the
    former fixed default); the cap bounds the prefix-sum table at
    labels x 2^20 rows (~a 4-trillion-row corpus at the default target)."""
    import math
    if n_rows <= target_bucket_rows:
        return 6
    return min(max_bits, max(6, math.ceil(math.log2(
        n_rows / target_bucket_rows))))


def balance_by_label(samples: DataFrame, seed: int = 42,
                     bucket_bits: int | None = None,
                     n_rows: int | None = None) -> DataFrame:
    """A3 — oversample every label class to the majority size
    (``PandasBasedRowsStorage._balance``, ``pandas_based.py:63-79``), made
    deterministic: each row is repeated ceil/floor-deterministically via a
    content hash instead of RNG sampling (per class, the first
    ``majority % n`` rows in hash order repeat once more, so the class
    total is EXACTLY the majority size).

    Scale shape: the per-class hash rank is computed TWO-PHASE, never as a
    global per-label window (label cardinality is tiny, so
    ``Window.partitionBy(label)`` would funnel the whole corpus into a
    handful of tasks). Rows bucket by the TOP ``bucket_bits`` bits of the
    signed rank hash — a monotone function of the hash, so
    (bucket, hash) order == global hash order and the selection is
    identical to the single-window formulation; per-bucket counts
    (labels x 2^bucket_bits rows, metadata-sized) prefix-sum into bucket
    rank offsets, and the in-bucket window is bounded by
    ~corpus / (labels * 2^bucket_bits) rows.

    ``bucket_bits=None`` derives the bit count from the corpus size via
    ``bits_for_corpus`` — pass ``n_rows`` (from table metadata, catalog
    stats, or an upstream-known proxy like the turn count; the log2 rule
    is insensitive to constant-factor error) to avoid the fallback
    ``count()`` action on the samples plan. The SELECTION is bit-count
    invariant (bucketing by a monotone hash prefix reproduces the global
    hash order at any width), so any honest N gives identical output."""
    from pyspark.sql import Window
    if bucket_bits is None:
        bucket_bits = bits_for_corpus(
            n_rows if n_rows is not None else samples.count())
    counts = samples.groupBy("label").agg(F.count("*").alias("n"))
    mx = counts.agg(F.max("n").alias("mx"))
    plan = counts.crossJoin(mx).select(
        "label",
        (F.col("mx") / F.col("n")).alias("ratio"),
        ((F.col("mx") % F.col("n"))).alias("rem"),
        F.col("n"))
    s = (samples.join(F.broadcast(plan), "label")
         .withColumn("__h", F.xxhash64("id", F.lit(seed)))
         .withColumn("__b", F.shiftright(F.col("__h"), 64 - bucket_bits)
                     .cast("int")))
    # phase 1: per-(label, bucket) counts -> exclusive prefix sum of rank
    # offsets; this window runs over the tiny bucket-count table only
    bcounts = s.groupBy("label", "__b").agg(F.count("*").alias("__bn"))
    wp = (Window.partitionBy("label")  # tiny: labels x 2^bits count table
          .orderBy("__b")
          .rowsBetween(Window.unboundedPreceding, -1))
    prefix = bcounts.select(
        "label", "__b",
        F.coalesce(F.sum("__bn").over(wp), F.lit(0)).alias("__pfx"))
    # phase 2: in-bucket rank (id tiebreak makes hash collisions
    # deterministic too) + bucket offset = exact global per-class rank
    s = s.join(F.broadcast(prefix), ["label", "__b"])
    wb = Window.partitionBy("label", "__b").orderBy("__h", "id")
    s = s.withColumn("__rk",
                     F.col("__pfx") + F.row_number().over(wb) - 1)
    reps = (F.floor("ratio")
            + F.when(F.col("__rk") < F.col("rem"), 1).otherwise(0))
    return (s.withColumn("__rep", F.explode(F.sequence(F.lit(1),
                                                       reps.cast("int"))))
            .drop("ratio", "rem", "n", "__h", "__b", "__pfx", "__rk",
                  "__rep"))
