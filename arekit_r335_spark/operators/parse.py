"""The parse stage: one Arrow-batched UDF per turn (SURVEY.md §2.10).

This single UDF realizes the reference's whole per-sentence text-parser
pipeline (T1 split, S8 entity detect, T2/T8 tokenizer, T4/T5 frame scan,
T6 negation — see ``textproc.py`` for exact semantics + citations) and emits a
compact struct instead of a heterogeneous object stream:

    (n_terms, mentions[(pos,value)], frames[(pos,frame_id,negated)],
     terms[(kind,text,aux)]?)

``with_terms=False`` is the hot path for triple extraction: only mention/frame
positions and the term count travel through the shuffle — at 100 TB the term
stream itself (the bulk of the bytes) is never materialized. The full term
stream is only produced for sample serialization (EP2).

Physical form: ``mapInArrow`` — the per-turn Python parse fills flat primitive
buffers and the nested list<struct> columns are assembled once per batch with
``pyarrow.ListArray.from_arrays`` (offsets + flat children). No per-row dict
or pandas-object conversion anywhere; profiled ~4x less Python-side CPU than
the equivalent struct-building pandas UDF at identical output.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, ByteType, IntegerType,
                               StringType, StructField, StructType)

from ..config import PipelineConfig
from ..lexicons import FramesLexicon
from . import textproc as tp

MENTION_T = StructType([
    StructField("pos", IntegerType()),
    StructField("value", StringType()),
])
FRAME_T = StructType([
    StructField("pos", IntegerType()),
    StructField("frame_id", StringType()),
    StructField("negated", BooleanType()),
])
# ``kind`` has exactly 4 values (w|t|e|f) and ships as int8 codes IN THE
# SCHEMA. The Arrow-boundary alternative — per-batch dictionary arrays — is
# rejected by Spark's vectorized reader (ArrowColumnVector has no dictionary
# getUTF8String accessor; verified on 4.1.2), and a 1-char string element in
# an UnsafeArrayData struct costs an 8-byte offset+len word plus 8-byte-
# aligned payload vs 1 byte for a tinyint. The interleaved A/B against
# letter strings (BASELINE.md) measured identical output with walls 5.3%
# lower at 8 cores and 15% at 32 cores on the sf1 input. Consumers
# (operators/samples.py) compare against ``KIND_CODES``.
KIND_CODES = {"w": 0, "t": 1, "e": 2, "f": 3}
TERM_T = StructType([
    StructField("kind", ByteType()),
    StructField("text", StringType()),
    StructField("aux", StringType()),   # frame terms: matched variant phrase
])
# term struct when the synonym-group / entity-type lookups ride in the parse
# closure (EP2 sample serialization): entity terms carry their group key and
# type so the sample-masking expressions never embed lexicon literals
# (round-2 verdict item 3 — a create_map literal per lexicon entry inside a
# per-term transform lambda grows the Catalyst expression tree with the
# lexicon; the closure dict is O(1) per term and ships once per executor).
# J7a's sid is trim(lower(value)), and bracket values are already lowercase
# whitespace-free tokens, so the Python dict lookup is exactly
# ``with_group_key`` (operators/grouping.py).
TERM_ANNOT_T = StructType(TERM_T.fields + [
    StructField("group_key", StringType()),
    StructField("ent_type", StringType()),
])
# with a value-dependent entity formatter (the RU cased formatter,
# operators/formatters.py): entity terms additionally carry the two
# declension suffixes their masks can ever need — value-dependent mask
# content stays in the closure, never as per-value literals in the plan
TERM_CASED_T = StructType(TERM_ANNOT_T.fields + [
    StructField("osuf", StringType()),
    StructField("esuf", StringType()),
])

PARSE_SCHEMA = StructType([
    StructField("n_terms", IntegerType()),
    StructField("mentions", ArrayType(MENTION_T)),
    StructField("frames", ArrayType(FRAME_T)),
])

_KEY_FIELDS = [StructField("conv_id", StringType()),
               StructField("turn_idx", IntegerType()),
               StructField("role", StringType())]


def _out_schema(with_terms: bool, annotate: bool = False,
                cased: bool = False) -> StructType:
    fields = _KEY_FIELDS + PARSE_SCHEMA.fields
    if with_terms:
        term_t = ((TERM_CASED_T if cased else TERM_ANNOT_T) if annotate
                  else TERM_T)
        fields = fields + [StructField("terms", ArrayType(term_t))]
    return StructType(fields)


def _list_array(offsets: list[int], struct: pa.StructArray) -> pa.ListArray:
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)


def make_parse_func(frames: FramesLexicon, cfg: PipelineConfig,
                    with_terms: bool = False,
                    groups: dict[str, str] | None = None,
                    types: dict[str, str] | None = None,
                    pos_tagger: str | None = None):
    """Build the mapInArrow parse function. Lexicons are captured in the
    closure and shipped once per executor with the serialized task (they are
    KB-sized; for MB-sized lexicons switch to ``SparkContext.broadcast``).

    With ``groups`` (sid -> group key) and ``with_terms``, entity term
    structs additionally carry ``group_key`` (seed hit or open-world
    ``u:<sid>``) and ``ent_type`` (from ``types``, NULL when unknown) — the
    inlined J7a/J12 lookups.

    ``pos_tagger`` (a dotted ``"module:factory"`` path or the name
    ``"default"``; requires groups + with_terms) additionally annotates
    entity terms with the RU cased formatter's declension suffixes
    (``formatters.cased_suffixes``). Both plug-ins go through
    ``textproc.resolve_plugin``: built once per Python worker, so
    Mystem-style external-process backends never enter the task closure."""
    variants = dict(frames.variants)
    max_len = frames.max_variant_len
    first_tokens = tp.first_token_index(variants)
    lemmatizer_name = cfg.lemmatizer
    neg = frozenset(w.lower() for w in cfg.negation_words)
    annotate = groups is not None
    register = cfg.register_missed_synonyms
    types = types or {}
    E, FR = tp.E, tp.F

    cased = pos_tagger is not None and with_terms and annotate

    def _parse_batches(batches: Iterator[pa.RecordBatch]
                       ) -> Iterator[pa.RecordBatch]:
        # plug-ins resolved lazily and once PER PROCESS (the closure ships
        # only their names); "lower" keeps the inline fast path inside
        # scan_frames
        lemma_fn = (None if lemmatizer_name == "lower"
                    else tp.resolve_plugin(lemmatizer_name))
        suffix_fn = None
        if cased:
            from .formatters import cased_suffixes
            tagger = tp.resolve_plugin(pos_tagger)
            suffix_fn = lambda v: cased_suffixes(v, tagger)  # noqa: E731
        for b in batches:
            texts = b.column(3).to_pylist()
            n_terms: list[int] = []
            m_off, m_pos, m_val = [0], [], []
            f_off, f_pos, f_id, f_neg = [0], [], [], []
            t_off: list[int] = [0]
            t_kind: list[int] = []
            t_text: list[str] = []
            t_aux: list[str] = []
            t_grp: list[str | None] = []
            t_typ: list[str | None] = []
            t_osuf: list[str | None] = []
            t_esuf: list[str | None] = []
            for text in texts:
                terms = tp.parse_turn(text if isinstance(text, str) else "",
                                      variants, max_len, neg,
                                      first_tokens, lemma_fn)
                n_terms.append(len(terms))
                for i, t in enumerate(terms):
                    k = t.kind
                    if k == E:
                        m_pos.append(i)
                        m_val.append(t.text)
                    elif k == FR:
                        f_pos.append(i)
                        f_id.append(t.text)
                        f_neg.append(t.negated)
                m_off.append(len(m_pos))
                f_off.append(len(f_pos))
                if with_terms:
                    for t in terms:
                        t_kind.append(KIND_CODES[t.kind])
                        t_text.append(t.text)
                        t_aux.append(t.aux)
                        if annotate:
                            if t.kind == E:
                                sid = t.text.strip()
                                g = groups.get(sid)
                                if g is None and register:
                                    g = "u:" + sid
                                t_grp.append(g)
                                t_typ.append(types.get(t.text))
                                if suffix_fn is not None:
                                    osuf, esuf = suffix_fn(t.text)
                                    t_osuf.append(osuf)
                                    t_esuf.append(esuf)
                            else:
                                t_grp.append(None)
                                t_typ.append(None)
                                if suffix_fn is not None:
                                    t_osuf.append(None)
                                    t_esuf.append(None)
                    t_off.append(len(t_kind))
            mentions = _list_array(m_off, pa.StructArray.from_arrays(
                [pa.array(m_pos, pa.int32()), pa.array(m_val, pa.string())],
                names=["pos", "value"]))
            frames_arr = _list_array(f_off, pa.StructArray.from_arrays(
                [pa.array(f_pos, pa.int32()), pa.array(f_id, pa.string()),
                 pa.array(f_neg, pa.bool_())],
                names=["pos", "frame_id", "negated"]))
            cols = [b.column(0), b.column(1), b.column(2),
                    pa.array(n_terms, pa.int32()), mentions, frames_arr]
            names = ["conv_id", "turn_idx", "role", "n_terms", "mentions",
                     "frames"]
            if with_terms:
                t_children = [pa.array(t_kind, pa.int8()),
                              pa.array(t_text, pa.string()),
                              pa.array(t_aux, pa.string())]
                t_names = ["kind", "text", "aux"]
                if annotate:
                    t_children += [pa.array(t_grp, pa.string()),
                                   pa.array(t_typ, pa.string())]
                    t_names += ["group_key", "ent_type"]
                    if cased:
                        t_children += [pa.array(t_osuf, pa.string()),
                                       pa.array(t_esuf, pa.string())]
                        t_names += ["osuf", "esuf"]
                cols.append(_list_array(t_off, pa.StructArray.from_arrays(
                    t_children, names=t_names)))
                names.append("terms")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return _parse_batches


def _size_bytes(text: str) -> int:
    """Parse a Spark byte-size conf string ('134217728', '128m', '4mb')."""
    s = text.strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("t", 1 << 40)):
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    return int(float(s)) * mult


def _estimated_scan_splits(df) -> int:
    """Estimate the file-source split count of a DataFrame scan from driver
    metadata only (no RDD conversion, no job): Spark packs files into splits
    of ``min(maxPartitionBytes, ...)`` charging ``openCostInBytes`` per file,
    so splits ~ ceil((bytes + nFiles*openCost) / maxPartitionBytes). Local
    paths are stat'ed directly; non-local/unlistable sources return a large
    sentinel (assume the source is already parallel — a derived plan has an
    upstream exchange, and remote tables are bucketed at real scale)."""
    import os
    try:
        files = df.inputFiles()
    except Exception:
        return 1 << 30
    if not files:
        return 1 << 30
    spark = df.sparkSession
    max_pb = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4m"))
    total = 0
    for f in files:
        path = f
        if path.startswith("file:"):
            path = path[5:]
            while path.startswith("//"):
                path = path[1:]
        elif "://" in path:
            return 1 << 30   # remote FS: no cheap stat; assume parallel
        try:
            total += os.path.getsize(path) + open_cost
        except OSError:
            return 1 << 30
    return max(1, -(-total // max_pb))


def parse_transcripts(transcripts, frames: FramesLexicon, cfg: PipelineConfig,
                      with_terms: bool = False,
                      groups: dict[str, str] | None = None,
                      types: dict[str, str] | None = None,
                      pos_tagger: str | None = None):
    """transcripts(conv_id, turn_idx, role, text, ...) ->
    parsed(conv_id, turn_idx, role, n_terms, mentions, frames[, terms]).

    Column-pruned projection: only (conv_id, turn_idx, role, text) are read
    from the scan; Catalyst pushes this into the parquet reader.
    """
    fn = make_parse_func(frames, cfg, with_terms, groups=groups, types=types,
                         pos_tagger=pos_tagger)

    # Distribute the parse stage: a compact parquet scan can yield far fewer
    # input splits than cores. The repartition carries no count, so AQE
    # coalescing sizes the Python stage from the actual post-filter shuffle
    # bytes: every Python task pays ~0.26 CPU-s of fixed cost (pyspark's
    # per-task setup_spark_files -> importlib.invalidate_caches() plus the
    # daemon's gc.collect()), far more than the FSM costs per small split,
    # so one bucket, one micro-batch or the sf0.01 corpus parses in one
    # task, and sf0.1 in about defaultParallelism tasks (BASELINE.md).
    # Hashing by conv_id also pre-aligns the downstream per-conv windows;
    # coalesced hash partitioning still satisfies them. The split count is
    # ESTIMATED from file metadata (Spark's own packing formula over
    # inputFiles + maxPartitionBytes/openCostInBytes) — never via
    # ``df.rdd.getNumPartitions()``, which forces an RDD conversion node
    # into the plan (round-2 verdict item 8). A scan that already has
    # ``parallelism`` splits is left as it is.
    spark = transcripts.sparkSession
    parallelism = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if _estimated_scan_splits(transcripts) < parallelism:
        transcripts = transcripts.repartition("conv_id")

    narrow = transcripts.select("conv_id",
                                F.col("turn_idx").cast("int").alias("turn_idx"),
                                "role", "text")
    return narrow.mapInArrow(
        fn, _out_schema(with_terms, annotate=groups is not None,
                        cased=(pos_tagger is not None and with_terms
                               and groups is not None)))
