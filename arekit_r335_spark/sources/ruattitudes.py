"""S4 — RuAttitudes collection reader (the reference's stateful line
format), closing the last SURVEY.md §2.1 source row.

Reference: ``contrib/source/ruattitudes/reader.py`` — a document is a block
of lines ending at a ``--------`` separator (which only counts once a Title
was seen, ``__check_is_news_sep``):

    File: <name>                      (ignored)
    Object: oi:[k] 'value' b:(pos,len) type:T si:{g} [<AUTH>]
    Attitude: ... b:(label) oi:[s,t] si:{key}
    FrameVariant: ...                 (omitted, like the reference)
    TermsInTitle: n / TermsInText: n  (sanity counts)
    Sentence: idx
    Title: <text>        -> sentence with index -1, flushes objects/opinions
    Text: <text>         -> sentence with the last ``Sentence:`` index

Object/Attitude lines accumulate BEFORE the Title/Text line they belong to
and reset after it (``reader.py:58-137``). Key quirks kept: every key match
is a substring containment EXCEPT ``Text:`` which must start the line
(``reader.py:104``); object bounds are TERM positions ``(pos, pos+len)``
(``text_object.py:28-34``); empty object values read as ``[empty]``;
``type:`` runs until the ``<`` of ``<AUTH>`` when present.

Spark-first shape: the FILE is the unit of parallelism (the reference
streams one file; RuAttitudes ships as many per-part files — split giant
files on ``--------`` boundaries upstream if needed). ``spark.read.format
("binaryFile")`` feeds an Arrow-batched ``mapInPandas`` that runs the pure
line parser per file and emits one tall record stream; ``ruattitudes_tables``
projects it into sentences / objects / opinions DataFrames. Doc keys are
content-derived (``<file base>:<local index>``) — partition-count-invariant,
no enumeration order dependence.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame
from pyspark.sql.types import (BooleanType, IntegerType, StringType,
                               StructField, StructType)

DOC_SEP = "--------"

_OBJ_RE = re.compile(
    r"oi:\[(?P<oid>\d+)\].*?'(?P<value>[^']*)'.*?b:\((?P<pos>\d+),(?P<len>\d+)\)")
# reference __try_get_type reads until the '<' of <AUTH> (or EOL) assuming
# type: is the trailing field; stopping additionally at a following si:{..}
# accepts both field orders on well-formed data
_OBJ_TYPE_RE = re.compile(r"type:(?P<t>.*?)(?=si:\{|<|$)")
_OBJ_GROUP_RE = re.compile(r"si:\{(?P<g>-?\d+)\}")
_ATT_RE = re.compile(
    r"b:\((?P<label>-?\d+)\).*?oi:\[(?P<src>\d+),(?P<tgt>\d+)\].*?si:\{(?P<key>[^}]*)\}")

RECORD_SCHEMA = StructType([
    StructField("doc_key", StringType()),
    StructField("kind", StringType()),          # sent | obj | opin
    StructField("sent_index", IntegerType()),   # -1 = title
    StructField("is_title", BooleanType()),
    StructField("text", StringType()),
    StructField("obj_id", IntegerType()),
    StructField("value", StringType()),
    StructField("obj_type", StringType()),
    StructField("pos", IntegerType()),
    StructField("terms_count", IntegerType()),
    StructField("group_index", IntegerType()),
    StructField("is_auth", BooleanType()),
    StructField("src_id", IntegerType()),
    StructField("tgt_id", IntegerType()),
    StructField("label_int", IntegerType()),
    StructField("tag", StringType()),
])


def _obj_row(doc_key, sent_index, is_title, line):
    m = _OBJ_RE.search(line)
    if m is None:
        return None
    tm = _OBJ_TYPE_RE.search(line)
    gm = _OBJ_GROUP_RE.search(line)
    value = m.group("value")
    return (doc_key, "obj", sent_index, is_title, None,
            int(m.group("oid")), value if value else "[empty]",
            tm.group("t").strip() if tm else None,
            int(m.group("pos")), int(m.group("len")),
            int(gm.group("g")) if gm else -1, "<AUTH>" in line,
            None, None, None, None)


def _opin_row(doc_key, sent_index, is_title, line):
    m = _ATT_RE.search(line)
    if m is None:
        return None
    return (doc_key, "opin", sent_index, is_title, None,
            None, None, None, None, None, None, None,
            int(m.group("src")), int(m.group("tgt")),
            int(m.group("label")), m.group("key"))


def parse_ruattitudes_lines(lines, doc_key_prefix: str = "doc"):
    """Pure per-file parser -> list of RECORD_SCHEMA tuples. Mirrors the
    reference's accumulate-then-flush control flow."""
    rows: list[tuple] = []
    pending: list[tuple] = []      # obj/opin lines awaiting their sentence
    sent_index = 0
    local_ind = 0
    saw_title = False
    doc_has_rows = False

    def doc_key():
        return f"{doc_key_prefix}:{local_ind}"

    def flush_sentence(text, is_title):
        nonlocal pending, doc_has_rows
        idx = -1 if is_title else sent_index
        rows.append((doc_key(), "sent", idx, is_title, text,
                     None, None, None, None, None, None, None,
                     None, None, None, None))
        for kind_row in pending:
            # retag accumulated objects/opinions with their sentence index
            rows.append(kind_row[:2] + (idx, is_title) + kind_row[4:])
        pending = []
        doc_has_rows = True

    for raw in lines:
        line = raw.rstrip("\n")
        if not line.strip():
            continue
        if DOC_SEP in line and saw_title:
            local_ind += 1
            saw_title = False
            pending = []
            continue
        if "Object:" in line:
            r = _obj_row(doc_key(), 0, False, line)
            if r is not None:
                pending.append(r)
        elif "Attitude:" in line:
            r = _opin_row(doc_key(), 0, False, line)
            if r is not None:
                pending.append(r)
        elif "Sentence:" in line:
            sent_index = int(line.split("Sentence:", 1)[1])
        elif "Title:" in line and "TermsInTitle:" not in line:
            saw_title = True
            flush_sentence(line.split("Title:", 1)[1].strip(), is_title=True)
        elif line.startswith("Text:"):
            flush_sentence(line[len("Text:"):].strip(), is_title=False)
    return rows


def read_ruattitudes(spark, path: str) -> DataFrame:
    """binaryFile scan -> per-file Arrow-batched parse -> tall record DF."""
    import pandas as pd

    files = (spark.read.format("binaryFile").load(path)
             .select("path", "content"))
    cols = [f.name for f in RECORD_SCHEMA.fields]

    def parse(batches):
        for pdf in batches:
            out = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                base = os.path.basename(path_)
                base = base[:base.rindex(".")] if "." in base else base
                out.extend(parse_ruattitudes_lines(
                    bytes(content).decode("utf-8").splitlines(),
                    doc_key_prefix=base))
            yield pd.DataFrame(out, columns=cols)

    return files.mapInPandas(parse, RECORD_SCHEMA)


def ruattitudes_tables(records: DataFrame) -> dict[str, DataFrame]:
    """Project the tall record stream into the three relational tables."""
    from pyspark.sql import functions as F
    sent = (records.filter(F.col("kind") == "sent")
            .select("doc_key", "sent_index", "is_title", "text"))
    obj = (records.filter(F.col("kind") == "obj")
           .select("doc_key", "sent_index", "obj_id", "value", "obj_type",
                   "pos", "terms_count", "group_index", "is_auth",
                   (F.col("pos") + F.col("terms_count")).alias("end")))
    opin = (records.filter(F.col("kind") == "opin")
            .select("doc_key", "sent_index", "src_id", "tgt_id",
                    "label_int", "tag"))
    return {"sentences": sent, "objects": obj, "opinions": opin}
