"""Seeded benchmark inputs and their expected outputs.

Every corpus is generated by ``datagen.generate(out, sf, seed)`` into this
directory's ``_work/inputs`` (never the repo's ``data/``) and cached by
(seed, sf, DATA_VERSION). Expected outputs are computed once per corpus,
untimed, and cached beside it:

* triples: ``oracle/pyref.extract_all_triples`` with the frame lexicon live
  (the EP1 default, also what the runner and the stream write);
* samples: DuckDB ``oracle/duck.samples_noframes_sql`` (EP2, no frames).

Both sides are compared as multisets of Python row tuples: an exact match is
required.
"""

from __future__ import annotations

import collections
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, "_work")

TRIPLE_COLS = ("conv_id", "turn_idx", "s_ent_id", "t_ent_id", "s_value",
               "t_value", "s_group", "t_group", "label")


def _atomic_dir(path: str, build) -> str:
    """Build ``path`` once: ``build(tmp)`` fills a temp dir that is renamed
    into place, so an interrupted run never leaves a half-written cache."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.replace(tmp, path)
    except OSError:  # another run won the race; keep its copy
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def corpus(seed: int, sf: float) -> str:
    """Fixture directory (KgInputs layout) for ``(seed, sf)``."""
    from arekit_r335_spark import datagen
    key = f"v{datagen.DATA_VERSION}_sf{sf}_seed{seed}"
    return _atomic_dir(os.path.join(WORK, "inputs", key),
                       lambda tmp: datagen.generate(tmp, sf, seed=seed))


def n_turns(path: str) -> int:
    """Rows of a transcripts parquet file or directory."""
    return pq.ParquetDataset(path).read(columns=["conv_id"]).num_rows


def stream_files(corpus_dir: str, n_files: int) -> str:
    """The corpus cut into ``n_files`` parquet files by contiguous sorted
    conv_id ranges: a conversation is never split across files, so it can
    never be split across micro-batches either."""
    def build(tmp):
        t = pq.read_table(os.path.join(corpus_dir, "transcripts.parquet"))
        convs = sorted(set(t.column("conv_id").to_pylist()))
        if len(convs) < n_files:
            raise ValueError(f"{len(convs)} conversations < {n_files} files")
        for i in range(n_files):
            part = convs[i * len(convs) // n_files:
                         (i + 1) * len(convs) // n_files]
            pq.write_table(
                t.filter(pc.is_in(t.column("conv_id"), pa.array(part))),
                os.path.join(tmp, f"part-{i:03d}.parquet"))
    return _atomic_dir(os.path.join(corpus_dir, f"stream{n_files}"), build)


def rows_of(table: pa.Table, cols=None) -> collections.Counter:
    """Multiset of row tuples, columns in sorted-name order. Both outputs
    hold only strings and integers, so Python values compare exactly
    whatever the Arrow integer width."""
    cols = sorted(cols or table.column_names)
    return collections.Counter(
        zip(*(table.column(c).to_pylist() for c in cols)))


def expected_triples(corpus_dir: str) -> collections.Counter:
    path = os.path.join(corpus_dir, "expected_triples.parquet")
    if not os.path.exists(path):
        import pandas as pd
        from arekit_r335_spark.lexicons import FramesLexicon, KgInputs
        from arekit_r335_spark.oracle import pyref
        inputs = KgInputs.at(corpus_dir)
        frames = FramesLexicon.from_json(inputs.frames)
        syn = pd.read_parquet(inputs.synonyms)
        want = pyref.extract_all_triples(
            pd.read_parquet(inputs.transcripts),
            pd.read_parquet(inputs.seed_opinions),
            list(zip(syn["group_id"], syn["value"])),
            frames.variants, frames.max_variant_len, pyref.OConfig(),
            polarity=frames.polarity)
        tbl = pa.table({c: [r[i] for r in want]
                        for i, c in enumerate(TRIPLE_COLS)})
        pq.write_table(tbl, path + ".tmp")
        os.replace(path + ".tmp", path)
    return rows_of(pq.read_table(path), TRIPLE_COLS)


def expected_samples(corpus_dir: str) -> collections.Counter:
    path = os.path.join(corpus_dir, "expected_samples.parquet")
    if not os.path.exists(path):
        import duckdb
        from arekit_r335_spark.lexicons import KgInputs, load_entity_types
        from arekit_r335_spark.oracle import duck
        inputs = KgInputs.at(corpus_dir)
        sql = duck.samples_noframes_sql(
            inputs.transcripts, inputs.synonyms, inputs.seed_opinions,
            load_entity_types(inputs.entity_types))
        con = duckdb.connect()
        try:
            tbl = con.sql(sql).arrow()
        finally:
            con.close()
        pq.write_table(tbl, path + ".tmp")
        os.replace(path + ".tmp", path)
    return rows_of(pq.read_table(path))


def read_triples(out_dir: str) -> collections.Counter:
    """Triples written by the runner or the stream (partitioned parquet)."""
    return rows_of(pq.ParquetDataset(out_dir).read(columns=list(TRIPLE_COLS)),
                   TRIPLE_COLS)
