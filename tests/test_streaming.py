"""Structured Streaming tests: foreachBatch triple extraction equals the
batch pipeline; watermarked windowed aggregation runs availableNow."""

import os
import shutil

from pyspark.sql import functions as F

from arekit_r335_spark.lexicons import KgInputs
from arekit_r335_spark.pipeline import build_triple_pipeline


def _stage_stream_input(spark, sf_dir, stream_dir, n_files=3):
    """Split the transcripts table into per-conv-bucket files so every
    conversation is complete within one file."""
    tr = spark.read.parquet(os.path.join(sf_dir, "transcripts.parquet"))
    for b in range(n_files):
        (tr.filter(F.pmod(F.xxhash64("conv_id"), F.lit(n_files)) == b)
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(stream_dir, f"in_{b}")))
        # move part files up so the stream dir is a flat file listing
    out = os.path.join(stream_dir, "flat")
    os.makedirs(out, exist_ok=True)
    for b in range(n_files):
        src = os.path.join(stream_dir, f"in_{b}")
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f),
                            os.path.join(out, f"b{b}_{f}"))
    return out


def test_stream_triples_match_batch(spark, sf0001_dir, tmp_path):
    from arekit_r335_spark.streaming.stream import stream_triples_to_sink
    stream_dir = _stage_stream_input(spark, sf0001_dir, str(tmp_path / "s"))
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    inputs = KgInputs.at(sf0001_dir)
    q = stream_triples_to_sink(spark, inputs, stream_dir, out_dir, ck)
    q.awaitTermination(300)

    got = {tuple(r) for r in spark.read.parquet(out_dir)
           .select("conv_id", "s_ent_id", "t_ent_id", "label").collect()}
    want = {tuple(r) for r in
            build_triple_pipeline(spark, inputs, persist=False).triples
            .select("conv_id", "s_ent_id", "t_ent_id", "label").collect()}
    assert got == want


def _run_stream(spark, sf_dir, stream_dir, out_dir, ck):
    from arekit_r335_spark.streaming.stream import stream_triples_to_sink
    q = stream_triples_to_sink(spark, KgInputs.at(sf_dir), stream_dir,
                               out_dir, ck)
    q.awaitTermination(300)
    assert q.exception() is None
    return q


def _rows(spark, out_dir):
    return sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())


def test_stream_parses_batch_once(spark, sf0001_dir, tmp_path):
    """One eager parse per micro-batch: every branch reads the parse
    checkpoint, so the batch's source reads each staged turn once."""
    stream_dir = _stage_stream_input(spark, sf0001_dir, str(tmp_path / "s"))
    q = _run_stream(spark, sf0001_dir, stream_dir, str(tmp_path / "out"),
                    str(tmp_path / "ck"))
    turns = spark.read.parquet(stream_dir).count()
    assert q.recentProgress
    assert [p.numInputRows for p in q.recentProgress] == \
        [turns] * len(q.recentProgress)


def test_stream_replays_uncommitted_batch(spark, sf0001_dir, tmp_path):
    """foreachBatch is at-least-once: a batch whose output landed but whose
    commit did not is replayed on restart under the same batch_id, and the
    overwrite of its own partition leaves the output multiset unchanged."""
    stream_dir = _stage_stream_input(spark, sf0001_dir, str(tmp_path / "s"))
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_stream(spark, sf0001_dir, stream_dir, out_dir, ck)
    before = _rows(spark, out_dir)
    commits = os.path.join(ck, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))

    q = _run_stream(spark, sf0001_dir, stream_dir, out_dir, ck)
    assert [p.batchId for p in q.recentProgress if p.numInputRows] == [last]
    assert before and _rows(spark, out_dir) == before
    assert os.path.exists(os.path.join(commits, str(last)))


def test_stream_zero_row_file_adds_no_rows(spark, sf0001_dir, tmp_path):
    """A micro-batch of one zero-row file runs the pipeline to completion
    and adds no rows (there is no separate emptiness check)."""
    import pyarrow.parquet as pq

    stream_dir = _stage_stream_input(spark, sf0001_dir, str(tmp_path / "s"))
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _run_stream(spark, sf0001_dir, stream_dir, out_dir, ck)
    before = _rows(spark, out_dir)
    staged = sorted(os.listdir(stream_dir))
    schema = pq.read_schema(os.path.join(stream_dir, staged[0]))
    pq.write_table(schema.empty_table(),
                   os.path.join(stream_dir, "zz_empty.parquet"))

    q = _run_stream(spark, sf0001_dir, stream_dir, out_dir, ck)
    assert [p.numInputRows for p in q.recentProgress] == [0]
    assert before and _rows(spark, out_dir) == before


def test_streaming_windowed_counts(spark, sf0001_dir, tmp_path):
    from arekit_r335_spark.streaming.stream import streaming_turn_rates
    stream_dir = _stage_stream_input(spark, sf0001_dir, str(tmp_path / "s2"))
    out_dir = str(tmp_path / "agg")
    ck = str(tmp_path / "ck2")
    q = streaming_turn_rates(spark, stream_dir, out_dir, ck)
    q.awaitTermination(300)
    # availableNow + append mode: windows older than the watermark emitted
    got = spark.read.parquet(out_dir)
    total_stream = got.agg(F.sum("n_turns")).first()[0] or 0
    tr = spark.read.parquet(os.path.join(sf0001_dir, "transcripts.parquet"))
    assert total_stream <= tr.count()
    assert got.columns == ["window_start", "role", "n_turns"]


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == the batch lag-window query
    for every CLOSED session (the user's trailing session legitimately stays
    open in state)."""
    import os
    import shutil

    from pyspark.sql import Window
    from arekit_r335_spark.streaming.sessions import sessionize_stream

    src = "/root/testdata/sf0.001/events.parquet"
    stream_dir = os.path.join(str(tmp_path), "ev_in")
    out_dir = os.path.join(str(tmp_path), "ev_out")
    ckpt = os.path.join(str(tmp_path), "ev_ckpt")
    os.makedirs(stream_dir)
    if os.path.isdir(src):
        shutil.copytree(src, os.path.join(stream_dir, "part"))
    else:
        shutil.copy(src, os.path.join(stream_dir, "part.parquet"))

    q = sessionize_stream(spark, stream_dir, out_dir, ckpt)
    q.awaitTermination(300)
    got = {(r.user_id, r.session_seq, r.n_events, r.first_event,
            r.duration_sec)
           for r in spark.read.parquet(out_dir).collect()}

    ev = spark.read.parquet(src).withColumn(
        "__es", F.col("ts").cast("timestamp").cast("long"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("__es") - F.lag("__es").over(w)
    marked = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = marked.withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    batch = (sess.groupBy("user_id", "session_seq")
             .agg(F.count("*").alias("n_events"),
                  F.min("event_id").alias("first_event"),
                  (F.max("__es") - F.min("__es")).alias("duration_sec")))
    last = (batch.groupBy("user_id")
            .agg(F.max("session_seq").alias("session_seq"))
            .withColumn("__last", F.lit(True)))
    closed = (batch.join(last, ["user_id", "session_seq"], "left_anti"))
    want = {(r.user_id, r.session_seq, r.n_events, r.first_event,
             r.duration_sec) for r in closed.collect()}
    assert len(want) > 0
    assert got == want


def test_sessionizer_late_data_degrades_predictably():
    """Cross-batch LATE events (older than the state high-water mark) merge
    into the open session, never drag the gap reference backwards, and never
    yield negative durations (sessions.py late-data clamp)."""
    import pandas as pd
    from arekit_r335_spark.streaming.sessions import make_sessionizer

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def batch(rows):
        return [pd.DataFrame(rows, columns=["event_id", "user_id", "ts",
                                            "value"])
                .astype({"ts": "datetime64[ns]"})]

    fn = make_sessionizer(gap_sec=1800)
    state = FakeState()
    ts = pd.Timestamp("2024-01-01 10:00:00")
    s = pd.Timedelta(seconds=1)

    # batch 1: two events 10s apart -> one open session, last_es at +10s
    out1 = list(fn((7,), batch([(1, 7, ts, 0.0), (2, 7, ts + 10 * s, 0.0)]),
                   state))
    assert out1 == []
    seq, last_es, start_es, n, first_ev = state.get
    hwm = last_es

    # batch 2: one LATE event (5s before the high-water mark)
    list(fn((7,), batch([(3, 7, ts + 5 * s, 0.0)]), state))
    seq2, last_es2, start_es2, n2, _ = state.get
    assert last_es2 == hwm          # clamped: never moves backwards
    assert seq2 == seq and n2 == n + 1   # merged into the open session

    # batch 3: in-order event just over the gap from the TRUE high-water
    # mark -> closes the session with a non-negative duration
    out3 = list(fn((7,), batch([(4, 7, ts + 1811 * s, 0.0)]), state))
    assert len(out3) == 1
    closed = out3[0].iloc[0]
    assert closed["n_events"] == 3 and closed["duration_sec"] == 10

def test_event_time_sessionizer_exact_under_disorder(spark, tmp_path):
    """EventTimeTimeout sessionization matches the batch lag-window query
    for every watermark-SEALED session, with a later micro-batch delivering
    an out-of-order event (within the watermark delay) that must merge into
    the still-open session (sessions.py make_sessionizer_event_time)."""
    import os
    import time

    import pandas as pd
    from pyspark.sql import Window
    from arekit_r335_spark.streaming.sessions import (
        sessionize_stream_event_time)

    stream_dir = os.path.join(str(tmp_path), "ev_in")
    out_dir = os.path.join(str(tmp_path), "ev_out")
    ckpt = os.path.join(str(tmp_path), "ev_ckpt")
    os.makedirs(stream_dir)

    base = pd.Timestamp("2024-03-01 08:00:00")

    def ev(eid, uid, minutes):
        return (eid, uid, base + pd.Timedelta(minutes=minutes), 1.0)

    cols = ["event_id", "user_id", "ts", "value"]
    # gap 30 min, watermark delay 60 min
    # batch 1: u1 open session {0,10,35}; u2 {0,5}; wm stays 0 (35m < delay)
    f1 = pd.DataFrame([ev(1, 1, 0), ev(2, 1, 10), ev(4, 1, 35),
                       ev(10, 2, 0), ev(11, 2, 5)], columns=cols)
    # batch 2: OUT-OF-ORDER event at 20m (admissible: wm still 0) must merge
    # into u1's open session; new opens at 200/210m advance wm to 150m
    f2 = pd.DataFrame([ev(3, 1, 20), ev(5, 1, 200), ev(12, 2, 210)],
                      columns=cols)
    # batch 3: far-future events; processed at wm=150m -> seals the first
    # sessions of both users
    f3 = pd.DataFrame([ev(7, 1, 1200), ev(13, 2, 1210)], columns=cols)
    for name, df in (("a", f1), ("b", f2), ("c", f3)):
        # Spark's vectorized reader rejects pandas' default ns-timestamps
        df.to_parquet(os.path.join(stream_dir, f"{name}.parquet"),
                      coerce_timestamps="us")
        time.sleep(1.1)   # distinct mtimes => deterministic file order

    q = sessionize_stream_event_time(spark, stream_dir, out_dir, ckpt,
                                     gap_sec=1800,
                                     watermark_delay="1 hour",
                                     max_files_per_trigger=1)
    q.awaitTermination(300)
    got = {(r.user_id, r.session_seq):
           (r.n_events, r.first_event, r.duration_sec)
           for r in spark.read.parquet(out_dir).collect()}

    # batch reference over ALL events
    all_pd = pd.concat([f1, f2, f3])
    all_ev = spark.createDataFrame(all_pd)
    es = F.col("ts").cast("timestamp").cast("long")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = es - F.lag(es).over(w)
    marked = all_ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = marked.withColumn(
        "session_seq",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    batch = (sess.groupBy("user_id", "session_seq")
             .agg(F.count("*").alias("n_events"),
                  F.min("event_id").alias("first_event"),
                  (F.max(es) - F.min(es)).alias("duration_sec"),
                  F.max(es).alias("last_es")))
    ref = {(r.user_id, r.session_seq):
           (r.n_events, r.first_event, r.duration_sec, r.last_es)
           for r in batch.collect()}
    final_wm = all_pd["ts"].max().timestamp() - 3600

    # every emitted session matches the batch reference exactly, and only
    # final-watermark-sealed sessions may have been emitted
    for key, (n, first, dur) in got.items():
        assert ref[key][:3] == (n, first, dur), (key, got[key], ref[key])
        assert ref[key][3] + 1800 < final_wm
    # sessions sealed by the BATCH-3 watermark (150 min) are guaranteed out
    # regardless of whether a trailing no-data micro-batch ran the timers
    assert (1, 1) in got and (2, 1) in got
    # the out-of-order event (id 3) really merged into u1's first session:
    # 4 events spanning 0..35 min
    assert got[(1, 1)] == (4, 1, 2100)
