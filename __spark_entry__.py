"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG triple-extraction query at sf0.001;
``queries()`` exposes one callable per implemented operator (SURVEY.md §2 and
the training-data-pipeline scope); ``oracle_sql()`` provides a DuckDB
equivalent for EVERY registered query (the greedy frame scan is oracled for
arbitrary variant span via a recursive-CTE walk over candidate positions,
sample masking is an ordered string aggregation, and the LSH buckets
recompute from the same literal hyperplanes). Pytest additionally covers
exact parity against the reference-transcription oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: EP1 triple extraction on the sf0.001 synthetic transcripts."""
    from arekit_r335_spark.datagen import repo_data_dir
    from arekit_r335_spark.lexicons import KgInputs
    from arekit_r335_spark.pipeline import build_triple_pipeline

    data_dir = repo_data_dir("/root/testdata/sf0.001")
    res = build_triple_pipeline(spark, KgInputs.at(data_dir), persist=False)
    return res.triples


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from arekit_r335_spark.queries import registry
    return registry()


def oracle_sql() -> dict[str, str]:
    from arekit_r335_spark.oracle.gate import oracles
    return oracles("/root/testdata/sf0.01")
