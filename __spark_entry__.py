"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query at sf0.001 (KG typed co-occurrence edges over
                the documents corpus, top-20 by evidence count).
queries()     — the registered queries, one or more per operator the KG
                system uses (SURVEY.md §2), plus the storage/index structures
                tests/test_distsys_ops.py checks; each callable takes
                (spark, sf_dir) → DataFrame.
oracle_sql()  — matching ANSI SQL for DuckDB over the pre-registered views:
                mirrored MinHash/SimHash/LSH/pagerank, reference-computed
                fixtures for the exact pipeline path, single-process
                Python fixtures for IVF / PQ / residual IVF-PQ (IVFADC),
                engine regression pins (asserted
                parallelism-invariant) for the fuzzy-CC pipeline variants
                (intentional divergence, P/R-gated in pytest). Every
                registered query has a value-checked oracle.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from knowledge_extraction_pipeline_spark.queries import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: typed knowledge-graph edges over the sf0.001 documents
    corpus, strongest evidence first."""
    from pyspark.sql import functions as F

    df = QUERIES["kg_typed_edges_docs"](spark, "/root/testdata/sf0.001")
    return df.orderBy(F.desc("common"), "term_a", "term_b").limit(20)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLE)
