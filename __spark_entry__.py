"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship BM25 top-k batch over the sf0.001
documents corpus through the full engine (tokenize -> compressed inverted
index -> pruned DAAT scoring).  `queries()` / `oracle_sql()` expose every
implemented operator from SURVEY.md §2 with a DuckDB-checkable ANSI-SQL
twin (see terrier_spark/gate.py for how both sides share one set of
semantic constants).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from terrier_spark.gate import q_bm25_topk

    return q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from terrier_spark import gate

    return gate.IR_QUERIES


def oracle_sql() -> dict[str, str]:
    from terrier_spark import gate

    return gate.IR_ORACLE_SQL
