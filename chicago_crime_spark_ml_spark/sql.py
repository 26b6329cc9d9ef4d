"""Spark SQL surface: temp-view registration + three-way parity checks.

The catalog (queries.py) is written against the DataFrame API, but
DataFrame and ``spark.sql`` compile to the SAME Catalyst logical plans —
registering the tables as temp views makes every engine capability
reachable from plain SQL too (the surface a BI tool or a user of the
reference's spark.sql habit would hit).

``register_tables`` is the one loader: it reuses sources.io.load_table,
so view consumers get the same ts normalization and pushdown behavior as
DataFrame callers. tests/test_sql_parity.py closes the loop three ways —
DataFrame result ≡ spark.sql(oracle string) ≡ DuckDB — for the
dialect-portable subset of the oracle catalog, proving the oracle SQL is
honest ANSI rather than duck-flavored paraphrase.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from chicago_crime_spark_ml_spark.sources.io import TABLES, load_table


def register_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = ()
) -> list[str]:
    """Register each testdata table as a temp view (same normalization as
    load_table). Returns the registered names. Idempotent — re-running
    against a different sf_dir simply re-points the views."""
    out = []
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        out.append(name)
    return out
