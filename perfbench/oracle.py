"""Checks a query's Spark result against its DuckDB oracle, the way
``tests/test_oracle.py`` does: same views, same canonical hash."""

from __future__ import annotations

import duckdb

from chicago_crime_spark_ml_spark.queries import ORACLE
from chicago_crime_spark_ml_spark.sources.io import TABLES
from tools.driver_preflight import canon_hash


class Oracle:
    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def check(self, name: str, spdf) -> str | None:
        """None when the Spark frame matches the oracle, else why not."""
        if name not in ORACLE:
            return "no oracle"
        dpdf = self.con.execute(ORACLE[name]).df()
        if sorted(spdf.columns) != sorted(dpdf.columns):
            return f"columns {sorted(spdf.columns)} vs {sorted(dpdf.columns)}"
        if len(spdf) != len(dpdf):
            return f"rows {len(spdf)} vs {len(dpdf)}"
        if canon_hash(spdf) != canon_hash(dpdf):
            return "value hash differs"
        return None

    def close(self) -> None:
        self.con.close()
