from __future__ import annotations

import os

import duckdb
import pytest

from snowflake_to_bq_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def ddb():
    """DuckDB connection with the test tables registered as views —
    mirrors the driver's oracle harness."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def assert_matches_oracle(spark_df, ddb, oracle_sql, sort_cols=None):
    """Order-insensitive comparison of a Spark result vs DuckDB oracle,
    approximating the driver's row-count + value-hash gate."""
    import math

    spark_rows = [tuple(r) for r in spark_df.collect()]
    oracle_rows = [tuple(r) for r in ddb.execute(oracle_sql).fetchall()]
    assert len(spark_rows) == len(oracle_rows), (
        f"row count {len(spark_rows)} != oracle {len(oracle_rows)}"
    )
    spark_cols = sorted(spark_df.columns)
    oracle_cols = sorted(d[0] for d in ddb.execute(oracle_sql).description)
    assert spark_cols == oracle_cols, f"{spark_cols} != {oracle_cols}"

    def norm(rows, cols_in):
        idx = [cols_in.index(c) for c in sorted(cols_in)]
        out = []
        for r in rows:
            vals = []
            for i in idx:
                v = r[i]
                if isinstance(v, float):
                    v = round(v, 6)
                    if math.isnan(v):
                        v = "nan"
                vals.append(repr(v))
            out.append(tuple(vals))
        return sorted(out)

    a = norm(spark_rows, list(spark_df.columns))
    b = norm(oracle_rows, [d[0] for d in ddb.execute(oracle_sql).description])
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{len(mismatches)} mismatching rows; first: {mismatches[:3]}"

