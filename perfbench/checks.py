"""Output checks: an order-independent result hash, normalised the way
``tests/conftest.py::assert_matches_oracle`` compares Spark rows against
DuckDB (columns sorted by name, floats rounded to 6 places, NaN as a
string, every value by ``repr``)."""

from __future__ import annotations

import hashlib
import math
import os


def normalized_hash(rows, columns) -> list:
    """``[sha256, row count]`` of ``rows`` under the oracle normalisation."""
    idx = [columns.index(c) for c in sorted(columns)]
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
    out.sort()
    h = hashlib.sha256(repr((sorted(columns), out)).encode())
    return [h.hexdigest(), len(out)]


def oracle_hashes(input_dir: str, names) -> dict:
    """DuckDB's hash for every oracle-gated query in ``names``, over the
    parquet tables of ``input_dir``."""
    import duckdb

    from snowflake_to_bq_pipeline_spark.registry import ORACLES

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for f in sorted(os.listdir(input_dir)):
            if f.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(input_dir, f)}'"
                )
        out = {}
        for name in names:
            if name in ORACLES:
                cur = con.execute(ORACLES[name])
                cols = [d[0] for d in cur.description]
                out[name] = normalized_hash(cur.fetchall(), cols)
        return out
    finally:
        con.close()
