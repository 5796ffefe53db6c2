"""Output checks: an order-insensitive fingerprint of a result, compared
with the registry's DuckDB oracle or with a pinned fingerprint.

Rows are normalised by the repository's oracle-test helper
(``tests.utils._normalize``: floats rounded to 9 places, dates and
timestamps as ISO strings, NaN as NULL, lists as tuples, columns sorted),
and the fingerprint hashes the sorted rows.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

from tests.utils import _normalize


def _plain(v):
    # The Arrow path of toPandas gives array columns as numpy arrays,
    # which the test helper (written for lists) would repr as array(...).
    return v.tolist() if isinstance(v, (np.ndarray, np.generic)) else v


def fingerprint(pdf) -> dict:
    """Row count, sorted lower-cased columns and a sha256 over the sorted
    normalised rows of a pandas DataFrame."""
    pdf = pdf.rename(columns=str.lower)
    for col in pdf.columns[pdf.dtypes == object]:
        pdf[col] = pdf[col].map(_plain)
    rows = _normalize(pdf)
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return {"rows": len(rows), "columns": sorted(pdf.columns), "sha256": digest}


class Oracle:
    """DuckDB over the same Parquet files the op read."""

    def __init__(self, data_dir: str, tables, temp_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory='{temp_dir}'")
        for name in tables:
            path = os.path.join(data_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def fingerprint(self, sql: str) -> dict:
        return fingerprint(self.con.sql(sql).df())

    def close(self) -> None:
        self.con.close()


def check_op(name: str, got: dict, pinned: dict, oracle_sql: str | None, oracle) -> dict:
    """Compare one op's fingerprint with its pin, else with the oracle.
    Returns ``{"op", "source", "ok", ...}``; the fingerprint of the
    reference is included when the two differ."""
    if name in pinned:
        source, want = "pinned", pinned[name]
    elif oracle_sql is not None:
        source, want = "oracle", oracle.fingerprint(oracle_sql)
    else:
        return {"op": name, "source": "none", "ok": False, "got": got}
    ok = all(got[k] == want[k] for k in ("rows", "columns", "sha256"))
    out = {"op": name, "source": source, "ok": ok}
    if not ok:
        out.update(got=got, want=want)
    return out
