"""Output checks: canonical form, oracle comparison and digests.

A Spark output and its DuckDB oracle answer are compared the way the
repository's oracle tests compare them (``tests/oracle_utils.py``): columns
sorted by name, rows sorted by every column, doubles rounded to 6 places and
compared with an absolute tolerance of 2e-6. Outputs without an oracle are
checked by digest: the same input must give the same digest on every pass.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

ATOL = 2e-6


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[ns]").astype(str)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """True when two canonical frames hold the same rows."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            try:
                ok = np.allclose(a.astype(float), b.astype(float), atol=ATOL, rtol=0, equal_nan=True)
            except (TypeError, ValueError):
                ok = False
        else:
            ok = bool((a.astype(str).values == b.astype(str).values).all())
        if not ok:
            return False
    return True


def digest(df: pd.DataFrame) -> str:
    csv = canon(df).to_csv(index=False, float_format="%.6f")
    return hashlib.sha256(csv.encode()).hexdigest()


class Oracle:
    """DuckDB over the generated tables, answering registry oracle SQL.

    DuckDB spills to ``tmp_dir`` (inside the benchmark's work directory)
    instead of its default ``./.tmp``."""

    def __init__(self, data_dir: str, tmp_dir: str, threads: int):
        import duckdb

        os.makedirs(tmp_dir, exist_ok=True)
        self.con = duckdb.connect(
            config={"temp_directory": tmp_dir, "threads": threads, "memory_limit": "1GB"}
        )
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                name = f[: -len(".parquet")]
                path = os.path.join(data_dir, f).replace("'", "''")
                self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def answer(self, sql: str) -> pd.DataFrame:
        return canon(self.con.execute(sql).fetchdf())

    def close(self) -> None:
        self.con.close()
