"""Output checks, run outside the timed phase.

- ``compare_frames``: a Spark result against its DuckDB oracle twin,
  columns sorted by name, rows sorted, values exactly equal.
- ``gold_mismatches``: the batch path's gold tables against a DuckDB
  recomputation over the generated bronze JSONL.
- ``silver_ids``: transaction ids in a silver zone, with multiplicity.

The frame comparison follows the repository's test oracle (tests/oracle.py)
on purpose rather than importing it: the benchmark's check must not change
when the program under measurement, its tests included, changes.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import numpy as np
import pandas as pd


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One view per generated table file in ``sf_dir``."""
    con = duckdb.connect()
    for path in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    # int vs float is a mismatch even when the values are equal; checked
    # before _normalize, which would hide it
    for c in got.columns:
        g_int, w_int = (pd.api.types.is_integer_dtype(f[c]) for f in (got, want))
        g_flt, w_flt = (pd.api.types.is_float_dtype(f[c]) for f in (got, want))
        if (g_int and w_flt) or (g_flt and w_int):
            return f"column {c}: dtype {got[c].dtype} vs {want[c].dtype}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if np.issubdtype(gv.dtype, np.floating) and np.issubdtype(wv.dtype, np.floating):
            bad = ~((gv == wv) | (np.isnan(gv) & np.isnan(wv)))
        else:
            bad = ~np.asarray(pd.Series(gv).eq(pd.Series(wv)) | (pd.isna(gv) & pd.isna(wv)))
        if bad.any():
            return f"column {c}: {int(bad.sum())} rows differ"
    return None


_BRONZE_COLS = (
    "{transaction_id: 'VARCHAR', customer_id: 'VARCHAR', amount: 'DOUBLE', "
    "transaction_date: 'VARCHAR', transaction_type: 'VARCHAR', "
    "merchant_id: 'VARCHAR', payment_method: 'VARCHAR', currency: 'VARCHAR', "
    "status: 'VARCHAR', category: 'VARCHAR'}"
)

_MONEY = "CAST(SUM(CAST(amount AS DECIMAL(30,2))) AS DOUBLE)"

_EXPECTED = {
    "daily_aggregations": f"""
        SELECT year(ts) AS year, month(ts) AS month, day(ts) AS day, customer_id,
               count(*) AS transaction_count, {_MONEY} AS total_amount,
               {_MONEY} / count(amount) AS avg_amount, min(amount) AS min_amount,
               max(amount) AS max_amount,
               count(DISTINCT transaction_id) AS unique_transactions
        FROM valid GROUP BY ALL""",
    "monthly_aggregations": f"""
        SELECT year(ts) AS year, month(ts) AS month, customer_id,
               count(*) AS transaction_count, {_MONEY} AS total_amount,
               {_MONEY} / count(amount) AS avg_amount, min(amount) AS min_amount,
               max(amount) AS max_amount,
               count(DISTINCT transaction_id) AS unique_transactions
        FROM valid GROUP BY ALL""",
    "customer_insights": f"""
        SELECT customer_id, count(*) AS lifetime_transactions,
               {_MONEY} AS lifetime_value,
               {_MONEY} / count(amount) AS avg_transaction_amount,
               count(DISTINCT CAST(ts AS DATE)) AS active_days,
               date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
                 AS customer_tenure_days,
               CASE WHEN {_MONEY} > 10000 THEN 'high_value'
                    WHEN {_MONEY} > 5000 THEN 'medium_value'
                    ELSE 'low_value' END AS customer_segment
        FROM valid GROUP BY ALL""",
}


def valid_rows_sql(bronze_glob: str) -> str:
    """The silver contract over raw bronze: keys present, amount > 0,
    parseable timestamp, one row per transaction id."""
    return f"""
        SELECT DISTINCT transaction_id, customer_id, amount, ts FROM (
          SELECT transaction_id, customer_id, amount,
                 try_strptime(transaction_date, '%Y-%m-%d %H:%M:%S') AS ts
          FROM read_json('{bronze_glob}', format='newline_delimited',
                         columns={_BRONZE_COLS}))
        WHERE transaction_id IS NOT NULL AND customer_id IS NOT NULL
          AND amount IS NOT NULL AND amount > 0 AND ts IS NOT NULL"""


def gold_mismatches(bronze_glob: str, gold_path: str) -> dict[str, int]:
    """Rows that differ (either direction) between each gold table and its
    recomputation; all zeros when gold is correct."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE valid AS {valid_rows_sql(bronze_glob)}")
        out = {}
        for table, sql in _EXPECTED.items():
            con.execute(f"CREATE OR REPLACE TABLE want AS {sql}")
            cols = [r[0] for r in con.execute("DESCRIBE want").fetchall()]
            sel = ", ".join(
                f"CAST({c} AS BIGINT)" if c in ("year", "month", "day") else c
                for c in cols
            )
            got = (
                f"SELECT {sel} FROM read_parquet('{gold_path}/{table}/**/*.parquet', "
                "hive_partitioning = true)"
            )
            want = f"SELECT {sel} FROM want"
            out[table] = con.execute(
                f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {want})) + "
                f"(SELECT count(*) FROM ({want} EXCEPT ALL {got}))"
            ).fetchone()[0]
        return out
    finally:
        con.close()


def silver_ids(silver_path: str) -> list[str]:
    con = duckdb.connect()
    try:
        return [
            r[0]
            for r in con.execute(
                f"SELECT transaction_id FROM read_parquet('{silver_path}/**/*.parquet')"
            ).fetchall()
        ]
    finally:
        con.close()
