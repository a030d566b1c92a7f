"""Output checks: every op is compared with its DuckDB twin.

Small outputs are compared row by row with the canonical comparison of
``scripts/sweep_contract.py`` (columns sorted by name, rows sorted, dtype
kinds equal with unsigned folded to signed, NaN equal to NaN). Outputs
too large to collect are reduced on both engines by the same rollup SQL
(row count, per-column XOR and modular sums, and a cross-column product
sum that ties the columns of one row together).

Oracle answers are computed once per input directory and cached beside
the inputs, outside all timing. The key is a hash of the oracle SQL; a
lazy oracle (a callable that builds its SQL, as the transit twins do by
rerunning the pure-Python model) is keyed by query name instead, so a
cache hit never pays for building the SQL.
"""

from __future__ import annotations

import hashlib
import math
import os

import pandas as pd

_MOD = 65521


def query(name: str):
    """A registered ``(spark, sf_dir) -> DataFrame`` query."""
    from ferrobus_spark.registry import queries

    return queries()[name]


def oracle_sql(name: str):
    """The query's DuckDB twin: SQL text, or a callable that builds it."""
    import ferrobus_spark.registry_ext  # noqa: F401  (registers the oracles)
    from ferrobus_spark.registry import ORACLES

    return ORACLES[name]


def rollup_exprs(cols: list[str]) -> list[str]:
    """Aggregate select-list that reads the same in Spark SQL and DuckDB."""
    out = ["CAST(count(*) AS BIGINT) AS n"]
    for i, c in enumerate(cols):
        out.append(f"CAST(bit_xor({c}) AS BIGINT) AS x{i}")
        out.append(f"CAST(sum({c} % {_MOD}) AS BIGINT) AS s{i}")
    for i, (a, b) in enumerate(zip(cols, cols[1:])):
        out.append(f"CAST(sum(({a} % {_MOD}) * ({b} % {_MOD})) AS BIGINT) AS p{i}")
    return out


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when the frames are equal, else a one-line reason."""
    got, exp = canon(got), canon(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        if got[c].dtype.kind.replace("u", "i") != exp[c].dtype.kind.replace("u", "i"):
            return f"dtype {c}: {got[c].dtype} vs {exp[c].dtype}"
        for i, (x, y) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not _same(x, y):
                return f"col {c} row {i}: {x!r} vs {y!r}"
    return None


class Oracle:
    """DuckDB over the parquet tables of an input directory; answers are
    cached in that directory's ``oracle/`` folder."""

    def __init__(self, tmp_dir: str):
        self.tmp_dir = tmp_dir
        self._cons: dict[str, object] = {}

    def _connect(self, data_dir: str):
        if data_dir not in self._cons:
            import duckdb

            con = duckdb.connect()
            con.sql("SET threads=4")
            con.sql("SET memory_limit='3GB'")
            con.sql(f"SET temp_directory='{self.tmp_dir}/duckdb'")
            for f in sorted(os.listdir(data_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(data_dir, f)
                    con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
            self._cons[data_dir] = con
        return self._cons[data_dir]

    def answer(self, name: str, sql, data_dir: str) -> pd.DataFrame:
        key = hashlib.sha1(sql.encode()).hexdigest()[:16] if isinstance(sql, str) else name
        path = os.path.join(data_dir, "oracle", f"{key}.parquet")
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            df = self._connect(data_dir).sql(sql() if callable(sql) else sql).df()
            df.to_parquet(path + ".tmp", index=False)
            os.replace(path + ".tmp", path)
        return pd.read_parquet(path)

    def rollup(self, name: str, sql, cols: list[str], data_dir: str) -> pd.DataFrame:
        sql = sql() if callable(sql) else sql
        return self.answer(name, f"SELECT {', '.join(rollup_exprs(cols))} FROM ({sql})", data_dir)

    def close(self) -> None:
        for con in self._cons.values():
            con.close()
        self._cons.clear()
