"""Correctness check: each query's output against its DuckDB oracle.

The oracle SQL comes from the program's ``oracle_sql()``; both sides
are canonicalized and value-hashed by ``tools/verify_oracle.py`` (sort
columns by name, rows by all columns, hash values with their dtypes).

A hash mismatch whose only differences are float cells exactly one
step of the 6-dp rounding grid apart (or 0.0 against -0.0) is counted
as a rounding tie, not a wrong result: the program rounds its float
features to 6 dp and Spark and DuckDB may round a value that sits on
the half-step to opposite sides.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd

ROUNDING_STEP = 1e-6


def _verify_module(root: str):
    path = os.path.join(root, "tools", "verify_oracle.py")
    spec = importlib.util.spec_from_file_location("verify_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    def __init__(self, root: str, data_dir: str, threads: int) -> None:
        vo = _verify_module(root)
        self.canon, self.value_hash = vo._canon, vo._value_hash
        self.con = duckdb.connect()
        self.con.execute(f"SET threads={int(threads)}")
        for entry in sorted(os.listdir(data_dir)):
            name = entry.removesuffix(".parquet")
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{entry}/*.parquet')"
            )
        self.expected: dict[str, pd.DataFrame] = {}

    def prepare(self, name: str, sql: str) -> None:
        self.expected[name] = self.canon(self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()

    def check(self, name: str, got: pd.DataFrame) -> str:
        """'ok', 'tie' (rounding ties only) or 'wrong'.  Queries with no
        oracle get the rows-only check: at least one row."""
        got = self.canon(got)
        exp = self.expected.get(name)
        if exp is None:
            return "ok" if len(got) else "wrong"
        if self.value_hash(got) == self.value_hash(exp):
            return "ok"
        if (
            list(got.columns) != list(exp.columns)
            or len(got) != len(exp)
            or [str(t) for t in got.dtypes] != [str(t) for t in exp.dtypes]
        ):
            return "wrong"
        for col in got.columns:
            a, b = got[col], exp[col]
            differ = (a.astype(str) != b.astype(str)).to_numpy()
            if not differ.any():
                continue
            if a.dtype.kind != "f":
                return "wrong"
            gap = np.abs(a.to_numpy()[differ] - b.to_numpy()[differ])
            if not (gap <= ROUNDING_STEP * 1.01).all():
                return "wrong"
        return "tie"
