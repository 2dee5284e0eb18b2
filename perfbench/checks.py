"""Independent answers for every benchmark op.

Reads are checked against DuckDB run over the same generated pandas
frames the program received as parquet; the ingest table is checked
against a pandas model that replays the same appends, upserts and
deletes.  Selected and integer cells compare exactly; float sums and
averages compare within ``REL_TOL``.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

#: relative tolerance for float sums and averages (summation order
#: differs between engines; stored values are exact two-decimal prices)
REL_TOL = 1e-9


class Oracle:
    """A DuckDB connection over named pandas frames."""

    def __init__(self, **frames: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for name, frame in frames.items():
            self.con.register(name, frame)

    def query(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()


def frames_match(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], approx: tuple[str, ...] = ()) -> bool:
    """Same key set and the same cells: exact except ``approx``
    columns, which match within ``REL_TOL``.  Integer-valued columns
    compare as int64 whatever width each engine chose."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    g = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
    w = want[list(got.columns)].sort_values(keys, kind="mergesort").reset_index(drop=True)
    for c in got.columns:
        a, b = g[c], w[c]
        if c in approx:
            x, y = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
            if not np.allclose(x, y, rtol=REL_TOL, atol=0.0, equal_nan=True):
                return False
        elif a.isna().any() or b.isna().any():
            if not (a.isna().to_numpy() == b.isna().to_numpy()).all():
                return False
            if not _cells_equal(a[a.notna()], b[b.notna()]):
                return False
        elif not _cells_equal(a, b):
            return False
    return True


def _cells_equal(a: pd.Series, b: pd.Series) -> bool:
    if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
        if pd.api.types.is_integer_dtype(a.dtype) or pd.api.types.is_integer_dtype(b.dtype):
            fa, fb = a.to_numpy(dtype=float), b.to_numpy(dtype=float)
            if np.all(fa == np.round(fa)) and np.all(fb == np.round(fb)):
                return bool((a.to_numpy(dtype=np.int64) == b.to_numpy(dtype=np.int64)).all())
        return bool((a.to_numpy(dtype=float) == b.to_numpy(dtype=float)).all())
    return bool((a.astype(str).to_numpy() == b.astype(str).to_numpy()).all())


class TickModel:
    """Pandas model of a table keyed ``(sym, ts_ns)``."""

    KEY = ["sym", "ts_ns"]

    def __init__(self, rows: pd.DataFrame):
        self.rows = rows.set_index(self.KEY).sort_index()

    def append(self, rows: pd.DataFrame) -> None:
        self.rows = pd.concat([self.rows, rows.set_index(self.KEY)]).sort_index()

    def upsert(self, rows: pd.DataFrame) -> None:
        new = rows.set_index(self.KEY)
        self.rows = pd.concat([self.rows.drop(new.index, errors="ignore"), new]).sort_index()

    def delete_range(self, sym: str, lo: int, hi: int) -> int:
        syms = self.rows.index.get_level_values(0)
        ts = self.rows.index.get_level_values(1)
        hit = (syms == sym) & (ts >= lo) & (ts <= hi)
        self.rows = self.rows[~hit]
        return int(hit.sum())

    def lookup(self, keys: list[tuple[str, int]]) -> pd.DataFrame:
        idx = pd.MultiIndex.from_tuples(keys, names=self.KEY)
        return self.rows[self.rows.index.isin(idx)].reset_index()

    def frame(self) -> pd.DataFrame:
        return self.rows.reset_index()
