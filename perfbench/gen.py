"""Synthetic tick data for the benchmark, generated from a seed.

One trading day of trades and quotes over a few hundred symbols whose
frequencies follow a Zipf law (a handful of names carry most of the
flow, as on a real tape).  Every frame is a pandas DataFrame with
integer ``sym_id`` (int64) beside string ``sym`` and epoch-nanosecond
``ts_ns``; the same seed always gives the same frames.

Uniqueness the checks rely on:

* trades: ``(sym, ts_ns)`` is unique (it is the table key) and
  ``trade_id`` is unique;
* quotes: ``ts_ns`` is unique per ``sym`` and ``qseq`` is unique, so an
  as-of match is never a tie and ``sum(qseq)`` identifies the matches.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

#: 2024-01-02 09:30:00 UTC in epoch ns; the session runs 6.5 hours
DAY_OPEN_NS = 1_704_187_800 * 1_000_000_000
SESSION_NS = 23_400 * 1_000_000_000
VENUES = np.array(["ARCA", "BATS", "NSDQ"])
#: extra quote columns that make the right side of the wide as-of wide
DEPTH_COLS = [f"{s}{i}" for i in range(1, 5) for s in ("bpx", "apx", "bsz", "asz")]


@dataclass(frozen=True)
class Sizes:
    syms: int = 300
    trades: int = 400_000
    quotes: int = 600_000
    zipf_s: float = 1.1


def _symbols(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 5))
        out.add("".join(rng.choice(letters, size=k)))
    return np.array(sorted(out))


def _zipf_weights(rng: np.random.Generator, n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.permutation(w / w.sum())


def _unique_stamps(rng: np.random.Generator, sym_ids: np.ndarray, lo: int, span: int) -> np.ndarray:
    """Uniform stamps in ``[lo, lo + span)``, unique per symbol."""
    ts = lo + rng.integers(0, span, size=len(sym_ids), dtype=np.int64)
    frame = pd.DataFrame({"s": sym_ids, "t": ts})
    dup = frame.duplicated(["s", "t"])
    while dup.any():
        frame.loc[dup, "t"] = lo + rng.integers(0, span, size=int(dup.sum()), dtype=np.int64)
        dup = frame.duplicated(["s", "t"])
    return frame["t"].to_numpy()


@dataclass
class Universe:
    syms: np.ndarray
    weights: np.ndarray
    base_px: np.ndarray

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return rng.choice(len(self.syms), size=n, p=self.weights).astype(np.int64)


#: the listing (names, Zipf ranks, base prices) is the same on every
#: seed, so every seed puts the same hot names on the same hash
#: partitions; the seed draws the ticks
UNIVERSE_SEED = 20240102


def universe(sizes: Sizes) -> Universe:
    rng = np.random.default_rng([UNIVERSE_SEED, sizes.syms])
    syms = _symbols(rng, sizes.syms)
    return Universe(
        syms=syms,
        weights=_zipf_weights(rng, sizes.syms, sizes.zipf_s),
        base_px=np.round(rng.uniform(5, 500, size=sizes.syms), 2),
    )


def trades(u: Universe, rng: np.random.Generator, n: int, lo: int, span: int, first_id: int) -> pd.DataFrame:
    """``n`` trades stamped in ``[lo, lo + span)``, sorted by time."""
    sid = u.draw(rng, n)
    ts = _unique_stamps(rng, sid, lo, span)
    order = np.lexsort((sid, ts))
    sid, ts = sid[order], ts[order]
    px = np.round(u.base_px[sid] * (1 + rng.normal(0, 0.002, size=n)), 2)
    return pd.DataFrame(
        {
            "sym": u.syms[sid],
            "sym_id": sid,
            "ts_ns": ts,
            "trade_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "px": px,
            "qty": rng.integers(1, 50, size=n, dtype=np.int64) * 100,
            "venue": VENUES[rng.integers(0, len(VENUES), size=n)],
        }
    )


def quotes(u: Universe, rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` quotes over the whole session with depth columns."""
    sid = u.draw(rng, n)
    ts = _unique_stamps(rng, sid, DAY_OPEN_NS, SESSION_NS)
    order = np.lexsort((sid, ts))
    sid, ts = sid[order], ts[order]
    mid = u.base_px[sid] * (1 + rng.normal(0, 0.002, size=n))
    half = np.round(rng.uniform(0.01, 0.05, size=n), 2)
    out = {
        "sym": u.syms[sid],
        "sym_id": sid,
        "ts_ns": ts,
        "qseq": np.arange(n, dtype=np.int64),
        "bid": np.round(mid - half, 2),
        "ask": np.round(mid + half, 2),
    }
    for c in DEPTH_COLS:
        if c.startswith(("bpx", "apx")):
            out[c] = np.round(mid * (1 + rng.normal(0, 0.001, size=n)), 2)
        else:
            out[c] = rng.integers(1, 100, size=n, dtype=np.int64) * 100
    return pd.DataFrame(out)


def day(seed: int, sizes: Sizes) -> tuple[Universe, pd.DataFrame, pd.DataFrame]:
    """The universe, and the seed's trades and quotes for the whole session."""
    u = universe(sizes)
    rng = np.random.default_rng([seed, 1])
    return u, trades(u, rng, sizes.trades, DAY_OPEN_NS, SESSION_NS, 0), quotes(u, rng, sizes.quotes)
