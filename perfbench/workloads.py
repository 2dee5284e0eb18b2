"""The three benchmark workloads.

Each workload is one client in a closed loop on one Spark session.
``build`` generates the seed's inputs, writes them as parquet and builds
the Workspace or the folio members from those files; ``round(r)`` gives
round ``r``'s fixed list of ops (the first rounds are the untimed
warm-up); every
op returns its collected result and carries an independent check.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd

import gen
from checks import Oracle, TickModel, frames_match

KEY = ("sym", "ts_ns")
#: the wide as-of's inputs are the same on every seed: its failure is a
#: property of the program, not of the data
WIDE_SEED = 7
MINUTE_NS = 60 * 1_000_000_000


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], bool]


@dataclass
class Ctx:
    """What a workload needs from the runner."""

    spark: Any
    seed: int
    scale: float
    tracer: Any = None  # trace.Tracer in traced runs, else None

    def collect(self, df) -> pd.DataFrame:
        return self.tracer.plan_and_collect(df) if self.tracer else df.toPandas()

    def call(self, layer: str, fn, *args, **kwargs):
        if self.tracer:
            return self.tracer.timed_call(layer, fn, *args, **kwargs)
        return fn(*args, **kwargs)

    def add(self, metric: str, value: float) -> None:
        if self.tracer:
            self.tracer.add(metric, value)

    def n(self, rows: int) -> int:
        return max(200, int(rows * self.scale))


@dataclass
class Workload:
    ctx: Ctx
    #: op kinds whose every attempt fails today (a program fault): they
    #: count in ``failed`` and leave ``correct`` true
    known_faults: frozenset = frozenset()
    p50_kinds: tuple = ()

    def build(self, root: str) -> None:
        raise NotImplementedError

    def round(self, r: int) -> list[Op]:
        raise NotImplementedError

    def finish(self) -> tuple[bool, dict[str, float]]:
        """Run-end check and end-state figures."""
        return True, {}

    def close(self) -> None:
        pass

    def _write(self, root: str, name: str, frame: pd.DataFrame) -> str:
        path = os.path.join(root, "feed", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        frame.to_parquet(path, index=False)
        return path


def _table_files(ws, name: str) -> dict[str, int]:
    d = ws.epoch_path(name)
    return {p: os.path.getsize(p) for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)}


def _day_window(seed: int, stream: int, r: int, hours: float) -> tuple[int, int]:
    """Round ``r``'s query window: ``hours`` long, starting on a whole
    minute.  The starts are a seeded permutation, so no two rounds of a
    run send the same statement text (a repeated one would hit the folio
    members' plan cache and Spark's compiled-code cache, and read as a
    cheap outlier)."""
    span = int(hours * 3600e9)
    starts = (gen.SESSION_NS - span) // MINUTE_NS
    lo = gen.DAY_OPEN_NS + int(np.random.default_rng([seed, stream]).permutation(starts)[r % starts]) * MINUTE_NS
    return lo, lo + span


# --------------------------------------------------------------------------
class TickAnalytics(Workload):
    """Read-only analyst session over a persisted keyed Workspace."""

    WINDOW_N = 50
    CHUNK_NS = 10 * MINUTE_NS
    #: the queries' time range: at one hour a round is about 6 s, so a
    #: run times several rounds
    WINDOW_HOURS = 1.0

    def __init__(self, ctx: Ctx):
        super().__init__(ctx, known_faults=frozenset({"asof_wide"}), p50_kinds=("bars", "asof", "window", "lookup"))

    def build(self, root: str) -> None:
        from kerf_spark.sources.catalog import Workspace

        spark, c = self.ctx.spark, self.ctx
        sizes = gen.Sizes(trades=c.n(50_000), quotes=c.n(65_000))
        self.universe, trades, quotes = gen.day(c.seed, sizes)
        _, wtrades, wquotes = gen.day(WIDE_SEED, gen.Sizes(syms=100, trades=c.n(15_000), quotes=c.n(20_000)))
        paths = {
            name: self._write(root, name, frame)
            for name, frame in (("trades", trades), ("quotes", quotes), ("wide_trades", wtrades), ("wide_quotes", wquotes))
        }
        self.ws = Workspace(spark, os.path.join(root, "ws"))
        self.ws.save("trades", spark.read.parquet(paths["trades"]), key=KEY)
        self.ws.save("wide_trades", spark.read.parquet(paths["wide_trades"]), key=KEY)
        spark.read.parquet(paths["quotes"]).select("sym", "ts_ns", "qseq", "bid", "ask").createOrReplaceTempView("quotes")
        self.wide_quotes = spark.read.parquet(paths["wide_quotes"]).drop("sym")
        self.trades = trades
        self.oracle = Oracle(trades=trades, quotes=quotes, wide_trades=wtrades, wide_quotes=wquotes)
        self._wide_want = None

    def round(self, r: int) -> list[Op]:
        rng = np.random.default_rng([self.ctx.seed, 100, r])
        lo, hi = _day_window(self.ctx.seed, 100, r, self.WINDOW_HOURS)
        picks = [self.universe.syms[rng.choice(len(self.universe.syms), size=2, replace=False)].tolist() for _ in range(3)]
        return [
            self._bars(lo, hi),
            self._asof(lo, hi),
            self._asof_wide(),
            self._window(lo, hi),
            *[self._lookup(p) for p in picks],
        ]

    def _bars(self, lo: int, hi: int) -> Op:
        from kerf_spark.plans.kerfsql import kerf_sql

        q = (
            "select n: count(*), vol: sum(qty), hi: max(px), lo: min(px), notional: sum(px * qty)"
            f" by sym, bar: xbar(ts_ns, '5m') from trades where ts_ns >= {lo} and ts_ns < {hi}"
        )

        def run():
            return self.ctx.collect(self.ctx.call("kerfsql", kerf_sql, self.ctx.spark, q, workspace=self.ws))

        def check(got):
            want = self.oracle.query(
                "SELECT sym, ts_ns - ts_ns % 300000000000 AS bar, count(*) AS n, sum(qty) AS vol,"
                " max(px) AS hi, min(px) AS lo, sum(px * qty) AS notional"
                f" FROM trades WHERE ts_ns >= {lo} AND ts_ns < {hi} GROUP BY ALL"
            )
            return frames_match(got, want, ["sym", "bar"], approx=("notional",))

        return Op("bars", run, check)

    def _asof(self, lo: int, hi: int) -> Op:
        from kerf_spark.plans.kerfsql import kerf_sql

        q = (
            "select n: count(*), matched: count(qseq), qseq_sum: sum(qseq), bid_sum: sum(bid)"
            f" by sym from trades asof join quotes on sym, ts_ns where ts_ns >= {lo} and ts_ns < {hi}"
        )

        def run():
            return self.ctx.collect(self.ctx.call("kerfsql", kerf_sql, self.ctx.spark, q, workspace=self.ws))

        def check(got):
            want = self.oracle.query(
                "SELECT t.sym, count(*) AS n, count(q.qseq) AS matched, sum(q.qseq) AS qseq_sum,"
                " sum(q.bid) AS bid_sum FROM trades t ASOF LEFT JOIN quotes q"
                " ON t.sym = q.sym AND t.ts_ns >= q.ts_ns"
                f" WHERE t.ts_ns >= {lo} AND t.ts_ns < {hi} GROUP BY t.sym"
            )
            return frames_match(got, want, ["sym"], approx=("bid_sum",))

        return Op("asof", run, check)

    def _asof_wide(self) -> Op:
        """Wide-right merge as-of on ``sym_id``: the saved left side
        holds it narrowed, the quote feed as bigint."""
        from pyspark.sql import functions as F

        from kerf_spark.operators.asof import asof_join_merge

        carry = ["qseq", "bid", "ask", *gen.DEPTH_COLS]

        def run():
            joined = self.ctx.call(
                "asof", asof_join_merge, self.ws.load("wide_trades"), self.wide_quotes,
                on="ts_ns", by="sym_id", right_cols=carry,
            )
            return self.ctx.collect(
                joined.groupBy("sym_id").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count("qseq").alias("matched"),
                    F.sum("qseq").alias("qseq_sum"),
                    F.sum("asz4").alias("depth_sum"),
                    F.sum("bid").alias("bid_sum"),
                )
            )

        def check(got):
            if self._wide_want is None:
                self._wide_want = self.oracle.query(
                    "SELECT t.sym_id, count(*) AS n, count(q.qseq) AS matched, sum(q.qseq) AS qseq_sum,"
                    " sum(q.asz4) AS depth_sum, sum(q.bid) AS bid_sum FROM wide_trades t"
                    " ASOF LEFT JOIN wide_quotes q ON t.sym_id = q.sym_id AND t.ts_ns >= q.ts_ns"
                    " GROUP BY t.sym_id"
                )
            return frames_match(got, self._wide_want, ["sym_id"], approx=("bid_sum",))

        return Op("asof_wide", run, check)

    def _window(self, lo: int, hi: int) -> Op:
        from pyspark.sql import functions as F

        from kerf_spark.operators.windows import chunked_moving

        n, chunk = self.WINDOW_N, self.CHUNK_NS

        def run():
            t = self.ws.load("trades").where(F.col("ts_ns").between(lo, hi - 1))
            mov = self.ctx.call(
                "windows", chunked_moving, t,
                {"mq": ("sum", "qty"), "mp": ("avg", "px"), "mhi": ("max", "px")},
                n, ["venue"], ["ts_ns", "trade_id"], F.expr(f"ts_ns div {chunk}"),
            )
            return self.ctx.collect(
                mov.groupBy("venue").agg(
                    F.sum("mq").alias("mq_sum"),
                    F.max("mq").alias("mq_max"),
                    F.sum("mp").alias("mp_sum"),
                    F.sum("mhi").alias("mhi_sum"),
                )
            )

        def check(got):
            want = self.oracle.query(
                "SELECT venue, sum(mq) AS mq_sum, max(mq) AS mq_max, sum(mp) AS mp_sum, sum(mhi) AS mhi_sum"
                " FROM (SELECT venue, sum(qty) OVER w AS mq, avg(px) OVER w AS mp, max(px) OVER w AS mhi"
                f" FROM trades WHERE ts_ns >= {lo} AND ts_ns < {hi} WINDOW w AS (PARTITION BY venue ORDER BY ts_ns, trade_id"
                f" ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)) GROUP BY venue"
            )
            return frames_match(got, want, ["venue"], approx=("mp_sum", "mhi_sum"))

        return Op("window", run, check)

    def _lookup(self, syms: list[str]) -> Op:
        def run():
            df = self.ws.key_lookup("trades", syms)
            if self.ctx.tracer:
                self.ctx.add("catalog.lookup_files", len(df.inputFiles()))
                self.ctx.add("catalog.lookups", 1)
            return self.ctx.collect(df)

        def check(got):
            want = self.trades[self.trades["sym"].isin(syms)]
            return frames_match(got, want, list(KEY))

        return Op("lookup", run, check)

    def finish(self) -> tuple[bool, dict[str, float]]:
        return True, _table_state(self.ws, "trades", len(self.trades))

    def close(self) -> None:
        self.oracle.close()


def _table_state(ws, name: str, rows: int) -> dict[str, float]:
    files = _table_files(ws, name)
    return {"live_files": float(len(files)), "stored_bytes_per_row": sum(files.values()) / max(rows, 1)}


# --------------------------------------------------------------------------
class TickIngest(Workload):
    """A feed handler's loop on one table keyed ``(sym, ts_ns)``."""

    INITIAL_HOURS = 2.0
    SLICE_NS = 2 * MINUTE_NS  # time covered by one appended batch
    RETENTION_STEP_NS = 5 * MINUTE_NS

    def __init__(self, ctx: Ctx, rounds: int):
        super().__init__(ctx, p50_kinds=("append", "upsert", "delete", "lookup"))
        self.rounds = rounds

    def build(self, root: str) -> None:
        from kerf_spark.sources.catalog import Workspace

        spark, c, seed = self.ctx.spark, self.ctx, self.ctx.seed
        u = gen.universe(gen.Sizes())
        rng = np.random.default_rng([seed, 2])
        init_span = int(self.INITIAL_HOURS * 3600e9)
        init = gen.trades(u, rng, c.n(100_000), gen.DAY_OPEN_NS, init_span, 0)
        batch, updates, inserts = c.n(4_000), c.n(400), c.n(100)
        self.plan = []
        next_id = len(init)
        for r in range(self.rounds):
            rr = np.random.default_rng([seed, 200, r])
            lo = gen.DAY_OPEN_NS + init_span + r * self.SLICE_NS
            fresh = gen.trades(u, rr, batch + inserts, lo, self.SLICE_NS, next_id)
            next_id += len(fresh)
            is_insert = np.zeros(len(fresh), bool)
            is_insert[rr.choice(len(fresh), size=inserts, replace=False)] = True
            app = fresh[~is_insert].reset_index(drop=True)
            fix = app.iloc[rr.choice(len(app), size=updates, replace=False)].copy()
            fix["px"] = np.round(fix["px"] + 0.01, 2)
            fix["qty"] = fix["qty"] + 100
            ups = pd.concat([fix, fresh[is_insert]], ignore_index=True)
            sym = str(u.syms[u.draw(rr, 1)[0]])
            hi = gen.DAY_OPEN_NS + (r + 1) * self.RETENTION_STEP_NS
            probes = self._probes(rr, init, app, ups, sym, hi)
            self.plan.append(
                {
                    "append": self._write(root, f"append_{r}", app),
                    "upsert": self._write(root, f"upsert_{r}", ups),
                    "append_rows": app,
                    "upsert_rows": ups,
                    "delete": (sym, gen.DAY_OPEN_NS, hi),
                    "probes": probes,
                }
            )
        path = self._write(root, "initial", init)
        self.ws = Workspace(spark, os.path.join(root, "ws"))
        self.ws.save("ticks", spark.read.parquet(path), key=KEY)
        self.model = TickModel(init)

    @staticmethod
    def _probes(rng, init, app, ups, sym, hi) -> list[list[tuple[str, int]]]:
        """Three key sets for the round's lookups: fresh rows, corrected
        rows, and rows either side of the retention cut, each mixed with
        random keys of the initial load (some already deleted)."""

        def keys(frame, k):
            take = frame.iloc[rng.choice(len(frame), size=min(k, len(frame)), replace=False)]
            return [(str(s), int(t)) for s, t in zip(take["sym"], take["ts_ns"])]

        near = init[init["sym"] == sym]
        near = near.iloc[(near["ts_ns"] - hi).abs().argsort()[:10]]
        return [keys(app, 10) + keys(init, 10), keys(ups, 10) + keys(init, 10), keys(near, 10) + keys(init, 10)]

    def round(self, r: int) -> list[Op]:
        if r >= len(self.plan):
            return []
        step = self.plan[r]
        return [
            self._append(step),
            self._lookup(step["probes"][0]),
            self._upsert(step),
            self._lookup(step["probes"][1]),
            self._delete(step["delete"]),
            self._lookup(step["probes"][2]),
        ]

    def _write_op(self, kind: str, call, rows: int) -> Any:
        if not self.ctx.tracer:
            return call()
        before = _table_files(self.ws, "ticks")
        j0 = self.ctx.tracer.probe.next_job_id()
        with self.ctx.tracer.span(f"catalog.{kind}"):
            out = call()
        self.ctx.add(f"catalog.jobs_{kind}", self.ctx.tracer.probe.next_job_id() - j0)
        new = {p: s for p, s in _table_files(self.ws, "ticks").items() if p not in before}
        self.ctx.add("catalog.files_written", len(new))
        self.ctx.add("catalog.bytes_written", sum(new.values()))
        self.ctx.add("catalog.rows_written", rows)
        return out

    def _append(self, step) -> Op:
        def run():
            rows = self.ctx.spark.read.parquet(step["append"])
            return self._write_op("append", lambda: self.ws.append("ticks", rows), len(step["append_rows"]))

        def check(_):
            self.model.append(step["append_rows"])
            return True

        return Op("append", run, check)

    def _upsert(self, step) -> Op:
        def run():
            rows = self.ctx.spark.read.parquet(step["upsert"])
            return self._write_op("upsert", lambda: self.ws.upsert("ticks", rows), len(step["upsert_rows"]))

        def check(_):
            self.model.upsert(step["upsert_rows"])
            return True

        return Op("upsert", run, check)

    def _delete(self, bounds) -> Op:
        sym, lo, hi = bounds

        def run():
            return self._write_op("delete", lambda: self.ws.delete_range("ticks", (sym, lo), (sym, hi)), 0)

        def check(deleted):
            return deleted == self.model.delete_range(sym, lo, hi)

        return Op("delete", run, check)

    def _lookup(self, keys) -> Op:
        def run():
            df = self.ws.key_lookup("ticks", keys)
            if self.ctx.tracer:
                self.ctx.add("catalog.lookup_files", len(df.inputFiles()))
                self.ctx.add("catalog.lookups", 1)
            return self.ctx.collect(df)

        def check(got):
            return frames_match(got, self.model.lookup(keys), list(KEY))

        return Op("lookup", run, check)

    def finish(self) -> tuple[bool, dict[str, float]]:
        want = self.model.frame()
        ok = frames_match(self.ws.load("ticks").toPandas(), want, list(KEY))
        return ok, _table_state(self.ws, "ticks", len(want))


# --------------------------------------------------------------------------
class FolioGather(Workload):
    """One client fanning statements over three co-sharded members."""

    MEMBERS = 3
    #: the statements' time range (a round is about 2.6 s)
    WINDOW_HOURS = 1.0

    def __init__(self, ctx: Ctx):
        super().__init__(ctx, p50_kinds=("folio_agg", "folio_median", "folio_asof"))
        self.servers: list = []
        self.oracle = None

    def build(self, root: str) -> None:
        from kerf_spark.server import KerfServer

        spark, c = self.ctx.spark, self.ctx
        self.universe, trades, quotes = gen.day(c.seed, gen.Sizes(trades=c.n(120_000), quotes=c.n(160_000)))
        quotes = quotes[["sym", "sym_id", "ts_ns", "qseq", "bid", "ask"]]
        for i in range(self.MEMBERS):
            t = self._write(root, f"trades_m{i}", trades[trades["sym_id"] % self.MEMBERS == i])
            q = self._write(root, f"quotes_m{i}", quotes[quotes["sym_id"] % self.MEMBERS == i])
            srv = KerfServer(spark, tables={"trades": spark.read.parquet(t), "quotes": spark.read.parquet(q)})
            self.servers.append(srv.start())
        self.addrs = [s.address for s in self.servers]
        self.oracle = Oracle(trades=trades, quotes=quotes)

    def round(self, r: int) -> list[Op]:
        lo, hi = _day_window(self.ctx.seed, 300, r, self.WINDOW_HOURS)
        return [self._agg(lo, hi), self._median(lo, hi), self._asof(lo, hi)]

    def _statement(self, fn, q: str):
        if not self.ctx.tracer:
            return self.ctx.collect(fn(self.ctx.spark, self.addrs, q))
        with self.ctx.tracer.span(f"server.{fn.__name__}"):
            return self.ctx.collect(fn(self.ctx.spark, self.addrs, q))

    def _agg(self, lo: int, hi: int) -> Op:
        from kerf_spark.server import folio_select

        q = (
            "select sym, n: count(*), vol: sum(qty), apx: avg(px), lo: min(px), hi: max(px)"
            f" from trades where ts_ns >= {lo} and ts_ns < {hi} group by sym"
        )

        def check(got):
            want = self.oracle.query(
                "SELECT sym, count(*) AS n, sum(qty) AS vol, avg(px) AS apx, min(px) AS lo, max(px) AS hi"
                f" FROM trades WHERE ts_ns >= {lo} AND ts_ns < {hi} GROUP BY sym"
            )
            return frames_match(got, want, ["sym"], approx=("apx",))

        return Op("folio_agg", lambda: self._statement(folio_select, q), check)

    def _median(self, lo: int, hi: int) -> Op:
        from kerf_spark.server import folio_select

        q = (
            "select sym, mq: median(qty), mpx: median(px) from trades"
            f" where ts_ns >= {lo} and ts_ns < {hi} group by sym"
        )

        def check(got):
            want = self.oracle.query(
                "SELECT sym, median(qty) AS mq, median(px) AS mpx"
                f" FROM trades WHERE ts_ns >= {lo} AND ts_ns < {hi} GROUP BY sym"
            )
            return frames_match(got, want, ["sym"], approx=("mpx",))

        return Op("folio_median", lambda: self._statement(folio_select, q), check)

    def _asof(self, lo: int, hi: int) -> Op:
        from kerf_spark.server import folio_asof

        q = (
            "select sym, ts_ns, trade_id, qseq, bid from trades asof join quotes on sym, ts_ns"
            f" where ts_ns >= {lo} and ts_ns < {hi}"
        )

        def check(got):
            want = self.oracle.query(
                "SELECT t.sym, t.ts_ns, t.trade_id, q.qseq, q.bid FROM trades t ASOF LEFT JOIN quotes q"
                f" ON t.sym = q.sym AND t.ts_ns >= q.ts_ns WHERE t.ts_ns >= {lo} AND t.ts_ns < {hi}"
            )
            return frames_match(got, want, list(KEY))

        return Op("folio_asof", lambda: self._statement(folio_asof, q), check)

    def close(self) -> None:
        from kerf_spark import server

        addrs = {(h, int(p)) for h, p in (s.address for s in self.servers)}
        with server._CLIENT_POOL_LOCK:
            idle = [c for a in addrs for c in server._CLIENT_POOL.pop(a, [])]
        for cli in idle:
            cli.close()
        for srv in self.servers:
            srv.stop()
        self.servers.clear()
        if self.oracle:
            self.oracle.close()
            self.oracle = None


WORKLOADS = {
    "tick_analytics": TickAnalytics,
    "tick_ingest": TickIngest,
    "folio_gather": FolioGather,
}
