"""Materialized incremental rollups (sources.rollup): the continuous-
aggregate contract — incremental refresh == full rebuild, crash-replay
idempotence, touched-partition-only writes, storage-level range reads.
"""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kerf_spark.errors import ArgsError
from kerf_spark.functions.temporal import DAY, HOUR, MINUTE, span_ns, ts_to_ns
from kerf_spark.sources import ledger as LG
from kerf_spark.sources import rollup as RU


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path / "rollup")


def _events(spark, sf="/root/testdata/sf0.001"):
    return spark.read.parquet(f"{sf}/events.parquet")


def _bars(spark, path):
    return RU.read_rollup(spark, path).orderBy("event_type", "bucket_ns")


def _full(spark, ev, path):
    RU.create_rollup(
        ev, path, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    return _bars(spark, path).collect()


def test_incremental_equals_full_over_three_refreshes(spark, tmp):
    ev = _events(spark)
    full = _full(spark, ev, tmp + "/full")
    # three time-ordered chunks (the tick-append shape)
    qs = ev.select(ts_to_ns("ts").alias("t")).selectExpr(
        "percentile(t, 0.4) a", "percentile(t, 0.8) b"
    ).head()
    a, b = int(qs["a"]), int(qs["b"])
    path = tmp + "/inc"
    RU.create_rollup(
        ev.where(ts_to_ns("ts") < a), path, time_col="ts",
        keys=["event_type"], values=["value"], width_ns=span_ns(5, "m"),
    )
    r1 = RU.refresh_rollup(spark, path, ev.where(ts_to_ns("ts") < b))
    r2 = RU.refresh_rollup(spark, path, ev)
    assert r1["rows"] > 0 and r2["rows"] > 0
    assert _bars(spark, path).collect() == full
    # the epoch ledger recorded each refresh
    assert [e["epoch"] for e in RU.rollup_meta(path)["epochs"]] == [0, 1, 2]


def test_empty_refresh_is_noop_and_watermark_advances(spark, tmp):
    ev = _events(spark)
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    w = RU.rollup_meta(tmp)["watermark_ns"]
    assert w == ev.agg(F.max(ts_to_ns("ts"))).head()[0] + 1
    res = RU.refresh_rollup(spark, tmp, ev)
    assert res == {"rows": 0, "parts": [], "watermark_ns": w}
    assert len(RU.rollup_meta(tmp)["epochs"]) == 1  # no epoch written


def test_create_on_empty_then_refresh_everything(spark, tmp):
    ev = _events(spark)
    full = _full(spark, ev, tmp + "/full")
    path = tmp + "/inc"
    RU.create_rollup(
        ev.where(F.lit(False)), path, time_col="ts",
        keys=["event_type"], values=["value"], width_ns=span_ns(5, "m"),
    )
    # empty rollup reads first-class (schema lives in the sidecar)
    assert RU.read_rollup(spark, path).count() == 0
    RU.refresh_rollup(spark, path, ev)
    assert _bars(spark, path).collect() == full


def _crash_case(spark, kind):
    """``(source, time-ns column, create(df, path), read(path), meta,
    refresh, backfill)`` for one epoch-ledger kind."""
    from kerf_spark.sources import matview as MV

    if kind == "rollup":
        def create(df, path):
            RU.create_rollup(
                df, path, time_col="ts", keys=["event_type"],
                values=["value"], width_ns=span_ns(5, "m"),
            )

        return (
            _events(spark), ts_to_ns("ts"), create,
            lambda path: _bars(spark, path).collect(),
            RU.rollup_meta, RU.refresh_rollup, RU.backfill_rollup,
        )
    from conftest import SF_DIR

    fact = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumnRenamed(
        "l_partkey", "p_partkey"
    )
    dim = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand", "p_type"
    )

    def create(df, path):
        MV.create_enrich_view(
            df, dim, path, on=["p_partkey"], time_col="l_shipdate"
        )

    return (
        fact, ts_to_ns("l_shipdate"), create,
        lambda path: sorted(
            tuple(r) for r in MV.read_enrich_view(spark, path).collect()
        ),
        MV.matview_meta, MV.refresh_enrich_view, MV.backfill_enrich_view,
    )


@pytest.mark.parametrize("op", ["refresh", "backfill"])
@pytest.mark.parametrize("kind", ["rollup", "matview"])
def test_crash_replay_is_idempotent(spark, tmp, monkeypatch, kind, op):
    """A refresh or backfill that dies at its sidecar commit — epoch
    dir on disk, sidecar not swapped — leaves readers on the old state,
    and its replay converges to a clean run: the sidecar is the only
    thing readers trust, and the replayed epoch overwrites its dir."""
    src, t, create, read, meta, refresh, backfill = _crash_case(spark, kind)
    create(src, tmp + "/full")
    clean = read(tmp + "/full")
    qs = src.select(t.alias("t")).selectExpr(
        "percentile(t, 0.4) a", "percentile(t, 0.6) b"
    ).head()
    a, b = int(qs["a"]), int(qs["b"])
    path = tmp + "/crash"
    if op == "refresh":
        create(src.where(t < b), path)
        fold = lambda: refresh(spark, path, src)  # noqa: E731
    else:  # withhold a slice from the MIDDLE of the range: late rows
        late = (t >= a) & (t < b)
        create(src.where(~late), path)
        fold = lambda: backfill(spark, path, src.where(late))  # noqa: E731
    pre, pre_rows = meta(path), read(path)

    def boom(*args, **kwargs):
        raise OSError("crash at the sidecar commit")

    monkeypatch.setattr(LG, "_write_sidecar", boom)
    with pytest.raises(OSError, match="sidecar commit"):
        fold()
    monkeypatch.undo()
    epoch_dir = os.path.join(
        path, "bars" if kind == "rollup" else "rows",
        f"epoch={len(pre['epochs'])}",
    )
    assert os.path.isdir(epoch_dir)  # the crash left the epoch on disk
    assert meta(path) == pre and read(path) == pre_rows
    assert fold()["rows"] > 0  # the replay
    assert read(path) == clean


@pytest.mark.parametrize("kind", ["rollup", "matview"])
def test_null_times_are_refused_before_any_write(spark, tmp, kind):
    """A NULL time has no partition: create refuses it with an
    ArgsError and leaves no tree and no sidecar; backfill refuses it
    and leaves the ledger and the trees as they were."""
    src, t, create, read, meta, refresh, backfill = _crash_case(spark, kind)
    tc = {"rollup": "ts", "matview": "l_shipdate"}[kind]
    tree = {"rollup": "bars", "matview": "rows"}[kind]
    nulled = src.withColumn(
        tc, F.when(F.abs(F.hash(*src.columns)) % 10 == 0, None).otherwise(F.col(tc))
    )
    path = tmp + "/create"
    with pytest.raises(ArgsError, match="NULL"):
        create(nulled, path)
    assert os.listdir(path) == []

    a = int(src.select(t.alias("t")).selectExpr("percentile(t, 0.5) a").head()["a"])
    path = tmp + "/backfill"
    create(src.where(t >= a), path)
    pre, pre_rows = meta(path), read(path)
    with pytest.raises(ArgsError, match="NULL"):
        backfill(spark, path, nulled.where(t.isNull() | (t < a)))
    assert meta(path) == pre and read(path) == pre_rows
    assert os.listdir(os.path.join(path, tree)) == ["epoch=0"]


def test_untouched_partitions_are_not_rewritten(spark, tmp):
    """The incremental story: a refresh rewrites only the partitions
    its increment touches — early days' files are byte-identical
    (same paths, same mtimes)."""
    ev = _events(spark)
    qs = ev.select(ts_to_ns("ts").alias("t")).selectExpr(
        "percentile(t, 0.9) a"
    ).head()
    a = int(qs["a"])
    RU.create_rollup(
        ev.where(ts_to_ns("ts") < a), tmp, time_col="ts",
        keys=["event_type"], values=["value"], width_ns=span_ns(5, "m"),
    )
    e0 = os.path.join(tmp, "bars", "epoch=0")
    before = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(e0)
        for f in fs
    }
    res = RU.refresh_rollup(spark, tmp, ev)
    after = {
        os.path.join(dp, f): os.path.getmtime(os.path.join(dp, f))
        for dp, _, fs in os.walk(e0)
        for f in fs
    }
    assert before == after  # epoch 0 untouched byte-for-byte
    # and the touched-partition list is the increment's day span only
    inc_days = sorted(
        r[0]
        for r in ev.where(ts_to_ns("ts") >= a)
        .select((ts_to_ns("ts") - F.pmod(ts_to_ns("ts"), F.lit(DAY))))
        .distinct()
        .collect()
    )
    assert res["parts"] == inc_days


def test_range_read_opens_only_overlapping_partitions(spark, tmp):
    ev = _events(spark)
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    all_files = set(RU.read_rollup(spark, tmp).inputFiles())
    days = sorted(
        {p for p in LG._resolution(RU.rollup_meta(tmp))}
    )
    assert len(days) > 2
    lo = days[len(days) // 2]
    sub = RU.read_rollup(spark, tmp, lo_ns=lo)
    sub_files = set(sub.inputFiles())
    # storage-level pruning: strictly fewer files opened
    assert sub_files < all_files
    rows = sub.collect()
    assert rows and all(r["bucket_ns"] >= lo for r in rows)


def test_partials_exactness_and_finalize_columns(spark, tmp):
    """cnt/min/max/open/close and INTEGER sums are associativity-immune
    — bit-equal between incremental and full — and open/close break
    timestamp ties by value, deterministically."""
    rows = [
        # one bucket, tied timestamps: open = min (t, v), close = max
        (1000, "a", 5), (1000, "a", 3), (1000, "a", 7),
        (2000, "a", 1),
        # second key
        (1500, "b", 4),
    ]
    df = spark.createDataFrame(rows, "tns long, k string, v long")
    RU.create_rollup(
        df.where(F.col("tns") < 1500), tmp, time_col="tns", keys=["k"],
        values=["v"], width_ns=MINUTE, part_width_ns=HOUR,
    )
    RU.refresh_rollup(spark, tmp, df)
    got = {
        (r["k"],): r
        for r in RU.read_rollup(spark, tmp).collect()
    }
    ra, rb = got[("a",)], got[("b",)]
    assert ra["cnt"] == 4 and ra["v_sum"] == 16  # long-exact
    assert ra["v_min"] == 1 and ra["v_max"] == 7
    assert ra["v_open"] == 3   # tie at t=1000 -> smallest value
    assert ra["v_close"] == 1  # t=2000 is latest
    assert ra["v_avg"] == 4.0
    assert rb["cnt"] == 1 and rb["v_open"] == rb["v_close"] == 4


def test_compact_folds_epochs_and_is_idempotent(spark, tmp):
    ev = _events(spark)
    full = _full(spark, ev, tmp + "/full")
    qs = ev.select(ts_to_ns("ts").alias("t")).selectExpr(
        "percentile(t, 0.5) a"
    ).head()
    a = int(qs["a"])
    path = tmp + "/inc"
    RU.create_rollup(
        ev.where(ts_to_ns("ts") < a), path, time_col="ts",
        keys=["event_type"], values=["value"], width_ns=span_ns(5, "m"),
    )
    RU.refresh_rollup(spark, path, ev)
    assert len(RU.rollup_meta(path)["epochs"]) == 2
    RU.compact_rollup(spark, path)
    meta = RU.rollup_meta(path)
    assert [e["epoch"] for e in meta["epochs"]] == [0]
    assert _bars(spark, path).collect() == full
    # idempotent, and refresh keeps working after a compaction
    RU.compact_rollup(spark, path)
    assert _bars(spark, path).collect() == full
    assert RU.refresh_rollup(spark, path, ev)["rows"] == 0


def test_create_rejects_bad_spec(spark, tmp):
    ev = _events(spark)
    with pytest.raises(ArgsError, match="positive"):
        RU.create_rollup(
            ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
            width_ns=0,
        )
    with pytest.raises(ArgsError, match="multiple"):
        RU.create_rollup(
            ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
            width_ns=7 * MINUTE, part_width_ns=DAY,
        )
    with pytest.raises(ArgsError, match="key or value"):
        RU.create_rollup(
            ev, tmp, time_col="ts", keys=[], values=[], width_ns=MINUTE,
        )


def test_format_mismatch_refuses_loudly(spark, tmp):
    import json

    ev = _events(spark)
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    meta = RU.rollup_meta(tmp)
    meta["format"] = RU.FORMAT + 1
    with open(os.path.join(tmp, RU._META), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ArgsError, match="format"):
        RU.read_rollup(spark, tmp)


def test_create_clears_previous_rollup_life(spark, tmp):
    """Build hygiene (the annindex._clear_derived discipline): a
    re-create must not union stale epochs from the previous life."""
    ev = _events(spark)
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    RU.refresh_rollup(spark, tmp, ev)  # no-op, but exercise the path
    # re-create on HALF the data: old epoch-0 (full) must be gone
    half = ev.where(F.col("event_id") % 2 == 0)
    RU.create_rollup(
        half, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    n_half = RU.read_rollup(spark, tmp).agg(F.sum("cnt")).head()[0]
    assert n_half == half.count()


def test_stream_sink_folds_batches_and_replay_is_noop(spark, tmp):
    """rollup_stream_sink: two micro-batches == full build; replaying
    an epoch is a no-op (its rows sit behind the watermark)."""
    ev = _events(spark)
    full = _full(spark, ev, tmp + "/full")
    qs = ev.select(ts_to_ns("ts").alias("t")).selectExpr(
        "percentile(t, 0.3) a", "percentile(t, 0.7) b"
    ).head()
    a, b = int(qs["a"]), int(qs["b"])
    path = tmp + "/inc"
    RU.create_rollup(
        ev.where(ts_to_ns("ts") < a), path, time_col="ts",
        keys=["event_type"], values=["value"], width_ns=span_ns(5, "m"),
    )
    sink = RU.rollup_stream_sink(spark, path)
    b1 = ev.where((ts_to_ns("ts") >= a) & (ts_to_ns("ts") < b))
    b2 = ev.where(ts_to_ns("ts") >= b)
    sink(b1, 0)
    sink(b1, 0)  # crash replay: same batch re-delivered
    sink(b2, 1)
    assert _bars(spark, path).collect() == full
    # the replay added no epoch (empty refresh short-circuits)
    assert len(RU.rollup_meta(path)["epochs"]) == 3


def test_workspace_registers_rollup_as_index_citizen(spark, tmp):
    from kerf_spark.sources.catalog import Workspace

    ev = _events(spark)
    path = tmp + "/r"
    RU.create_rollup(
        ev, path, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    ws = Workspace(spark, tmp + "/ws")
    entry = ws.register_index("bars5m", path)
    assert entry["kind"] == "rollup"
    assert ws.index_path("bars5m") == path
    # reopen: the pointer persists
    ws2 = Workspace(spark, tmp + "/ws")
    assert "bars5m" in ws2.indexes()


def test_backfill_folds_late_rows_and_refuses_fresh_ones(spark, tmp):
    """Late data behind the watermark folds in via backfill_rollup;
    the result equals a full build over everything, and rows at/after
    the watermark are refused (they belong to refresh)."""
    ev = _events(spark)
    full = _full(spark, ev, tmp + "/full")
    # withhold a slice from the MIDDLE of the time range (late data)
    qs = ev.select(ts_to_ns("ts").alias("t")).selectExpr(
        "percentile(t, 0.4) a", "percentile(t, 0.5) b"
    ).head()
    a, b = int(qs["a"]), int(qs["b"])
    late = ev.where((ts_to_ns("ts") >= a) & (ts_to_ns("ts") < b))
    on_time = ev.where((ts_to_ns("ts") < a) | (ts_to_ns("ts") >= b))
    assert late.count() > 0
    path = tmp + "/inc"
    RU.create_rollup(
        on_time, path, time_col="ts", keys=["event_type"],
        values=["value"], width_ns=span_ns(5, "m"),
    )
    w = RU.rollup_meta(path)["watermark_ns"]
    res = RU.backfill_rollup(spark, path, late)
    assert res["rows"] == late.count()
    assert RU.rollup_meta(path)["watermark_ns"] == w  # unmoved
    assert _bars(spark, path).collect() == full
    # rows at/after the watermark are refused
    future = ev.limit(5).withColumn("ts", F.expr("ts + INTERVAL 30 DAYS"))
    with pytest.raises(ArgsError, match="at/after the watermark"):
        RU.backfill_rollup(spark, path, future)
    # empty backfill is a no-op
    assert RU.backfill_rollup(spark, path, late.where(F.lit(False))) == {
        "rows": 0, "parts": [],
    }


def test_property_incremental_equals_full_random_multisets(spark, tmp):
    """Hypothesis: for ANY multiset of (ts, key, value) rows and ANY
    ordered split into create/refresh chunks, incremental == full —
    over the exact columns (cnt/min/max/int-sum/open/close)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows_st = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10 * 60 * 10**9),  # ts ns
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=0,
        max_size=30,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rows=rows_st, frac=st.floats(min_value=0.0, max_value=1.0))
    def check(rows, frac):
        import shutil as _sh

        _sh.rmtree(tmp, ignore_errors=True)
        df = spark.createDataFrame(
            rows, "tns long, k string, v long"
        ) if rows else spark.createDataFrame([], "tns long, k string, v long")
        cut = int(sorted(r[0] for r in rows)[int(frac * (len(rows) - 1))]) if rows else 0
        RU.create_rollup(
            df.where(F.col("tns") < cut), tmp + "/i", time_col="tns",
            keys=["k"], values=["v"], width_ns=MINUTE, part_width_ns=HOUR,
        )
        RU.refresh_rollup(spark, tmp + "/i", df)
        RU.create_rollup(
            df, tmp + "/f", time_col="tns", keys=["k"], values=["v"],
            width_ns=MINUTE, part_width_ns=HOUR,
        )
        cols = ["k", "bucket_ns", "cnt", "v_min", "v_max", "v_sum",
                "v_open", "v_close"]
        gi = [tuple(r) for r in RU.read_rollup(spark, tmp + "/i")
              .select(cols).orderBy("k", "bucket_ns").collect()]
        gf = [tuple(r) for r in RU.read_rollup(spark, tmp + "/f")
              .select(cols).orderBy("k", "bucket_ns").collect()]
        assert gi == gf

    check()


HIST = {"col": "value", "lo": 0.0, "hi": 1000.0, "n_bins": 64}


def test_hist_rollup_matches_sketch_module_bitwise(spark, tmp):
    """The embedded per-bar histogram answers quantiles exactly like
    the standalone sketches.hist_build/hist_quantile pipeline over the
    same grouping — same bins, same rank rule, same interpolation."""
    from kerf_spark.operators import sketches as SK
    from kerf_spark.functions.temporal import xbar

    ev = _events(spark)
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(60, "m"), hist=HIST,
    )
    got = {
        (r["event_type"], r["bucket_ns"]): r["q50"]
        for r in RU.rollup_quantile(spark, tmp, 0.5, out="q50").collect()
    }
    base = ev.select(
        "event_type",
        xbar(ts_to_ns("ts"), span_ns(60, "m")).alias("bucket_ns"),
        "value",
    )
    hist = SK.hist_build(
        base, "value", 0.0, 1000.0, 64, by=("event_type", "bucket_ns")
    )
    want = {
        (r["event_type"], r["bucket_ns"]): r["q50"]
        for r in SK.hist_quantile(
            hist, 0.5, 0.0, 1000.0, 64,
            by=("event_type", "bucket_ns"), out="q50",
        ).collect()
    }
    assert got == want


def test_hist_rollup_incremental_and_compact_equal_full(spark, tmp):
    ev = _events(spark)
    RU.create_rollup(
        ev, tmp + "/full", time_col="ts", keys=["event_type"],
        values=["value"], width_ns=span_ns(60, "m"), hist=HIST,
    )
    full = [
        tuple(r)
        for r in RU.rollup_quantile(spark, tmp + "/full", 0.9, out="q")
        .orderBy("event_type", "bucket_ns").collect()
    ]
    med = int(
        ev.select(ts_to_ns("ts").alias("t"))
        .selectExpr("percentile(t, 0.7) p").head()["p"]
    )
    path = tmp + "/inc"
    RU.create_rollup(
        ev.where(ts_to_ns("ts") < med), path, time_col="ts",
        keys=["event_type"], values=["value"],
        width_ns=span_ns(60, "m"), hist=HIST,
    )
    RU.refresh_rollup(spark, path, ev)
    q = lambda: [
        tuple(r)
        for r in RU.rollup_quantile(spark, path, 0.9, out="q")
        .orderBy("event_type", "bucket_ns").collect()
    ]
    assert q() == full  # integer bin merges: bitwise
    RU.compact_rollup(spark, path)
    assert q() == full


def test_hist_spec_validation_and_missing_hist_refusal(spark, tmp):
    ev = _events(spark)
    with pytest.raises(ArgsError, match="missing"):
        RU.create_rollup(
            ev, tmp, time_col="ts", keys=[], values=["value"],
            width_ns=MINUTE, hist={"col": "value"},
        )
    with pytest.raises(ArgsError, match="one of values"):
        RU.create_rollup(
            ev, tmp, time_col="ts", keys=[], values=["value"],
            width_ns=MINUTE,
            hist={"col": "nope", "lo": 0, "hi": 1, "n_bins": 4},
        )
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(60, "m"),
    )
    with pytest.raises(ArgsError, match="no histogram"):
        RU.rollup_quantile(spark, tmp, 0.5)
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(60, "m"), hist=HIST,
    )
    with pytest.raises(ArgsError, match="quantile must be"):
        RU.rollup_quantile(spark, tmp, 0.0)


def test_drop_rollup_range_retention(spark, tmp):
    """Retention: partitions older than the horizon vanish from reads
    (metadata-first commit) and their directories are gone; the tail
    keeps refreshing normally."""
    ev = _events(spark)
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    days = sorted(LG._resolution(RU.rollup_meta(tmp)))
    assert len(days) > 2
    cut = days[2]  # drop the two oldest days
    res = RU.drop_rollup_range(spark, tmp, cut)
    assert res["parts_dropped"] == 2
    rows = RU.read_rollup(spark, tmp).collect()
    assert rows and min(r["bucket_ns"] for r in rows) >= cut
    # the dropped leaf dirs are gone from disk
    for p in days[:2]:
        assert not os.path.exists(RU._LEDGER.leaf(tmp, 0, p))
    # idempotent; refresh still a clean no-op
    assert RU.drop_rollup_range(spark, tmp, cut) == {"parts_dropped": 0}
    assert RU.refresh_rollup(spark, tmp, ev)["rows"] == 0


def test_workspace_attached_rollup_auto_refreshes(spark, tmp):
    """The hypertable UX: a rollup attached to a workspace table folds
    every append in automatically, and an upsert (history rewrite)
    rebuilds it — both end-states equal a fresh rollup over the
    table's current contents."""
    from kerf_spark.sources.catalog import Workspace

    ev = _events(spark)
    qs = ev.select(ts_to_ns("ts").alias("t")).selectExpr(
        "percentile(t, 0.7) a"
    ).head()
    a = int(qs["a"])
    ws = Workspace(spark, tmp + "/ws")
    ws.save("ticks", ev.where(ts_to_ns("ts") < a))
    ws.attach_rollup(
        "ticks", "bars5m", time_col="ts", keys=["event_type"],
        values=["value"], width_ns=span_ns(5, "m"),
    )
    assert ws.rollups() == ["bars5m"] and ws.rollups("ticks") == ["bars5m"]
    path = ws.rollup_path("bars5m")

    ws.append("ticks", ev.where(ts_to_ns("ts") >= a))
    got = _bars(spark, path).collect()
    want = _full(spark, ws.load("ticks"), tmp + "/fresh1")
    assert got == want  # append auto-folded the tail

    # upsert rewrites history -> attached rollup rebuilds
    bump = ev.limit(50).withColumn("value", F.col("value") + 1000.0)
    ws.upsert("ticks", bump, keys=["event_id"])
    got2 = _bars(spark, path).collect()
    want2 = _full(spark, ws.load("ticks"), tmp + "/fresh2")
    assert got2 == want2
    # reopened workspace still knows the attachment
    ws2 = Workspace(spark, tmp + "/ws")
    assert ws2.rollups() == ["bars5m"]
    ws2.detach_rollup("bars5m", delete=True)
    assert ws2.rollups() == [] and not os.path.exists(path)


def test_workspace_append_survives_stale_rollup_format(spark, tmp):
    """ADVICE r9 (rollup.py:86): a FORMAT bump must not wedge appends
    on workspaces whose attached rollup predates it — the maintenance
    hook catches the format refusal and REBUILDS the rollup from the
    base table (the correctness-over-cost path upsert takes), so the
    append lands and the rollup agrees with a fresh one."""
    import json

    from kerf_spark.sources.catalog import Workspace

    ev = _events(spark)
    qs = ev.select(ts_to_ns("ts").alias("t")).selectExpr(
        "percentile(t, 0.7) a"
    ).head()
    a = int(qs["a"])
    ws = Workspace(spark, tmp + "/ws")
    ws.save("ticks", ev.where(ts_to_ns("ts") < a))
    ws.attach_rollup(
        "ticks", "bars5m", time_col="ts", keys=["event_type"],
        values=["value"], width_ns=span_ns(5, "m"),
    )
    path = ws.rollup_path("bars5m")
    # simulate a workspace written by OLDER code: stamp format 1
    mp = os.path.join(path, "rollup.json")
    with open(mp) as fh:
        meta = json.load(fh)
    meta["format"] = 1
    with open(mp, "w") as fh:
        json.dump(meta, fh)
    # the append must SUCCEED (not raise the format refusal) ...
    ws.append("ticks", ev.where(ts_to_ns("ts") >= a))
    assert ws.load("ticks").count() == ev.count()
    # ... and the rollup is rebuilt at the current format, correct
    with open(mp) as fh:
        assert json.load(fh)["format"] == RU.FORMAT
    got = _bars(spark, path).collect()
    want = _full(spark, ws.load("ticks"), tmp + "/fresh_fmt")
    assert got == want


def test_append_backfill_uses_stored_rows_not_caller_plan(spark, tmp):
    """ADVICE r9 (catalog.py:671): the maintenance increment is read
    back from the files the append just wrote, never the caller's lazy
    plan — a nondeterministic source (rand()) would otherwise backfill
    rows that differ from what was stored.  Proven two ways: the
    captured increment's input files are exactly the post-append file
    diff, and an actual rand()-valued late append leaves the rollup
    equal to a fresh rollup over the stored table."""
    from kerf_spark.sources.catalog import Workspace

    ev = _events(spark)
    qs = ev.select(ts_to_ns("ts").alias("t")).selectExpr(
        "percentile(t, 0.7) a"
    ).head()
    a = int(qs["a"])
    ws = Workspace(spark, tmp + "/ws2")
    ws.save("ticks", ev.where(ts_to_ns("ts") < a))
    ws.attach_rollup(
        "ticks", "bars5m", time_col="ts", keys=["event_type"],
        values=["value"], width_ns=span_ns(5, "m"),
    )
    # a LATE batch (behind the watermark) whose value column is
    # NONDETERMINISTIC: every re-evaluation of the plan draws fresh
    tpath = ws.manifest["tables"]["ticks"]["path"]
    pre = {
        os.path.join(d, f)
        for d, _, fs in os.walk(tpath) for f in fs
        if f.endswith(".parquet")
    }
    late = (
        ev.where(ts_to_ns("ts") < a).limit(37)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
        .withColumn("value", F.rand() * 1000.0)
    )
    ws.append("ticks", late)
    post = {
        os.path.join(d, f)
        for d, _, fs in os.walk(tpath) for f in fs
        if f.endswith(".parquet")
    }
    assert post - pre  # the append created files
    # the rollup folded the STORED values: it equals a fresh rollup
    # over the table as persisted (a re-evaluated rand() plan would
    # disagree with probability ~1)
    got = _bars(spark, ws.rollup_path("bars5m")).collect()
    want = _full(spark, ws.load("ticks"), tmp + "/fresh_nd")
    assert got == want


def test_refresh_tail_scan_predicate_is_pushed_down(spark, tmp):
    """The refresh's O(increment) cost claim, plan-asserted: the
    watermark predicate reaches the parquet scan as a PushedFilter on
    the raw time column — for the TIMESTAMP kind (literal converted to
    the column's type) and the epoch-ns LONG kind alike."""
    ev = _events(spark)  # TIMESTAMP_NTZ ts
    RU.create_rollup(
        ev, tmp + "/t", time_col="ts", keys=["event_type"],
        values=["value"], width_ns=span_ns(5, "m"),
    )
    inc = LG._increment(ev, RU.rollup_meta(tmp + "/t"))
    plan = inc._jdf.queryExecution().executedPlan().toString()
    seg = plan[plan.index("PushedFilters"):][:200]
    assert "GreaterThanOrEqual(ts" in seg, seg
    # long-ns kind (the engine's post-read-edge convention)
    evl = ev.select(ts_to_ns("ts").alias("ts"), "event_type", "value")
    p2 = tmp + "/l"
    RU.create_rollup(
        evl, p2, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    # persist as parquet so there is a scan to push into
    evl.write.mode("overwrite").parquet(tmp + "/src")
    src = spark.read.parquet(tmp + "/src")
    inc2 = LG._increment(src, RU.rollup_meta(p2))
    plan2 = inc2._jdf.queryExecution().executedPlan().toString()
    seg2 = plan2[plan2.index("PushedFilters"):][:200]
    assert "GreaterThanOrEqual(ts" in seg2, seg2


def test_quantile_plan_is_windowless(spark, tmp):
    """rollup_quantile's scale claim: the per-bar estimate is an array
    fold — no Window operator, no extra Exchange beyond the bars read
    itself."""
    ev = _events(spark)
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(60, "m"), hist=HIST,
    )
    q = RU.rollup_quantile(spark, tmp, 0.5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "Exchange" not in plan  # pure per-row projection over the read


def test_width_promotion_between_create_and_refresh(spark, tmp):
    """The promote-on-append discipline for derived artifacts
    (layout.cc:726-934 applied to rollups): a source whose value
    column widened smallint→bigint between create and refresh widens
    the artifact schema; the narrow epoch 0 stays on disk and widens
    at read — no PARQUET_COLUMN_DATA_TYPE_MISMATCH, values exact."""
    narrow = spark.createDataFrame(
        [(1000, "a", 5), (2000, "a", 7)], "tns long, k string, v long"
    ).select("tns", "k", F.col("v").cast("smallint").alias("v"))
    wide = spark.createDataFrame(
        [(90_000_000_000, "a", 100000)], "tns long, k string, v long"
    )
    RU.create_rollup(
        narrow, tmp, time_col="tns", keys=["k"], values=["v"],
        width_ns=MINUTE, part_width_ns=HOUR,
    )
    RU.refresh_rollup(spark, tmp, narrow.unionByName(wide))
    rows = {r["bucket_ns"]: r for r in RU.read_rollup(spark, tmp).collect()}
    assert rows[0]["v_sum"] == 12 and rows[0]["v_min"] == 5
    assert rows[60_000_000_000]["v_max"] == 100000  # past smallint range
    sch = dict(
        (f.name, f.dataType.simpleString())
        for f in RU.read_rollup(spark, tmp, finalize=False).schema.fields
    )
    assert sch["v_min"] == "bigint"  # promoted
    # compaction folds the mixed-width epochs into one wide base
    RU.compact_rollup(spark, tmp)
    rows2 = {r["bucket_ns"]: r for r in RU.read_rollup(spark, tmp).collect()}
    assert rows2 == rows


def test_interrupted_compaction_fails_loud(spark, tmp):
    """A crash inside compaction's rename window leaves the folding
    marker set — every reader refuses instead of answering from half a
    tree (the annindex discipline)."""
    import json

    ev = _events(spark)
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    meta = RU.rollup_meta(tmp)
    meta["folding"] = True
    with open(os.path.join(tmp, RU._META), "w") as fh:
        json.dump(meta, fh)
    for fn in (
        lambda: RU.read_rollup(spark, tmp),
        lambda: RU.refresh_rollup(spark, tmp, ev),
        lambda: RU.compact_rollup(spark, tmp),
    ):
        with pytest.raises(ArgsError, match="interrupted compaction"):
            fn()


def test_multi_quantile_single_read(spark, tmp):
    """rollup_quantile with a list: every quantile off ONE bars read,
    each matching its single-q twin exactly."""
    ev = _events(spark)
    RU.create_rollup(
        ev, tmp, time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(60, "m"), hist=HIST,
    )
    multi = {
        (r["event_type"], r["bucket_ns"]): (r["q50"], r["q95"])
        for r in RU.rollup_quantile(
            spark, tmp, [0.5, 0.95], out=["q50", "q95"]
        ).collect()
    }
    for q, idx in ((0.5, 0), (0.95, 1)):
        single = {
            (r["event_type"], r["bucket_ns"]): r["x"]
            for r in RU.rollup_quantile(spark, tmp, q, out="x").collect()
        }
        assert {k: v[idx] for k, v in multi.items()} == single
    with pytest.raises(ArgsError, match="output names"):
        RU.rollup_quantile(spark, tmp, [0.5, 0.9], out="only_one")


def test_avg_skips_nulls_like_sql_avg(spark, tmp):
    """ADVICE r8 (low): {v}_avg must divide the null-skipping sum by
    the NON-NULL value count, not the row count — SQL AVG semantics.
    Incremental refresh stays exact on null-bearing columns."""
    rows = [
        # (key, ts, value): bucket 0 has 2 non-null of 4 rows
        ("a", 10, 4.0), ("a", 20, None), ("a", 30, 8.0), ("a", 40, None),
        # bucket 1 is ALL-null: avg must be null, not 0/cnt
        ("a", 310_000_000_000, None), ("a", 320_000_000_000, None),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts long, value double"
    )
    RU.create_rollup(
        df.where(F.col("ts") < 300_000_000_000), tmp,
        time_col="ts", keys=["event_type"], values=["value"],
        width_ns=span_ns(5, "m"),
    )
    RU.refresh_rollup(spark, tmp, df)
    got = {
        r["bucket_ns"]: (r["cnt"], r["value_avg"])
        for r in RU.read_rollup(spark, tmp).collect()
    }
    assert got[0] == (4, 6.0)                  # (4+8)/2, not /4
    assert got[300_000_000_000][0] == 2
    assert got[300_000_000_000][1] is None     # all-null bucket: SQL AVG
    # and the SQL twin agrees
    want = {
        r["bucket_ns"]: (r["cnt"], r["a"])
        for r in df.groupBy(
            F.col("event_type"),
            (F.col("ts") - F.col("ts") % 300_000_000_000).alias("bucket_ns"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"), F.avg("value").alias("a"))
        .collect()
    }
    assert got == want


def test_workspace_append_auto_backfills_late_rows(spark, tmp):
    """VERDICT r8 missing #5: an appended batch MIXING tail rows with
    stragglers behind the rollup watermark folds EXACTLY once — tail
    via the watermark-pruned refresh, late rows routed automatically
    through backfill_rollup (the old contract silently dropped them).
    End state equals a fresh rollup over the table's full contents."""
    from kerf_spark.sources.catalog import Workspace

    ev = _events(spark)
    q = ev.select(ts_to_ns("ts").alias("t")).selectExpr(
        "percentile(t, 0.4) a", "percentile(t, 0.7) b"
    ).head()
    a, b = int(q["a"]), int(q["b"])
    # seed: the MIDDLE band is missing (so its rows are late later);
    # watermark lands at max(seed) + 1, i.e. above the [a, b) gap
    seed = ev.where((ts_to_ns("ts") < a) | (ts_to_ns("ts") >= b))
    seed = seed.where(ts_to_ns("ts") < b + (b - a) // 2)
    ws = Workspace(spark, tmp + "/ws")
    ws.save("ticks", seed)
    ws.attach_rollup(
        "ticks", "bars5m", time_col="ts", keys=["event_type"],
        values=["value"], width_ns=span_ns(5, "m"),
    )
    path = ws.rollup_path("bars5m")
    w0 = RU.rollup_meta(path)["watermark_ns"]
    # the mixed batch: everything not yet in the table — the [a, b)
    # stragglers (behind the watermark) AND the fresh tail (at/after)
    batch = ev.join(seed.select("event_id"), "event_id", "left_anti")
    assert batch.where(ts_to_ns("ts") < w0).count() > 0    # has late rows
    assert batch.where(ts_to_ns("ts") >= w0).count() > 0   # has tail rows
    ws.append("ticks", batch)
    got = _bars(spark, path).collect()
    want = _full(spark, ws.load("ticks"), tmp + "/fresh")
    assert got == want  # late rows folded once, tail folded once
    meta = RU.rollup_meta(path)
    assert any(e.get("backfill") for e in meta["epochs"])  # backfill ran
    # a second append with ONLY tail rows must not re-probe into a
    # backfill (no late rows -> refresh only)
    n_epochs = len(meta["epochs"])
    ws.append("ticks", ev.limit(0))  # empty: no-op on both paths
    assert len(RU.rollup_meta(path)["epochs"]) == n_epochs


#: every registry row whose cached fixture goes through
#: queries._cached_fixture (keyed_point_lookup reaches it through
#: _keyed_orders_ws, delete_keyed_pruned through _cloned_keyed_orders)
_CACHED_FIXTURE_ROWS = [
    "rollup_incremental_bars", "matview_enriched_lineitem",
    "rollup_backfill_bars", "workspace_rollup_append", "keyed_point_lookup",
    "delete_keyed_pruned", "keyed_tuple_lookup",
    "workspace_rollup_late_append", "rollup_quantile_bars",
    "rollup_stream_bars",
]


@pytest.fixture(scope="module")
def fixture_sf(tmp_path_factory):
    """A private copy of the sf0.001 sources the cached-fixture rows
    read, so a test can bump their mtimes; its caches go afterwards."""
    import glob

    from kerf_spark.queries import _ann_index_dir

    sfdir = str(tmp_path_factory.mktemp("sfx"))
    for t in ("events", "orders", "lineitem", "part"):
        shutil.copyfile(
            f"/root/testdata/sf0.001/{t}.parquet",
            os.path.join(sfdir, f"{t}.parquet"),
        )
    yield sfdir
    for p in glob.glob(_ann_index_dir(sfdir, "*") + "*"):
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.remove(p)


@pytest.mark.parametrize("row", _CACHED_FIXTURE_ROWS)
def test_freshness_marker_catches_same_byte_rewrite(
    spark, fixture_sf, monkeypatch, row
):
    """The cached-fixture freshness marker (``<root>.src``, written by
    queries._cached_fixture) folds mtime in: a source rewrite that
    keeps the total byte count still reads as stale and rebuilds, while
    the fresh path stays a pure stat probe with ZERO Spark jobs."""
    import itertools

    import kerf_spark.queries as Q

    sc = spark.sparkContext
    real = Q._cached_fixture
    calls = []  # one (root, sources, built, job ids) per helper call
    ids = itertools.count()

    def spy(root, sf, sources, build, valid):
        built = []
        group = f"freshprobe_{row}_{next(ids)}"
        sc.setJobGroup(group, "freshness probe")
        try:
            real(root, sf, sources, lambda: built.append(build()), valid)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        calls.append((root, sources, bool(built), jobs))

    monkeypatch.setattr(Q, "_cached_fixture", spy)
    q = Q.QUERIES[row]

    def marker_src(root, sources):
        with open(root + ".src") as fh:
            assert fh.read() == ";".join(
                Q._src_bytes(fixture_sf, n) for n in sources
            )

    q(spark, fixture_sf)  # builds and stamps the marker
    root, sources, _, _ = calls[-1]
    marker_src(root, sources)
    del calls[:]
    q(spark, fixture_sf)  # fresh path: no rebuild, no Spark job
    assert [(c[2], c[3]) for c in calls] == [(False, [])]
    # rewrite with IDENTICAL bytes but a new mtime -> stale
    for n in sources:
        src = os.path.join(fixture_sf, f"{n}.parquet")
        st = os.stat(src)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    del calls[:]
    q(spark, fixture_sf)
    assert [c[2] for c in calls] == [True]  # rebuilt ...
    marker_src(root, sources)  # ... and restamped with the new mtime
