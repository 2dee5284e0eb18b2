"""Incremental materialized enrichment views (sources.matview): the
denormalize-at-ingest contract — incremental refresh == full rebuild,
broadcast-join increments, storage-level range reads, epoch-chain
compaction.  Crash-replay idempotence is the epoch-ledger crash matrix
in test_rollup.py.
"""

import os

import pytest
from pyspark.sql import functions as F

from kerf_spark.errors import ArgsError
from kerf_spark.functions.temporal import ts_to_ns
from kerf_spark.sources import ledger as LG
from kerf_spark.sources import matview as MV

SF_DIR = "/root/testdata/sf0.001"
COLS = [
    "l_orderkey", "l_linenumber", "p_partkey", "l_shipdate",
    "l_extendedprice", "p_brand", "p_type",
]
KEY = ["l_orderkey", "l_linenumber"]


@pytest.fixture(scope="module")
def fact(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet").withColumnRenamed(
        "l_partkey", "p_partkey"
    )


@pytest.fixture(scope="module")
def dim(spark):
    return spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_brand", "p_type"
    )


def _create(fact, dim, path):
    return MV.create_enrich_view(
        fact, dim, path, on=["p_partkey"], time_col="l_shipdate",
        columns=COLS,
    )


def _rows(spark, path):
    # (l_orderkey, l_linenumber) is NOT unique in the fixture — sort
    # the collected tuples in Python for a total order
    return sorted(
        tuple(r) for r in MV.read_enrich_view(spark, path).collect()
    )


def test_incremental_equals_full_and_left_join_keeps_orphans(
    spark, fact, dim, tmp_path
):
    full_path = str(tmp_path / "full")
    _create(fact, dim, full_path)
    full = _rows(spark, full_path)
    assert len(full) == fact.count()

    split = int(
        fact.select(ts_to_ns("l_shipdate").alias("t"))
        .selectExpr("percentile(t, 0.7) p").head()["p"]
    )
    inc_path = str(tmp_path / "inc")
    _create(fact.where(ts_to_ns("l_shipdate") < split), dim, inc_path)
    res = MV.refresh_enrich_view(spark, inc_path, fact)
    assert res["rows"] > 0
    assert _rows(spark, inc_path) == full

    # LEFT semantics: a fact row with no dim match keeps null attrs
    orphan_path = str(tmp_path / "orph")
    half_dim = dim.where(F.col("p_partkey") % 2 == 0)
    _create(fact, half_dim, orphan_path)
    got = MV.read_enrich_view(spark, orphan_path)
    assert got.count() == fact.count()
    assert got.where(F.col("p_brand").isNull()).count() > 0


def test_refresh_joins_increment_against_broadcast_dim(
    spark, fact, dim, tmp_path
):
    """Plan shape of the increment enrichment: BroadcastHashJoin (the
    dim snapshot broadcasts; the fact tail never shuffles) and the
    watermark predicate pushed to the fact scan."""
    path = str(tmp_path / "v")
    _create(fact.limit(0), dim, path)
    meta = MV.matview_meta(path)
    dstored = spark.read.parquet(os.path.join(path, "dim"))
    inc = LG._increment(fact, meta)
    plan = (
        MV._enrich(inc, dstored, meta)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    seg = plan[plan.index("PushedFilters"):][:250]
    assert "l_shipdate" in seg, seg


def test_range_read_and_compaction(spark, fact, dim, tmp_path):
    path = str(tmp_path / "v")
    split = int(
        fact.select(ts_to_ns("l_shipdate").alias("t"))
        .selectExpr("percentile(t, 0.6) p").head()["p"]
    )
    _create(fact.where(ts_to_ns("l_shipdate") < split), dim, path)
    MV.refresh_enrich_view(spark, path, fact)
    full = _rows(spark, path)
    meta = MV.matview_meta(path)
    days = sorted({p for e in meta["epochs"] for p in e["parts"]})
    lo = days[len(days) // 2]
    sub = MV.read_enrich_view(spark, path, lo_ns=lo)
    n_sub = sub.count()
    assert 0 < n_sub < len(full)
    assert sub.select(F.min(ts_to_ns("l_shipdate"))).head()[0] >= lo
    # fewer files opened than the full read
    assert len(set(sub.inputFiles())) < len(
        set(MV.read_enrich_view(spark, path).inputFiles())
    )
    MV.compact_enrich_view(spark, path)
    assert [e["epoch"] for e in MV.matview_meta(path)["epochs"]] == [0]
    assert _rows(spark, path) == full
    # refresh keeps working post-compaction
    assert MV.refresh_enrich_view(spark, path, fact)["rows"] == 0


def test_spec_validation_and_empty_create(spark, fact, dim, tmp_path):
    path = str(tmp_path / "v")
    with pytest.raises(ArgsError, match="join key"):
        MV.create_enrich_view(
            fact, dim, path, on=[], time_col="l_shipdate"
        )
    with pytest.raises(ArgsError, match="missing from fact"):
        MV.create_enrich_view(
            fact, dim, path, on=["nope"], time_col="l_shipdate"
        )
    _create(fact.where(F.lit(False)), dim, path)
    assert MV.read_enrich_view(spark, path).count() == 0
    MV.refresh_enrich_view(spark, path, fact)
    assert MV.read_enrich_view(spark, path).count() == fact.count()


def test_stream_sink_and_replay_noop(spark, fact, dim, tmp_path):
    path = str(tmp_path / "v")
    full_path = str(tmp_path / "full")
    _create(fact, dim, full_path)
    full = _rows(spark, full_path)
    qs = fact.select(ts_to_ns("l_shipdate").alias("t")).selectExpr(
        "percentile(t, 0.4) a", "percentile(t, 0.7) b"
    ).head()
    a, b = int(qs["a"]), int(qs["b"])
    _create(fact.where(ts_to_ns("l_shipdate") < a), dim, path)
    sink = MV.matview_stream_sink(spark, path)
    b1 = fact.where(
        (ts_to_ns("l_shipdate") >= a) & (ts_to_ns("l_shipdate") < b)
    )
    sink(b1, 0)
    sink(b1, 0)  # replay: behind the watermark now, no-op
    sink(fact.where(ts_to_ns("l_shipdate") >= b), 1)
    assert _rows(spark, path) == full
    assert len(MV.matview_meta(path)["epochs"]) == 3


def test_workspace_attached_matview_maintenance(spark, fact, dim, tmp_path):
    """Fact append refreshes; fact upsert rebuilds; DIM change rebuilds
    (the stored snapshot is stale) — each end-state equals a fresh view
    over the tables' current contents."""
    from kerf_spark.sources.catalog import Workspace

    qs = fact.select(ts_to_ns("l_shipdate").alias("t")).selectExpr(
        "percentile(t, 0.7) a"
    ).head()
    a = int(qs["a"])
    ws = Workspace(spark, str(tmp_path / "ws"))
    ws.save("li", fact.where(ts_to_ns("l_shipdate") < a))
    ws.save("pt", dim)
    ws.attach_matview(
        "li", "pt", "enriched", on=["p_partkey"], time_col="l_shipdate",
        columns=COLS,
    )
    assert ws.matviews() == ["enriched"]
    assert ws.matviews("pt") == ["enriched"]
    path = ws.matview_path("enriched")

    def fresh(tag):
        p = str(tmp_path / tag)
        _create(ws.load("li"), ws.load("pt"), p)
        return _rows(spark, p)

    # fact append -> refresh
    ws.append("li", fact.where(ts_to_ns("l_shipdate") >= a))
    assert _rows(spark, path) == fresh("f1")
    # dim upsert -> rebuild (new brand must appear in the view)
    newdim = dim.limit(20).withColumn("p_brand", F.lit("Brand#ZZ"))
    ws.upsert("pt", newdim, keys=["p_partkey"])
    got = _rows(spark, path)
    assert got == fresh("f2")
    assert any(r[-2] == "Brand#ZZ" for r in got)
    # reopen persistence + detach
    ws2 = Workspace(spark, str(tmp_path / "ws"))
    assert ws2.matviews() == ["enriched"]
    ws2.detach_matview("enriched", delete=True)
    assert ws2.matviews() == [] and not os.path.exists(path)


def test_property_incremental_equals_full_random_splits(spark, fact, dim, tmp_path):
    """Hypothesis: any ordered split of the fact into create/refresh
    chunks lands the same enriched rows as the full build."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    full_path = str(tmp_path / "full")
    _create(fact, dim, full_path)
    full = _rows(spark, full_path)
    ts = sorted(
        r["t"]
        for r in fact.select(ts_to_ns("l_shipdate").alias("t"))
        .distinct().collect()
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(fa=st.floats(min_value=0.0, max_value=1.0),
           fb=st.floats(min_value=0.0, max_value=1.0))
    def check(fa, fb):
        import shutil as _sh

        a, b = sorted(
            (ts[int(f * (len(ts) - 1))] for f in (fa, fb))
        )
        p = str(tmp_path / "inc")
        _sh.rmtree(p, ignore_errors=True)
        _create(fact.where(ts_to_ns("l_shipdate") < a), dim, p)
        MV.refresh_enrich_view(
            spark, p, fact.where(ts_to_ns("l_shipdate") < b)
        )
        MV.refresh_enrich_view(spark, p, fact)
        assert _rows(spark, p) == full

    check()


def test_interrupted_compaction_fails_loud(spark, fact, dim, tmp_path):
    import json

    path = str(tmp_path / "v")
    _create(fact, dim, path)
    meta = MV.matview_meta(path)
    meta["folding"] = True
    with open(os.path.join(path, MV._META), "w") as fh:
        json.dump(meta, fh)
    with pytest.raises(ArgsError, match="interrupted compaction"):
        MV.read_enrich_view(spark, path)
    with pytest.raises(ArgsError, match="interrupted compaction"):
        MV.refresh_enrich_view(spark, path, fact)


def test_unbroadcast_dim_escape_hatch(spark, fact, dim, tmp_path):
    """broadcast_dim=False: a dimension too big to broadcast plans
    unhinted (AQE picks the strategy) — identical rows, no forced
    broadcast hint in the increment plan."""
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    _create(fact, dim, a)
    MV.create_enrich_view(
        fact, dim, b, on=["p_partkey"], time_col="l_shipdate",
        columns=COLS, broadcast_dim=False,
    )
    assert _rows(spark, a) == _rows(spark, b)
    meta = MV.matview_meta(b)
    assert meta["broadcast_dim"] is False
    dstored = spark.read.parquet(os.path.join(b, "dim"))
    logical = str(
        MV._enrich(fact, dstored, meta)._jdf.queryExecution().logical()
    )
    assert "UnresolvedHint" not in logical and "hint" not in logical.lower()


def test_compaction_works_when_columns_omit_time_col(
    spark, fact, dim, tmp_path
):
    """ADVICE r8 (medium): a view whose ``columns`` projection omits
    ``time_col`` must still compact — compaction is partition-granular
    (rows rewrite under the part_ns they were stored with, recovered
    from the hive directory names), never re-derived from a time
    column the view may not carry.  This is exactly the shape of the
    registry's matview_enriched_lineitem view."""
    path = str(tmp_path / "mv")
    split = int(
        fact.select(ts_to_ns(F.col("l_shipdate")).alias("n"))
        .agg(F.expr("percentile(n, 0.8)").alias("p"))
        .head()["p"]
    )
    cols = ["l_orderkey", "l_linenumber", "p_partkey", "p_brand"]  # no time
    MV.create_enrich_view(
        fact.where(ts_to_ns(F.col("l_shipdate")) < split), dim, path,
        on=["p_partkey"], time_col="l_shipdate", columns=cols,
    )
    MV.refresh_enrich_view(spark, path, fact)
    before = sorted(
        tuple(r) for r in MV.read_enrich_view(spark, path).collect()
    )
    parts_before = sorted(
        {p for e in MV.matview_meta(path)["epochs"] for p in e["parts"]}
    )
    assert len(MV.matview_meta(path)["epochs"]) == 2
    MV.compact_enrich_view(spark, path)
    meta = MV.matview_meta(path)
    assert len(meta["epochs"]) == 1
    # rows identical and under the SAME partition buckets
    after = sorted(
        tuple(r) for r in MV.read_enrich_view(spark, path).collect()
    )
    assert after == before
    assert meta["epochs"][0]["parts"] == parts_before
    # idempotent
    MV.compact_enrich_view(spark, path)
    assert sorted(
        tuple(r) for r in MV.read_enrich_view(spark, path).collect()
    ) == before


def test_backfill_enrich_view_folds_late_rows_and_refuses_fresh(
    spark, fact, dim, tmp_path
):
    """backfill_enrich_view: late fact rows enrich as a new epoch, the
    watermark stays put, at/after-watermark rows refuse (they belong
    to refresh)."""
    path = str(tmp_path / "mv")
    q = fact.select(ts_to_ns("l_shipdate").alias("t")).selectExpr(
        "percentile(t, 0.4) a", "percentile(t, 0.7) b"
    ).head()
    a, b = int(q["a"]), int(q["b"])
    tns = ts_to_ns(F.col("l_shipdate"))
    MV.create_enrich_view(
        fact.where((tns < a) | (tns >= b)), dim, path,
        on=["p_partkey"], time_col="l_shipdate", columns=COLS,
    )
    w0 = MV.matview_meta(path)["watermark_ns"]
    late = fact.where((tns >= a) & (tns < b))
    assert late.count() > 0
    res = MV.backfill_enrich_view(spark, path, late)
    assert res["rows"] == late.count()
    meta = MV.matview_meta(path)
    assert meta["watermark_ns"] == w0  # unchanged
    assert meta["epochs"][-1].get("backfill") is True
    full = str(tmp_path / "full")
    _create(fact, dim, full)
    assert _rows(spark, path) == _rows(spark, full)
    fresh_rows = fact.limit(5).withColumn(
        "l_shipdate", F.col("l_shipdate") + F.expr("INTERVAL 50 YEARS")
    )
    with pytest.raises(ArgsError, match="at/after the watermark"):
        MV.backfill_enrich_view(spark, path, fresh_rows)
    # empty backfill is a no-op
    assert MV.backfill_enrich_view(
        spark, path, fact.limit(0)
    )["rows"] == 0


def test_workspace_append_auto_backfills_late_fact_rows(
    spark, fact, dim, tmp_path
):
    """The rollup auto-backfill mirror on matviews: a fact append
    mixing stragglers (behind the view watermark) with fresh tail rows
    lands each row exactly once — end state equals a fresh view over
    the table's full contents."""
    from kerf_spark.sources.catalog import Workspace

    q = fact.select(ts_to_ns("l_shipdate").alias("t")).selectExpr(
        "percentile(t, 0.4) a", "percentile(t, 0.7) b",
        "percentile(t, 0.85) c"
    ).head()
    a, b, c = int(q["a"]), int(q["b"]), int(q["c"])
    tns = ts_to_ns(F.col("l_shipdate"))
    ws = Workspace(spark, str(tmp_path / "ws"))
    seed = fact.where(((tns < a) | (tns >= b)) & (tns < c))
    ws.save("li", seed)
    ws.save("pt", dim)
    ws.attach_matview(
        "li", "pt", "enriched", on=["p_partkey"], time_col="l_shipdate",
        columns=COLS,
    )
    path = ws.matview_path("enriched")
    # ONE mixed batch: the [a, b) stragglers + the [c, ∞) tail
    batch = fact.where(((tns >= a) & (tns < b)) | (tns >= c))
    ws.append("li", batch)
    full = str(tmp_path / "full")
    _create(ws.load("li"), dim, full)
    assert _rows(spark, path) == _rows(spark, full)
    assert any(
        e.get("backfill") for e in MV.matview_meta(path)["epochs"]
    )
