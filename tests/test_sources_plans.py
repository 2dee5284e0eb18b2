"""Workspace catalog, kerf-SQL front-end, and streaming tests."""

import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from kerf_spark.plans.kerfsql import translate
from kerf_spark.sources.catalog import Workspace


def _names(files):
    """File URIs normalized to basenames: manifest URIs record through
    the table's stable pointer path while a read PINS the resolved
    version directory — same files, one prefix deep."""
    return {os.path.basename(f) for f in files}


# ------------------------------------------------------------- kerf-SQL
def test_translate_select_by():
    sql = translate("select n: count(*) by l_returnflag from lineitem where l_discount > 0")
    assert "GROUP BY l_returnflag" in sql
    assert "count(*) AS n" in sql
    assert "WHERE l_discount > 0" in sql


def test_translate_clause_split_is_depth_aware():
    """_split_clause honors paren depth and string literals: the
    ``order by`` inside an explicit ``OVER (...)`` window spec, the
    ``from`` of a scalar subquery, and keywords inside quoted strings
    all belong to their nested scope — explicit ANSI window functions
    pass through translate INTACT (previously the first in-window
    ``order by`` ate the rest of the statement and the select lost
    its from clause)."""
    q = (
        "select k, v, sum(v) over (partition by k order by ts "
        "rows between 2 preceding and current row) as m3 "
        "from t where v > 0 order by k limit 5"
    )
    sql = translate(q)
    assert "over (partition by k order by ts" in sql
    assert "FROM t" in sql
    assert sql.rstrip().endswith("LIMIT 5")
    # the statement-level ORDER BY is the depth-0 one, not the OVER's
    assert "ORDER BY k" in sql

    # scalar subquery: its `from` stays inside the select item
    sql = translate(
        "select (select max(x) from u where u.k = t.k) as mx, v "
        "from t where v > 0"
    )
    assert "FROM t" in sql
    assert "(select max(x) from u where u.k = t.k)" in sql

    # keywords inside string literals never split the statement
    sql = translate("select v from t where note = 'a from b order by c'")
    assert "WHERE note = 'a from b order by c'" in sql


def test_translate_qualify():
    """QUALIFY filters on WINDOW RESULTS by wrapping the select as an
    inline subquery (ANSI forbids windows in WHERE): alias-referencing
    conditions pass, inline window expressions refuse with the fix,
    and the statement-level ORDER BY lands outside the wrapper."""
    sql = translate(
        "select k, rn: row_number() over (partition by k order by v "
        "desc) from t qualify rn <= 2 order by k, rn"
    )
    assert sql.startswith("SELECT * FROM (SELECT k, row_number()")
    assert sql.rstrip().endswith("ORDER BY k, rn")
    assert "WHERE rn <= 2" in sql
    # kerf ordered verbs compose with qualify the same way
    sql = translate(
        "select sym, ts, ma: mavg(3, price) by sym from t "
        "qualify ma > 100 order by ts"
    )
    assert "WHERE ma > 100" in sql
    assert "OVER (PARTITION BY sym ORDER BY ts" in sql

    import pytest

    from kerf_spark.errors import ParseError

    with pytest.raises(ParseError, match="by ALIAS"):
        translate(
            "select k from t qualify row_number() over (order by k) = 1"
        )


def test_translate_having():
    sql = translate(
        "select n: count(*) by l_returnflag from lineitem "
        "where l_discount > 0 having n > 5 order by n desc limit 3"
    )
    assert "GROUP BY l_returnflag" in sql
    assert "HAVING n > 5" in sql
    assert sql.index("HAVING") > sql.index("GROUP BY")
    assert sql.index("ORDER BY") > sql.index("HAVING")
    # having without a by clause refuses
    import pytest

    from kerf_spark.errors import ParseError

    with pytest.raises(ParseError, match="having"):
        translate("select count(*) from t having 1 > 0")


def test_translate_plain_select():
    sql = translate("select o_orderkey from orders limit 5")
    assert sql == "SELECT o_orderkey FROM orders LIMIT 5"


def test_translate_update():
    sql = translate("update t set a = 1, b = a + 2 where c > 0")
    assert "CASE WHEN c > 0 THEN 1 ELSE a END AS a" in sql
    assert "CASE WHEN c > 0 THEN a + 2 ELSE b END AS b" in sql


def test_translate_delete_null_safe():
    sql = translate("delete from t where x = 1")
    assert "NOT coalesce(x = 1, false)" in sql


def test_translate_kerf_verbs():
    # scalar + aggregate verbs compose with group by
    sql = translate("select vw: wavg(q, p) by b: xbar(ts, 5m) from t")
    assert "pmod(CAST(ts AS BIGINT), 300000000000)" in sql
    assert "(sum((q) * (p)) / sum(q)) AS vw" in sql
    assert "GROUP BY" in sql and "AS b," in sql
    # ordered verbs: by partitions, order by orders, no GROUP BY
    sql = translate("select d: deltas(px), f: ffill(px) by sym from t order by ts")
    assert "lag(px) OVER (PARTITION BY sym ORDER BY ts)" in sql
    assert "last_value(px) IGNORE NULLS" in sql
    assert "GROUP BY" not in sql
    # span literal forms
    assert translate("select b: xbar(ts, 2h) from t") == translate(
        "select b: xbar(ts, 7200000000000) from t"
    )


def test_translate_ordered_verb_requires_order():
    with pytest.raises(ValueError, match="order by"):
        translate("select d: deltas(px) by sym from t")


def test_translate_rejects_garbage():
    with pytest.raises(ValueError):
        translate("explode the database")
    with pytest.raises(ValueError):
        translate("select a, b")  # no from


def test_kerfsql_execution(spark, tables):
    from kerf_spark.plans.kerfsql import kerf_sql

    tables["orders"].createOrReplaceTempView("orders")
    df = kerf_sql(spark, "select n: count(*) by o_orderstatus from orders order by o_orderstatus")
    got = {r.o_orderstatus: r.n for r in df.collect()}
    assert sum(got.values()) == 1500


def test_kerfsql_aliased_by_expression(spark, tables):
    # 'by name: expr' — the alias must appear in SELECT but be stripped
    # from GROUP BY (Spark rejects 'GROUP BY expr AS name')
    from kerf_spark.plans.kerfsql import kerf_sql

    tables["orders"].createOrReplaceTempView("orders")
    df = kerf_sql(
        spark,
        "select n: count(*) by yr: year(o_orderdate) from orders order by yr",
    )
    rows = df.collect()
    assert df.columns == ["yr", "n"]
    assert sum(r.n for r in rows) == 1500
    assert all(r.yr is not None and r.yr > 1900 for r in rows)


# ------------------------------------------------------------- workspace
@pytest.fixture()
def ws_root():
    root = tempfile.mkdtemp()
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_workspace_minimal_width_and_promote(spark, ws_root):
    # layout.cc:726-934 both directions: write narrow, promote on append
    ws = Workspace(spark, ws_root)
    df = spark.createDataFrame([(1, 10), (2, 120)], "k long, v long")
    ws.save("t", df)
    stored = {f.name: f.dataType.simpleString() for f in ws.load("t").schema.fields}
    assert stored == {"k": "tinyint", "v": "tinyint"}
    ws.append("t", spark.createDataFrame([(3, 70000)], "k long, v long"))
    promoted = {f.name: f.dataType.simpleString() for f in ws.load("t").schema.fields}
    assert promoted["v"] == "bigint"  # incoming declared long -> widened
    got = sorted((r.k, r.v) for r in ws.load("t").collect())
    assert got == [(1, 10), (2, 120), (3, 70000)]


def test_workspace_sorted_flag_maintenance(spark, ws_root):
    # slab.h:234-235: append keeps SORTED only when order is preserved
    ws = Workspace(spark, ws_root)
    df = spark.createDataFrame([(1, "a"), (5, "b")], "ts long, s string")
    ws.save("t", df, sort_by=["ts"])
    assert ws.manifest["tables"]["t"]["sorted"] == "global"
    assert ws.manifest["tables"]["t"]["sort_key_max"] == 5
    # in-order append: flag survives, high-water mark advances
    ws.append("t", spark.createDataFrame([(7, "c"), (9, "d")], "ts long, s string"))
    assert ws.manifest["tables"]["t"]["sorted"] == "global"
    assert ws.manifest["tables"]["t"]["sort_key_max"] == 9
    # out-of-order append: demoted to per-file sortedness
    ws.append("t", spark.createDataFrame([(2, "e")], "ts long, s string"))
    assert ws.manifest["tables"]["t"]["sorted"] == "files"
    assert ws.load("t").count() == 5


def test_sorted_save_pushes_rowgroup_filter(spark, tables, ws_root):
    # sorted writes give parquet min/max stats; a range filter on the
    # sort column must reach the scan as a pushed filter (the Spark
    # analogue of binary search over kerf's sorted attribute)
    ws = Workspace(spark, ws_root)
    ws.save("orders_sorted", tables["orders"], sort_by=["o_orderdate"])
    ws.append("orders_sorted", tables["orders"].limit(100))
    back = ws.load("orders_sorted").where(
        F.col("o_orderdate") >= "1995-01-01"
    )
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "o_orderdate" in plan.split("PushedFilters")[1][:200]


def test_workspace_save_load_round_trip(spark, tables, ws_root):
    ws = Workspace(spark, ws_root)
    ws.save("orders", tables["orders"])
    assert ws.load("orders").count() == 1500
    # new Workspace object == workspace reload from manifest (test.cc:825-900)
    ws2 = Workspace(spark, ws_root)
    assert ws2.tables() == ["orders"]
    assert ws2.load("orders").count() == 1500


def test_workspace_append_promotes_width(spark, ws_root):
    # mirrors layout.cc:726-934 promote-on-append (test.cc:620-635)
    ws = Workspace(spark, ws_root)
    ws.save("t", spark.range(3).select(F.col("id").cast("int").alias("v")))
    ws.append("t", spark.range(2).select((F.col("id") + 2**40).alias("v")))
    got = ws.load("t")
    assert dict(got.dtypes)["v"] == "bigint"
    assert sorted(r.v for r in got.collect()) == [0, 1, 2, 2**40, 2**40 + 1]


def test_bucketed_tables_join_without_exchange(spark, tables, ws_root):
    """Co-located join contract: both sides bucketed on the join key
    with equal bucket counts -> SortMergeJoin with ZERO exchanges (the
    pre-shuffled layout a 100 TB fact-fact join needs)."""
    import io
    from contextlib import redirect_stdout

    ws = Workspace(spark, ws_root)
    ws.save_bucketed(
        "orders_b", tables["orders"], ["o_custkey"], num_buckets=4,
        sort_by=["o_custkey"],
    )
    ws.save_bucketed(
        "cust_b", tables["customer"], ["c_custkey"], num_buckets=4,
        sort_by=["c_custkey"],
    )
    o, c = ws.load("orders_b"), ws.load("cust_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = o.join(c, o.o_custkey == c.c_custkey).groupBy(
            "c_mktsegment"
        ).count()
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        # the only exchange is the post-join aggregation's, never the join's
        join_part = plan.split("SortMergeJoin")[0]
        assert "Exchange hashpartitioning" not in join_part
        assert j.count() == 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_table_reregisters_from_manifest(spark, tables, ws_root):
    """A fresh session (simulated by dropping the catalog entry) must
    recover the bucketed layout from the manifest alone."""
    ws = Workspace(spark, ws_root)
    ws.save_bucketed("ev_b", tables["events"], ["user_id"], num_buckets=4)
    spark.sql("DROP TABLE IF EXISTS kerf_ws_ev_b")
    ws2 = Workspace(spark, ws_root)
    df = ws2.load("ev_b")
    assert df.count() == tables["events"].count()
    # the re-registered table still carries the bucket spec
    desc = spark.sql("DESCRIBE TABLE EXTENDED kerf_ws_ev_b").collect()
    text = "\n".join(f"{r.col_name} {r.data_type}" for r in desc)
    assert "user_id" in text and "4" in text


def test_workspace_append_rejects_schema_mismatch(spark, ws_root):
    ws = Workspace(spark, ws_root)
    ws.save("t", spark.range(1).select(F.col("id").alias("v")))
    with pytest.raises(ValueError):
        ws.append("t", spark.range(1).select(F.col("id").alias("other")))


def test_workspace_upsert_snapshot_swap(spark, tables, ws_root):
    ws = Workspace(spark, ws_root)
    ws.save("orders", tables["orders"])
    updates = tables["orders"].limit(5).withColumn("o_totalprice", F.lit(0.0))
    ws.upsert("orders", updates, ["o_orderkey"])
    out = ws.load("orders")
    assert out.count() == 1500
    assert out.where(F.col("o_totalprice") == 0.0).count() == 5


# ------------------------------------------------------------- streaming
def test_streaming_xbar_bars(spark, tables, tmp_path):
    """Structured Streaming path: file source -> windowed bars -> memory sink."""
    from kerf_spark.streaming.ingest import windowed_bars, with_event_time

    src = str(tmp_path / "stream_src")
    tables["events"].limit(200).write.parquet(src)
    schema = tables["events"].schema
    stream = spark.readStream.schema(schema).parquet(src)
    bars = windowed_bars(with_event_time(stream, "ts"), "value", "5 minutes")
    q = (
        bars.writeStream.format("memory")
        .queryName("bars_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = spark.sql("SELECT count(*) AS n, sum(n) AS rows_total FROM bars_test").head()
    assert got.n > 0
    assert got.rows_total == 200


def test_streaming_dedup(spark, tmp_path):
    from kerf_spark.streaming.ingest import deduped, with_event_time

    src = str(tmp_path / "dup_src")
    df = spark.createDataFrame(
        [(1, 1704067798778549829), (1, 1704067798778549829), (2, 1704067799000000000)],
        "event_id long, ts long",
    )
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    dd = deduped(with_event_time(stream, "ts"), ["event_id"])
    q = (
        dd.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert spark.sql("SELECT count(DISTINCT event_id) FROM dedup_test").head()[0] == 2


# ------------------------------------------------------------- multimodal
def test_multimodal_stub_plumbing(spark, tables):
    from kerf_spark.operators import multimodal as MM

    docs = tables["documents"].limit(20)
    meta = MM.decode_images(MM.attach_binary(docs))
    rows = meta.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.meta.n_bytes > 0
        assert 16 <= r.meta.width < 256
        assert r.meta.format in ("png", "jpeg", "webp")


def test_streaming_stateful_running_stats(spark, tables, tmp_path):
    """applyInPandasWithState: state accumulates across two micro-batches
    and the final emission equals the batch aggregate over all data."""
    from pyspark.sql import functions as F

    from kerf_spark.streaming.ingest import running_stats

    ev = tables["events"].select("user_id", "value").limit(300)
    src = str(tmp_path / "state_src")
    ck = str(tmp_path / "state_ck")
    # two files -> the availableNow run still processes them as one or
    # more batches; state must survive batch boundaries either way
    ev.limit(150).write.parquet(src)
    ev.subtract(ev.limit(150)).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ev.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    stats = running_stats(stream, ["user_id"], "value")
    q = (
        stats.writeStream.format("memory")
        .queryName("state_test")
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # last emission per key == full-batch aggregate
    got = spark.sql(
        """SELECT user_id, n, total FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY n DESC) AS rn FROM state_test) WHERE rn=1"""
    )
    want = ev.groupBy("user_id").agg(
        F.count("value").alias("n"), F.sum("value").alias("total")
    )
    diff = got.join(want, "user_id").where(
        (got.n != want.n) | (F.abs(got.total - want.total) > 1e-6)
    )
    assert want.count() > 0
    assert diff.count() == 0


def test_static_asof_enrich_respects_at_or_before(spark, tmp_path):
    """The broadcast interval index must pick the LATEST static row at
    or before each stream timestamp — later static rows excluded, exact
    ties visible, no-match keys null (fixture-era data can't exercise
    the boundary, so this pins it synthetically)."""
    from kerf_spark.streaming.ingest import static_asof_enrich

    static = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 20, 2.0), ("a", 30, 3.0), ("b", 50, 9.0)],
        "sym string, ts long, px double",
    )
    src = str(tmp_path / "sa_src")
    spark.createDataFrame(
        [(1, "a", 5), (2, "a", 20), (3, "a", 25), (4, "b", 49), (5, "c", 99)],
        "event_id long, sym string, ts long",
    ).write.parquet(src)
    stream = spark.readStream.schema("event_id long, sym string, ts long").parquet(src)

    out = static_asof_enrich(stream, static, on="ts", by="sym", value_cols=["px"])
    q = (
        out.writeStream.format("memory")
        .queryName("sa_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = {r.event_id: r.px for r in spark.table("sa_test").collect()}
    assert got == {
        1: None,   # before any static row
        2: 2.0,    # exact tie: at-or-before includes it
        3: 2.0,    # 30 is later -> excluded
        4: None,   # b's only row is at 50 > 49
        5: None,   # unknown key -> left join null
    }


def test_streaming_session_state_evicted_by_watermark(spark, tables, tmp_path):
    """The 100 TB streaming claim, evidenced: session-window state is
    EVICTED as the watermark advances, so state stays O(open sessions)
    on an infinite feed rather than growing with history.

    Two day-ordered files are fed as separate micro-batches
    (maxFilesPerTrigger=1); after the second batch the watermark sits a
    full day past every first-batch session, which must appear in the
    state-operator metrics as removed rows.
    """
    from pyspark.sql import functions as F

    from kerf_spark.streaming.ingest import with_event_time

    ev = tables["events"].select("event_id", "ts", "user_id")
    lo_ns = ev.agg(F.min("ts")).head()[0]
    day = 24 * 3600 * 10**9
    split = lo_ns + day
    src = str(tmp_path / "sess_src")
    ck = str(tmp_path / "sess_ck")
    # file order == event-time order, one file per micro-batch
    ev.where(F.col("ts") < split).coalesce(1).write.parquet(src)
    ev.where(F.col("ts") >= split).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sess = (
        with_event_time(stream, "ts")
        .withWatermark("__event_time", "30 minutes")
        .groupBy(
            F.session_window("__event_time", "30 minutes").alias("sw"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_evict_test")
        .outputMode("append")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    progresses = [p for p in q.recentProgress if p["stateOperators"]]
    assert progresses, "no state-operator progress recorded"
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progresses
        for op in p["stateOperators"]
    )
    final_state = progresses[-1]["stateOperators"][0]["numRowsTotal"]
    emitted = spark.table("sess_evict_test").count()
    assert removed > 0, "watermark never evicted session state"
    assert emitted > 0
    # closed (emitted) sessions must be gone from the store: the state
    # footprint is bounded by the sessions that did NOT close — compare
    # against the batch-computed total session count over the same data
    total_sessions = (
        with_event_time(ev, "ts")
        .groupBy(
            F.session_window("__event_time", "30 minutes"), "user_id"
        )
        .count()
        .count()
    )
    assert final_state <= total_sessions - emitted
    assert final_state <= ev.select("user_id").distinct().count()


# ------------------------------------------------------------- kerfsql DML
def test_kerfsql_insert_values(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    df.createOrReplaceTempView("ins_t")
    from kerf_spark.plans.kerfsql import kerf_sql

    out = kerf_sql(spark, "insert into ins_t values (3, 'c'), (4, 'd')")
    assert out.count() == 4
    assert {r.s for r in out.collect()} == {"a", "b", "c", "d"}


def test_kerfsql_insert_select(spark):
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    df.createOrReplaceTempView("ins_s")
    from kerf_spark.plans.kerfsql import kerf_sql

    out = kerf_sql(
        spark, "insert into ins_s select id + 10, upper(s) from ins_s"
    )
    rows = {(r.id, r.s) for r in out.collect()}
    assert rows == {(1, "a"), (11, "A")}


def test_kerfsql_upsert_keyed(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, s string, v double"
    )
    df.createOrReplaceTempView("ups_t")
    from kerf_spark.plans.kerfsql import kerf_sql

    out = kerf_sql(
        spark, "upsert into ups_t on id values (2, 'B', 99.0), (3, 'c', 30.0)"
    )
    rows = {(r.id, r.s, r.v) for r in out.collect()}
    assert rows == {(1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0)}


def test_kerfsql_upsert_via_translate_raises(spark):
    from kerf_spark.plans.kerfsql import translate

    import pytest as _pytest

    with _pytest.raises(ValueError, match="upsert"):
        translate("upsert into t on id values (1)")


def test_workspace_partitioned_append_adds_new_partition(spark, tmp_path):
    """Folio discipline: appending rows for a NEW date lands as a new
    partition directory; existing partition files are untouched."""
    import os

    from pyspark.sql import functions as F

    from kerf_spark.sources.catalog import Workspace

    ws = Workspace(spark, str(tmp_path / "ws"))
    day1 = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 11.0)],
        "date string, id int, v double",
    ).withColumn("date", F.to_date("date"))
    ws.save("ticks", day1, partition_by=["date"])
    part_dir = os.path.join(str(tmp_path / "ws"), "ticks")
    before = sorted(d for d in os.listdir(part_dir) if d.startswith("date="))

    day2 = spark.createDataFrame(
        [("2024-01-02", 3, 12.0)], "date string, id int, v double"
    ).withColumn("date", F.to_date("date"))
    ws.append("ticks", day2)
    after = sorted(d for d in os.listdir(part_dir) if d.startswith("date="))

    assert before == ["date=2024-01-01"]
    assert after == ["date=2024-01-01", "date=2024-01-02"]
    assert ws.load("ticks").count() == 3


def test_kerfsql_join_passthrough(spark):
    """The from-clause passes through verbatim — joins work in kerf-SQL."""
    from kerf_spark.plans.kerfsql import kerf_sql

    spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string").createOrReplaceTempView("kj_a")
    spark.createDataFrame([(1, 10.0), (1, 20.0), (2, 5.0)], "id long, v double").createOrReplaceTempView("kj_b")
    out = kerf_sql(
        spark,
        "select total: sum(v) by s from kj_a join kj_b on kj_a.id = kj_b.id "
        "order by s",
    )
    rows = [(r.s, r.total) for r in out.collect()]
    assert rows == [("x", 30.0), ("y", 5.0)]


def test_streaming_stream_stream_interval_join(spark, tables, tmp_path):
    """Stream-stream watermarked interval join equals the static
    interval join over the same data (availableNow drains both feeds)."""
    from pyspark.sql import functions as F

    from kerf_spark.streaming.ingest import stream_interval_join, with_event_time

    ev = tables["events"].select("event_id", "user_id", "ts", "value").limit(400)
    lsrc, rsrc = str(tmp_path / "ss_l"), str(tmp_path / "ss_r")
    # split by parity so the two feeds interleave in event time
    ev.where(F.col("event_id") % 2 == 0).write.parquet(lsrc)
    ev.where(F.col("event_id") % 2 == 1).write.parquet(rsrc)

    schema = ev.schema
    ls = with_event_time(spark.readStream.schema(schema).parquet(lsrc), "ts")
    rs = with_event_time(spark.readStream.schema(schema).parquet(rsrc), "ts")
    joined = stream_interval_join(ls, rs, ["user_id"], tolerance="30 minutes")
    q = (
        joined.select("user_id", "event_id", "event_id_r")
        .writeStream.format("memory")
        .queryName("ssjoin_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.event_id, r.event_id_r)
        for r in spark.sql("SELECT * FROM ssjoin_test").collect()
    )

    lb = with_event_time(spark.read.parquet(lsrc), "ts")
    rb = with_event_time(spark.read.parquet(rsrc), "ts")
    for c in ["event_id", "ts", "value", "__event_time"]:
        rb = rb.withColumnRenamed(c, f"{c}_r")
    want = sorted(
        (r.user_id, r.event_id, r.event_id_r)
        for r in lb.join(
            rb,
            (lb.user_id == rb.user_id)
            & (F.col("__event_time_r") >= F.col("__event_time") - F.expr("INTERVAL 30 minutes"))
            & (F.col("__event_time_r") <= F.col("__event_time")),
        ).drop(rb.user_id).collect()
    )
    assert got == want and len(got) > 0


def test_kerfsql_asof_join_routes_through_asof_operator(spark):
    """`from t asof join q on sym, ts` — last on-column is the temporal
    key, equi keys before it; result matches the DataFrame-level
    asof_join."""
    from kerf_spark.operators.asof import asof_join
    from kerf_spark.plans.kerfsql import kerf_sql

    trades = spark.createDataFrame(
        [("A", 100, 1), ("A", 205, 2), ("B", 150, 3), ("A", 50, 4)],
        "sym string, ts long, trade_id long",
    )
    quotes = spark.createDataFrame(
        [("A", 90, 1.0), ("A", 200, 3.0), ("B", 160, 9.0)],
        "sym string, ts long, bid double",
    )
    trades.createOrReplaceTempView("kq_trades")
    quotes.createOrReplaceTempView("kq_quotes")
    got = {
        (r["sym"], r["ts"]): r["bid"]
        for r in kerf_sql(
            spark,
            "select sym, ts, bid from kq_trades asof join kq_quotes"
            " on sym, ts",
        ).collect()
    }
    exp = {
        (r["sym"], r["ts"]): r["bid"]
        for r in asof_join(trades, quotes, on="ts", by="sym").collect()
    }
    assert got == exp
    assert got[("A", 205)] == 3.0 and got[("A", 50)] is None


@pytest.fixture(scope="module")
def pushdown_views(spark, tmp_path_factory):
    """Parquet-backed views (so filters stay plan nodes, not folded into
    local rows): right ties at equal ``ts``, NULL ``ts`` and NULL ``sym``
    on both sides, and a right ``px`` that collides with the left's."""
    root = tmp_path_factory.mktemp("asof_push")
    sides = {
        "pd_trades": (
            [("A", 100, 1.0, 1), ("A", 150, 1.5, 2), ("A", 200, 2.0, 3),
             ("A", 250, 2.5, 4), ("A", 300, 3.0, 5), ("A", None, 9.0, 6),
             ("B", 120, 1.2, 7), ("B", 260, 2.6, 8), (None, 200, 0.5, 9)],
            "sym string, ts long, px double, id long",
        ),
        "pd_quotes": (
            [("A", None, 0.1, 1, 0.5), ("A", 140, 1.4, 2, 1.0),
             ("A", 200, 2.0, 3, 2.0), ("A", 200, 2.1, 4, 2.5),
             ("A", 260, 2.6, 5, 3.0), ("A", 310, 3.1, 6, 3.5),
             ("B", 90, 0.9, 7, 1.1), ("B", 255, 2.55, 8, 2.2),
             ("B", 400, 4.0, 9, 4.4), (None, 100, 0.0, 10, 0.0)],
            "sym string, ts long, px double, qseq long, bid double",
        ),
    }
    for name, (rows, schema) in sides.items():
        path = str(root / name)
        spark.createDataFrame(rows, schema).write.parquet(path)
        spark.read.parquet(path).createOrReplaceTempView(name)
    return spark.table("pd_trades"), spark.table("pd_quotes")


def _branch_comparisons(df):
    """The comparisons in the filters under each child of ``df``'s
    union (left, right), read from the JVM's optimized logical plan as
    (expression class, column, literal) triples."""
    def kids(n):
        c = n.children()
        return [c.apply(i) for i in range(c.size())]

    def kind(n):
        return n.getClass().getSimpleName()

    def walk(n, pick):
        return ([n] if pick(n) else []) + [
            m for k in kids(n) for m in walk(k, pick)
        ]

    def comparisons(e):
        k = kind(e)
        if k in ("LessThan", "LessThanOrEqual", "GreaterThan",
                 "GreaterThanOrEqual", "EqualTo", "IsNull", "Rand"):
            a = kids(e)
            col = a[0].name() if a and kind(a[0]) == "AttributeReference" else None
            val = str(a[1].value()) if len(a) > 1 and kind(a[1]) == "Literal" else None
            return {(k, col, val)}
        return {t for c in kids(e) for t in comparisons(c)}

    union, = walk(df._jdf.queryExecution().optimizedPlan(), lambda n: kind(n) == "Union")
    return [
        {t for f in walk(side, lambda n: kind(n) == "Filter")
         for t in comparisons(f.condition())}
        for side in kids(union)
    ]


_LT300, _NULL = ("LessThan", "ts", "300"), ("IsNull", "ts", None)


@pytest.mark.parametrize(
    "where, left_has, right_ts",
    [
        # time window: both bounds on the left, only the upper on the right
        ("ts >= 100 and ts < 300",
         {("GreaterThanOrEqual", "ts", "100"), _LT300}, {_LT300, _NULL}),
        ("ts between 100 and 250",
         {("GreaterThanOrEqual", "ts", "100"), ("LessThanOrEqual", "ts", "250")},
         {("LessThanOrEqual", "ts", "250"), _NULL}),
        # a right-column conjunct (the collided px comes out as px_r) stays
        ("ts < 300 and px_r > 1.5 and qseq >= 3", {_LT300}, {_LT300, _NULL}),
        # an OR with a right column moves nowhere
        ("(ts < 250 or bid > 2.0)", set(), set()),
        # a left-only OR filters the left but bounds no right row
        ("(ts < 150 or ts > 300)",
         {("LessThan", "ts", "150"), ("GreaterThan", "ts", "300")}, set()),
        # a nondeterministic conjunct stays above the join
        ("rand() < 2 and ts < 300", {_LT300}, {_LT300, _NULL}),
        # a by-key conjunct, as in folio_asof_cosharded
        ("sym = 'A' and ts >= 150", {("EqualTo", "sym", "A"),
                                      ("GreaterThanOrEqual", "ts", "150")}, set()),
    ],
)
def test_kerfsql_asof_pushes_left_where_below_the_join(
    spark, pushdown_views, capfd, where, left_has, right_ts
):
    """The kerf-SQL as-of pushes left-only WHERE conjuncts onto the left
    table and a literal upper time bound onto the right one; the result
    equals the unpushed reference (the join over the full tables, then
    the filter).  Telling the conjuncts apart raises (and logs) no Spark
    error."""
    from kerf_spark.operators.asof import asof_join
    from kerf_spark.plans.kerfsql import kerf_sql

    capfd.readouterr()
    got = kerf_sql(
        spark, f"select * from pd_trades asof join pd_quotes on sym, ts where {where}"
    )
    assert "QueryContextLogger" not in capfd.readouterr().err
    want = asof_join(*pushdown_views, on="ts", by="sym").where(where)
    assert got.columns == want.columns
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)
    assert got.count() > 0
    left, right = _branch_comparisons(got)
    assert left_has <= left
    assert not any(t[0] == "Rand" for t in left)
    if not left_has:
        assert not any(t[1] == "ts" for t in left)
    assert {t for t in right if t[1] == "ts"} == right_ts


def test_kerfsql_running_and_moving_verbs_translate():
    from kerf_spark.plans.kerfsql import translate

    sql = translate(
        "select s: sums(v), m: mmax(5, v), d: mdev(10, v), c: mcount(3, v)"
        " by g from t order by ts"
    )
    assert "sum(v) OVER (PARTITION BY g ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)" in sql
    assert "max(v) OVER (PARTITION BY g ORDER BY ts ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)" in sql
    assert "stddev_pop(v) OVER (PARTITION BY g ORDER BY ts ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)" in sql
    assert "count(v) OVER (PARTITION BY g ORDER BY ts ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)" in sql


def test_kerfsql_error_taxonomy_for_new_paths():
    import pytest

    from kerf_spark.errors import ArgsError, ParseError
    from kerf_spark.plans.kerfsql import translate

    # asof text at translate() level: loud ParseError, not a Spark
    # parse error downstream
    with pytest.raises(ParseError, match="asof/window join"):
        translate("select a from t asof join q on sym, ts")
    # non-literal moving-window size: ArgsError, not bare ValueError
    with pytest.raises(ArgsError, match="integer-literal"):
        translate("select m: mmax(w, v) by g from t order by ts")


def test_kerfsql_window_join_matches_operator(spark):
    from kerf_spark.operators.asof import window_join
    from kerf_spark.plans.kerfsql import kerf_sql

    left = spark.createDataFrame(
        [("A", 100, 1), ("A", 250, 2), ("B", 50, 3)],
        "sym string, ts long, lid long",
    )
    right = spark.createDataFrame(
        [("A", 60, 10), ("A", 90, 11), ("A", 240, 12), ("B", 49, 13)],
        "sym string, ts long, rid long",
    )
    left.createOrReplaceTempView("wj_l")
    right.createOrReplaceTempView("wj_r")
    got = {
        (r["lid"], r["rid"])
        for r in kerf_sql(
            spark,
            "select lid, rid from wj_l window join wj_r on sym, ts"
            " within -50ns 0ns",
        ).collect()
    }
    exp = {
        (r["lid"], r["rid"])
        for r in window_join(
            left, right, on="ts", lo_ns=-50, hi_ns=0, by="sym",
            bucket_ns=50,
        ).collect()
    }
    assert got == exp == {(1, 10), (1, 11), (2, 12), (3, 13)}
    # catalog hygiene: the temp view dropped after resolution
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("__kf_wj")
    ]


def test_kerfsql_temporal_join_parse_edges(spark):
    import pytest

    from kerf_spark.errors import ArgsError, ParseError
    from kerf_spark.plans.kerfsql import kerf_sql

    spark.createDataFrame(
        [("A", 1, 1)], "sym string, ts long, lid long"
    ).createOrReplaceTempView("pe_l")
    spark.createDataFrame(
        [("A", 1, 1.0)], "sym string, ts long, bid double"
    ).createOrReplaceTempView("pe_r")
    # trailing semicolon accepted (the span token must not swallow it)
    assert (
        kerf_sql(
            spark,
            "select lid, bid from pe_l window join pe_r on sym, ts"
            " within -5ns 0ns;",
        ).count()
        == 1
    )
    # malformed span -> ArgsError, not bare ValueError
    with pytest.raises(ArgsError, match="span"):
        kerf_sql(
            spark,
            "select lid from pe_l window join pe_r on sym, ts"
            " within -1x 0s",
        )
    # missing within clause -> targeted ParseError, not circular advice
    with pytest.raises(ParseError, match="malformed asof/window join"):
        kerf_sql(
            spark, "select lid from pe_l window join pe_r on sym, ts"
        )


def test_workspace_zorder_write_bounds_both_dims(spark, tmp_path):
    """A zordered write must leave every parquet row group bounded in
    BOTH dimensions — the min/max stats a two-column predicate prunes
    on — unlike an unsorted write whose groups span the whole domain."""
    import glob

    import pyarrow.parquet as pq

    from kerf_spark.sources.catalog import Workspace

    df = (
        spark.range(256 * 256)
        .select(
            (F.col("id") % 256).alias("u"),
            (F.col("id") / 256).cast("long").alias("v"),
        )
        .repartition(16)  # scrambled input layout
    )
    ws = Workspace(spark, str(tmp_path))
    ws.save(
        "grid", df, zorder_by=("u", "v"), zorder_partitions=16,
        minimize_widths=False,
    )

    spans = []
    for f in glob.glob(str(tmp_path) + "/grid/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            cols = {
                md.row_group(rg).column(i).path_in_schema: md.row_group(rg)
                .column(i)
                .statistics
                for i in range(md.row_group(rg).num_columns)
            }
            su = cols["u"].max - cols["u"].min + 1
            sv = cols["v"].max - cols["v"].min + 1
            spans.append((su, sv))
    assert spans
    # every group covers a small tile of the 256x256 domain, not a slab
    # of one dimension (a contiguous z-range can straddle one high-bit
    # boundary, so the worst tile is a few subtiles, never the domain)
    # (range boundaries are SAMPLED by repartitionByRange, so the worst
    # tile varies run-to-run; assert the stable facts: no group spans
    # the domain, and the average group is a genuine small tile)
    worst = max(su * sv for su, sv in spans)
    mean = sum(su * sv for su, sv in spans) / len(spans)
    # worst bound leaves slack above the theoretically reachable
    # 256x128 center-straddle so sampling skew can't flake the test;
    # the mean is the discriminating assertion
    assert worst <= (256 * 256) * 3 // 4, spans[:5]
    assert mean <= (256 * 256) // 6, spans[:5]
    # and the manifest records the clustering
    assert ws.manifest["tables"]["grid"]["zorder_by"] == ["u", "v"]
    assert ws.manifest["tables"]["grid"]["zorder"] == "global"
    # round-trip intact
    assert ws.load("grid").count() == 256 * 256
    # append demotes the claim to per-file clustering
    ws.append(
        "grid",
        spark.range(64).select(
            (F.col("id") % 8).alias("u"), (F.col("id") / 8).cast("long").alias("v")
        ),
    )
    assert ws.manifest["tables"]["grid"]["zorder"] == "files"
    assert ws.load("grid").count() == 256 * 256 + 64
    # out-of-range values refuse loudly instead of aliasing silently —
    # enforcement is IN the write pass (raise_error in the z-key), so
    # it surfaces as a Spark runtime error during the write job and
    # covers append/upsert too
    import pytest

    bad = spark.range(3).select(
        (F.col("id") + 70000).alias("u"), F.col("id").alias("v")
    )
    with pytest.raises(Exception, match="16-bit domain"):
        ws.save("bad", bad, zorder_by=("u", "v"))
    with pytest.raises(Exception, match="16-bit domain"):
        ws.append("grid", bad)

    # non-integral values must refuse loudly too: the long-cast in the
    # guard would otherwise silently TRUNCATE 3.7 -> 3 in the persisted
    # table (r4 ADVICE, catalog.py _zcluster)
    frac = spark.range(3).select(
        (F.col("id") + F.lit(0.7)).alias("u"),
        F.col("id").cast("double").alias("v"),
    )
    with pytest.raises(Exception, match="not an integer"):
        ws.save("badfrac", frac, zorder_by=("u", "v"))


def test_kerfsql_fills_is_ffill_alias():
    from kerf_spark.plans.kerfsql import translate

    a = translate("select f: fills(v) by g from t order by ts")
    b = translate("select f: ffill(v) by g from t order by ts")
    assert a == b and "IGNORE NULLS" in a


def test_kerfsql_fby_translations():
    from kerf_spark.plans.kerfsql import translate

    star = translate("select from t where v > avg(v) fby g")
    assert "avg(v) OVER (PARTITION BY g) AS __fby0" in star
    assert star.startswith("SELECT * EXCEPT (__fby0)")  # helper never leaks
    multi = translate(
        "select a, b from t where v > avg(v) fby (g, h) and v < 9"
    )
    assert "PARTITION BY g, h" in multi and multi.endswith("and v < 9")
    grouped = translate(
        "select n: count(*) by g from t where v > sum(v) fby h"
    )
    assert "GROUP BY g" in grouped and "sum(v) OVER (PARTITION BY h)" in grouped


def test_compact_merges_small_files_and_restores_sorted_claim(spark, tmp_path):
    """Many tiny appended files -> few sized files; a sorted claim
    demoted to 'files' by an out-of-order append comes back 'global'
    (verified by content order, not just the flag)."""
    from kerf_spark.sources.catalog import Workspace

    ws = Workspace(spark, str(tmp_path))
    ws.save(
        "t",
        spark.createDataFrame([(10, "a"), (20, "b")], "ts long, s string"),
        sort_by=["ts"],
    )
    for lo in (5, 40, 1):  # out-of-order appends demote to per-file
        ws.append(
            "t",
            spark.createDataFrame([(lo, "x"), (lo + 1, "y")], "ts long, s string"),
        )
    assert ws.manifest["tables"]["t"]["sorted"] == "files"
    import glob
    import os

    before = len(glob.glob(os.path.join(str(tmp_path), "t", "*.parquet")))
    stats = ws.compact("t", target_file_mb=128)
    assert stats["files_before"] == before and stats["files_after"] < before
    assert ws.manifest["tables"]["t"]["sorted"] == "global"
    assert ws.manifest["tables"]["t"]["sort_key_max"] == 41
    got = [r.ts for r in ws.load("t").collect()]
    assert sorted(got) == [1, 2, 5, 6, 10, 20, 40, 41]
    # global claim means reading in file order yields sorted data
    files = sorted(glob.glob(os.path.join(str(tmp_path), "t", "*.parquet")))
    seq = []
    for f in files:
        seq.extend(r.ts for r in spark.read.parquet(f).collect())
    # within each file sorted; across range-partitioned files disjoint
    import itertools

    bounds = [
        (min(r), max(r))
        for f in files
        if (r := [x.ts for x in spark.read.parquet(f).collect()])
    ]
    for (l1, h1), (l2, h2) in itertools.combinations(bounds, 2):
        assert h1 < l2 or h2 < l1  # disjoint ranges


def test_compact_partitioned_folio_one_file_per_partition(spark, tmp_path):
    from pyspark.sql import functions as F

    from kerf_spark.sources.catalog import Workspace

    ws = Workspace(spark, str(tmp_path))
    df = spark.range(100).select(
        (F.col("id") % 3).alias("d"), F.col("id").alias("v")
    )
    ws.save("f", df, partition_by=["d"])
    ws.append("f", df)  # second file batch per partition
    stats = ws.compact("f")
    assert stats["files_after"] <= 3  # one per partition dir
    assert ws.load("f").count() == 200


def test_kerfsql_fby_nested_call():
    from kerf_spark.plans.kerfsql import translate

    sql = translate("select a from t where v > avg(abs(v - 3)) fby g")
    assert "avg(abs(v - 3)) OVER (PARTITION BY g)" in sql


def test_drop_partitions_expires_folio_dates(spark, tmp_path):
    from pyspark.sql import functions as F

    from kerf_spark.sources.catalog import Workspace

    ws = Workspace(spark, str(tmp_path))
    df = spark.range(90).select(
        (F.col("id") % 3).alias("d"), F.col("id").alias("v")
    )
    ws.save("f", df, partition_by=["d"])
    assert ws.load("f").count() == 90
    n = ws.drop_partitions("f", [0, 2])
    assert n == 2
    left = ws.load("f")
    assert left.count() == 30
    assert [r.d for r in left.select("d").distinct().collect()] == [1]
    # non-partitioned tables refuse
    ws.save("plain", spark.range(3))
    import pytest

    with pytest.raises(ValueError, match="not partitioned"):
        ws.drop_partitions("plain", [1])


def test_drop_partitions_boolean_encoding(spark, tmp_path):
    """Spark writes boolean partition dirs as flag=true/false — the
    retention match must speak that encoding, not Python's repr."""
    from pyspark.sql import functions as F

    from kerf_spark.sources.catalog import Workspace

    ws = Workspace(spark, str(tmp_path))
    df = spark.range(20).select(
        (F.col("id") % 2 == 0).alias("flag"), F.col("id").alias("v")
    )
    ws.save("b", df, partition_by=["flag"])
    assert ws.drop_partitions("b", [True]) == 1
    left = ws.load("b")
    assert left.count() == 10 and not any(r.flag for r in left.collect())


def test_kerfsql_fby_deeply_nested_argument():
    from kerf_spark.plans.kerfsql import translate

    sql = translate(
        "select a from t where v > avg(abs(round(x, 2))) fby sym"
    )
    assert "avg(abs(round(x, 2))) OVER (PARTITION BY sym)" in sql


# --------------------------------------------------- unique-key sort index
def test_keyed_table_constraints_enforced(spark, tables, ws_root):
    """VERDICT r8 missing #2 (enums.h:265
    SORT_INDEX_withOptUNIQUE_withOptNONNULLS): a declared key is
    ENFORCED — duplicate or null keys refuse with the reference's
    keyed-table error (ERROR_KEYS, jump.h:168) at save, append, and
    upsert."""
    from kerf_spark.errors import KeysError

    ws = Workspace(spark, ws_root)
    ords = tables["orders"]
    # save: duplicates refuse
    with pytest.raises(KeysError, match="duplicate"):
        ws.save("bad", ords.union(ords.limit(1)), key="o_orderkey")
    # save: nulls refuse
    nulled = ords.withColumn(
        "o_orderkey",
        F.when(F.col("o_orderkey") == 1, F.lit(None)).otherwise(
            F.col("o_orderkey")
        ),
    )
    with pytest.raises(KeysError, match="null"):
        ws.save("bad", nulled, key="o_orderkey")
    # nonnull=False lets nulls through but still enforces unique
    ws.save("tolerant", nulled, key="o_orderkey", nonnull=False)
    assert ws.manifest["tables"]["tolerant"]["nonnull"] is False
    # the good table
    ws.save("orders", ords, key="o_orderkey")
    meta = ws.manifest["tables"]["orders"]
    assert meta["key"] == ["o_orderkey"]
    assert meta["unique"] and meta["nonnull"]
    assert meta["sort_by"] == ["o_orderkey"]  # key IS the sort index
    assert len(meta["key_file_ranges"]) >= 1
    # append: batch-internal duplicate refuses
    fresh = ords.select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        *[c for c in ords.columns if c != "o_orderkey"],
    ).limit(4)
    with pytest.raises(KeysError, match="duplicate"):
        ws.append("orders", fresh.union(fresh.limit(1)))
    # append: collision with STORED keys refuses
    with pytest.raises(KeysError, match="collide"):
        ws.append("orders", ords.limit(2))
    # append of genuinely new keys extends the table AND the index
    n_files0 = len(ws.manifest["tables"]["orders"]["key_file_ranges"])
    ws.append("orders", fresh)
    meta = ws.manifest["tables"]["orders"]
    assert len(meta["key_file_ranges"]) > n_files0
    assert ws.load("orders").count() == ords.count() + 4
    # upsert: keys default to the declared key; disagreeing keys refuse
    with pytest.raises(KeysError, match="disagree"):
        ws.upsert("orders", ords.limit(1), ["o_custkey"])
    up = ords.limit(3).withColumn("o_totalprice", F.lit(0.0))
    ws.upsert("orders", up)  # declared-key default
    out = ws.load("orders")
    assert out.where(F.col("o_totalprice") == 0.0).count() == 3
    assert out.count() == ords.count() + 4  # replaced, not duplicated


def test_key_lookup_scans_only_covering_files(spark, tables, ws_root):
    """The sort-index READ contract: a point lookup selects files by
    the manifest's per-file key ranges at the driver — the scan reads
    a strict subset of the table's files and returns exactly the keyed
    rows."""
    ws = Workspace(spark, ws_root)
    ords = tables["orders"]
    # force a multi-file layout so pruning is observable
    ws.save("orders", ords, key="o_orderkey", key_partitions=8)
    meta = ws.manifest["tables"]["orders"]
    all_files = set(meta["key_file_ranges"])
    assert len(all_files) >= 4  # range layout: several disjoint files
    some = [r["o_orderkey"] for r in ords.limit(3).collect()]
    hit = ws.key_lookup("orders", some)
    got = sorted(r["o_orderkey"] for r in hit.collect())
    assert got == sorted(some)
    # the plan proof: the lookup's scan inputs are a strict subset
    used = _names(hit.inputFiles())
    assert used <= _names(all_files)
    assert len(used) < len(all_files)
    # single-value and miss lookups
    one = ws.key_lookup("orders", some[0])
    assert one.count() == 1
    assert ws.key_lookup("orders", -999).count() == 0
    # reopened workspace keeps the index (manifest is the durable truth)
    ws2 = Workspace(spark, ws_root)
    assert ws2.key_lookup("orders", some[0]).count() == 1
    # and the pushed filter reaches the pruned scan
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderkey" in plan.split(
        "PushedFilters", 1
    )[1][:200]


def test_property_keyed_table_interleavings_match_model(spark, ws_root):
    """Hypothesis over random append/upsert/lookup interleavings on a
    keyed table: the stored table always equals a dict model (key ->
    latest value), constraint violations always refuse, and key_lookup
    agrees with the model for hits and misses."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from kerf_spark.errors import KeysError

    ops = st.lists(
        st.tuples(
            st.sampled_from(
                ["add", "ups", "lookup", "collide", "del", "delrange"]
            ),
            st.lists(
                st.integers(min_value=0, max_value=39),
                min_size=1, max_size=5,
            ),
        ),
        min_size=1, max_size=6,
    )

    def frame(pairs):
        return spark.createDataFrame(
            [(int(k), int(v)) for k, v in pairs], "k long, v long"
        )

    @settings(
        max_examples=12, deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(start=st.sets(st.integers(0, 39), min_size=1, max_size=10),
           ops=ops)
    def check(start, ops):
        import shutil as _sh

        root = ws_root + "/prop"
        _sh.rmtree(root, ignore_errors=True)
        ws = Workspace(spark, root)
        model = {k: 0 for k in sorted(start)}
        ws.save("t", frame(sorted(model.items())), key="k",
                minimize_widths=False)
        ver = 0
        for op, keys in ops:
            keys = sorted(set(keys))
            if op == "add":
                fresh = [k for k in keys if k not in model]
                if not fresh:
                    continue
                ver += 1
                ws.append("t", frame([(k, ver) for k in fresh]))
                for k in fresh:
                    model[k] = ver
            elif op == "ups":
                ver += 1
                ws.upsert("t", frame([(k, ver) for k in keys]))
                for k in keys:
                    model[k] = ver
            elif op == "del":
                n = ws.delete_keys("t", [int(k) for k in keys])
                hit = [k for k in keys if k in model]
                assert n == len(hit)
                for k in hit:
                    del model[k]
            elif op == "delrange":
                lo, hi = keys[0], keys[-1]
                n = ws.delete_range("t", int(lo), int(hi))
                hit = [k for k in list(model) if lo <= k <= hi]
                assert n == len(hit)
                for k in hit:
                    del model[k]
            elif op == "collide":
                hit = [k for k in keys if k in model]
                if not hit:
                    continue
                with pytest.raises(KeysError):
                    ws.append("t", frame([(k, 99) for k in hit]))
            else:  # lookup
                got = {
                    r["k"]: r["v"]
                    for r in ws.key_lookup("t", [int(k) for k in keys])
                    .collect()
                }
                want = {k: model[k] for k in keys if k in model}
                assert got == want
        stored = {r["k"]: r["v"] for r in ws.load("t").collect()}
        assert stored == model
        # the file-range index stays consistent with the data
        from pyspark.sql import types as T

        meta = ws.manifest["tables"]["t"]
        files = set(
            spark.read.schema(
                T.StructType.fromJson(meta["schema"])
            ).parquet(meta["path"]).inputFiles()
        )
        assert set(meta["key_file_ranges"]) == files

    check()


def test_key_range_scans_only_overlapping_files(spark, tables, ws_root):
    """The sort index's range read: [lo, hi] selects only files whose
    manifest range overlaps, rows trim exactly, open-ended bounds
    work."""
    ws = Workspace(spark, ws_root)
    ords = tables["orders"]
    ws.save("orders", ords, key="o_orderkey", key_partitions=8)
    n = ords.count()
    keys = sorted(r["o_orderkey"] for r in ords.select("o_orderkey").collect())
    lo, hi = keys[n // 4], keys[n // 2]
    got = ws.key_range("orders", lo, hi)
    want = ords.where(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
    )
    assert got.count() == want.count()
    all_files = set(ws.manifest["tables"]["orders"]["key_file_ranges"])
    assert _names(got.inputFiles()) < _names(all_files)  # strict subset
    # open-ended: everything at/after hi
    tail = ws.key_range("orders", lo=hi)
    assert tail.count() == ords.where(F.col("o_orderkey") >= hi).count()
    assert ws.key_range("orders").count() == n  # both open = full scan
    # out-of-domain range: zero files, zero rows
    assert ws.key_range("orders", lo=10**12).count() == 0


def test_keyed_monotone_append_skips_collision_join(spark, ws_root, monkeypatch):
    """The tick-append fast path: a batch whose minimum key clears the
    stored high-water mark appends without the collision semi-join
    (Workspace.load never called); a non-monotone batch still takes
    the join path and still refuses collisions."""
    from kerf_spark.errors import KeysError

    ws = Workspace(spark, ws_root)
    df = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    ws.save("t", df, key="k", minimize_widths=False)

    calls = []
    orig = Workspace.load

    def counting_load(self, name):
        calls.append(name)
        return orig(self, name)

    monkeypatch.setattr(Workspace, "load", counting_load)
    ws.append("t", spark.createDataFrame([(25, 1), (30, 1)], "k long, v long"))
    assert calls == []  # strictly-above tail: no stored-side read at all
    # interleaving batch: join path runs, fresh keys still append
    ws.append("t", spark.createDataFrame([(22, 1)], "k long, v long"))
    assert calls == ["t"]
    # and collisions still refuse through the join path
    with pytest.raises(KeysError, match="collide"):
        ws.append("t", spark.createDataFrame([(22, 2)], "k long, v long"))
    monkeypatch.undo()
    assert ws.load("t").count() == 23
    got = {r["k"]: r["v"] for r in ws.key_lookup("t", [25, 30, 22]).collect()}
    assert got == {25: 1, 30: 1, 22: 1}


def test_keyed_nullable_unique_null_collision_refuses(spark, ws_root):
    """nonnull=False + unique=True: null is a VALUE for uniqueness —
    a second null key refuses across appends too (SQL's null-never-
    equals join semantics must not hide the collision)."""
    from kerf_spark.errors import KeysError

    ws = Workspace(spark, ws_root)
    df = spark.createDataFrame(
        [(1, 10), (None, 20), (3, 30)], "k long, v long"
    )
    ws.save("t", df, key="k", nonnull=False, minimize_widths=False)
    with pytest.raises(KeysError, match="null key already stored"):
        ws.append(
            "t", spark.createDataFrame([(None, 40)], "k long, v long")
        )
    # non-null fresh keys still append fine
    ws.append("t", spark.createDataFrame([(9, 90)], "k long, v long"))
    assert ws.load("t").count() == 4


def test_keyed_nullable_unique_upsert_replaces_null_key(spark, ws_root):
    """ADVICE r9 (catalog.py:1062): upsert must mirror append's
    null-as-value uniqueness — an incoming null-key row REPLACES the
    stored null-key row (null-safe <=> anti join), never duplicates
    it.  Otherwise the merge leaves two null keys in a table whose
    append path explicitly refuses a second null."""
    ws = Workspace(spark, ws_root)
    df = spark.createDataFrame(
        [(1, 10), (None, 20), (3, 30)], "k long, v long"
    )
    ws.save("t", df, key="k", nonnull=False, minimize_widths=False)
    ws.upsert(
        "t",
        spark.createDataFrame([(None, 99), (3, 33)], "k long, v long"),
    )
    got = {
        (None if r["k"] is None else int(r["k"])): int(r["v"])
        for r in ws.load("t").collect()
    }
    assert got == {1: 10, None: 99, 3: 33}
    # and the invariant append relies on still holds: ONE stored null
    from kerf_spark.errors import KeysError

    with pytest.raises(KeysError, match="null key already stored"):
        ws.append(
            "t", spark.createDataFrame([(None, 7)], "k long, v long")
        )


def test_manifest_flush_merges_across_writers(spark, ws_root):
    """VERDICT r9 #3 (the Kerf Tree sutex analogue,
    concurrency-model.md:53-97): two INDEPENDENT Workspace instances
    over one root — each blind to the other's in-memory state —
    append/save concurrently to DIFFERENT tables from two threads;
    the flock-serialized merge-on-flush lands BOTH tables in the
    disk manifest (pre-fix, the second flush clobbered the first)."""
    import json
    import threading

    wsA = Workspace(spark, ws_root)
    wsB = Workspace(spark, ws_root)

    def work(ws, name, base):
        df = spark.range(base, base + 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        ws.save(name, df, minimize_widths=False)
        for i in range(3):
            ws.append(
                name,
                spark.range(base + 100 + i, base + 101 + i).select(
                    F.col("id").alias("k"), (F.col("id") * 2).alias("v")
                ),
            )

    ta = threading.Thread(target=work, args=(wsA, "alpha", 0))
    tb = threading.Thread(target=work, args=(wsB, "beta", 10_000))
    ta.start(); tb.start(); ta.join(); tb.join()
    with open(f"{ws_root}/workspace.json") as fh:
        disk = json.load(fh)
    assert set(disk["tables"]) >= {"alpha", "beta"}
    # a THIRD instance (fresh read of the merged manifest) sees both
    ws3 = Workspace(spark, ws_root)
    assert ws3.load("alpha").count() == 103
    assert ws3.load("beta").count() == 103


def test_manifest_flush_merges_across_processes(spark, ws_root):
    """True cross-PROCESS proof: a child python process (no Spark —
    manifest surgery only) registers a table while the parent holds
    its own stale in-memory manifest; the parent's next flush merges
    rather than clobbers, and the parent's tombstoned drop survives
    the merge."""
    import json
    import subprocess
    import sys
    import textwrap

    ws = Workspace(spark, ws_root)
    df = spark.range(10).select(F.col("id").alias("k"))
    ws.save("mine", df, minimize_widths=False)
    ws.save("gone", df, minimize_widths=False)
    child = textwrap.dedent(f"""
        import sys; sys.path.insert(0, {str('/root/repo')!r})
        from kerf_spark.sources.catalog import Workspace
        w = Workspace(None, {ws_root!r})
        w.manifest["tables"]["theirs"] = {{"path": "x", "partition_by": [],
            "sort_by": [], "zorder_by": [], "zorder": None,
            "zorder_partitions": None, "schema": {{}}}}
        w._flush()
    """)
    subprocess.run([sys.executable, "-c", child], check=True, timeout=60)
    # parent's manifest object predates the child's write ...
    assert "theirs" not in ws.manifest["tables"]
    ws.drop("gone")  # ... its flush must merge, not clobber
    with open(f"{ws_root}/workspace.json") as fh:
        disk = json.load(fh)
    assert "theirs" in disk["tables"]  # child's entry survived
    assert "mine" in disk["tables"]
    assert "gone" not in disk["tables"]  # tombstone applied
    # the read-side half: refresh() picks up sibling writers' entries
    ws2 = Workspace(spark, ws_root)
    ws2.manifest["tables"].pop("theirs", None)  # simulate stale view
    ws2.refresh()
    assert "theirs" in ws2.manifest["tables"]


def test_same_table_writers_serialize_under_table_lock(spark, ws_root):
    """Two writer INSTANCES appending to the SAME keyed table
    concurrently: the per-table flock serializes them and each
    re-reads the manifest under the lock, so BOTH appends' rows land,
    the sort index covers both writers' files, and no constraint
    falsely fires.  (Without the lock the last flush wins and the
    loser's index entries vanish while its files stay on disk.)"""
    import threading
    from urllib.parse import urlparse

    ws0 = Workspace(spark, ws_root)
    ws0.save(
        "t",
        spark.createDataFrame([(0, 0)], "k long, v long"),
        key="k", minimize_widths=False,
    )
    errs = []

    def writer(offset: int):
        try:
            w = Workspace(spark, ws_root)
            for i in range(3):
                base = 1 + offset + i * 100
                w.append(
                    "t",
                    spark.createDataFrame(
                        [(base + j, base + j) for j in range(5)],
                        "k long, v long",
                    ),
                )
        except Exception as e:  # surface into the main thread
            errs.append(e)

    ts = [
        threading.Thread(target=writer, args=(off,))
        for off in (0, 50)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    ws = Workspace(spark, ws_root)
    rows = {r["k"] for r in ws.load("t").collect()}
    want = {0} | {
        1 + off + i * 100 + j
        for off in (0, 50)
        for i in range(3)
        for j in range(5)
    }
    assert rows == want  # every append from both writers landed
    # index == disk: every data file has an entry, no ghosts
    import os as _os

    meta = ws.manifest["tables"]["t"]
    on_disk = {
        _os.path.join(d, f)
        for d, _, fs in _os.walk(meta["path"])
        for f in fs if f.endswith(".parquet")
    }
    assert {urlparse(f).path for f in meta["key_file_ranges"]} == on_disk
    # lookups through the merged index see both writers' rows
    assert ws.key_lookup("t", [51, 151]).count() == 2


def test_composite_key_ranges_prune_more_than_lead_only(spark, ws_root):
    """VERDICT r9 #6: the manifest records [min,max] for the SECOND
    key column too, and a tuple probe scans STRICTLY fewer files than
    a lead-only probe — the (sym, ts) tick key: one hot sym spans
    many files, the ts bound picks the one holding the probe."""
    ws = Workspace(spark, ws_root)
    # 2 syms × 20k ticks: range layout gives each sym several files
    df = spark.range(40_000).select(
        F.when(F.col("id") < 20_000, "AAPL").otherwise("MSFT").alias("sym"),
        (F.col("id") % 20_000).alias("ts"),
        (F.col("id") * 2).alias("px"),
    )
    ws.save("ticks", df, key=("sym", "ts"), key_partitions=8,
            minimize_widths=False)
    meta = ws.manifest["tables"]["ticks"]
    rngs = meta["key_file_ranges"]
    assert all(len(r) == 5 for r in rngs.values()), rngs
    aapl_files = [
        f for f, r in rngs.items() if r[2] > 0 and r[0] <= "AAPL" <= r[1]
    ]
    assert len(aapl_files) >= 2, "fixture must spread one sym over files"
    # lead-only probe reads every AAPL file ...
    lead_only = ws.key_lookup("ticks", [("AAPL",)])
    assert _names(lead_only.inputFiles()) == _names(aapl_files)
    # ... the tuple probe reads strictly fewer
    tup = ws.key_lookup("ticks", [("AAPL", 7)])
    assert _names(tup.inputFiles()) < _names(aapl_files)
    got = tup.collect()
    assert len(got) == 1 and got[0]["px"] == 14
    # appends extend the composite index too
    rngs = dict(rngs)  # snapshot — the manifest dict mutates in place
    ws.append(
        "ticks",
        spark.createDataFrame(
            [("ZZZZ", 1, 0)], "sym string, ts long, px long"
        ),
    )
    rngs2 = ws.manifest["tables"]["ticks"]["key_file_ranges"]
    new = [r for f, r in rngs2.items() if f not in rngs and r[2] > 0]
    assert new and all(len(r) == 5 for r in new)
    assert new[0][3] == 1 and new[0][4] == 1  # second-key bounds


def test_keyed_append_pins_nondeterministic_batch(spark, ws_root):
    """A keyed append evaluates the caller's plan several times
    (unique check, bound aggregates, the write) — the batch is PINNED
    with an eager localCheckpoint so all of them see the same rows; a
    rand()-keyed batch must land with manifest claims (sort_key_max,
    per-file ranges) that agree exactly with the stored data."""
    from pyspark.sql import types as T

    ws = Workspace(spark, ws_root)
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ws.save("t", base, key="k", minimize_widths=False)
    nd = spark.range(50).select(
        ((F.rand() * 1e15).cast("long") + 10_000).alias("k"),
        F.lit(1).cast("long").alias("v"),
    )
    ws.append("t", nd)
    meta = ws.manifest["tables"]["t"]
    stored = ws.load("t")
    assert stored.count() == 150
    true_max = stored.agg(F.max("k")).head()[0]
    assert int(meta["sort_key_max"]) == int(true_max)
    # per-file index bounds agree with the files they describe
    schema = T.StructType.fromJson(meta["schema"])
    for f, rng in meta["key_file_ranges"].items():
        if rng[2] == 0:
            continue
        got = (
            spark.read.schema(schema).parquet(f)
            .agg(F.min("k"), F.max("k"), F.count(F.lit(1))).head()
        )
        assert [int(got[0]), int(got[1]), int(got[2])] == [
            int(rng[0]), int(rng[1]), int(rng[2])
        ], f


def test_key_range_tuple_bounds_same_lead_slice(spark, ws_root):
    """key_range with LEXICOGRAPHIC tuple bounds — the tick read
    (one sym, a time slice): same-lead bounds engage the composite
    index's second-column file pruning, and the row predicate is the
    exact lexicographic slice."""
    ws = Workspace(spark, ws_root)
    df = spark.range(40_000).select(
        F.when(F.col("id") < 20_000, "AAPL").otherwise("MSFT").alias("sym"),
        (F.col("id") % 20_000).alias("ts"),
        (F.col("id") * 2).alias("px"),
    )
    ws.save("ticks", df, key=("sym", "ts"), key_partitions=8,
            minimize_widths=False)
    rngs = ws.manifest["tables"]["ticks"]["key_file_ranges"]
    aapl_files = {
        f for f, r in rngs.items() if r[2] > 0 and r[0] <= "AAPL" <= r[1]
    }
    sl = ws.key_range("ticks", ("AAPL", 100), ("AAPL", 150))
    assert _names(sl.inputFiles()) < _names(aapl_files)  # second-bound pruning
    got = sorted(r["ts"] for r in sl.collect())
    assert got == list(range(100, 151))
    assert {r["sym"] for r in sl.collect()} == {"AAPL"}
    # cross-lead tuple range is lexicographic (tail of AAPL + head of
    # MSFT), and falls back to lead-overlap file selection
    x = ws.key_range("ticks", ("AAPL", 19_998), ("MSFT", 1))
    rows = sorted((r["sym"], r["ts"]) for r in x.collect())
    assert rows == [
        ("AAPL", 19_998), ("AAPL", 19_999), ("MSFT", 0), ("MSFT", 1)
    ]
    # scalar bounds still work unchanged
    assert ws.key_range("ticks", "MSFT", None).count() == 20_000


def test_upsert_keyed_pruned_rewrites_only_covering_files(
    spark, tables, ws_root
):
    """VERDICT r9 #1: the sort index turns a keyed upsert from
    O(table) into O(matching files) — a narrow correction batch
    rewrites only the files whose manifest key range holds its keys;
    every other data file keeps its PATH AND MTIME (proven below),
    and the merged table equals the full-merge oracle."""
    import os
    from urllib.parse import urlparse

    ws = Workspace(spark, ws_root)
    ords = tables["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ws.save("orders", ords, key="o_orderkey", key_partitions=8)
    meta = ws.manifest["tables"]["orders"]
    before = {
        urlparse(f).path: os.path.getmtime(urlparse(f).path)
        for f in meta["key_file_ranges"]
    }
    # corrections touching the 5 lowest keys — one file's range
    lows = [
        int(r[0]) for r in
        ords.orderBy("o_orderkey").limit(5).select("o_orderkey").collect()
    ]
    ups = ords.where(F.col("o_orderkey").isin(lows)).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    ws.upsert("orders", ups)
    meta = ws.manifest["tables"]["orders"]
    after_paths = {urlparse(f).path for f in meta["key_file_ranges"]}
    survivors = set(before) & after_paths
    rewritten = set(before) - after_paths
    assert rewritten, "at least one covering file must be replaced"
    # the pruned contract: MOST files survive, byte-identical
    assert len(rewritten) <= 2, f"over-wide rewrite: {len(rewritten)}"
    for p in survivors:
        assert os.path.getmtime(p) == before[p], f"{p} was rewritten"
    # index agrees with disk
    on_disk = {
        os.path.join(d, f)
        for d, _, fs in os.walk(meta["path"])
        for f in fs if f.endswith(".parquet")
    }
    assert {urlparse(f).path for f in meta["key_file_ranges"]} == on_disk
    # values match the full-merge oracle
    want = {
        int(r["o_orderkey"]): float(r["o_totalprice"])
        for r in ords.collect()
    }
    for k in lows:
        want[k] = want[k] + 1000.0
    got = {
        int(r["o_orderkey"]): float(r["o_totalprice"])
        for r in ws.load("orders").collect()
    }
    assert got == want
    # point lookups still pruned and correct through the new index
    hit = {
        int(r["o_orderkey"]): float(r["o_totalprice"])
        for r in ws.key_lookup("orders", lows).collect()
    }
    assert hit == {k: want[k] for k in lows}


def test_upsert_keyed_pruned_falls_back_when_coverage_is_wide(
    spark, tables, ws_root
):
    """A batch spanning most files takes the full staged rewrite (the
    global re-layout), not a file-by-file shuffle: every data file is
    fresh afterwards and the sorted claim returns to 'global'."""
    import os
    from urllib.parse import urlparse

    ws = Workspace(spark, ws_root)
    ords = tables["orders"].select("o_orderkey", "o_totalprice")
    ws.save("orders", ords, key="o_orderkey", key_partitions=8)
    before = {urlparse(f).path for f in
              ws.manifest["tables"]["orders"]["key_file_ranges"]}
    # every other key: covers every file
    ups = ords.where(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    ws.upsert("orders", ups)
    meta = ws.manifest["tables"]["orders"]
    after = {urlparse(f).path for f in meta["key_file_ranges"]}
    assert after.isdisjoint(before)  # full rewrite: all files new
    assert meta["sorted"] == "global"
    assert ws.load("orders").count() == ords.count()


def test_delete_keys_pruned_rewrites_only_covering_files(
    spark, tables, ws_root
):
    """delete_keys — the third write shape of the append discipline:
    a narrow purge batch rewrites ONLY the covering files (survivors
    keep path+mtime), returns the deleted-row count, and the index
    stays disk-true."""
    import os
    from urllib.parse import urlparse

    ws = Workspace(spark, ws_root)
    ords = tables["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ws.save("orders", ords, key="o_orderkey", key_partitions=8)
    meta = ws.manifest["tables"]["orders"]
    before = {
        urlparse(f).path: os.path.getmtime(urlparse(f).path)
        for f in meta["key_file_ranges"]
    }
    lows = [
        int(r[0]) for r in
        ords.orderBy("o_orderkey").limit(5).select("o_orderkey").collect()
    ]
    n = ws.delete_keys("orders", lows)
    assert n == 5
    meta = ws.manifest["tables"]["orders"]
    after_paths = {urlparse(f).path for f in meta["key_file_ranges"]}
    rewritten = set(before) - after_paths
    assert rewritten and len(rewritten) <= 2
    for p in set(before) & after_paths:
        assert os.path.getmtime(p) == before[p], f"{p} was rewritten"
    # index agrees with disk
    on_disk = {
        os.path.join(d, f)
        for d, _, fs in os.walk(meta["path"])
        for f in fs if f.endswith(".parquet")
    }
    assert after_paths == on_disk
    # values: exactly the probed keys are gone
    total = ords.count()
    assert ws.load("orders").count() == total - 5
    assert ws.key_lookup("orders", lows).count() == 0
    # deleting keys that no longer exist: 0, nothing moves
    mt = {
        urlparse(f).path: os.path.getmtime(urlparse(f).path)
        for f in meta["key_file_ranges"]
    }
    assert ws.delete_keys("orders", lows) == 0
    for p, t in mt.items():
        assert os.path.getmtime(p) == t


def test_delete_keys_prefix_unlinks_whole_files(spark, ws_root):
    """A prefix probe (drop one sym entirely) on a composite-key
    table: files wholly owned by that lead UNLINK without any rewrite
    — no new data files appear at all."""
    from urllib.parse import urlparse

    ws = Workspace(spark, ws_root)
    base = spark.range(20_000).select(
        F.lit("AAPL").alias("sym"),
        F.col("id").alias("ts"),
        (F.col("id") * 2).alias("px"),
    )
    # save AAPL, append MSFT: appends land in their own files, so the
    # AAPL lead wholly owns its files (no mixed boundary file)
    ws.save("ticks", base, key=("sym", "ts"), key_partitions=4,
            minimize_widths=False)
    ws.append(
        "ticks",
        spark.range(20_000).select(
            F.lit("MSFT").alias("sym"),
            F.col("id").alias("ts"),
            (F.col("id") * 3).alias("px"),
        ),
    )
    before = {
        urlparse(f).path
        for f in ws.manifest["tables"]["ticks"]["key_file_ranges"]
    }
    n = ws.delete_keys("ticks", [("AAPL",)])
    assert n == 20_000
    meta = ws.manifest["tables"]["ticks"]
    after = {urlparse(f).path for f in meta["key_file_ranges"]}
    assert after < before  # pure unlink: no new files written
    got = ws.load("ticks")
    assert got.count() == 20_000
    assert {r["sym"] for r in got.select("sym").distinct().collect()} == {
        "MSFT"
    }


def test_delete_keys_null_probe_takes_full_path(spark, ws_root):
    """A NULL probe is invisible to the range index (min/max skip
    nulls), so it takes the staged full rewrite — and null-as-value
    semantics hold: the stored null-key row is the one deleted."""
    ws = Workspace(spark, ws_root)
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "nullrow")], "k int, v string"
    )
    ws.save("t", df, key="k", unique=True, nonnull=False,
            minimize_widths=False)
    assert ws.delete_keys("t", [None]) == 1
    rows = {(r["k"], r["v"]) for r in ws.load("t").collect()}
    assert rows == {(1, "a"), (2, "b")}


def test_delete_keys_wide_coverage_falls_back(spark, tables, ws_root):
    """A probe set spanning most files takes the full staged rewrite:
    all data files fresh, sorted claim back to 'global'."""
    from urllib.parse import urlparse

    ws = Workspace(spark, ws_root)
    ords = tables["orders"].select("o_orderkey", "o_totalprice")
    ws.save("orders", ords, key="o_orderkey", key_partitions=8)
    before = {urlparse(f).path for f in
              ws.manifest["tables"]["orders"]["key_file_ranges"]}
    evens = [
        int(r[0])
        for r in ords.where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey").collect()
    ]
    n = ws.delete_keys("orders", evens)
    assert n == len(evens)
    meta = ws.manifest["tables"]["orders"]
    after = {urlparse(f).path for f in meta["key_file_ranges"]}
    assert after.isdisjoint(before)
    assert meta["sorted"] == "global"
    assert ws.load("orders").count() == ords.count() - n
    assert ws.load("orders").where(
        F.col("o_orderkey") % 2 == 0
    ).count() == 0


def test_delete_range_unlinks_inside_rewrites_boundaries(
    spark, tables, ws_root
):
    """delete_range — key-addressed retention: files wholly inside
    [lo, hi] UNLINK with no read; only boundary files rewrite; every
    other file keeps path+mtime; the count and the surviving rows
    match the filtered oracle."""
    import os
    from urllib.parse import urlparse

    ws = Workspace(spark, ws_root)
    ords = tables["orders"].select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ws.save("orders", ords, key="o_orderkey", key_partitions=8)
    meta = ws.manifest["tables"]["orders"]
    rngs = {
        f: r for f, r in meta["key_file_ranges"].items() if r[2] > 0
    }
    before = {
        urlparse(f).path: os.path.getmtime(urlparse(f).path) for f in rngs
    }
    # range spanning files 2..5 wholly, cutting into 1 and 6
    ordered = sorted(rngs.items(), key=lambda kv: kv[1][0])
    lo = (ordered[1][1][0] + ordered[1][1][1]) // 2  # mid of file 1
    hi = (ordered[6][1][0] + ordered[6][1][1]) // 2  # mid of file 6
    inside = {
        urlparse(f).path
        for f, r in ordered
        if r[0] >= lo and r[1] <= hi
    }
    assert len(inside) >= 3  # the fixture really has interior files
    n = ws.delete_range("orders", lo, hi)
    want_n = ords.where(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
    ).count()
    assert n == want_n
    meta = ws.manifest["tables"]["orders"]
    after = {urlparse(f).path for f in meta["key_file_ranges"]}
    assert inside.isdisjoint(after)  # interior files gone
    untouched = set(before) & after
    for p in untouched:
        assert os.path.getmtime(p) == before[p]
    # survivors equal the filtered oracle
    got = sorted(
        r["o_orderkey"] for r in ws.load("orders").collect()
    )
    want = sorted(
        int(r[0])
        for r in ords.where(
            ~((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi))
        ).select("o_orderkey").collect()
    )
    assert got == want


def test_delete_range_open_bound_retention(spark, ws_root):
    """The retention shape: delete everything BELOW a cutoff (open
    lo) — old files unlink, the boundary file trims, null leads
    survive (ranges cannot address them), and a second sweep with the
    same cutoff is a no-op."""
    ws = Workspace(spark, ws_root)
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1000)] + [(None, "nullrow")],
        "ts int, v string",
    )
    ws.save("ticks", df, key="ts", nonnull=False, key_partitions=4,
            minimize_widths=False)
    n = ws.delete_range("ticks", None, 449)
    assert n == 450
    rows = ws.load("ticks")
    assert rows.count() == 551  # 550 live + the null row
    assert rows.where(F.col("ts").isNull()).count() == 1
    assert rows.where(F.col("ts") < 450).count() == 0
    assert ws.delete_range("ticks", None, 449) == 0
    # both bounds open refuses (that's drop(), not retention)
    import pytest

    from kerf_spark.errors import KeysError

    with pytest.raises(KeysError):
        ws.delete_range("ticks")


def test_delete_range_boundary_abort_keeps_file_dooms_interior(
    spark, ws_root
):
    """The fused single-boundary trim (observed-metrics write,
    optimization r13) must ABORT its staged rewrite when the boundary
    file turns out to lose no rows — the file keeps its exact
    path+mtime — while interior files wholly inside the range still
    unlink in the fallback doomed-only swap.  Layout: one saved file
    spanning [0, 110] holding only {0, 110}, plus an appended file
    [70, 90] (overlapping spans — the 'files' sort claim), then
    delete_range(61, 100): the appended file is doomed, the wide file
    is selected as boundary by its span but holds no row in range."""
    import os
    from urllib.parse import urlparse

    ws = Workspace(spark, ws_root)
    ws.save(
        "t",
        spark.createDataFrame([(0, "a"), (110, "b")], "k int, v string"),
        key="k",
        minimize_widths=False,
    )
    wide = [
        urlparse(f).path
        for f in ws.manifest["tables"]["t"]["key_file_ranges"]
    ]
    assert len(wide) == 1
    ws.append(
        "t",
        spark.createDataFrame(
            [(i, f"i{i}") for i in range(70, 91)], "k int, v string"
        ),
    )
    meta = ws.manifest["tables"]["t"]
    assert meta["sorted"] == "files"  # overlapping spans
    mt = os.path.getmtime(wide[0])
    # pure no-op first: boundary selected by span, no row in range —
    # precommit aborts, nothing swaps, mtime intact
    assert ws.delete_range("t", 1, 60) == 0
    assert os.path.getmtime(wide[0]) == mt
    # doomed + no-loss boundary: interior file unlinks, wide file
    # survives the abort with path+mtime intact
    n = ws.delete_range("t", 61, 100)
    assert n == 21
    meta = ws.manifest["tables"]["t"]
    live = {urlparse(f).path for f in meta["key_file_ranges"]}
    assert wide[0] in live
    assert os.path.getmtime(wide[0]) == mt
    got = sorted(r["k"] for r in ws.load("t").collect())
    assert got == [0, 110]


def test_delete_range_lexicographic_tuple_bounds(spark, ws_root):
    """Tuple bounds purge ONE sym's time slice (the composite-key
    retention shape, mirroring key_range's lexicographic contract):
    only that sym's covering files move, the other sym's rows and
    the sym's out-of-slice rows survive, and a whole-sym slice
    unlinks its wholly-owned files."""
    from urllib.parse import urlparse

    ws = Workspace(spark, ws_root)
    ws.save(
        "ticks",
        spark.range(20_000).select(
            F.lit("AAPL").alias("sym"),
            F.col("id").alias("ts"),
            (F.col("id") * 2).alias("px"),
        ),
        key=("sym", "ts"), key_partitions=4, minimize_widths=False,
    )
    ws.append(
        "ticks",
        spark.range(20_000).select(
            F.lit("MSFT").alias("sym"),
            F.col("id").alias("ts"),
            (F.col("id") * 3).alias("px"),
        ),
    )
    rngs = ws.manifest["tables"]["ticks"]["key_file_ranges"]
    msft_files = {
        urlparse(f).path
        for f, r in rngs.items()
        if r[2] > 0 and r[0] == "MSFT"
    }
    # slice out the middle of AAPL only
    n = ws.delete_range("ticks", ("AAPL", 5_000), ("AAPL", 9_999))
    assert n == 5_000
    meta = ws.manifest["tables"]["ticks"]
    after = {urlparse(f).path for f in meta["key_file_ranges"]}
    assert msft_files <= after  # the other sym never moved
    got = ws.load("ticks")
    assert got.where(F.col("sym") == "MSFT").count() == 20_000
    aapl = sorted(
        r["ts"] for r in got.where(F.col("sym") == "AAPL").collect()
    )
    assert aapl == list(range(0, 5_000)) + list(range(10_000, 20_000))
    # a whole-sym slice unlinks the wholly-owned interior files
    before2 = {urlparse(f).path for f in meta["key_file_ranges"]}
    n2 = ws.delete_range("ticks", ("MSFT",), ("MSFT",))
    assert n2 == 20_000
    after2 = {
        urlparse(f).path
        for f in ws.manifest["tables"]["ticks"]["key_file_ranges"]
    }
    assert after2 < before2 and msft_files.isdisjoint(after2)
    assert ws.load("ticks").where(F.col("sym") == "MSFT").count() == 0


def test_index_stats_reflects_manifest(spark, tables, ws_root):
    """index_stats: the sort index as a table — one row per data
    file, values matching the manifest, zero scans (it reads only the
    manifest dict)."""
    import pytest

    from kerf_spark.errors import KeysError

    ws = Workspace(spark, ws_root)
    ws.save(
        "orders",
        tables["orders"].select("o_orderkey", "o_totalprice"),
        key="o_orderkey", key_partitions=4,
    )
    stats = ws.index_stats("orders").collect()
    rngs = ws.manifest["tables"]["orders"]["key_file_ranges"]
    assert {r["file"] for r in stats} == set(rngs)
    for r in stats:
        ent = rngs[r["file"]]
        assert r["rows"] == ent[2]
        if ent[0] is not None:
            assert r["lo"] == str(ent[0]) and r["hi"] == str(ent[1])
    ws.save("plain", tables["region"])
    with pytest.raises(KeysError):
        ws.index_stats("plain")


def test_snapshot_survives_pruned_writes(spark, ws_root):
    """Hardlink snapshots: a tag taken before delete_keys/upsert/
    append still reads the EXACT pre-mutation rows (the links keep
    the unlinked inodes alive); the live table moves on; dropping the
    snapshot frees it; an incomplete tag (no manifest) is invisible;
    duplicate tags refuse."""
    import os

    import pytest

    from kerf_spark.errors import ColumnError, KerfTypeError

    ws = Workspace(spark, ws_root)
    ws.save(
        "t",
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        key="k", key_partitions=4, minimize_widths=False,
    )
    ws.save("plain", spark.range(7).select(F.col("id").alias("x")))
    before = sorted(
        (r["k"], r["v"]) for r in ws.load("t").collect()
    )
    path = ws.snapshot("v1")
    assert os.path.isdir(path) and ws.snapshots() == ["v1"]
    # mutate through every pruned write shape
    ws.delete_keys("t", list(range(0, 100)))
    ws.upsert(
        "t",
        spark.createDataFrame([(500, 999_999)], "k long, v long"),
    )
    ws.append(
        "t", spark.createDataFrame([(5000, 1)], "k long, v long")
    )
    live = sorted((r["k"], r["v"]) for r in ws.load("t").collect())
    assert live != before
    snap = sorted(
        (r["k"], r["v"])
        for r in ws.load_snapshot("v1", "t").collect()
    )
    assert snap == before  # bitwise the pre-mutation table
    assert ws.load_snapshot("v1", "plain").count() == 7
    with pytest.raises(KerfTypeError):
        ws.snapshot("v1")  # duplicate tag
    with pytest.raises(ColumnError):
        ws.load_snapshot("v1", "nope")
    # incomplete snapshot (no manifest) is invisible
    os.makedirs(os.path.join(ws_root, ".snapshots", "broken"),
                exist_ok=True)
    assert ws.snapshots() == ["v1"]
    with pytest.raises(KerfTypeError):
        ws.load_snapshot("broken", "t")
    # RESTORE: roll the live table back to the tag — the fat-finger
    # recovery; the sort index follows (pruned lookups stay correct)
    ws.restore("v1", "t")
    restored = sorted(
        (r["k"], r["v"]) for r in ws.load("t").collect()
    )
    assert restored == before
    assert ws.key_lookup("t", [50]).count() == 1  # deleted key back
    assert ws.key_lookup("t", [500]).head()["v"] == 1000  # upsert undone
    meta = ws.manifest["tables"]["t"]
    from urllib.parse import urlparse as _up

    on_disk = {
        os.path.join(d, f)
        for d, _, fs in os.walk(meta["path"])
        for f in fs if f.endswith(".parquet")
    }
    assert {_up(f).path for f in meta["key_file_ranges"]} == on_disk
    # the snapshot survives its own restore (restore twice is fine)
    ws.restore("v1", "t")
    assert sorted(
        (r["k"], r["v"]) for r in ws.load("t").collect()
    ) == before
    # retention: keep the newest N tags
    import time as _time

    for i in range(3):
        ws.snapshot(f"r{i}")
        _time.sleep(0.02)  # distinct manifest mtimes
    dropped = ws.prune_snapshots(keep=2)
    assert dropped == ["v1", "r0"]
    assert ws.snapshots() == ["r1", "r2"]
    ws.prune_snapshots(keep=0)
    assert ws.snapshots() == []
    ws.drop_snapshot("v1")  # idempotent on a gone tag
    assert ws.snapshots() == []


def test_snapshot_races_writer_consistently(spark, ws_root):
    """A snapshot taken WHILE another instance upserts must capture a
    consistent version of the table (the per-table lock serializes
    the walk against the staged swap): every snapshot reads the full
    row count (upserts never change it), and its manifest's file set
    matches what was captured on disk — a torn capture would lose
    rows or reference ghost files."""
    import os
    import threading
    from urllib.parse import urlparse

    ws = Workspace(spark, ws_root)
    n = 2_000
    ws.save(
        "t",
        spark.range(n).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        ),
        key="k", key_partitions=4, minimize_widths=False,
    )
    stop = threading.Event()
    errs = []

    def writer():
        try:
            w = Workspace(spark, ws_root)
            i = 0
            while not stop.is_set() and i < 6:
                i += 1
                w.upsert(
                    "t",
                    spark.createDataFrame(
                        [(j, i) for j in range(i * 10, i * 10 + 50)],
                        "k long, v long",
                    ),
                )
        except Exception as e:
            errs.append(e)

    th = threading.Thread(target=writer)
    th.start()
    try:
        tags = []
        for s in range(4):
            tag = f"s{s}"
            ws.snapshot(tag)
            tags.append(tag)
    finally:
        stop.set()
        th.join()
    assert not errs, errs
    for tag in tags:
        snap = ws.load_snapshot(tag, "t")
        assert snap.count() == n, f"snapshot {tag} lost rows"
        import json as _json

        with open(
            os.path.join(ws_root, ".snapshots", tag, "manifest.json")
        ) as fh:
            sm = _json.load(fh)
        ent = sm["tables"]["t"]
        on_disk = {
            os.path.join(d, f)
            for d, _, fs in os.walk(ent["path"])
            for f in fs if f.endswith(".parquet")
        }
        assert {
            urlparse(f).path for f in ent["key_file_ranges"]
        } == on_disk, f"snapshot {tag} index vs captured files"


def test_fsck_repairs_stale_sort_index(spark, ws_root):
    """The crash-between-swap-and-flush shape: data correct on disk,
    index stale (ghost entries / unseen files).  fsck detects the
    mismatch, rebuilds the ranges from disk, and lookups work again;
    a clean table reports rebuilt=False."""
    ws = Workspace(spark, ws_root)
    ws.save(
        "t",
        spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ),
        key="k", key_partitions=4, minimize_widths=False,
    )
    clean = ws.fsck("t")
    assert clean["rebuilt"] is False and clean["files"] == 4
    # simulate the stale index: forget one entry, invent a ghost
    meta = ws.manifest["tables"]["t"]
    real = next(iter(meta["key_file_ranges"]))
    ent = meta["key_file_ranges"].pop(real)
    meta["key_file_ranges"][real + ".ghost"] = ent
    ws._flush()
    rep = ws.fsck("t")
    assert rep["rebuilt"] is True
    assert rep["missing"] == 1 and rep["extra"] == 1
    # repaired: index == disk, pruned lookups correct
    import os as _os
    from urllib.parse import urlparse as _up

    meta = ws.manifest["tables"]["t"]
    on_disk = {
        _os.path.join(d, f)
        for d, _, fs in _os.walk(meta["path"])
        for f in fs if f.endswith(".parquet")
    }
    assert {_up(f).path for f in meta["key_file_ranges"]} == on_disk
    assert ws.key_lookup("t", [0, 499]).count() == 2
    import pytest

    from kerf_spark.errors import KeysError

    ws.save("plain", spark.range(3))
    with pytest.raises(KeysError):
        ws.fsck("plain")


def test_drop_delete_removes_versions(spark, ws_root):
    """drop(delete=True) removes the pointer, every version dir, and
    write residue; a snapshot taken before keeps reading (hardlinks);
    re-saving the name starts a fresh version chain."""
    ws = Workspace(spark, ws_root)
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ws.save("t", df, key="k", minimize_widths=False)
    ws.upsert(
        "t",
        spark.range(2).select(
            F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
        ),
    )
    ws.snapshot("keepme")
    path = ws.manifest["tables"]["t"]["path"]
    ws.drop("t", delete=True)
    assert not os.path.lexists(path)
    assert not any(
        e.startswith("t.v") for e in os.listdir(ws_root)
    ), os.listdir(ws_root)
    assert ws.load_snapshot("keepme", "t").count() == 100  # links live
    ws.save("t", df, key="k", minimize_widths=False)
    assert ws.load("t").count() == 100
    assert ws.key_lookup("t", 5).count() == 1


def test_vacuum_sweeps_crash_residue(spark, ws_root):
    """vacuum(): staging dirs, pointer temp files, and orphaned
    version dirs (above the counter — a publish that died before the
    swap; or below grace — one that died mid-sweep) all go; the
    current version and the grace version stay; the table reads
    exactly as before."""
    ws = Workspace(spark, ws_root)
    ws.save(
        "t",
        spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        key="k", key_partitions=2, minimize_widths=False,
    )
    ws.upsert(
        "t",
        spark.range(3).select(
            F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
        ),
    )  # -> v2 live, v1 grace
    path = ws.manifest["tables"]["t"]["path"]
    # simulate crash residue
    os.makedirs(path + ".staging/junk", exist_ok=True)
    os.symlink(os.path.basename(path) + ".v2", path + ".ptr.tmp")
    os.makedirs(path + ".v9/orphan", exist_ok=True)  # above counter
    os.makedirs(path + ".v0", exist_ok=True)  # below grace
    rep = ws.vacuum("t")
    assert {os.path.basename(p) for p in rep["removed"]} == {
        "t.staging", "t.ptr.tmp", "t.v9", "t.v0",
    }
    assert os.path.isdir(path + ".v2") and os.path.isdir(path + ".v1")
    assert not os.path.exists(path + ".v9")
    assert ws.load("t").count() == 500
    assert ws.vacuum()["removed"] == []  # idempotent, all tables


def test_transaction_rolls_back_touched_tables(spark, ws_root):
    """Multi-table write transaction (r10 verdict missing #5): on
    failure every TOUCHED table restores to its begin state (created
    tables drop entirely); untouched tables never move; on success
    the auto-snapshot drops; a named tag survives as a savepoint."""
    ws = Workspace(spark, ws_root)
    a = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ws.save("a", a, key="k", minimize_widths=False)
    ws.save("b", spark.range(50).select(F.col("id").alias("x")))
    ws.save("c", spark.range(7).select(F.col("id").alias("y")))
    # failure path: a mutated, b replaced, d created — then boom
    with pytest.raises(RuntimeError, match="boom"):
        with ws.transaction():
            ws.delete_keys("a", [1, 2, 3])
            ws.save("b", spark.range(9).select(F.col("id").alias("x")))
            ws.save("d", spark.range(3).select(F.col("id").alias("z")))
            assert ws.load("a").count() == 97  # visible inside
            raise RuntimeError("boom")
    assert ws.load("a").count() == 100  # rolled back
    assert ws.load("b").count() == 50
    assert ws.load("c").count() == 7  # untouched, untouched path
    assert "d" not in ws.manifest["tables"]  # created → dropped
    assert ws.snapshots() == []  # auto-snapshot cleaned up
    # keyed reads still work after the rollback (index restored)
    assert ws.key_lookup("a", 1).count() == 1
    # success path: both writes land, nothing lingers
    with ws.transaction():
        ws.delete_keys("a", [5])
        ws.append("b", spark.range(100, 103).select(F.col("id").alias("x")))
    assert ws.load("a").count() == 99
    assert ws.load("b").count() == 53
    assert ws.snapshots() == []
    # a named tag is kept as a savepoint
    with ws.transaction("save1"):
        ws.delete_keys("a", [6])
    assert ws.snapshots() == ["save1"]
    assert ws.load_snapshot("save1", "a").count() == 99
    # nesting refuses
    from kerf_spark.errors import KerfTypeError

    with pytest.raises(KerfTypeError, match="nesting"):
        with ws.transaction():
            with ws.transaction():
                pass


def test_consistent_view_spans_tables(spark, ws_root):
    """consistent_view: one hardlink snapshot, every load() reads the
    same point in time — a writer mutating BETWEEN the view's two
    reads cannot skew them (the cross-table read the per-table
    pointer publish alone cannot give)."""
    ws = Workspace(spark, ws_root)
    ws.save(
        "a",
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        key="k", minimize_widths=False,
    )
    ws.save("b", spark.range(100).select(F.col("id").alias("x")))
    with ws.consistent_view() as view:
        assert set(view.tables()) == {"a", "b"}
        n_a = view.load("a").count()
        # a writer lands BETWEEN the view's reads
        ws.delete_keys("a", list(range(10)))
        ws.save("b", spark.range(5).select(F.col("id").alias("x")))
        assert view.load("a").count() == n_a == 100
        assert view.load("b").count() == 100  # not 5
    assert ws.load("a").count() == 90  # live sees the writes
    assert ws.load("b").count() == 5
    assert ws.snapshots() == []  # the view's snapshot is ephemeral


def test_kerfsql_routes_pruned_writes(spark, ws_root):
    """r10 verdict next #7: kerf-SQL text on a keyed Workspace table
    reaches the PRUNED write paths — `delete ... where k between` →
    delete_range, `... where k in (...)` → delete_keys, `upsert into
    ... on k values ...` → the key-pruned upsert.  Untouched files
    keep path AND mtime (the pruning proof); unroutable shapes raise
    instead of silently degrading to view semantics."""
    from urllib.parse import urlparse

    from kerf_spark.errors import ArgsError
    from kerf_spark.plans.kerfsql import kerf_sql

    ws = Workspace(spark, ws_root)
    df = spark.range(8000).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).cast("long").alias("v"),
    )
    ws.save("t", df, key="k", key_partitions=8, minimize_widths=False)
    rngs = ws.manifest["tables"]["t"]["key_file_ranges"]
    before = {
        urlparse(f).path: os.path.getmtime(urlparse(f).path) for f in rngs
    }
    # range delete: the lowest eighth — interior/boundary files only
    out = kerf_sql(
        spark, "delete from t where k between 0 and 999", workspace=ws
    )
    assert out.count() == 7000
    assert ws.load("t").where("k < 1000").count() == 0
    # keyed IN delete: three probes high in the key space
    out = kerf_sql(
        spark, "delete from t where k in (7000, 7500, 7999)", workspace=ws
    )
    assert out.count() == 6997
    # pruning proof: files whose range never covered a probe kept
    # their exact path and mtime through BOTH deletes
    rngs2 = ws.manifest["tables"]["t"]["key_file_ranges"]
    survivors = [
        urlparse(f).path
        for f, r in rngs2.items()
        if urlparse(f).path in before and r[0] is not None
        and r[0] >= 1000 and r[1] < 7000
    ]
    assert len(survivors) >= 4, "fixture must leave untouched files"
    for p in survivors:
        assert os.path.getmtime(p) == before[p], f"{p} was rewritten"
    # keyed upsert through SQL text: replaced, not duplicated
    out = kerf_sql(
        spark,
        "upsert into t on k values (1500, -1), (6000, -2)",
        workspace=ws,
    )
    assert out.count() == 6997
    got = {
        r["k"]: r["v"]
        for r in ws.load("t").where("k in (1500, 6000)").collect()
    }
    assert got == {1500: -1, 6000: -2}
    # guardrails: non-key IN refuses (it LOOKS key-addressed but is
    # not); upsert on-keys disagreeing with the declared key refuses
    with pytest.raises(ArgsError, match="leading key"):
        kerf_sql(spark, "delete from t where v in (2)", workspace=ws)
    with pytest.raises(ArgsError, match="disagree"):
        kerf_sql(
            spark, "upsert into t on v values (1, 2)", workspace=ws
        )
    # statements that do NOT name a workspace table fall through to
    # the view-semantics path untouched
    spark.range(5).createOrReplaceTempView("plainview")
    assert (
        kerf_sql(
            spark, "select count(*) as n from plainview", workspace=ws
        ).head()["n"]
        == 5
    )


def test_kerfsql_workspace_full_surface(spark, ws_root):
    """kerf-SQL text as a COMPLETE catalog surface: selects resolve
    workspace tables without manual view registration (and never
    clobber a session view sharing the name); arbitrary-predicate
    delete and update run as the full staged rewrite with the
    declared layout preserved; insert appends through the catalog."""
    from kerf_spark.plans.kerfsql import kerf_sql

    ws = Workspace(spark, ws_root)
    ws.save(
        "t",
        spark.range(1000).select(
            F.col("id").alias("k"),
            (F.col("id") % 10).cast("long").alias("g"),
            (F.col("id") * 2).cast("long").alias("v"),
        ),
        key="k", key_partitions=4, minimize_widths=False,
    )
    # a session view shares the table's name — workspace wins for
    # the workspace= call, and the session view survives untouched
    spark.range(3).createOrReplaceTempView("t")
    got = kerf_sql(
        spark, "select n: count(*) by g from t where v >= 0",
        workspace=ws,
    )
    assert got.count() == 10
    assert {r["n"] for r in got.collect()} == {100}
    assert spark.table("t").count() == 3  # session view untouched
    spark.catalog.dropTempView("t")
    # arbitrary-predicate delete: full rewrite, layout preserved
    out = kerf_sql(spark, "delete from t where g = 3", workspace=ws)
    assert out.count() == 900
    meta = ws.manifest["tables"]["t"]
    assert meta.get("key") == ["k"]  # still keyed after the rewrite
    assert ws.key_lookup("t", 4).count() == 1  # index still works
    assert ws.key_lookup("t", 3).count() == 0  # g=3 rows gone
    # update with a where: only matching rows change
    kerf_sql(
        spark, "update t set v = v + 1000 where g = 5", workspace=ws
    )
    rows = {r["k"]: r["v"] for r in ws.load("t").collect()}
    assert rows[5] == 5 * 2 + 1000 and rows[4] == 8
    # insert values + insert-select (reading the ws table itself)
    kerf_sql(
        spark,
        "insert into t values (5000, 0, -1), (5001, 1, -2)",
        workspace=ws,
    )
    assert ws.load("t").count() == 902
    kerf_sql(
        spark,
        "insert into t select k + 9000, g, v from t where k >= 5000",
        workspace=ws,
    )
    assert ws.load("t").count() == 904
    assert ws.key_lookup("t", 14001).count() == 1
    # duplicate-key insert refuses through the catalog's unique check
    from kerf_spark.errors import KeysError

    with pytest.raises(KeysError):
        kerf_sql(
            spark, "insert into t values (5000, 0, -1)", workspace=ws
        )


def test_snapshot_restores_registered_indexes(spark, ws_root):
    """r10 verdict missing #2: snapshots now capture registered
    ANN/text indexes, and restore rolls them back WITH the data — an
    IVF index never silently reflects deleted history after a corpus
    rollback.  Proof: build + register an IVF index, snapshot, mutate
    the index (delete some ids), restore, and the indexed top-k
    answers match the pre-mutation results bitwise."""
    import os as _os

    from kerf_spark.operators import annindex as AI

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ws = Workspace(spark, ws_root)
    ipath = _os.path.join(ws_root, "ivf")
    AI.build_ivf_index(emb, ipath, n_cells=8)
    ws.register_index("ivf", ipath)
    q = emb.where(F.col("vec_id") < 4)

    def topk():
        return sorted(
            tuple(r)
            for r in AI.ivf_topk_indexed(
                spark, ws.index_path("ivf"), q, k=5, nprobe=8
            )
            .select("query_id", "neighbor_id", "cosine", "rank")
            .collect()
        )

    before = topk()
    ws.snapshot("pre_purge")
    # mutate: tombstone ids that WERE among the neighbors
    victims = sorted({r[1] for r in before})[:3]
    AI.delete_from_index(ipath, victims)
    mutated = topk()
    assert mutated != before  # the mutation really changed answers
    assert not any(r[1] in victims for r in mutated)
    # FULL restore rolls the index back with the tables
    ws.restore("pre_purge")
    assert topk() == before
    # named restore of just the index works too
    AI.delete_from_index(ipath, victims)
    assert topk() != before
    ws.restore("pre_purge", "ivf")
    assert topk() == before
    # the snapshot manifest records the index under .indexes/
    import json as _json

    with open(
        _os.path.join(ws_root, ".snapshots", "pre_purge", "manifest.json")
    ) as fh:
        snap = _json.load(fh)
    assert "ivf" in snap.get("indexes", {})
    assert ".indexes" in snap["indexes"]["ivf"]["path"]


def test_publish_pointer_version_swap(spark, ws_root):
    """Write paths publish through a VERSION POINTER: the table path
    is a symlink that always resolves to one complete directory; each
    publish bumps the version, keeps the just-replaced version for
    pinned readers (grace-of-one), and sweeps older ones."""
    ws = Workspace(spark, ws_root)
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ws.save("t", df, key="k", key_partitions=4, minimize_widths=False)
    path = ws.manifest["tables"]["t"]["path"]
    assert os.path.islink(path)
    v1 = os.path.realpath(path)
    assert v1.endswith(".v1")
    # a reader pinned BEFORE a publish still reads its version after
    pinned = ws.load("t")
    up = spark.range(10).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
    )
    ws.upsert("t", up)
    assert os.path.realpath(path).endswith(".v2")
    assert os.path.isdir(v1)  # grace-of-one keeps the pinned version
    assert pinned.count() == 2000  # the pinned scan still completes
    ws.delete_keys("t", [5, 6])
    assert os.path.realpath(path).endswith(".v3")
    assert not os.path.exists(v1)  # swept after the SECOND publish
    assert ws.load("t").count() == 1998
    # compact publishes through the pointer too, and reads stay exact
    ws.compact("t")
    assert os.path.realpath(path).endswith(".v4")
    assert ws.load("t").count() == 1998
    assert ws.key_lookup("t", 7).count() == 1
    # a re-save keeps climbing the version chain (no counter reset)
    ws.save("t", df, key="k", key_partitions=4, minimize_widths=False)
    assert os.path.realpath(path).endswith(".v5")
    assert ws.load("t").count() == 2000


def test_publish_crash_before_pointer_swap_recovers(spark, ws_root, monkeypatch):
    """The pointer swap IS the commit point: a publish that dies
    after renaming staging to the next version dir but before the
    `os.replace` leaves the table bitwise on the OLD version, the
    manifest unflushed, and the index consistent; the orphan version
    is invisible to reads, vacuum sweeps it, and the retried write
    succeeds cleanly."""
    ws = Workspace(spark, ws_root)
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ws.save("t", df, key="k", key_partitions=4, minimize_widths=False)
    path = ws.manifest["tables"]["t"]["path"]
    v1 = os.path.realpath(path)
    up = spark.range(5).select(
        F.col("id").alias("k"), F.lit(-9).cast("bigint").alias("v")
    )
    real_replace = os.replace
    tripped = {"n": 0}

    def boom(src, dst):
        if str(src).endswith(".ptr.tmp") and tripped["n"] == 0:
            tripped["n"] = 1
            raise OSError("injected crash before the pointer swap")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        ws.upsert("t", up)
    monkeypatch.undo()
    assert tripped["n"] == 1
    # the old version is still live, the write left no trace
    assert os.path.realpath(path) == v1
    fresh = Workspace(spark, ws_root)  # manifest was never flushed
    assert fresh.load("t").count() == 2000
    assert fresh.load("t").where("v = -9").count() == 0
    assert fresh.key_lookup("t", 3).head()["v"] == 6
    assert fresh.fsck("t")["rebuilt"] is False  # index == disk
    # the orphan version dir above the counter exists until vacuumed
    assert os.path.isdir(path + ".v2")
    swept = fresh.vacuum("t")["removed"]
    assert path + ".v2" in swept
    # the retried write lands exactly
    fresh.upsert("t", up)
    assert os.path.realpath(path).endswith(".v2")
    assert fresh.load("t").where("v = -9").count() == 5
    assert fresh.load("t").count() == 2000


def test_reader_hammer_zero_missing_path(spark, ws_root):
    """The pointer publish's contract, proven under fire: reader
    threads hammering refresh()+load()+count() through 50 concurrent
    pruned writes observe ZERO path-not-found errors (the old
    two-rename publish had a transient missing-path window between
    live→old and staging→live)."""
    import threading

    ws = Workspace(spark, ws_root)
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ws.save("t", df, key="k", key_partitions=4, minimize_widths=False)
    stop = threading.Event()
    errors: list[str] = []

    def reader():
        r = Workspace(spark, ws_root)
        while not stop.is_set():
            try:
                r.refresh()
                n = r.load("t").count()
                assert n >= 3900, f"impossible row count {n}"
            except Exception as e:  # noqa: BLE001 — collected for the assert
                errors.append(repr(e))
                return

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for i in range(50):
            if i % 2:
                up = spark.range(i * 3, i * 3 + 40).select(
                    F.col("id").alias("k"),
                    F.lit(-i).cast("bigint").alias("v"),
                )
                ws.upsert("t", up)
            else:
                ws.delete_keys("t", [3999 - i])
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=180)
    assert errors == [], errors
    # 25 single-key deletes landed, upserts replaced (never re-added)
    assert ws.load("t").count() == 4000 - 25


def test_snapshot_covers_partitioned_tables(spark, ws_root):
    """A folio (partitioned) table snapshots too: partition dirs
    hardlink recursively, and the snapshot read keeps the partition
    columns (basePath discovery) — drop_partitions retention after
    the snapshot doesn't touch it."""
    ws = Workspace(spark, ws_root)
    df = spark.createDataFrame(
        [(d, i, i * 1.0) for d in ("a", "b", "c") for i in range(10)],
        "part string, k int, v double",
    )
    ws.save("f", df, partition_by=["part"], minimize_widths=False)
    ws.snapshot("s1")
    assert ws.drop_partitions("f", ["a"]) == 1
    assert ws.load("f").count() == 20
    snap = ws.load_snapshot("s1", "f")
    assert snap.count() == 30
    assert set(
        r["part"] for r in snap.select("part").distinct().collect()
    ) == {"a", "b", "c"}


def test_upsert_sink_latest_wins_and_replays(spark, ws_root):
    """The catalog CDC sink: per-batch upserts through the key-pruned
    merge; a twice-changed key inside one batch resolves by
    version_col (latest wins); replaying the same batch converges;
    without version_col an intra-batch duplicate refuses loudly."""
    import pytest

    from kerf_spark.errors import KeysError

    ws = Workspace(spark, ws_root)
    ws.save(
        "users",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "uid long, v string"
        ),
        key="uid",
    )
    sink = ws.upsert_sink("users", version_col="ver")
    batch = spark.createDataFrame(
        [(2, "b1", 10), (2, "b2", 20), (4, "d", 5)],
        "uid long, v string, ver long",
    )
    sink(batch, 0)
    got = {r["uid"]: r["v"] for r in ws.load("users").collect()}
    assert got == {1: "a", 2: "b2", 3: "c", 4: "d"}
    sink(batch, 0)  # replay converges
    got = {r["uid"]: r["v"] for r in ws.load("users").collect()}
    assert got == {1: "a", 2: "b2", 3: "c", 4: "d"}
    sink(spark.createDataFrame([], "uid long, v string, ver long"), 1)
    assert ws.load("users").count() == 4
    # no version_col: an intra-batch duplicate key refuses loudly
    plain = ws.upsert_sink("users")
    with pytest.raises(KeysError):
        plain(
            spark.createDataFrame(
                [(5, "x"), (5, "y")], "uid long, v string"
            ),
            2,
        )
    with pytest.raises(KeysError):
        ws.save("plainT", spark.range(3))
        ws.upsert_sink("plainT")


def test_delete_sink_applies_and_replays_idempotently(spark, ws_root):
    """The right-to-be-forgotten feed: each micro-batch of keys purges
    key-pruned; a replayed epoch (same batch again) is a no-op; extra
    batch columns are ignored; missing key columns and over-cap
    batches refuse typed."""
    import pytest

    from kerf_spark.errors import ColumnError, KeysError

    ws = Workspace(spark, ws_root)
    ws.save(
        "users",
        spark.range(1000).select(
            F.col("id").alias("uid"), (F.col("id") * 2).alias("v")
        ),
        key="uid", key_partitions=4, minimize_widths=False,
    )
    sink = ws.delete_sink("users", cap=100)
    batch = spark.createDataFrame(
        [(3, "req-a"), (500, "req-b"), (999, "req-c")],
        "uid long, request string",  # extra column ignored
    )
    sink(batch, 0)
    assert ws.load("users").count() == 997
    assert ws.key_lookup("users", [3, 500, 999]).count() == 0
    sink(batch, 0)  # crash replay: same epoch again -> no-op
    assert ws.load("users").count() == 997
    sink(spark.createDataFrame([], "uid long, request string"), 1)
    assert ws.load("users").count() == 997
    with pytest.raises(ColumnError):
        sink(spark.createDataFrame([(1,)], "other long"), 2)
    big = spark.range(200).select(F.col("id").alias("uid"))
    with pytest.raises(KeysError):
        sink(big, 3)
    ws.save("plain", spark.range(3))
    with pytest.raises(KeysError):
        ws.delete_sink("plain")


def test_delete_keys_typed_errors(spark, tables, ws_root):
    """Unkeyed table and over-wide probe tuples refuse with
    KeysError (ERROR_KEYS), matching key_lookup's contract."""
    import pytest

    from kerf_spark.errors import KeysError

    ws = Workspace(spark, ws_root)
    ws.save("plain", tables["region"])
    with pytest.raises(KeysError):
        ws.delete_keys("plain", [1])
    ws.save("keyed", tables["region"], key="r_regionkey")
    with pytest.raises(KeysError):
        ws.delete_keys("keyed", [(1, 2)])
    assert ws.delete_keys("keyed", []) == 0


def test_compact_rebuilds_key_file_ranges(spark, tables, ws_root):
    """Compaction rewrites every data file — the sort index must
    follow, or lookups read ghost paths."""
    ws = Workspace(spark, ws_root)
    ords = tables["orders"]
    ws.save("orders", ords, key="o_orderkey", key_partitions=8)
    fresh = ords.select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        *[c for c in ords.columns if c != "o_orderkey"],
    ).limit(5)
    ws.append("orders", fresh)
    before = set(ws.manifest["tables"]["orders"]["key_file_ranges"])
    ws.compact("orders")
    meta = ws.manifest["tables"]["orders"]
    after = set(meta["key_file_ranges"])
    assert after.isdisjoint(before)  # every file rewritten
    from pyspark.sql import types as T

    on_disk = set(
        spark.read.schema(T.StructType.fromJson(meta["schema"]))
        .parquet(meta["path"]).inputFiles()
    )
    assert after == on_disk
    some = [r["o_orderkey"] for r in ords.limit(2).collect()]
    got = ws.key_lookup("orders", [int(k) for k in some] + [10_000_000])
    assert got.count() == 3  # lookups work over the compacted layout


def test_transaction_epoch_publish_atomic_visibility(spark, ws_root):
    """r11 verdict next #8 — the EPOCH publish: a transaction's
    staged writes defer their pointer swaps and flush the manifest
    ONCE at commit, so a manifest-governed reader (refresh + load)
    sees every table of the transaction flip TOGETHER.  Reader
    threads hammering two tables through 7 transactional rewrites
    must never observe A's generation != B's generation — the
    A-new/B-old skew the old per-table publish allowed — and zero
    read errors (grace retention carries pinned manifests through
    the next commit)."""
    import threading

    ws = Workspace(spark, ws_root)

    def mk(i):
        return spark.range(20).select(
            F.col("id").alias("k"), F.lit(i).cast("long").alias("gen")
        )

    ws.save("a", mk(0), minimize_widths=False)
    ws.save("b", mk(0), minimize_widths=False)
    stop = threading.Event()
    errors: list[str] = []
    mixed: list[tuple] = []

    def reader():
        r = Workspace(spark, ws_root)
        while not stop.is_set():
            try:
                r.refresh()
                ga = r.load("a").agg(F.max("gen")).head()[0]
                gb = r.load("b").agg(F.max("gen")).head()[0]
                if ga != gb:
                    mixed.append((ga, gb))
                    return
            except Exception as e:  # noqa: BLE001 — collected
                if "grace-of-one" in repr(e) or "swept" in repr(e):
                    # documented contract: a reader lapped by 2+
                    # epochs mid-read fails LOUD (never a silent
                    # mixed-epoch read) and retries after refresh()
                    continue
                errors.append(repr(e))
                return

    threads = [threading.Thread(target=reader) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        for gen in range(1, 8):
            with ws.transaction():
                ws.save("a", mk(gen), minimize_widths=False)
                ws.save("b", mk(gen), minimize_widths=False)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=180)
    assert mixed == [], f"reader saw A/B generation skew: {mixed}"
    assert errors == [], errors
    assert ws.load("a").agg(F.max("gen")).head()[0] == 7
    assert ws.load("b").agg(F.max("gen")).head()[0] == 7


def test_transaction_epoch_staging_and_sibling_invisibility(
    spark, ws_root
):
    """Epoch mechanics, single-threaded: inside the transaction the
    writer's OWN loads see its staged writes (including multiple
    writes to one keyed table — save, then key-pruned delete, then
    upsert, each building on the previous staged version), while a
    SIBLING workspace refreshing mid-transaction still reads the
    pre-transaction state; commit makes everything visible at once;
    keyed lookups work over the committed result (the sort index
    recorded through the stable path survives the deferred swap)."""
    ws = Workspace(spark, ws_root)
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ws.save("t", df, key="k", key_partitions=4, minimize_widths=False)
    ws.save("u", spark.range(10).select(F.col("id").alias("x")))
    sibling = Workspace(spark, ws_root)
    with ws.transaction():
        ws.save(
            "t",
            spark.range(900).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("v")
            ),
            key="k", key_partitions=4, minimize_widths=False,
        )
        assert ws.load("t").count() == 900  # own staged write visible
        ws.delete_keys("t", [1, 2, 3])
        assert ws.load("t").count() == 897  # second staged write
        ws.upsert(
            "t",
            spark.range(5, 8).select(
                F.col("id").alias("k"),
                F.lit(-1).cast("bigint").alias("v"),
            ),
        )
        assert ws.load("t").count() == 897
        ws.save("u", spark.range(99).select(F.col("id").alias("x")))
        # sibling process: pre-transaction state, both tables
        sibling.refresh()
        assert sibling.load("t").count() == 1000
        assert sibling.load("u").count() == 10
    sibling.refresh()
    assert sibling.load("t").count() == 897
    assert sibling.load("u").count() == 99
    assert sibling.load("t").where("k = 5").head()["v"] == -1
    assert ws.key_lookup("t", 5).head()["v"] == -1
    assert ws.key_lookup("t", 1).count() == 0
    # rollback of a multi-write staged table restores begin state
    with pytest.raises(RuntimeError, match="boom2"):
        with ws.transaction():
            ws.save("u", spark.range(1).select(F.col("id").alias("x")))
            ws.delete_keys("t", [10])
            raise RuntimeError("boom2")
    assert ws.load("u").count() == 99
    assert ws.load("t").count() == 897


def test_kerfsql_transactions(spark, ws_root):
    """r11 verdict next #6: kerf-SQL `begin; …; commit` batches run
    inside Workspace.transaction() — a failing tail rolls back the
    head's landed writes, an explicit `rollback` tail undoes the body
    unconditionally, and a committing batch survives.  Nested begin
    and truncated batches refuse with typed errors."""
    from kerf_spark.errors import ArgsError, KerfError
    from kerf_spark.plans.kerfsql import kerf_sql

    ws = Workspace(spark, ws_root)
    ws.save(
        "t",
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        key="k", minimize_widths=False,
    )
    # failing tail: the head's delete lands, then rolls back
    with pytest.raises(KerfError):
        kerf_sql(
            spark,
            "begin; delete from t where k in (1, 2, 3);"
            " delete from ghost where k in (1); commit",
            workspace=ws,
        )
    assert ws.load("t").count() == 100
    # explicit rollback tail
    assert (
        kerf_sql(
            spark,
            "begin; delete from t where k between 0 and 9; rollback",
            workspace=ws,
        )
        is None
    )
    assert ws.load("t").count() == 100
    # commit: multi-statement body, all land atomically
    out = kerf_sql(
        spark,
        "begin; delete from t where k in (5);"
        " insert into t values (500, 1000); commit",
        workspace=ws,
    )
    assert out.count() == 100
    assert ws.load("t").where("k = 5").count() == 0
    assert ws.load("t").where("k = 500").count() == 1
    # malformed batches refuse
    with pytest.raises(KerfError):
        kerf_sql(spark, "begin; delete from t where k in (7)", workspace=ws)
    with pytest.raises(KerfError, match="nested|stray"):
        kerf_sql(spark, "begin; begin; commit", workspace=ws)
    with pytest.raises(ArgsError, match="workspace"):
        kerf_sql(spark, "begin; commit")
    assert ws.load("t").where("k = 7").count() == 1  # nothing leaked


def test_kerfsql_compound_delete_predicates_full_rewrite(spark, ws_root):
    """ADVICE r11 #1: a COMPOUND predicate on the leading key
    (`k between a and b and g = c`, `k in (select …)`) used to land
    its trailing tokens inside the greedy bound/probe capture and
    raise a misleading literal error — it now falls through to the
    arbitrary-predicate full staged rewrite, which is correct for any
    predicate.  Clean key-addressed shapes on a NON-key column still
    refuse loudly (no silent unpruned degrade)."""
    from kerf_spark.errors import ArgsError
    from kerf_spark.plans.kerfsql import kerf_sql

    ws = Workspace(spark, ws_root)
    ws.save(
        "t",
        spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).alias("g"),
        ),
        key="k", minimize_widths=False,
    )
    kerf_sql(
        spark,
        "delete from t where k between 0 and 19 and g = 3",
        workspace=ws,
    )
    assert ws.load("t").count() == 95  # 3,7,11,15,19 only
    kerf_sql(
        spark,
        "delete from t where k in (select k from t where g = 2)",
        workspace=ws,
    )
    assert ws.load("t").where("g = 2").count() == 0
    assert ws.load("t").count() == 70
    # wrong-column IN with clean literals: still a typed refusal
    with pytest.raises(ArgsError, match="leading key"):
        kerf_sql(spark, "delete from t where g in (1)", workspace=ws)


def test_pin_lease_survives_multiple_publishes(spark, ws_root):
    """r11 verdict missing #6: grace-of-one protects a pinned reader
    through exactly ONE publish — ws.pin(name) drops a version lease
    so a LONG scan survives any number of concurrent publishes; the
    sweep resumes once the lease lifts, and vacuum honors live
    leases too."""
    ws = Workspace(spark, ws_root)

    def gen(i, n):
        return spark.range(n).select(
            F.col("id").alias("k"), F.lit(i).cast("long").alias("g")
        )

    ws.save("t", gen(1, 100), minimize_widths=False)
    path = ws.manifest["tables"]["t"]["path"]
    with ws.pin("t") as df:
        for i in range(2, 6):  # four publishes while pinned
            ws.save("t", gen(i, 100 + i), minimize_widths=False)
        assert os.path.isdir(path + ".v1")  # lease spared it
        assert df.count() == 100  # the pinned scan still reads v1
        assert ws.vacuum("t")  # vacuum honors the lease too
        assert os.path.isdir(path + ".v1")
    # lease lifted: the next publish sweeps the old version
    ws.save("t", gen(9, 200), minimize_widths=False)
    assert not os.path.exists(path + ".v1")
    assert ws.load("t").count() == 200
    # an EXPIRED lease (crashed reader) stops blocking the sweep
    with open(path + ".v5.lease.deadbeef", "w") as fh:
        fh.write("0")
    old = ws.LEASE_TTL_S
    try:
        ws.LEASE_TTL_S = 0  # everything counts as expired
        ws.save("t", gen(10, 201), minimize_widths=False)
        assert not os.path.exists(path + ".v5")
    finally:
        ws.LEASE_TTL_S = old


def test_transaction_epoch_commit_crash_recovery(spark, ws_root):
    """Crash DURING the epoch commit (after some pointer swaps,
    before the manifest flush): the disk manifest still names the old
    epoch, so manifest-governed readers keep resolving the grace
    versions of BOTH tables — never a mixed epoch; a later vacuum
    sweeps the orphaned staged versions and the workspace stays
    fully writable."""
    ws = Workspace(spark, ws_root)

    def mk(i):
        return spark.range(30).select(
            F.col("id").alias("k"), F.lit(i).cast("long").alias("gen")
        )

    ws.save("a", mk(0), minimize_widths=False)
    ws.save("b", mk(0), minimize_widths=False)
    orig = ws._swap_pointer
    calls = {"n": 0}

    def dying_swap(live, vdir, prev=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("injected crash mid-commit")
        return orig(live, vdir, prev=prev)

    ws._swap_pointer = dying_swap
    try:
        with pytest.raises(OSError, match="injected"):
            with ws.transaction():
                ws.save("a", mk(1), minimize_widths=False)
                ws.save("b", mk(1), minimize_widths=False)
    finally:
        ws._swap_pointer = orig
    # a SOFT commit failure rolls the touched tables back from the
    # begin snapshot — a fresh reader sees the PRE-transaction state
    # on BOTH tables, never a mix, through every read plane
    r = Workspace(spark, ws_root)
    ga = r.load("a").agg(F.max("gen")).head()[0]
    gb = r.load("b").agg(F.max("gen")).head()[0]
    assert (ga, gb) == (0, 0), f"commit crash leaked state: {ga}, {gb}"
    # the workspace stays writable and converges
    ws2 = Workspace(spark, ws_root)
    ws2.vacuum()
    with ws2.transaction():
        ws2.save("a", mk(7), minimize_widths=False)
        ws2.save("b", mk(7), minimize_widths=False)
    r.refresh()
    assert r.load("a").agg(F.max("gen")).head()[0] == 7
    assert r.load("b").agg(F.max("gen")).head()[0] == 7


def test_vacuum_inside_transaction_spares_staged_versions(spark, ws_root):
    """vacuum() during an open transaction must not sweep the staged
    (deferred-swap) version the symlink does not name yet — the
    manifest's declared version is kept explicitly, in or out of a
    transaction."""
    ws = Workspace(spark, ws_root)
    ws.save(
        "t",
        spark.range(50).select(F.col("id").alias("k")),
        minimize_widths=False,
    )
    path = ws.manifest["tables"]["t"]["path"]
    with ws.transaction():
        ws.save(
            "t",
            spark.range(70).select(F.col("id").alias("k")),
            minimize_widths=False,
        )
        staged = f"{path}.v{ws.manifest['tables']['t']['publish_version']}"
        assert os.path.isdir(staged)
        ws.vacuum("t")
        assert os.path.isdir(staged), "vacuum swept the staged version"
        assert ws.load("t").count() == 70  # txn still reads its write
    assert ws.load("t").count() == 70  # committed intact


def test_transaction_drop_rolls_back_from_snapshot(spark, ws_root):
    """drop(delete=True) inside a failed transaction: the begin
    snapshot's hardlinks keep the bytes alive, so rollback restores
    the table — entry, data, and sort index."""
    ws = Workspace(spark, ws_root)
    ws.save(
        "t",
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        key="k", minimize_widths=False,
    )
    with pytest.raises(RuntimeError, match="boom3"):
        with ws.transaction():
            ws.drop("t", delete=True)
            assert "t" not in ws.manifest["tables"]
            raise RuntimeError("boom3")
    assert ws.load("t").count() == 100
    assert ws.key_lookup("t", 7).head()["v"] == 14


def test_transaction_drop_survives_later_refresh(spark, ws_root):
    """ADVICE r12 high: drop(name) inside a transaction, followed by
    ANY later write in the same transaction (whose _table_lock →
    refresh() merges the disk manifest back in), must not resurrect
    the dropped table — commit's tombstone has to land."""
    ws = Workspace(spark, ws_root)
    ws.save("victim", spark.range(10).select(F.col("id").alias("k")))
    ws.save("other", spark.range(5).select(F.col("id").alias("x")))
    with ws.transaction():
        ws.drop("victim", delete=True)
        assert "victim" not in ws.manifest["tables"]
        # this save's _table_lock refreshes from the (stale) disk
        # manifest, which still lists `victim`
        ws.save("other", spark.range(7).select(F.col("id").alias("x")))
        assert "victim" not in ws.manifest["tables"], (
            "in-txn refresh resurrected the dropped table"
        )
    assert "victim" not in ws.manifest["tables"]
    sibling = Workspace(spark, ws_root)
    assert "victim" not in sibling.manifest["tables"], (
        "commit skipped the drop tombstone"
    )
    assert sibling.load("other").count() == 7


def test_transaction_holds_table_locks_until_commit(spark, ws_root):
    """ADVICE r12 medium: a write inside a transaction retains its
    per-table flock until commit, so a sibling PROCESS writing the
    same table blocks (cannot stage over the deferred version); a
    sibling Workspace instance in THIS process fails loud instead of
    self-deadlocking on flock."""
    import subprocess
    import sys

    from kerf_spark.errors import FileError

    ws = Workspace(spark, ws_root)
    ws.save("locked", spark.range(10).select(F.col("id").alias("k")))

    def probe():
        # a subprocess's non-blocking flock stands in for a sibling
        # writer's _table_lock acquisition (no second SparkSession)
        code = (
            "import fcntl,sys\n"
            f"f=open({os.path.join(ws_root, '.tlock.locked')!r},'a+')\n"
            "try:\n"
            "    fcntl.flock(f,fcntl.LOCK_EX|fcntl.LOCK_NB)\n"
            "    print('ACQUIRED')\n"
            "except OSError:\n"
            "    print('BLOCKED')\n"
        )
        return subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True
        ).stdout.strip()

    sibling = Workspace(spark, ws_root)
    with ws.transaction():
        ws.save("locked", spark.range(20).select(F.col("id").alias("k")))
        assert probe() == "BLOCKED", "txn released the table lock early"
        # same-table re-entry within the transaction still works
        ws.append("locked", spark.range(3).select(F.col("id").alias("k")))
        # in-process sibling instance: fail loud, not deadlock
        with pytest.raises(FileError, match="open transaction"):
            sibling.save(
                "locked", spark.range(1).select(F.col("id").alias("k"))
            )
    assert probe() == "ACQUIRED", "commit did not release the lock"
    assert ws.load("locked").count() == 23
    # rollback releases too
    with pytest.raises(RuntimeError, match="lockboom"):
        with ws.transaction():
            ws.save(
                "locked", spark.range(9).select(F.col("id").alias("k"))
            )
            assert probe() == "BLOCKED"
            raise RuntimeError("lockboom")
    assert probe() == "ACQUIRED", "rollback did not release the lock"
    assert ws.load("locked").count() == 23
    # and the sibling instance can write again after the epilogue
    sibling.refresh()
    sibling.save("locked", spark.range(4).select(F.col("id").alias("k")))
    ws.refresh()
    assert ws.load("locked").count() == 4


def test_drop_delete_spares_sibling_table_and_leased_version(
    spark, ws_root
):
    """ADVICE r12 low: drop(name, delete=True)'s version-dir sweep
    must spare (a) a sibling TABLE literally named `<name>.v<N>` and
    (b) a version directory a live reader lease pins."""
    ws = Workspace(spark, ws_root)
    ws.save("t", spark.range(10).select(F.col("id").alias("k")))
    ws.save("t.v3", spark.range(33).select(F.col("id").alias("k")))
    sib_dir = ws.manifest["tables"]["t.v3"]["path"]
    meta = dict(ws.manifest["tables"]["t"])
    with ws.pin("t") as df:
        pinned = ws._data_dir(ws.manifest["tables"]["t"])
        assert df.count() == 10
        ws.drop("t", delete=True)
        assert os.path.isdir(pinned), (
            "drop deleted a version a live lease still pins"
        )
        assert df.count() == 10  # the pinned scan still reads
    assert ws.load("t.v3").count() == 33, "sweep hit the sibling table"
    assert os.path.lexists(sib_dir)
    # lease lifted: the file cleanup may now reap the orphan —
    # and still spares the sibling table's dirs
    ws._delete_table_files(meta)
    assert not os.path.isdir(pinned)
    assert ws.load("t.v3").count() == 33


def test_kerfsql_txn_batch_multiline_and_no_space(spark, ws_root):
    """ADVICE r12 lows: a transaction batch splits on top-level ';'
    ONLY (a multi-line statement stays whole), and `begin;stmt` with
    no space after the separator still enters the transaction path."""
    from kerf_spark.plans.kerfsql import kerf_sql

    ws = Workspace(spark, ws_root)
    ws.save(
        "txm",
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        key="k", minimize_widths=False,
    )
    out = kerf_sql(
        spark,
        "begin;\n"
        "delete from txm\n"
        "where k in (1, 2);\n"
        "update txm\n"
        "  set v = v + 100\n"
        "  where k = 3;\n"
        "commit",
        workspace=ws,
    )
    assert out is not None
    assert ws.load("txm").count() == 8
    assert ws.load("txm").where("k = 3").head()["v"] == 106
    # no-space head: `begin;delete …;rollback` — body undone
    kerf_sql(
        spark,
        "begin;delete from txm where k in (5);rollback",
        workspace=ws,
    )
    assert ws.load("txm").count() == 8


def test_txn_append_joins_epoch_publish(spark, ws_root):
    """r12 verdict next #4: append() inside a transaction on a table
    not otherwise staged clones the current version and appends into
    the STAGED copy — a sibling Workspace reader mid-transaction never
    sees the appended rows (no A-appended/B-old skew), commit
    publishes them with the rest of the epoch, and rollback discards
    them."""
    ws = Workspace(spark, ws_root)
    ws.save("fact", spark.range(100).select(F.col("id").alias("k")))
    ws.save("dim", spark.range(10).select(F.col("id").alias("x")))
    sibling = Workspace(spark, ws_root)
    with ws.transaction():
        ws.append("fact", spark.range(7).select(F.col("id").alias("k")))
        ws.save("dim", spark.range(20).select(F.col("id").alias("x")))
        assert ws.load("fact").count() == 107  # own staged view
        sibling.refresh()
        assert sibling.load("fact").count() == 100, (
            "in-txn append leaked into the visible version"
        )
        assert sibling.load("dim").count() == 10
    sibling.refresh()
    assert sibling.load("fact").count() == 107
    assert sibling.load("dim").count() == 20
    # rollback: an appended-then-failed transaction leaves no trace
    with pytest.raises(RuntimeError, match="apboom"):
        with ws.transaction():
            ws.append(
                "fact", spark.range(5).select(F.col("id").alias("k"))
            )
            assert ws.load("fact").count() == 112
            raise RuntimeError("apboom")
    assert ws.load("fact").count() == 107
    sibling.refresh()
    assert sibling.load("fact").count() == 107


def test_txn_append_keyed_sort_index_and_second_write(spark, ws_root):
    """In-txn append composes with the keyed sort index and with a
    LATER staged write to the same table in the same transaction."""
    ws = Workspace(spark, ws_root)
    ws.save(
        "kt",
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        key="k", minimize_widths=False,
    )
    with ws.transaction():
        ws.append(
            "kt",
            spark.range(100, 110).select(
                F.col("id").alias("k"), (F.col("id") * 3).alias("v")
            ),
        )
        ws.delete_keys("kt", [0, 1])
        assert ws.load("kt").count() == 108
    assert ws.load("kt").count() == 108
    assert ws.key_lookup("kt", 105).head()["v"] == 315
    assert ws.key_lookup("kt", 0).count() == 0


def test_epoch_pointer_raw_reader_atomicity(spark, ws_root):
    """r12 verdict next #7: the root-level `epoch` pointer gives
    RAW-PATH readers (spark.read.parquet, no Workspace manifest) one
    atomic cross-table flip per commit — a reader resolving
    epoch_path() for two tables inside one epoch resolution never
    observes mixed generations across 6 transactional rewrites."""
    import threading

    ws = Workspace(spark, ws_root)

    def mk(i):
        return spark.range(20).select(
            F.col("id").alias("k"), F.lit(i).cast("long").alias("gen")
        )

    ws.save("ea", mk(0), minimize_widths=False)
    ws.save("eb", mk(0), minimize_widths=False)
    reader = Workspace(spark, ws_root)  # only for root; no refresh()
    stop = threading.Event()
    mixed, errors = [], []

    def rdr():
        while not stop.is_set():
            try:
                # ONE epoch resolution covers both tables
                pa = reader.epoch_path("ea")
                pb = reader.epoch_path("eb")
                if os.path.dirname(pa) and not os.path.isdir(pa):
                    continue
                ga = spark.read.parquet(pa).agg(F.max("gen")).head()[0]
                gb = spark.read.parquet(pb).agg(F.max("gen")).head()[0]
                if ga != gb:
                    mixed.append((ga, gb))
                    return
            except Exception as e:  # noqa: BLE001
                msg = repr(e) + str(e)  # Py4J buries the cause in str
                if (
                    "PATH_NOT_FOUND" in msg
                    or "swept" in msg
                    or "does not exist" in msg
                    or "FileNotFound" in msg
                ):
                    continue  # lapped by 2+ epochs: documented, retry
                errors.append(msg)
                return

    threads = [threading.Thread(target=rdr) for _ in range(2)]
    for t in threads:
        t.start()
    try:
        for gen in range(1, 7):
            with ws.transaction():
                ws.save("ea", mk(gen), minimize_widths=False)
                ws.save("eb", mk(gen), minimize_widths=False)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=180)
    assert mixed == [], f"raw reader saw cross-table skew: {mixed}"
    assert errors == [], errors
    assert spark.read.parquet(ws.epoch_path("ea")).count() == 20
    with pytest.raises(KeyError):
        ws.epoch_path("nope")


def test_epoch_name_reserved_and_txn_lock_timeout(spark, ws_root):
    """`epoch` is a reserved table name (it is the root cross-table
    pointer for raw readers), and a second table-lock acquisition
    inside an open transaction fails loud after the deadline instead
    of deadlocking — the classic 2PL cycle shape."""
    import subprocess
    import sys

    from kerf_spark.errors import FileError

    ws = Workspace(spark, ws_root)
    with pytest.raises(ValueError, match="reserved"):
        ws.save("epoch", spark.range(3).select(F.col("id").alias("k")))
    ws.save("ta", spark.range(5).select(F.col("id").alias("k")))
    ws.save("tb", spark.range(5).select(F.col("id").alias("k")))
    holder = None
    os.environ["KERF_TXN_LOCK_TIMEOUT"] = "0.5"
    try:
        with pytest.raises(FileError, match="deadlock"):
            with ws.transaction():
                ws.save(
                    "ta",
                    spark.range(9).select(F.col("id").alias("k")),
                )  # first lock: held until commit
                # NOW a foreign process grabs tb's lock (stands in
                # for a second transaction that locked tb first —
                # started inside the body, because the begin
                # snapshot itself serializes on every table lock)
                holder = subprocess.Popen(
                    [
                        sys.executable,
                        "-c",
                        (
                            "import fcntl,sys,time\n"
                            "f=open("
                            f"{os.path.join(ws_root, '.tlock.tb')!r},"
                            "'a+')\n"
                            "fcntl.flock(f,fcntl.LOCK_EX)\n"
                            "print('HELD',flush=True)\n"
                            "time.sleep(60)\n"
                        ),
                    ],
                    stdout=subprocess.PIPE,
                    text=True,
                )
                assert holder.stdout.readline().strip() == "HELD"
                ws.save(
                    "tb",
                    spark.range(9).select(F.col("id").alias("k")),
                )  # second lock: foreign holder -> timeout, not hang
        # the failed transaction rolled back and released its locks
        assert ws.load("ta").count() == 5
        ws.save("ta", spark.range(7).select(F.col("id").alias("k")))
        assert ws.load("ta").count() == 7
    finally:
        del os.environ["KERF_TXN_LOCK_TIMEOUT"]
        if holder is not None:
            holder.kill()
            holder.wait()


def test_concurrent_transactions_across_processes(spark, ws_root):
    """TRUE multi-process concurrency over one workspace root: a
    sibling PROCESS (own SparkSession) commits a transaction on its
    own tables while THIS process holds an open transaction on
    different tables — both epochs land (the deferred flushes merge
    under the manifest flock) — and the sibling's write to a table
    THIS transaction holds blocks on the retained table lock until
    our commit, then lands on top (its version wins).  File-based
    handshakes sequence the processes deterministically."""
    import subprocess
    import sys
    import time

    ws = Workspace(spark, ws_root)
    ws.save("a1", spark.range(20).select(F.col("id").alias("k")))
    ws.save("a2", spark.range(20).select(F.col("id").alias("k")))
    sib_script = f"""
import os, sys, time
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath("tests")))!r})
sys.path.insert(0, ".")
from kerf_spark.session import get_spark
from pyspark.sql import functions as F
from kerf_spark.sources.catalog import Workspace
spark = get_spark("sibproc", master="local[2]", shuffle_partitions=2)
ws = Workspace(spark, {ws_root!r})
with ws.transaction():
    ws.save("b1", spark.range(7).select(F.col("id").alias("k")))
    ws.save("b2", spark.range(8).select(F.col("id").alias("k")))
open(os.path.join({ws_root!r}, ".sib_b_done"), "w").write("1")
# now write a table the MAIN transaction holds: must block until
# its commit, then land on top
ws.refresh()
ws.save("a1", spark.range(5).select(F.col("id").alias("k")))
open(os.path.join({ws_root!r}, ".sib_a_done"), "w").write("1")
spark.stop()
"""
    sib = subprocess.Popen(
        [sys.executable, "-c", sib_script],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        cwd="/root/repo",
    )
    try:
        with ws.transaction():
            ws.save("a1", spark.range(30).select(F.col("id").alias("k")))
            ws.save("a2", spark.range(31).select(F.col("id").alias("k")))
            # wait for the sibling's own transaction to commit
            deadline = time.time() + 180
            while not os.path.exists(os.path.join(ws_root, ".sib_b_done")):
                assert sib.poll() is None or sib.returncode == 0, (
                    "sibling died"
                )
                assert time.time() < deadline, "sibling b-txn timed out"
                time.sleep(0.2)
            # the sibling's epoch landed while ours is open
            ws.refresh()
            assert ws.load("b1").count() == 7
            assert ws.load("b2").count() == 8
            # our staged writes still ours
            assert ws.load("a1").count() == 30
            # give the sibling time to reach (and block on) a1's lock
            time.sleep(2.0)
            assert not os.path.exists(
                os.path.join(ws_root, ".sib_a_done")
            ), "sibling wrote a txn-locked table before our commit"
        # commit released the locks: the sibling's a1 write proceeds
        deadline = time.time() + 180
        while not os.path.exists(os.path.join(ws_root, ".sib_a_done")):
            assert time.time() < deadline, "sibling a1 write timed out"
            time.sleep(0.2)
        assert sib.wait(timeout=120) == 0
        ws.refresh()
        assert ws.load("a1").count() == 5  # sibling landed ON TOP
        assert ws.load("a2").count() == 31  # ours intact
        assert ws.load("b1").count() == 7
        assert ws.load("b2").count() == 8
    finally:
        if sib.poll() is None:
            sib.kill()
            sib.wait()


def test_consistent_view_lock_free_and_epoch_pinned(spark, ws_root):
    """r13: consistent_view rides the epoch pointer + reader leases —
    it must open WITHOUT taking table locks (a foreign process
    holding a table's lock — an open transaction — no longer blocks
    readers), and its loads stay pinned to ONE epoch while a commit
    rewrites the tables mid-view."""
    import subprocess
    import sys

    ws = Workspace(spark, ws_root)
    ws.save("va", spark.range(10).select(F.col("id").alias("k")))
    ws.save("vb", spark.range(20).select(F.col("id").alias("k")))
    # a foreign process holds va's write lock for 60s
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            (
                "import fcntl,time\n"
                f"f=open({os.path.join(ws_root, '.tlock.va')!r},'a+')\n"
                "fcntl.flock(f,fcntl.LOCK_EX)\n"
                "print('HELD',flush=True)\n"
                "time.sleep(60)\n"
            ),
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "HELD"
        import time

        t0 = time.time()
        with ws.consistent_view() as v:
            assert time.time() - t0 < 10, (
                "consistent_view blocked on a held table lock"
            )
            assert v.load("va").count() == 10
            assert v.load("vb").count() == 20
            assert set(v.tables()) >= {"va", "vb"}
            # release the foreign lock so the writes below don't
            # serialize against it (the lock-free claim is proven)
            holder.kill()
            holder.wait()
            # a transactional rewrite commits MID-VIEW: the view's
            # loads stay on its epoch (the leases spare the versions)
            with ws.transaction():
                ws.save("va", spark.range(1).select(F.col("id").alias("k")))
                ws.save("vb", spark.range(2).select(F.col("id").alias("k")))
            with ws.transaction():
                ws.save("va", spark.range(3).select(F.col("id").alias("k")))
                ws.save("vb", spark.range(4).select(F.col("id").alias("k")))
            assert v.load("va").count() == 10
            assert v.load("vb").count() == 20
        ws.refresh()
        assert ws.load("va").count() == 3
        assert ws.load("vb").count() == 4
    finally:
        holder.kill()
        holder.wait()


@pytest.mark.parametrize(
    "ops",
    [
        # drop then recreate the SAME table, plus a sibling write
        [("drop", "t1"), ("save", "t1", 7), ("save", "t2", 9)],
        # append then keyed delete on one table, create another
        [("append", "t1", 5), ("delkeys", "t1", [0, 1]), ("save", "new1", 3)],
        # create then drop the created table inside the txn
        [("save", "new2", 4), ("drop", "new2"), ("append", "t2", 2)],
        # double rewrite of one table + drop of another
        [("save", "t1", 11), ("save", "t1", 12), ("drop", "t2")],
        # touch-without-write: a save that fails its key check after
        # marking the table touched must leave the table alone
        [("badsave", "t1"), ("save", "t2", 6)],
    ],
    ids=["drop-recreate", "append-delete-create", "create-drop",
         "double-rewrite-drop", "failed-check-touch"],
)
def test_txn_rollback_equivalence_sequences(spark, ws_root, ops):
    """Rollback == begin state for gnarly op sequences through the
    LAZY begin-image machinery (r13): whatever the body did — drop
    then recreate, append then keyed delete, create then drop, double
    rewrites, or a write that failed its checks after marking the
    table touched — a failing transaction restores every pre-existing
    table bitwise and leaves no created table behind."""
    from kerf_spark.errors import KeysError

    ws = Workspace(spark, ws_root)
    ws.save(
        "t1",
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        key="k", minimize_widths=False,
    )
    ws.save(
        "t2",
        spark.range(50).select(F.col("id").alias("k")),
        minimize_widths=False,
    )
    pre = {
        n: sorted(map(tuple, ws.load(n).collect())) for n in ("t1", "t2")
    }

    def run(op):
        kind = op[0]
        if kind == "save":
            ws.save(
                op[1],
                spark.range(op[2]).select(
                    F.col("id").alias("k"),
                    (F.col("id") * 3).alias("v"),
                ),
                minimize_widths=False,
            )
        elif kind == "append":
            ws.append(
                op[1],
                ws.load(op[1]).limit(0).unionByName(
                    spark.range(1000, 1000 + op[2]).select(
                        *[
                            F.col("id").cast(f.dataType).alias(f.name)
                            for f in ws.load(op[1]).schema.fields
                        ]
                    )
                ),
            )
        elif kind == "delkeys":
            ws.delete_keys(op[1], op[2])
        elif kind == "drop":
            ws.drop(op[1], delete=True)
        elif kind == "badsave":
            with pytest.raises(KeysError):
                ws.save(
                    op[1],
                    spark.range(5).select(
                        F.lit(1).alias("k"), F.lit(0).alias("v")
                    ),
                    key="k", minimize_widths=False,
                )  # duplicate keys: fails the unique check

    with pytest.raises(RuntimeError, match="seqboom"):
        with ws.transaction():
            for op in ops:
                run(op)
            raise RuntimeError("seqboom")
    ws.refresh()
    assert set(ws.manifest["tables"]) >= {"t1", "t2"}
    for extra in ("new1", "new2"):
        assert extra not in ws.manifest["tables"]
    for n in ("t1", "t2"):
        assert sorted(map(tuple, ws.load(n).collect())) == pre[n], n
    assert ws.key_lookup("t1", 7).head()["v"] == 14  # index restored


# ------------------------------------------------- spread_scan (r13 opt)
def test_spread_scan_parallelizes_unsplittable_and_noops_on_parallel(
    spark, tmp_path
):
    """spread_scan repartitions ONLY when the layout probe proves the
    scan split-deficient: a single-file single-row-group parquet gains
    a hash exchange at defaultParallelism with the row multiset intact;
    a many-row-group layout comes back untouched (the no-op branch a
    cluster-scale table takes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kerf_spark.sources.io import effective_scan_splits, spread_scan

    p = spark.sparkContext.defaultParallelism
    if p < 2:
        pytest.skip("spread_scan no-ops at defaultParallelism < 2")
    one = str(tmp_path / "one.parquet")
    pq.write_table(
        pa.table({"k": list(range(1000)), "v": [i * 2 for i in range(1000)]}),
        one,
    )
    assert effective_scan_splits(one, p) == 1
    df = spark.read.parquet(one)
    out = spread_scan(spark, df, one, "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k" in plan and "Exchange" in plan
    assert out.rdd.getNumPartitions() == p
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, df.collect())
    )

    many = str(tmp_path / "many.parquet")
    pq.write_table(
        pa.table({"k": list(range(1000))}), many,
        row_group_size=max(1, 1000 // p),
    )
    assert effective_scan_splits(many, p) >= p
    df2 = spark.read.parquet(many)
    assert spread_scan(spark, df2, many, "k") is df2
