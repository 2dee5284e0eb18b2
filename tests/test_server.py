"""IPC server tests: the bus.h client/server surface over loopback TCP
— session persistence per connection, bounded table previews, taxonomy
error responses, error VALUES as data, concurrent isolated sessions."""

from __future__ import annotations

import threading

import pytest

from kerf_spark.server import KerfClient, KerfServer

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def server(spark):
    from kerf_spark.sources.io import read_table

    tables = {
        name: read_table(spark, SF, name) for name in ("region", "nation")
    }
    srv = KerfServer(spark, tables=tables).start()
    yield srv
    srv.stop()


def _client(server):
    host, port = server.address
    return KerfClient(host, port)


def test_scalar_vector_map_and_session_state(server):
    with _client(server) as c:
        assert c.execute("a: 40; a + 2") == {
            "ok": True, "kind": "scalar", "value": 42,
        }
        # state persists across requests on the SAME connection
        assert c.execute("a * 2")["value"] == 80
        v = c.execute("til(4)")
        assert v["kind"] == "vector" and v["value"] == [0, 1, 2, 3]
        m = c.execute("{x: 1, y: 2}")
        assert m == {"ok": True, "kind": "map", "value": {"x": 1, "y": 2}}
        assert c.execute("f: {[n] n * n}; f(9)")["value"] == 81


def test_table_preview_is_bounded_with_more_flag(server):
    with _client(server) as c:
        r = c.execute(
            "select r_name from region order by r_name", limit=3
        )
        assert r["ok"] and r["kind"] == "table"
        assert r["columns"] == ["r_name"]
        assert len(r["rows"]) == 3 and r["more"] is True
        full = c.execute("select count(*) as n from region")
        assert full["rows"] == [[5]] and full["more"] is False


def test_error_taxonomy_and_error_values_over_the_wire(server):
    with _client(server) as c:
        # a RAISED error fails the request with its jump.h kind
        r = c.execute("1 + no_such")
        assert r == {
            "ok": False, "kind": "Reference error",
            "message": "undefined name: no_such",
        }
        # the session survives the failure
        assert c.execute("2 + 2")["value"] == 4
        # a CAPTURED error (try form) is a first-class RESULT
        r = c.execute("try(select nope from region)")
        assert r["ok"] and r["kind"] == "error_value"
        assert r["error_kind"] == "Column error"


def test_concurrent_sessions_are_isolated(server):
    host, port = server.address
    results = {}

    def session(tag: str, val: int):
        with KerfClient(host, port) as c:
            c.execute(f"x: {val}")
            barrier.wait(timeout=30)
            results[tag] = c.execute("x")["value"]

    barrier = threading.Barrier(2)
    ts = [
        threading.Thread(target=session, args=("a", 1)),
        threading.Thread(target=session, args=("b", 2)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=60)
    assert results == {"a": 1, "b": 2}


def test_nan_and_null_cells_survive_the_wire(server):
    with _client(server) as c:
        r = c.execute("select r_regionkey, null as gap from region"
                      " order by r_regionkey", limit=2)
        assert r["rows"][0][1] is None
        assert c.execute("nan")["value"] == "nan"  # kerf literal text


def test_decimal_and_struct_cells_get_a_response_not_a_dead_socket(server):
    """Review regression (r7): serialization happens INSIDE the wire
    boundary — a Decimal cell must come back as exact digit text, not
    kill the handler thread and drop the connection/session."""
    with _client(server) as c:
        r = c.execute("select cast(1.5 as decimal(3,1)) as d from region"
                      " limit 1")
        assert r["ok"] and r["rows"] == [["1.5"]]
        # the session survived
        assert c.execute("1 + 1")["value"] == 2


def test_temp_view_assignment_does_not_leak_across_connections(server):
    """Review regression (r7): per-connection spark.newSession() — a
    client that shadows a base table name with its own DataFrame
    assignment must not change what other connections read."""
    host, port = server.address
    with KerfClient(host, port) as a, KerfClient(host, port) as b:
        a.execute("region: select r_regionkey from region"
                  " where r_regionkey = 0")
        assert a.execute("select count(*) as n from region")["rows"] == [[1]]
        # b's view of the base table is untouched
        assert b.execute("select count(*) as n from region")["rows"] == [[5]]
    # and a FRESH connection still sees the base table
    with KerfClient(host, port) as c:
        assert c.execute("select count(*) as n from region")["rows"] == [[5]]


def test_struct_cells_keep_field_names(server):
    """Review regression (r7, 2nd pass): Row subclasses tuple, so the
    struct branch must run before the sequence branch — field names
    must reach the client."""
    with _client(server) as c:
        r = c.execute(
            "select named_struct('a', 1, 'b', 2) as s from region limit 1"
        )
        assert r["rows"] == [[{"a": 1, "b": 2}]]


def test_two_servers_same_table_name_do_not_cross_wire(spark):
    """Review regression (r7, 2nd pass): each server namespaces its
    global-temp views, so a second server registering the same table
    name serves ITS data, the first keeps serving its own, and stop()
    drops the views instead of leaking them."""
    a_df = spark.createDataFrame([(1,)], "x long")
    b_df = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    a = KerfServer(spark, tables={"t": a_df}).start()
    b = KerfServer(spark, tables={"t": b_df}).start()
    try:
        with KerfClient(*a.address) as ca:
            assert ca.execute("select count(*) as n from t")["rows"] == [[1]]
        with KerfClient(*b.address) as cb:
            assert cb.execute("select count(*) as n from t")["rows"] == [[3]]
    finally:
        a.stop()
        b.stop()
    # stop() dropped THESE servers' namespaced views (other live
    # servers — e.g. the module fixture's — keep their own)
    leftovers = [
        v.name for v in spark.catalog.listTables("global_temp")
        if v.name.startswith(f"__kerf_srv_{a.view_token}_")
        or v.name.startswith(f"__kerf_srv_{b.view_token}_")
    ]
    assert leftovers == []


def test_save_side_channel_writes_full_table(server, spark, tmp_path):
    """The full-table side channel the module doc prescribes: a
    request with save=<path> writes the table result to parquet
    (executor-parallel, rows never transit the socket) and answers
    with an ack; a non-table result refuses with a Type error."""
    dst = str(tmp_path / "nations")
    with _client(server) as c:
        r = c.execute("select n_nationkey, n_name from nation", save=dst)
        assert r["ok"] and r["kind"] == "saved" and r["path"] == dst
        assert r["columns"] == ["n_nationkey", "n_name"]
        bad = c.execute("1 + 1", save=str(tmp_path / "nope"))
        assert not bad["ok"] and bad["kind"] == "Type error"
    got = spark.read.parquet(dst)
    assert got.count() == 25 and set(got.columns) == {
        "n_nationkey", "n_name"
    }


def test_save_root_confines_side_channel_writes(spark, tmp_path):
    """TRUST MODEL (module doc): with save_root configured, the save
    side channel refuses any target that resolves outside it —
    including ../ escapes — with a Type error on the wire, while
    in-root saves work normally."""
    import os

    from kerf_spark.sources.io import read_table

    root = tmp_path / "ws"
    root.mkdir()
    srv = KerfServer(
        spark,
        tables={"region": read_table(spark, SF, "region")},
        save_root=str(root),
    ).start()
    try:
        with _client(srv) as c:
            ok = c.execute(
                "select r_regionkey from region", save=str(root / "r")
            )
            assert ok["ok"] and ok["kind"] == "saved"
            assert spark.read.parquet(str(root / "r")).count() == 5
            for evil in (
                str(tmp_path / "outside"),
                str(root / ".." / "sneaky"),
            ):
                bad = c.execute(
                    "select r_regionkey from region", save=evil
                )
                assert not bad["ok"] and bad["kind"] == "Type error"
                assert "save_root" in bad["message"]
        assert not os.path.exists(str(tmp_path / "outside"))
        assert not os.path.exists(str(tmp_path / "sneaky"))
    finally:
        srv.stop()


def test_arrow_stream_roundtrips_100k_rows_bit_exact(spark, tmp_path):
    """The binary result plane (module doc: reference MESSAGE slabs →
    public Arrow IPC): a 100k-row table with floats/strings/longs
    round-trips the socket BIT-exactly as one length-prefixed Arrow
    stream frame — no filesystem involved — and the line protocol
    stays usable on the same connection afterwards."""
    df = spark.range(100_000).selectExpr(
        "id",
        "cast(id as double) / 7.0 as x",
        "concat('s', cast(id % 997 as string)) as s",
        "cast(id % 2 = 0 as boolean) as b",
    )
    srv = KerfServer(spark, tables={"t": df}).start()
    try:
        with _client(srv) as c:
            r = c.execute("select * from t order by id", arrow=True)
            assert r["ok"] and r["kind"] == "arrow"
            assert r["rows"] == 100_000
            got = r["table"]
            want = df.orderBy("id").toArrow()
            assert got.equals(want)  # bit-exact: Arrow buffer equality
            # the connection still speaks the line protocol
            r2 = c.execute("select count(*) as n from t")
            assert r2["ok"] and r2["rows"] == [[100_000]]
            # non-table results refuse with a typed error, socket alive
            bad = c.execute("1 + 1", arrow=True)
            assert not bad["ok"] and bad["kind"] == "Type error"
            assert c.execute("2 + 2")["value"] == 4
    finally:
        srv.stop()


def test_arrow_row_ceiling_refuses_loudly(spark, monkeypatch):
    """Beyond ARROW_MAX_ROWS the server refuses with a typed error
    naming the save side-channel — the wire plane stays
    driver-bounded by design."""
    import kerf_spark.server as SRV

    monkeypatch.setattr(SRV, "ARROW_MAX_ROWS", 1000)
    df = spark.range(1001)
    srv = KerfServer(spark, tables={"t": df}).start()
    try:
        with _client(srv) as c:
            bad = c.execute("select * from t", arrow=True)
            assert not bad["ok"] and "side-channel" in bad["message"]
            ok = c.execute("select * from t where id < 10", arrow=True)
            assert ok["ok"] and ok["table"].num_rows == 10
    finally:
        srv.stop()


def test_arrow_upload_roundtrips_100k_rows_bit_exact(spark):
    """The REVERSE binary wire (VERDICT r8 missing #4, enums.h:278):
    the client ships a 100k-row pyarrow.Table TO the server as one
    length-prefixed Arrow frame; it registers as a session temp view,
    server-side queries see it, and pulling it back returns the exact
    same Arrow buffers — the binary loop is closed."""
    df = spark.range(100_000).selectExpr(
        "id",
        "cast(id as double) / 7.0 as x",
        "concat('u', cast(id % 991 as string)) as s",
    )
    want = df.orderBy("id").toArrow()
    srv = KerfServer(spark, tables={}).start()
    try:
        with _client(srv) as c:
            r = c.execute(
                "select count(*) as n from up", upload=("up", want)
            )
            assert r["ok"] and r["rows"] == [[100_000]]
            # the uploaded view persists for the session: query it again
            r2 = c.execute(
                "select * from up order by id", arrow=True
            )
            assert r2["ok"] and r2["table"].equals(want)  # bit-exact
            # env binding too: kerf expressions see the table by name
            r3 = c.execute("select max(id) as m from up")
            assert r3["rows"] == [[99_999]]
        # a SECOND connection does not see the first session's upload
        with _client(srv) as c2:
            bad = c2.execute("select count(*) as n from up")
            assert not bad["ok"]
    finally:
        srv.stop()


def test_arrow_upload_validates_name_and_size(spark, monkeypatch):
    import pyarrow as pa

    import kerf_spark.server as SRV

    tbl = pa.table({"a": [1, 2, 3]})
    srv = KerfServer(spark, tables={}).start()
    try:
        with _client(srv) as c:
            bad = c.execute("1", upload=("no good", tbl))
            assert not bad["ok"]
            # protocol stays in sync after the refusal
            assert c.execute("7 * 6")["value"] == 42
        monkeypatch.setattr(SRV, "ARROW_MAX_UPLOAD_BYTES", 64)
        with _client(srv) as c:
            big = c.execute("1", upload=("t", tbl))
            assert not big["ok"] and "side-channel" in big["message"]
            assert c.execute("6 * 6")["value"] == 36  # drained, in sync
    finally:
        srv.stop()


def test_arrow_upload_framing_rejects_hostile_ints(spark):
    """ADVICE r9 (server.py:330): framing fields are validated BEFORE
    any socket read — a negative nbytes must not reach rfile.read
    (negative count = read-to-EOF, wedging the handler), and a
    missing 'name' with a valid nbytes drains exactly n bytes so the
    line protocol stays in sync for the next request."""
    import json
    import socket as _socket

    import pyarrow as pa

    srv = KerfServer(spark, tables={}).start()
    try:
        host, port = srv.address
        with _socket.create_connection((host, port), timeout=30) as s:
            s.settimeout(30)
            f = s.makefile("rwb")

            def ask(obj, payload=b""):
                f.write(json.dumps(obj).encode() + b"\n" + payload)
                f.flush()
                return json.loads(f.readline())

            # negative nbytes: typed refusal, nothing read, in sync
            r = ask({"src": "1", "upload": {"name": "t", "nbytes": -5}})
            assert not r["ok"] and "negative" in r["message"]
            assert ask({"src": "7 * 6"})["value"] == 42
            # missing nbytes: typed refusal, in sync (no payload sent)
            r = ask({"src": "1", "upload": {"name": "t"}})
            assert not r["ok"] and "nbytes" in r["message"]
            assert ask({"src": "6 * 7"})["value"] == 42
            # missing NAME with a real payload: the n bytes are drained
            # before the refusal, so the next request still parses
            sink = pa.BufferOutputStream()
            tbl = pa.table({"a": [1, 2, 3]})
            with pa.ipc.new_stream(sink, tbl.schema) as w:
                w.write_table(tbl)
            raw = sink.getvalue().to_pybytes()
            r = ask(
                {"src": "1", "upload": {"nbytes": len(raw)}}, payload=raw
            )
            assert not r["ok"]
            assert ask({"src": "3 * 4"})["value"] == 12
    finally:
        srv.stop()


def test_folio_remote_scatter_gather_matches_local(spark):
    """VERDICT r8 missing #1 (presented.h:427-430): a folio of remote
    tables behaves like a table — the same statement runs on THREE
    servers concurrently (one thread per socket), the Arrow frames
    union, and re-aggregating the members' algebraic partials equals
    the single-table local run exactly."""
    from pyspark.sql import functions as F

    from kerf_spark.server import folio_remote
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer")
    shards = [cust.where(F.col("c_custkey") % 3 == i) for i in range(3)]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        addrs = [s.address for s in srvs]
        src = (
            "select c_nationkey, count(*) as n, sum(c_acctbal) as bal "
            "from customer group by c_nationkey"
        )
        parts = folio_remote(spark, addrs, src, tag_col="member")
        # one partial row set per member, tagged with its address
        assert parts.select("member").distinct().count() == 3
        got = (
            parts.groupBy("c_nationkey")
            .agg(
                F.sum("n").alias("n"),
                F.round(F.sum("bal"), 2).alias("bal"),
            )
            .orderBy("c_nationkey")
            .collect()
        )
        want = (
            cust.groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("c_acctbal"), 2).alias("bal"),
            )
            .orderBy("c_nationkey")
            .collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
    finally:
        for s in srvs:
            s.stop()


def test_folio_remote_member_failure_is_loud(spark):
    from kerf_spark.server import folio_remote

    srv = KerfServer(spark, tables={}).start()
    try:
        with pytest.raises(RuntimeError, match="folio member"):
            folio_remote(
                spark, [srv.address], "select * from not_a_table"
            )
        # a non-table member result surfaces the server's typed error
        with pytest.raises(RuntimeError, match="Type error"):
            folio_remote(spark, [srv.address], "1 + 1")
        with pytest.raises(ValueError, match="at least one"):
            folio_remote(spark, [], "1")
    finally:
        srv.stop()


def test_folio_script_verb_queries_remote_members(spark):
    """The folio as a kerf VALUE: a script builds the member vector and
    queries it like a table — the reference's socket-mapped folio
    surface reached from the language plane."""
    from pyspark.sql import functions as F

    from kerf_spark.plans import kerf_lang as KL
    from kerf_spark.sources.io import read_table

    nat = read_table(spark, SF, "nation")
    halves = [nat.where(F.col("n_nationkey") % 2 == i) for i in range(2)]
    srvs = [
        KerfServer(spark, tables={"nation": h}).start() for h in halves
    ]
    try:
        members = ", ".join(
            f'"{h}:{p}"' for h, p in (s.address for s in srvs)
        )
        df = KL.run(
            spark,
            f'f: [{members}]\n'
            f'folio(f, "select n_regionkey, count(*) as n '
            f'from nation group by n_regionkey")',
        )
        got = sorted(
            tuple(r)
            for r in df.groupBy("n_regionkey")
            .agg(F.sum("n").cast("long").alias("n"))
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in nat.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        assert got == want
    finally:
        for s in srvs:
            s.stop()


def test_folio_reshard_script_verb(spark):
    """The reshard exchange from the LANGUAGE plane: a script builds
    the member vector, reshards a misaligned table onto the key, and
    queries the published result through the same folio verb."""
    from pyspark.sql import functions as F

    from kerf_spark.plans import kerf_lang as KL
    from kerf_spark.sources.io import read_table

    nat = read_table(spark, SF, "nation")
    halves = [nat.where(F.col("n_regionkey") <= 1),
              nat.where(F.col("n_regionkey") > 1)]
    srvs = [
        KerfServer(spark, tables={"nation": h}).start() for h in halves
    ]
    try:
        members = ", ".join(
            f'"{h}:{p}"' for h, p in (s.address for s in srvs)
        )
        stats = KL.run(
            spark,
            f'f: [{members}]\n'
            f'folio_reshard(f, "nation", "n_nationkey", "nation_rs")',
        )
        assert stats["rows"] == nat.count()
        df = KL.run(
            spark,
            f'folio([{members}], "select count(*) as n from nation_rs")',
        )
        assert df.agg(F.sum("n")).head()[0] == nat.count()
    finally:
        for s in srvs:
            s.stop()


def test_folio_select_splits_algebraic_aggregates(spark):
    """VERDICT r9 #4: folio_select rewrites a grouped aggregate into
    member partials + a local final — sum/count/min/max direct,
    avg as sum-of-sums over sum-of-counts (exact SQL AVG semantics
    under member skew, never an average of member averages) — and the
    result equals the unsharded local aggregate."""
    from pyspark.sql import functions as F

    from kerf_spark.server import folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer")
    # DELIBERATELY skewed shards: avg-of-avgs would be wrong
    shards = [
        cust.where(F.col("c_custkey") % 7 == 0),
        cust.where(F.col("c_custkey") % 7 != 0),
    ]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        got = folio_select(
            spark,
            [s.address for s in srvs],
            "select c_nationkey, count(*) as n, avg(c_acctbal) as avg_bal,"
            " sum(c_acctbal) as bal, min(c_acctbal) as lo,"
            " max(c_acctbal) as hi from customer group by c_nationkey",
        ).collect()
        want = {
            r["c_nationkey"]: r
            for r in cust.groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("c_acctbal").alias("avg_bal"),
                F.sum("c_acctbal").alias("bal"),
                F.min("c_acctbal").alias("lo"),
                F.max("c_acctbal").alias("hi"),
            )
            .collect()
        }
        assert len(got) == len(want)
        for r in got:
            w = want[r["c_nationkey"]]
            assert r["n"] == w["n"]
            assert abs(r["avg_bal"] - w["avg_bal"]) < 1e-9
            assert r["lo"] == w["lo"] and r["hi"] == w["hi"]
        # ungrouped + where pushes to members
        tot = folio_select(
            spark,
            [s.address for s in srvs],
            "select sum(c_acctbal) as bal, count(*) as n from customer "
            "where c_nationkey < 10",
        ).head()
        wt = cust.where("c_nationkey < 10").agg(
            F.sum("c_acctbal").alias("bal"), F.count(F.lit(1)).alias("n")
        ).head()
        assert tot["n"] == wt["n"] and abs(tot["bal"] - wt["bal"]) < 1e-9
        # the script verb reaches the same plane
        from kerf_spark.plans import kerf_lang as KL

        members = ", ".join(
            f'"{h}:{p}"' for h, p in (s.address for s in srvs)
        )
        df = KL.run(
            spark,
            f'f: [{members}]\n'
            f'folio_select(f, "select c_nationkey, count(*) as n '
            f'from customer group by c_nationkey")',
        )
        assert df.count() == len(want)
    finally:
        for s in srvs:
            s.stop()


def test_folio_select_kerf_by_form_returns_keys(spark, monkeypatch):
    """The kerf ``by`` form returns its keys first, as ``kerf_sql`` does
    for the same text, from both the driver-side and the Spark final;
    a key the select list already names is not repeated."""
    from pyspark.sql import functions as F

    from kerf_spark import server as SRV
    from kerf_spark.plans.kerfsql import kerf_sql
    from kerf_spark.server import folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer")
    shards = [cust.where(F.col("c_custkey") % 2 == i) for i in range(2)]
    srvs = [
        KerfServer(spark, tables={"kb_customer": sh}).start() for sh in shards
    ]
    stmt = (
        "select n: count(*), bal: sum(c_acctbal) by c_nationkey"
        " from kb_customer"
    )
    cust.createOrReplaceTempView("kb_customer")
    want = kerf_sql(spark, stmt)
    assert want.columns == ["c_nationkey", "n", "bal"]
    want = {r["c_nationkey"]: r["n"] for r in want.collect()}
    try:
        addrs = [s.address for s in srvs]
        for spark_final in (False, True):
            with monkeypatch.context() as m:
                if spark_final:
                    m.setattr(SRV, "_fast_types_ok", lambda *a, **k: False)
                got = folio_select(spark, addrs, stmt)
                assert got.columns == ["c_nationkey", "n", "bal"], spark_final
                assert {r[0]: r[1] for r in got.collect()} == want
        named = folio_select(
            spark, addrs,
            "select n: count(*), c_nationkey by c_nationkey from kb_customer",
        )
        assert named.columns == ["n", "c_nationkey"]
    finally:
        for s in srvs:
            s.stop()


def test_folio_driver_final_matches_spark_final_bitwise(
    spark, monkeypatch
):
    """VERDICT r13 #2/#5: ``_folio_driver_final`` is a second
    implementation of Spark's final-merge semantics, so the invariant
    must be ENFORCED, not remembered — randomized member data heavy in
    NaN / NULL / ±0.0 / ties runs every supported final through BOTH
    paths (the driver fold, then the Spark final with the fast gate
    monkeypatched off) and compares float cells by their IEEE-754 bit
    patterns.  Ten dataset draws x ~10 groups x 9 finals ≈ hundreds of
    per-group fold shapes.  Tied max_by/min_by orderings carry the
    SAME payload value (ties are resolved by member/scan order, which
    two independent gathers may legitimately differ on — equal
    payloads make the comparison tie-invariant while still exercising
    the NaN-greatest and strict-improvement update rules)."""
    import math
    import random
    import struct

    from pyspark.sql import functions as F

    from kerf_spark import server as SRV
    from kerf_spark.server import folio_select

    rng = random.Random(20260818)
    NAN = float("nan")

    def canon(rows):
        out = []
        for r in rows:
            t = []
            for v in r:
                if isinstance(v, float):
                    t.append("f:" + struct.pack(">d", v).hex())
                else:
                    t.append(repr(v))
            out.append(tuple(t))
        return sorted(out)

    stmt = (
        "select k, count(*) as n, sum(v) as sv, sum(i) as si,"
        " min(v) as mnv, max(v) as mxv, avg(v) as av,"
        " max_by(name, o) as mb, min_by(name, o) as nb,"
        " string_agg(name, i) as sa"
        " from t group by k"
    )
    vpool = [
        0.0, -0.0, NAN, 1e300, -1e300, 1e-300, 0.1, 0.1, 2.5,
        -7.25, None, None, 1234567.875,
    ]
    opool = [0.0, -0.0, NAN, NAN, 1.5, 1.5, -3.0, 9e99, None, 42.0]
    for draw in range(10):
        keys = [f"g{j}" for j in range(rng.randint(1, 9))] + [None]
        rows = []
        for ridx in range(rng.randint(5, 120)):
            o = rng.choice(opool)
            # tie-invariant payload: equal o => equal name (NaN keys
            # one shared name; None keeps a NULL payload sometimes)
            name = (
                None
                if o is None and rng.random() < 0.5
                else "n" + (
                    "nan" if isinstance(o, float) and math.isnan(o)
                    else repr(abs(o) if o == 0 else o)
                )
            )
            rows.append((
                rng.choice(keys),
                rng.choice(vpool),
                rng.randint(-5, 5) if rng.random() < 0.9 else None,
                name,
                o,
            ))
        nsh = rng.randint(2, 3)
        # deterministic shard split on the row index
        idx = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(rows)],
            "ri long, k string, v double, i bigint, name string, o double",
        )
        shards = [
            idx.where(F.col("ri") % nsh == j).drop("ri") for j in range(nsh)
        ]
        srvs = [
            KerfServer(spark, tables={"t": sh}).start() for sh in shards
        ]
        try:
            addrs = [s.address for s in srvs]
            fast_rows = folio_select(spark, addrs, stmt).collect()
            with monkeypatch.context() as m:
                m.setattr(SRV, "_fast_types_ok", lambda *a, **k: False)
                slow_rows = folio_select(spark, addrs, stmt).collect()
            assert canon(fast_rows) == canon(slow_rows), (draw, stmt)
        finally:
            for s in srvs:
                s.stop()


def test_folio_select_refuses_unsplittable_aggregates(spark):
    """Order/position-dependent aggregates cannot be rebuilt from
    member partials — typed refusal, no silent wrong answer; bad
    percentile fractions, expression histogram args, unaliased
    aggregates, and non-key projections refuse too."""
    from kerf_spark.errors import ArgsError
    from kerf_spark.server import folio_select

    for bad in (
        "select first(x) as f from t",
        "select string_agg(x) as s from t",
        "select collect_list(x) as l from t",
        "select stddev(distinct x) as s from t",
        "select percentile(x, 1.5) as p from t",
        "select percentile(x) as p from t",
        "select sum(x) from t",
        "select y, sum(x) as s from t group by k",
    ):
        with pytest.raises(ArgsError):
            folio_select(spark, [("127.0.0.1", 1)], bad)
    # the ordered concat refusal NAMES the ordered two-arg form
    with pytest.raises(ArgsError, match=r"string_agg\(x, ord\)"):
        folio_select(
            spark, [("127.0.0.1", 1)], "select string_agg(x) as s from t"
        )


def test_folio_select_splits_holistic_via_histograms(spark):
    """median/percentile/count(DISTINCT) over the folio are EXACT:
    members ship (group, value, count) histograms, the local final
    merges by value, counts the distinct values, and interpolates
    percentile_cont over the merged weights.  stddev/variance rebuild
    from sum/sum²/count partials.  Everything checked against the
    unsharded local computation under DELIBERATELY skewed shards."""
    import math

    from pyspark.sql import functions as F

    from kerf_spark.server import folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer").withColumn(
        "cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    shards = [
        cust.where(F.col("c_custkey") % 7 == 0),
        cust.where(F.col("c_custkey") % 7 != 0),
    ]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        got = {
            r["c_nationkey"]: r
            for r in folio_select(
                spark,
                [s.address for s in srvs],
                "select c_nationkey, median(cents) as med,"
                " percentile(cents, 0.25) as q1,"
                " count(distinct c_mktsegment) as segs,"
                " stddev(cents) as sd, var_pop(cents) as vp"
                " from customer group by c_nationkey",
            ).collect()
        }
        want = {
            r["c_nationkey"]: r
            for r in cust.groupBy("c_nationkey")
            .agg(
                F.expr("percentile(cents, 0.5)").alias("med"),
                F.expr("percentile(cents, 0.25)").alias("q1"),
                F.countDistinct("c_mktsegment").alias("segs"),
                F.stddev_samp("cents").alias("sd"),
                F.var_pop("cents").alias("vp"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for k, r in got.items():
            w = want[k]
            assert r["med"] == w["med"], (k, r["med"], w["med"])
            assert r["q1"] == w["q1"]
            assert r["segs"] == w["segs"]
            assert math.isclose(r["sd"], w["sd"], rel_tol=1e-9)
            assert math.isclose(r["vp"], w["vp"], rel_tol=1e-9)
        # histogram-ONLY statement (no algebraic partials): the hidden
        # spine defines the groups and drops from the projection
        only = folio_select(
            spark,
            [s.address for s in srvs],
            "select c_nationkey, median(cents) as med from customer "
            "group by c_nationkey",
        )
        assert set(only.columns) == {"c_nationkey", "med"}
        assert {
            r["c_nationkey"]: r["med"] for r in only.collect()
        } == {k: w["med"] for k, w in want.items()}
        # ungrouped holistic + where pushes to members
        tot = folio_select(
            spark,
            [s.address for s in srvs],
            "select median(cents) as med, count(distinct c_nationkey)"
            " as nk from customer where c_nationkey < 10",
        ).head()
        flt = cust.where("c_nationkey < 10")
        wt = flt.agg(
            F.expr("percentile(cents, 0.5)").alias("med"),
            F.countDistinct("c_nationkey").alias("nk"),
        ).head()
        assert tot["med"] == wt["med"] and tot["nk"] == wt["nk"]
        # approx_count_distinct: mergeable HLL sketches on the wire —
        # sparse mode makes the small segment domain EXACT
        hll = {
            r["c_nationkey"]: r["d"]
            for r in folio_select(
                spark,
                [s.address for s in srvs],
                "select c_nationkey,"
                " approx_count_distinct(c_mktsegment) as d"
                " from customer group by c_nationkey",
            ).collect()
        }
        assert hll == {k: w["segs"] for k, w in want.items()}
    finally:
        for s in srvs:
            s.stop()


def test_folio_select_mode_and_ordered_string_agg(spark):
    """r11 verdict next #4: ``mode`` splits via the existing histogram
    machinery (merge member (group,value,count) histograms, take the
    max-count value, ties -> SMALLEST value — asserted against a local
    window computation with the same tie rule), and ordered
    ``string_agg(x, ord)`` ships member (ord, value) lists whose
    flattened merge sorts before joining with ','.  Checked under
    deliberately skewed shards so cross-member merge order matters."""
    from pyspark.sql import functions as F

    from kerf_spark.server import folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer")
    shards = [
        cust.where(F.col("c_custkey") % 5 == 0),
        cust.where(F.col("c_custkey") % 5 != 0),
    ]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        got = {
            r["c_nationkey"]: r
            for r in folio_select(
                spark,
                [s.address for s in srvs],
                "select c_nationkey, mode(c_mktsegment) as seg,"
                " string_agg(c_mktsegment, c_custkey) as segs"
                " from customer group by c_nationkey",
            ).collect()
        }
        from pyspark.sql import Window

        h = cust.groupBy("c_nationkey", "c_mktsegment").count()
        w = Window.partitionBy("c_nationkey").orderBy(
            F.col("count").desc(), F.col("c_mktsegment").asc()
        )
        want_mode = {
            r["c_nationkey"]: r["c_mktsegment"]
            for r in h.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .collect()
        }
        want_concat = {
            r["c_nationkey"]: r["s"]
            for r in cust.groupBy("c_nationkey")
            .agg(
                F.expr(
                    "array_join(transform(array_sort(collect_list("
                    "named_struct('o', c_custkey, 'v', c_mktsegment)"
                    ")), s -> CAST(s.v AS STRING)), ',')"
                ).alias("s")
            )
            .collect()
        }
        assert {k: r["seg"] for k, r in got.items()} == want_mode
        assert {k: r["segs"] for k, r in got.items()} == want_concat
        # mode composes with percentile on ANOTHER argument in the
        # same statement (two histogram args, one member round trip)
        both = folio_select(
            spark,
            [s.address for s in srvs],
            "select c_nationkey, mode(c_mktsegment) as seg,"
            " median(c_nationkey + 0) as mk"
            " from customer group by c_nationkey",
        ).collect()
        assert {r["c_nationkey"]: r["seg"] for r in both} == want_mode
        assert all(r["mk"] == float(r["c_nationkey"]) for r in both)
        # sum/avg(DISTINCT) ride the same histogram split — the merged
        # member histograms ARE the per-group distinct domain
        dk = {
            r["c_nationkey"]: r
            for r in folio_select(
                spark,
                [s.address for s in srvs],
                "select c_nationkey,"
                " sum(distinct c_custkey % 97) as sd,"
                " avg(distinct c_custkey % 97) as ad,"
                " max(distinct c_custkey % 97) as mx"
                " from customer group by c_nationkey",
            ).collect()
        }
        want_d = {
            r["c_nationkey"]: r
            for r in cust.groupBy("c_nationkey")
            .agg(
                F.sum_distinct(F.col("c_custkey") % 97).alias("sd"),
                F.expr("avg(distinct c_custkey % 97)").alias("ad"),
                F.max(F.col("c_custkey") % 97).alias("mx"),
            )
            .collect()
        }
        assert set(dk) == set(want_d)
        for k, r in dk.items():
            assert r["sd"] == want_d[k]["sd"], (k, r["sd"])
            assert abs(r["ad"] - want_d[k]["ad"]) < 1e-9
            assert r["mx"] == want_d[k]["mx"]
    finally:
        for s in srvs:
            s.stop()


def test_folio_reshard_exchange(spark):
    """r11 verdict next #5: folio_reshard hash-partitions a member-
    sharded table across the member set over the Arrow wire — member
    i keeps bucket i, ships bucket j to member j, each receiver
    publishes keep ∪ received.  Asserts: row conservation (the
    built-in fail-loud check), every member holds EXACTLY its hash
    bucket, the union across members equals the original table
    bit-for-bit, and the published table is visible to NEW
    connections (the publish plane)."""
    from pyspark.sql import functions as F

    from kerf_spark.server import (
        KerfClient,
        KerfServer,
        folio_remote,
        folio_reshard,
    )
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    n_rows = cust.count()
    # deliberately misaligned shards: residue RANGES, not hash buckets
    shards = [
        cust.where(F.col("c_custkey") % 7 < 2),
        cust.where(
            (F.col("c_custkey") % 7 >= 2) & (F.col("c_custkey") % 7 < 5)
        ),
        cust.where(F.col("c_custkey") % 7 >= 5),
    ]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        addrs = [s.address for s in srvs]
        stats = folio_reshard(addrs, "customer", "c_custkey", "cust_rs")
        assert stats["rows"] == n_rows
        assert stats["moved"] > 0  # misaligned shards must move rows
        for j, addr in enumerate(addrs):
            with KerfClient(*addr) as cli:
                r = cli.execute(
                    f"select count(*) as bad from cust_rs "
                    f"where pmod(hash(c_custkey), 3) != {j}"
                )
                assert r["ok"] and r["rows"][0][0] == 0, (j, r)
        got = folio_remote(spark, addrs, "select * from cust_rs")
        assert got.count() == n_rows
        assert got.exceptAll(cust).count() == 0
        assert cust.exceptAll(got).count() == 0
    finally:
        for s in srvs:
            s.stop()


def test_folio_select_expression_group_keys(spark):
    """EXPRESSION group keys: members compute the bucket under a
    synthetic alias, the final merge groups on the alias, and the
    projection maps it back to the statement's name — distributed
    time-bucketed bars in one statement.  Median rides the same
    expression key (the histogram gather aliases it identically)."""
    from pyspark.sql import functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.server import KerfServer, folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer")
    shards = [cust.where(F.col("c_custkey") % 2 == i) for i in range(2)]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        got = {
            r["bucket"]: (r["n"], r["med"])
            for r in folio_select(
                spark,
                [s.address for s in srvs],
                "select c_nationkey % 5 as bucket, count(*) as n,"
                " median(c_custkey) as med from customer"
                " group by c_nationkey % 5",
            ).collect()
        }
        want = {
            r["bucket"]: (r["n"], r["med"])
            for r in cust.groupBy(
                (F.col("c_nationkey") % 5).alias("bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("percentile(c_custkey, 0.5)").alias("med"),
            )
            .collect()
        }
        assert got == want
        # an expression key projected WITHOUT an alias refuses
        with pytest.raises(ArgsError):
            folio_select(
                spark, [srvs[0].address],
                "select c_nationkey % 5, count(*) as n from customer "
                "group by c_nationkey % 5",
            )
    finally:
        for s in srvs:
            s.stop()


def test_folio_select_member_side_star_join(spark):
    """The star-schema folio shape: fact sharded across members, dim
    REPLICATED to every member — the from clause (a kerf-SQL join)
    passes through to the members whole, each joins ITS shard against
    its local dim, and the partials merge as usual.  No rows cross
    the wire; the dim never moves at query time.  The join requires
    the explicit ``member_local_joins=True`` opt-in: by default a
    join in the from clause REFUSES (a join between two member-
    sharded tables run member-side would silently drop every
    cross-member match)."""
    import pytest

    from pyspark.sql import functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.server import folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer")
    nat = read_table(spark, SF, "nation")
    shards = [cust.where(F.col("c_custkey") % 2 == i) for i in range(2)]
    srvs = [
        KerfServer(spark, tables={"customer": sh, "nation": nat}).start()
        for sh in shards
    ]
    stmt = (
        "select n_name, count(*) as n, sum(c_acctbal) as bal"
        " from customer join nation on c_nationkey = n_nationkey"
        " group by n_name"
    )
    try:
        # default: the fact-to-fact guard refuses, naming the opt-in
        # and both workarounds
        with pytest.raises(ArgsError, match="member_local_joins"):
            folio_select(spark, [s.address for s in srvs], stmt)
        got = {
            r["n_name"]: (r["n"], round(r["bal"], 2))
            for r in folio_select(
                spark,
                [s.address for s in srvs],
                stmt,
                member_local_joins=True,
            ).collect()
        }
        want = {
            r["n_name"]: (r["n"], round(r["bal"], 2))
            for r in cust.join(
                nat, cust.c_nationkey == nat.n_nationkey
            )
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("c_acctbal").alias("bal"),
            )
            .collect()
        }
        assert got == want
    finally:
        for s in srvs:
            s.stop()


def test_folio_select_ordered_aggregates(spark):
    """``last(x, ord)``/``first(x, ord)``/``max_by``/``min_by`` split
    exactly: member max_by/min_by partials + a final max_by over the
    member partials — the canonical distributed tick query
    ``select last price by sym``, checked against the unsharded local
    arg-max under deliberately skewed shards.  One-arg first/last
    refuse with an error NAMING the ordered form; one-arg max_by
    refuses as malformed."""
    import pytest

    from pyspark.sql import functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.server import folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer")
    shards = [
        cust.where(F.col("c_custkey") % 7 == 0),
        cust.where(F.col("c_custkey") % 7 != 0),
    ]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        got = {
            r["c_nationkey"]: r
            for r in folio_select(
                spark,
                [s.address for s in srvs],
                "select c_nationkey,"
                " last(c_acctbal, c_custkey) as last_bal,"
                " first(c_acctbal, c_custkey) as first_bal,"
                " max_by(c_mktsegment, c_acctbal) as rich_seg,"
                " arg_min(c_custkey, c_acctbal) as poorest"
                " from customer group by c_nationkey",
            ).collect()
        }
        want = {
            r["c_nationkey"]: r
            for r in cust.groupBy("c_nationkey")
            .agg(
                F.expr("max_by(c_acctbal, c_custkey)").alias("last_bal"),
                F.expr("min_by(c_acctbal, c_custkey)").alias("first_bal"),
                F.expr("max_by(c_mktsegment, c_acctbal)").alias(
                    "rich_seg"
                ),
                F.expr("min_by(c_custkey, c_acctbal)").alias("poorest"),
            )
            .collect()
        }
        assert set(got) == set(want)
        for k, r in got.items():
            w = want[k]
            assert r["last_bal"] == w["last_bal"], k
            assert r["first_bal"] == w["first_bal"], k
            assert r["rich_seg"] == w["rich_seg"], k
            assert r["poorest"] == w["poorest"], k
        # ungrouped ordered agg + where pushdown
        tot = folio_select(
            spark,
            [s.address for s in srvs],
            "select last(c_acctbal, c_custkey) as lb from customer"
            " where c_nationkey < 10",
        ).head()
        wt = (
            cust.where("c_nationkey < 10")
            .agg(F.expr("max_by(c_acctbal, c_custkey)").alias("lb"))
            .head()
        )
        assert tot["lb"] == wt["lb"]
        # one-arg last: the refusal NAMES the ordered two-arg form
        with pytest.raises(ArgsError, match="max_by"):
            folio_select(
                spark, [srvs[0].address],
                "select last(c_acctbal) as lb from customer",
            )
        # one-arg max_by is malformed, not order-dependent
        with pytest.raises(ArgsError, match="two arguments"):
            folio_select(
                spark, [srvs[0].address],
                "select max_by(c_acctbal) as lb from customer",
            )
    finally:
        for s in srvs:
            s.stop()


def test_folio_select_variance_no_cancellation(spark):
    """r10 verdict "what's wrong" #3: the old sum/sum-of-squares
    variance split cancels catastrophically when |mean| >> stddev.
    The ANCHORED partials (members center on an exact window-min
    anchor and ship sums of small centered values; the final
    re-centers on the group-global anchor) must match the EXACT
    rational-arithmetic variance to 1e-9 RELATIVE on data with mean
    1e12 and stddev ~0.6 — the nanosecond-timestamp / large-notional
    shape.  (Ground truth is Fraction arithmetic over the stored
    doubles: at this condition number even single-node Welford —
    Spark's own stddev_samp — is ~1e-5 off, which the split BEATS.)"""
    import math
    from fractions import Fraction

    from pyspark.sql import functions as F

    from kerf_spark.server import folio_select

    base = spark.range(4000).select(
        (F.col("id") % 4).alias("g"),
        (
            F.lit(1_000_000_000_000.0)
            + (F.col("id") % 97).cast("double") / 48.0
        ).alias("x"),
    )
    shards = [base.where(F.col("id") % 3 == i) for i in range(3)]
    srvs = [
        KerfServer(spark, tables={"t": sh}).start() for sh in shards
    ]

    def exact(g):
        xs = [
            Fraction(1e12 + (i % 97) / 48.0)
            for i in range(g, 4000, 4)
        ]
        n = len(xs)
        mu = sum(xs) / n
        ss = sum((x - mu) ** 2 for x in xs)
        return {
            "vp": float(ss / n),
            "vs": float(ss / (n - 1)),
            "sd": math.sqrt(float(ss / (n - 1))),
        }

    try:
        got = {
            r["g"]: r
            for r in folio_select(
                spark,
                [s.address for s in srvs],
                "select g, stddev(x) as sd, var_pop(x) as vp,"
                " var_samp(x) as vs from t group by g",
            ).collect()
        }
        assert set(got) == {0, 1, 2, 3}
        for k, r in got.items():
            w = exact(k)
            assert w["sd"] > 0.1  # the fixture really has spread ~0.6
            for c in ("sd", "vp", "vs"):
                assert math.isclose(r[c], w[c], rel_tol=1e-9), (
                    k, c, r[c], w[c],
                )
    finally:
        for s in srvs:
            s.stop()


def test_folio_select_kll_percentiles(spark):
    """approx_percentile/approx_median over the folio ride mergeable
    KLL sketches — a few KB per (member, group) regardless of rows or
    value DOMAIN, the unbounded complement of the exact histogram
    split.  The estimate's true rank must sit within 5% of the asked
    fraction (KLL's guarantee at default k is ~1.7%); all-null groups
    return NULL instead of erroring on the empty sketch."""
    from pyspark.sql import functions as F

    from kerf_spark.server import folio_select

    base = spark.range(30000).select(
        (F.col("id") % 3).alias("g"),
        F.when(F.col("id") % 3 == 2, None)  # one all-null group
        .otherwise((F.col("id") * 7 % 30011).cast("double"))
        .alias("x"),
    )
    shards = [base.where(F.col("id") % 2 == i) for i in range(2)]
    srvs = [
        KerfServer(spark, tables={"t": sh}).start() for sh in shards
    ]
    try:
        got = {
            r["g"]: r
            for r in folio_select(
                spark,
                [s.address for s in srvs],
                "select g, approx_median(x) as med,"
                " approx_percentile(x, 0.9) as q9,"
                " count(x) as n from t group by g",
            ).collect()
        }
        assert set(got) == {0, 1, 2}
        assert got[2]["med"] is None and got[2]["q9"] is None
        for g in (0, 1):
            vals = sorted(
                r["x"] for r in base.where(F.col("g") == g).collect()
                if r["x"] is not None
            )
            for col, p in (("med", 0.5), ("q9", 0.9)):
                est = got[g][col]
                assert est is not None
                import bisect

                rank = bisect.bisect_right(vals, est) / len(vals)
                assert abs(rank - p) < 0.05, (g, col, est, rank)
    finally:
        for s in srvs:
            s.stop()


def test_folio_select_having_filters_merged_groups(spark):
    """HAVING filters the MERGED final (a member-side having would
    filter partials and silently under-count): groups pass or fail on
    their GLOBAL aggregate, references resolve against the output
    aliases, and where + having compose."""
    import pytest

    from pyspark.sql import functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.server import folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer")
    shards = [
        cust.where(F.col("c_custkey") % 7 == 0),
        cust.where(F.col("c_custkey") % 7 != 0),
    ]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        got = {
            r["c_nationkey"]: r["n"]
            for r in folio_select(
                spark,
                [s.address for s in srvs],
                "select c_nationkey, count(*) as n from customer"
                " where c_acctbal > 0 group by c_nationkey"
                " having n >= 5 order by c_nationkey",
            ).collect()
        }
        want = {
            r["c_nationkey"]: r["n"]
            for r in cust.where("c_acctbal > 0")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .where("n >= 5")
            .collect()
        }
        assert got == want and len(want) > 0
        # the point of merge-side having: SOME group must fail
        # globally while passing on at least one member alone
        assert len(want) < cust.select("c_nationkey").distinct().count()
        # a non-select statement still refuses
        with pytest.raises(ArgsError):
            folio_select(spark, [srvs[0].address], "update t set x = 1")
    finally:
        for s in srvs:
            s.stop()


def test_folio_select_co_sharded_fact_join(spark):
    """The fact-to-fact SCALE path the join guard names: two tables
    sharded across the same members by the same residue classes of
    the JOIN KEY have complete member-side joins — no cross-member
    match exists — so member_local_joins=True computes the exact
    global answer with only partials on the wire.  Checked against
    the unsharded local join; a deliberately MIS-aligned sharding
    (the wrong thing the guard exists for) provably loses rows."""
    from pyspark.sql import functions as F

    from kerf_spark.server import folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer")
    ords = read_table(spark, SF, "orders")
    co = [
        KerfServer(
            spark,
            tables={
                "customer": cust.where(F.col("c_custkey") % 2 == i),
                "orders": ords.where(F.col("o_custkey") % 2 == i),
            },
        ).start()
        for i in range(2)
    ]
    # mis-aligned: orders sharded by ORDERKEY, not the join key
    mis = [
        KerfServer(
            spark,
            tables={
                "customer": cust.where(F.col("c_custkey") % 2 == i),
                "orders": ords.where(F.col("o_orderkey") % 2 == i),
            },
        ).start()
        for i in range(2)
    ]
    stmt = (
        "select c_nationkey, count(*) as n from orders join customer"
        " on o_custkey = c_custkey group by c_nationkey"
    )
    try:
        got = {
            r["c_nationkey"]: r["n"]
            for r in folio_select(
                spark, [s.address for s in co], stmt,
                member_local_joins=True,
            ).collect()
        }
        want = {
            r["c_nationkey"]: r["n"]
            for r in ords.join(
                cust, ords.o_custkey == cust.c_custkey
            )
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
        # the mis-aligned folio silently LOSES cross-member matches —
        # exactly why the guard refuses without the explicit opt-in
        bad = {
            r["c_nationkey"]: r["n"]
            for r in folio_select(
                spark, [s.address for s in mis], stmt,
                member_local_joins=True,
            ).collect()
        }
        assert sum(bad.values()) < sum(want.values())
    finally:
        for s in co + mis:
            s.stop()


def test_folio_select_fuzz_matches_local(spark):
    """Hypothesis over random folio_select statements — any mix of
    algebraic, variance, histogram, and sketch aggregates under any
    key/where combination must match the local unsharded computation
    (exact for counts/min/max/median-over-ints, 1e-9 relative for
    sums/avg/stddev)."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from kerf_spark.server import folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer").withColumn(
        "cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    shards = [cust.where(F.col("c_custkey") % 3 == i) for i in range(3)]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]

    # (statement fragment, local Column, exact?)
    AGGS = {
        "n": ("count(*) as n", F.count(F.lit(1)), True),
        "s": ("sum(cents) as s", F.sum("cents"), True),
        "a": ("avg(cents) as a", F.avg("cents"), False),
        "lo": ("min(cents) as lo", F.min("cents"), True),
        "hi": ("max(cents) as hi", F.max("cents"), True),
        "sd": ("stddev(cents) as sd", F.stddev_samp("cents"), False),
        "med": (
            "median(cents) as med",
            F.expr("percentile(cents, 0.5)"),
            True,
        ),
        "q9": (
            # non-exact-fraction p: the interpolation term differs
            # from Spark's by an ulp (lo+(hi-lo)*f vs the two-sided
            # weighted form) — exact only for binary fractions like
            # 0.5/0.25, which is what the driver rows pin
            "percentile(cents, 0.9) as q9",
            F.expr("percentile(cents, 0.9)"),
            False,
        ),
        "d": (
            "count(distinct c_mktsegment) as d",
            F.countDistinct("c_mktsegment"),
            True,
        ),
        "dh": (
            "approx_count_distinct(c_mktsegment) as dh",
            F.countDistinct("c_mktsegment"),
            True,  # sparse-mode HLL: exact at this cardinality
        ),
        "medx": (
            # EXPRESSION histogram arg: members bucket the expression
            # under the __hv alias, so any expr medians distribute
            "median(cents * 2 + 1) as medx",
            F.expr("percentile(cents * 2 + 1, 0.5)"),
            True,
        ),
        "dx": (
            "count(distinct c_nationkey % 5) as dx",
            F.countDistinct(F.expr("c_nationkey % 5")),
            True,
        ),
        # ordered aggregates: the unique ordering key makes the
        # arg-max deterministic, so the fuzz compares EXACT
        "lb": (
            "last(cents, c_custkey) as lb",
            F.expr("max_by(cents, c_custkey)"),
            True,
        ),
        "fb": (
            "first(c_mktsegment, c_custkey) as fb",
            F.expr("min_by(c_mktsegment, c_custkey)"),
            True,
        ),
        "am": (
            # EXPRESSION value and ordering (the ordering stays
            # tie-free: an affine map of the unique key)
            "arg_max(cents * 2, c_custkey * 2 + 1) as am",
            F.expr("max_by(cents * 2, c_custkey * 2 + 1)"),
            True,
        ),
        # round-12 families: DISTINCT sums/averages over the merged
        # histogram domain, and the ordered concat (unique ordering
        # key -> deterministic, compared as exact strings)
        "sdx": (
            "sum(distinct c_custkey % 97) as sdx",
            F.sum_distinct(F.expr("c_custkey % 97")),
            True,
        ),
        "adx": (
            "avg(distinct c_custkey % 97) as adx",
            F.expr("avg(distinct c_custkey % 97)"),
            False,
        ),
        "sa": (
            "string_agg(c_mktsegment, c_custkey) as sa",
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "named_struct('o', c_custkey, 'v', c_mktsegment))), "
                "s -> CAST(s.v AS STRING)), ',')"
            ),
            True,
        ),
    }
    KEYS = [None, "c_nationkey", "c_mktsegment"]
    WHERES = [None, "c_acctbal > 0", "c_nationkey < 12"]

    @settings(
        max_examples=10, deadline=None,
        suppress_health_check=list(HealthCheck),
    )
    @given(
        agg_keys=st.sets(
            st.sampled_from(sorted(AGGS)), min_size=1, max_size=4
        ),
        key=st.sampled_from(KEYS),
        where=st.sampled_from(WHERES),
    )
    def check(agg_keys, key, where):
        frags = [AGGS[k][0] for k in sorted(agg_keys)]
        stmt = "select "
        if key:
            stmt += f"{key}, "
        stmt += ", ".join(frags) + " from customer"
        if where:
            stmt += f" where {where}"
        if key:
            stmt += f" group by {key}"
        got = folio_select(
            spark, [s.address for s in srvs], stmt
        ).collect()
        loc = cust
        if where:
            loc = loc.where(where)
        cols = [AGGS[k][1].alias(k) for k in sorted(agg_keys)]
        want = (
            loc.groupBy(key).agg(*cols) if key else loc.agg(*cols)
        ).collect()
        gm = {
            (r[key] if key else None): r for r in got
        }
        wm = {
            (r[key] if key else None): r for r in want
        }
        assert set(gm) == set(wm)
        for g, r in gm.items():
            w = wm[g]
            for k in sorted(agg_keys):
                exact = AGGS[k][2]
                a, b = r[k], w[k]
                if a is None or b is None:
                    assert a == b, (stmt, g, k, a, b)
                elif exact:
                    assert a == b, (stmt, g, k, a, b)
                else:
                    assert math.isclose(a, b, rel_tol=1e-9), (
                        stmt, g, k, a, b,
                    )

    try:
        check()
    finally:
        for s in srvs:
            s.stop()


def test_folio_result_chains_into_kerfsql(spark):
    """A folio gather is an ordinary script value: assign it and the
    next statement queries it as a view — the 'behave like a table'
    contract all the way into kerf-SQL."""
    from pyspark.sql import functions as F

    from kerf_spark.plans import kerf_lang as KL
    from kerf_spark.sources.io import read_table

    nat = read_table(spark, SF, "nation")
    halves = [nat.where(F.col("n_nationkey") % 2 == i) for i in range(2)]
    srvs = [KerfServer(spark, tables={"nation": h}).start() for h in halves]
    try:
        members = ", ".join(
            f'"{h}:{p}"' for h, p in (s.address for s in srvs)
        )
        df = KL.run(
            spark,
            f'parts: folio([{members}], "select n_regionkey, '
            f'count(*) as n from nation group by n_regionkey")\n'
            f"select total: sum(n) by n_regionkey from parts "
            f"order by n_regionkey",
        )
        got = [(r["n_regionkey"], r["total"]) for r in df.collect()]
        want = [
            (r["n_regionkey"], r["n"])
            for r in nat.groupBy("n_regionkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("n_regionkey")
            .collect()
        ]
        assert got == want
    finally:
        for s in srvs:
            s.stop()


def test_folio_reshard_p2p_wire_and_chunking(spark):
    """r12 verdict next #1: the reshard exchange is member→member —
    the ship plane moves every byte shipper→receiver direct, chunked
    under the Arrow bounds (chunk_rows forces multi-chunk here), and
    the coordinator never carries rows.  After cleanup the published
    table still answers on NEW connections (published plans inline
    their chunk LocalRelations)."""
    from pyspark.sql import functions as F

    from kerf_spark.server import folio_remote, folio_reshard
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    n_rows = cust.count()
    shards = [cust.where(F.col("c_custkey") % 3 == i) for i in range(3)]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        addrs = [s.address for s in srvs]
        stats = folio_reshard(
            addrs, "customer", "c_custkey", "cust_rs2", chunk_rows=40
        )
        assert stats["rows"] == n_rows
        assert stats["moved"] > 0
        # intermediates retired on every member
        for s in srvs:
            leftovers = [t for t in s.tables if t.startswith("__rs_")]
            assert leftovers == [], leftovers
            assert "cust_rs2" in s.tables
        got = folio_remote(spark, addrs, "select * from cust_rs2")
        assert got.count() == n_rows
        assert got.exceptAll(cust).count() == 0
        assert cust.exceptAll(got).count() == 0
    finally:
        for s in srvs:
            s.stop()


def test_folio_reshard_failure_leaves_no_partial_publish(spark):
    """r12 verdict next #2 (atomicity): a ship failing mid-exchange
    (dead peer) aborts BEFORE the flip — out_name is published on NO
    member, and the received-chunk intermediates are retired."""
    import socket as _socket

    from pyspark.sql import functions as F

    from kerf_spark.server import folio_reshard
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey"
    )
    shards = [cust.where(F.col("c_custkey") % 2 == i) for i in range(2)]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    # a third "member" that is a dead port: reserve one, then close it
    dead = _socket.socket()
    dead.bind(("127.0.0.1", 0))
    dead_addr = dead.getsockname()
    dead.close()
    try:
        addrs = [s.address for s in srvs] + [dead_addr]
        with pytest.raises((RuntimeError, OSError)):
            folio_reshard(addrs, "customer", "c_custkey", "cust_dead")
        for s in srvs:
            assert "cust_dead" not in s.tables, (
                "partial publish survived a failed exchange"
            )
            leftovers = [t for t in s.tables if t.startswith("__rs_")]
            assert leftovers == [], leftovers
        with _client(srvs[0]) as c:
            r = c.execute("select count(*) as n from cust_dead")
            assert not r["ok"]
    finally:
        for s in srvs:
            s.stop()


def test_folio_reshard_persist_survives_member_restart(spark, tmp_path):
    """r12 verdict next #2 (durability): persist= saves each member's
    staged shard to parquet before the flip; a restarted member
    reloads its shard from disk and serves identical content."""
    from pyspark.sql import functions as F

    from kerf_spark.server import folio_remote, folio_reshard
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    n_rows = cust.count()
    shards = [cust.where(F.col("c_custkey") % 2 == i) for i in range(2)]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        addrs = [s.address for s in srvs]
        stats = folio_reshard(
            addrs, "customer", "c_custkey", "cust_ps",
            persist=str(tmp_path),
        )
        assert stats["rows"] == n_rows
        assert sorted(stats["persisted"]) == [
            f"{tmp_path}/cust_ps_m0", f"{tmp_path}/cust_ps_m1"
        ]
        # "restart" member 1: stop it, start a fresh server whose
        # cust_ps loads from the persisted parquet
        pre = folio_remote(
            spark, [addrs[1]], "select * from cust_ps"
        ).collect()
        srvs[1].stop()
        reborn = KerfServer(
            spark,
            tables={
                "cust_ps": spark.read.parquet(f"{tmp_path}/cust_ps_m1")
            },
        ).start()
        srvs[1] = reborn
        post = folio_remote(
            spark, [reborn.address], "select * from cust_ps"
        ).collect()
        assert sorted(map(tuple, pre)) == sorted(map(tuple, post))
    finally:
        for s in srvs:
            s.stop()


def test_publish_unpublish_plane(spark):
    """unpublish retires a server table (exact name and prefix*), and
    a table published FROM an intermediate keeps answering after the
    intermediate is dropped (plan inlining)."""
    from kerf_spark.sources.io import read_table

    srv = KerfServer(
        spark, tables={"nation": read_table(spark, SF, "nation")}
    ).start()
    try:
        with _client(srv) as c:
            c.execute("select * from nation where n_regionkey = 0",
                      publish="tmp_base")
            c.execute("select count(*) as n from tmp_base",
                      publish="derived")
            r = c.execute("null", unpublish="tmp_base")
            assert r["ok"] and r["names"] == ["tmp_base"]
        assert "tmp_base" not in srv.tables
        with _client(srv) as c:  # NEW connection: derived still works
            r = c.execute("select * from derived")
            assert r["ok"] and r["rows"][0][0] == 5
            r = c.execute("null", unpublish="deri*")
            assert r["ok"] and r["names"] == ["derived"]
            r = c.execute("null", unpublish="no_such")
            assert r["ok"] and r["names"] == []
    finally:
        srv.stop()


def test_folio_select_cms_heavy_hitters(spark):
    """r12 verdict next #6: approx_mode / heavy_hitters over the folio
    ride mergeable Count-Min cell partials + local top-K' candidates —
    bounded wire regardless of the value domain.  On this sparse
    domain the CMS estimates are collision-free in practice, so the
    results must MATCH the exact mode / exact top-2 (count desc,
    value asc tie-break) of the unsharded table; parameter errors
    fail loud."""
    from pyspark.sql import Window, functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.server import KerfServer, folio_select
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer")
    shards = [cust.where(F.col("c_custkey") % 3 == i) for i in range(3)]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        addrs = [s.address for s in srvs]
        got = {
            r["c_nationkey"]: (r["am"], tuple(r["hh"]))
            for r in folio_select(
                spark,
                addrs,
                "select c_nationkey, approx_mode(c_mktsegment) as am,"
                " heavy_hitters(c_mktsegment, 2) as hh, count(*) as n"
                " from customer group by c_nationkey",
            ).collect()
        }
        w = Window.partitionBy("c_nationkey").orderBy(
            F.desc("c"), F.asc("c_mktsegment")
        )
        ranked = (
            cust.groupBy("c_nationkey", "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("r", F.row_number().over(w))
        )
        want = {
            r["c_nationkey"]: (r["m"], tuple(r["hh"]))
            for r in ranked.where("r <= 2")
            .groupBy("c_nationkey")
            .agg(
                F.max(F.when(F.col("r") == 1, F.col("c_mktsegment"))).alias(
                    "m"
                ),
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("r").alias("r"),
                                F.col("c_mktsegment").alias("v"),
                            )
                        )
                    ),
                    lambda s: s.getField("v"),
                ).alias("hh"),
            )
            .collect()
        }
        assert got == want
        with pytest.raises(ArgsError, match="takes \\(column, k\\)"):
            folio_select(
                spark, addrs,
                "select c_nationkey, heavy_hitters(c_mktsegment) as hh"
                " from customer group by c_nationkey",
            )
        with pytest.raises(ArgsError, match="outside"):
            folio_select(
                spark, addrs,
                "select c_nationkey,"
                " heavy_hitters(c_mktsegment, 0) as hh"
                " from customer group by c_nationkey",
            )
    finally:
        for s in srvs:
            s.stop()


def test_folio_reshard_string_key_and_single_member(spark):
    """Edge shapes of the exchange: a STRING key whose 5-value domain
    leaves some (shipper, receiver) buckets empty (the empty chunk-0
    schema carrier must still union cleanly), and the degenerate
    single-member folio (no ships at all — stage/check/flip only)."""
    from pyspark.sql import functions as F

    from kerf_spark.server import folio_remote, folio_reshard
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    n_rows = cust.count()
    shards = [cust.where(F.col("c_custkey") % 3 == i) for i in range(3)]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    try:
        addrs = [s.address for s in srvs]
        stats = folio_reshard(
            addrs, "customer", "c_mktsegment", "cust_seg"
        )
        assert stats["rows"] == n_rows
        got = folio_remote(spark, addrs, "select * from cust_seg")
        assert got.count() == n_rows
        assert got.exceptAll(cust).count() == 0
        # every member holds whole segments (hash buckets of a
        # 5-value domain): no segment spans members
        spans = (
            folio_remote(
                spark, addrs,
                "select distinct c_mktsegment from cust_seg",
                tag_col="__m",
            )
            .groupBy("c_mktsegment")
            .count()
            .where("count > 1")
            .count()
        )
        assert spans == 0
    finally:
        for s in srvs:
            s.stop()
    solo = KerfServer(spark, tables={"customer": cust}).start()
    try:
        stats = folio_reshard(
            [solo.address], "customer", "c_custkey", "cust_solo"
        )
        assert stats["rows"] == n_rows
        assert stats["moved"] == 0
        got = folio_remote(
            spark, [solo.address], "select count(*) as n from cust_solo"
        )
        assert got.head()["n"] == n_rows
    finally:
        solo.stop()


def test_folio_reshard_via_parquet(spark, tmp_path):
    """The shared-filesystem exchange: via='parquet' writes each
    member's outgoing set as bucket-partitioned parquet under
    shared_dir (no bytes on any socket), receivers stage kept ∪
    partition-pruned reads, and the same two-phase check/flip
    applies.  With persist= the flip publishes from the persisted
    copy, so the exchange files become disposable."""
    import shutil

    from pyspark.sql import functions as F

    from kerf_spark.server import folio_remote, folio_reshard
    from kerf_spark.sources.io import read_table

    cust = read_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    n_rows = cust.count()
    shards = [cust.where(F.col("c_custkey") % 3 == i) for i in range(3)]
    srvs = [
        KerfServer(spark, tables={"customer": sh}).start() for sh in shards
    ]
    shared = tmp_path / "exchange"
    persist = tmp_path / "durable"
    try:
        addrs = [s.address for s in srvs]
        stats = folio_reshard(
            addrs, "customer", "c_custkey", "cust_pq",
            via="parquet", shared_dir=str(shared), persist=str(persist),
        )
        assert stats["rows"] == n_rows
        assert stats["moved"] > 0  # misaligned shards moved rows
        assert len(stats["persisted"]) == 3
        # exchange files are disposable once persisted+flipped
        shutil.rmtree(shared)
        got = folio_remote(spark, addrs, "select * from cust_pq")
        assert got.count() == n_rows
        assert got.exceptAll(cust).count() == 0
        assert cust.exceptAll(got).count() == 0
        for j, addr in enumerate(addrs):
            with KerfClient(*addr) as cli:
                r = cli.execute(
                    f"select count(*) as bad from cust_pq "
                    f"where pmod(hash(c_custkey), 3) != {j}"
                )
                assert r["ok"] and r["rows"][0][0] == 0, (j, r)
        # bad via / missing shared_dir refuse
        with pytest.raises(ValueError, match="shared_dir"):
            folio_reshard(
                addrs, "customer", "c_custkey", "x", via="parquet"
            )
        with pytest.raises(ValueError, match="arrow.*parquet"):
            folio_reshard(
                addrs, "customer", "c_custkey", "x", via="ftp"
            )
    finally:
        for s in srvs:
            s.stop()


def test_register_plane_confinement(spark, tmp_path):
    """register reads a parquet directory into the session, and a
    save_root-confined server refuses paths outside it — the same
    trust boundary as save."""
    from kerf_spark.sources.io import read_table

    inside = tmp_path / "root" / "nat"
    outside = tmp_path / "elsewhere"
    nat = read_table(spark, SF, "nation")
    nat.write.parquet(str(inside))
    nat.write.parquet(str(outside))
    srv = KerfServer(
        spark, tables={}, save_root=str(tmp_path / "root")
    ).start()
    try:
        with _client(srv) as c:
            r = c.execute(
                "select count(*) as n from reg_n",
                register={"name": "reg_n", "path": str(inside)},
            )
            assert r["ok"] and r["rows"][0][0] == 25
            r = c.execute(
                "select count(*) as n from reg_x",
                register={"name": "reg_x", "path": str(outside)},
            )
            assert not r["ok"] and "outside" in r["message"]
            r = c.execute(
                "null", register={"name": "1bad", "path": str(inside)}
            )
            assert not r["ok"]
    finally:
        srv.stop()


def test_folio_window_member_complete_and_publish(spark):
    """folio_window: ordered analytics over a key-sharded folio are
    member-complete (every OVER partitions by the shard key), so the
    gathered union equals the unsharded local run EXACTLY — windows,
    final order by + limit, and all-integer frames (no float
    summation-order hazards).  publish= keeps the windowed shards
    member-side (wire = row counts only); the kerf ordered-verb form
    (msum by k ... order by ts) validates through the SAME translate
    expansion the members execute."""
    from pyspark.sql import functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.server import folio_remote, folio_window
    from kerf_spark.sources.io import read_table

    orders = read_table(spark, SF, "orders").withColumn(
        "oc", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    srvs = [
        KerfServer(
            spark,
            tables={"orders": orders.where(F.col("o_custkey") % 3 == i)},
        ).start()
        for i in range(3)
    ]
    try:
        addrs = [s.address for s in srvs]
        q = (
            "select o_custkey, o_orderkey, oc,"
            " sum(oc) over (partition by o_custkey"
            "   order by o_orderdate, o_orderkey"
            "   rows between 2 preceding and current row) as m3,"
            " sum(oc) over (partition by o_custkey"
            "   order by o_orderdate, o_orderkey) as rsum,"
            " row_number() over (partition by o_custkey"
            "   order by o_orderdate, o_orderkey) as rn"
            " from orders where o_custkey % 20 = 7"
            " order by o_custkey, rn limit 400"
        )
        got = folio_window(spark, addrs, q, shard_key="o_custkey")
        orders.createOrReplaceTempView("__fw_orders_all")
        want = spark.sql(q.replace("from orders ", "from __fw_orders_all "))
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ]

        # kerf ordered-verb form expands to the same guarded OVER
        verb = folio_window(
            spark,
            addrs,
            "select o_custkey, o_orderkey, o_orderdate,"
            " msum(3, oc) as m3 by o_custkey from orders"
            " order by o_orderdate, o_orderkey",
            shard_key="o_custkey",
        )
        assert verb.count() == orders.count()

        # publish: member-side shards, nothing gathered
        res = folio_window(
            spark,
            addrs,
            "select o_custkey, o_orderkey, sum(oc) over"
            " (partition by o_custkey order by o_orderkey) as rsum"
            " from orders",
            shard_key="o_custkey",
            publish="owin",
        )
        assert res["rows"] == orders.count()
        assert len(res["rows_by_member"]) == 3
        back = folio_remote(
            spark, addrs, "select count(*) as c from owin"
        )
        assert sum(r.c for r in back.collect()) == orders.count()

        # ---- refusals: each names the failure and the fix ----
        with pytest.raises(ArgsError, match="no PARTITION BY"):
            folio_window(
                spark, addrs,
                "select o_orderkey, sum(oc) over"
                " (order by o_orderdate) as s from orders",
                shard_key="o_custkey",
            )
        with pytest.raises(ArgsError, match="does not include the shard key"):
            folio_window(
                spark, addrs,
                "select o_orderkey, sum(oc) over"
                " (partition by o_orderstatus order by o_orderdate)"
                " as s from orders",
                shard_key="o_custkey",
            )
        with pytest.raises(ArgsError, match="no window function"):
            folio_window(
                spark, addrs, "select o_orderkey from orders",
                shard_key="o_custkey",
            )
        with pytest.raises(ArgsError, match="joins tables"):
            folio_window(
                spark, addrs,
                "select o_orderkey, row_number() over (partition by"
                " o_custkey order by o_orderkey) as rn"
                " from orders join nation on o_custkey = n_nationkey",
                shard_key="o_custkey",
            )
        # order by an unprojected column: typed, names the fix
        with pytest.raises(ArgsError, match="not among the result columns"):
            folio_window(
                spark, addrs,
                "select o_custkey, row_number() over (partition by"
                " o_custkey order by o_orderkey) as rn from orders"
                " order by o_orderdate",
                shard_key="o_custkey",
            )
    finally:
        for s in srvs:
            s.stop()


def test_folio_window_script_verb(spark):
    """folio_window from the LANGUAGE plane: the member vector is an
    ordinary kerf value, the statement a string — the verb validates
    the shard-key partitioning and unions the member frames like the
    direct call."""
    from pyspark.sql import functions as F

    from kerf_spark.plans import kerf_lang as KL
    from kerf_spark.sources.io import read_table

    orders = read_table(spark, SF, "orders")
    srvs = [
        KerfServer(
            spark,
            tables={"orders": orders.where(F.col("o_custkey") % 2 == i)},
        ).start()
        for i in range(2)
    ]
    try:
        members = ", ".join(
            f'"{h}:{p}"' for h, p in (s.address for s in srvs)
        )
        df = KL.run(
            spark,
            f'folio_window([{members}],'
            f' "select o_custkey, o_orderkey, row_number() over'
            f' (partition by o_custkey order by o_orderkey) as rn'
            f' from orders", "o_custkey")',
        )
        assert df.count() == orders.count()
        # per-key max rank == per-key row count: frames were complete
        chk = (
            df.groupBy("o_custkey").agg(F.max("rn").alias("mx"))
            .join(
                orders.groupBy("o_custkey").agg(
                    F.count(F.lit(1)).alias("n")
                ),
                "o_custkey",
            )
            .where(F.col("mx") != F.col("n"))
        )
        assert chk.count() == 0
    finally:
        for s in srvs:
            s.stop()


def test_folio_window_missharded_folio_fails_loud(spark):
    """The disjointness check: a folio NOT sharded by the window key
    (orderkey residues, windows by custkey) trips BOTH modes — gather
    checks the gathered frames driver-side; publish pre-gathers key
    sets and publishes NOTHING on any member."""
    from pyspark.sql import functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.server import folio_remote, folio_window
    from kerf_spark.sources.io import read_table

    orders = read_table(spark, SF, "orders")
    srvs = [
        KerfServer(
            spark,
            tables={"orders": orders.where(F.col("o_orderkey") % 3 == i)},
        ).start()
        for i in range(3)
    ]
    try:
        addrs = [s.address for s in srvs]
        q = (
            "select o_custkey, row_number() over (partition by"
            " o_custkey order by o_orderkey) as rn from orders"
        )
        with pytest.raises(ArgsError, match="not sharded by"):
            folio_window(spark, addrs, q, shard_key="o_custkey")
        with pytest.raises(ArgsError, match="not sharded by"):
            folio_window(
                spark, addrs, q, shard_key="o_custkey", publish="bad_w"
            )
        # two-phase: the failed check left NO member publishing bad_w
        with pytest.raises(
            RuntimeError, match="cannot be found|undefined name"
        ):
            folio_remote(spark, addrs[:1], "select * from bad_w")
        # check=False is the documented escape hatch (overlap intended)
        out = folio_window(
            spark, addrs, q, shard_key="o_custkey", check=False
        )
        assert out.count() == orders.count()
    finally:
        for s in srvs:
            s.stop()


def test_folio_asof_cosharded_guarded(spark):
    """folio_asof: the distributed temporal join with the co-sharding
    VERIFIED — the gathered union over a user-co-sharded folio equals
    the bare scatter-gather result (the fixture IS co-sharded), the
    publish path keeps joined shards member-side, and the no-equi-key
    / non-temporal shapes refuse typed."""
    from pyspark.sql import functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.functions import temporal as TM
    from kerf_spark.server import folio_asof, folio_remote
    from kerf_spark.sources.io import read_table

    ev = read_table(spark, SF, "events").select(
        "event_id", "user_id", "ts"
    )
    oaj = read_table(spark, SF, "orders").select(
        F.col("o_custkey").alias("user_id"),
        TM.ts_to_ns("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    srvs = [
        KerfServer(
            spark,
            tables={
                "ev": ev.where(F.col("user_id") % 3 == i),
                "ord": oaj.where(F.col("user_id") % 3 == i),
            },
        ).start()
        for i in range(3)
    ]
    try:
        addrs = [s.address for s in srvs]
        q = (
            "select event_id, user_id, orderkey: o_orderkey"
            " from ev asof join ord on user_id, ts"
            " where o_orderkey is not null and user_id % 5 = 2"
            " order by event_id limit 150"
        )
        got = folio_asof(spark, addrs, q)
        want = (
            folio_remote(
                spark,
                addrs,
                q.replace(" order by event_id limit 150", ""),
            )
            .orderBy("event_id")
            .limit(150)
        )
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ]

        res = folio_asof(
            spark,
            addrs,
            "select event_id, user_id, orderkey: o_orderkey"
            " from ev asof join ord on user_id, ts"
            " where o_orderkey is not null",
            publish="aj_pub",
        )
        assert res["rows"] == ev.count()
        assert len(res["rows_by_member"]) == 3

        with pytest.raises(ArgsError, match="only the ordering column"):
            folio_asof(
                spark, addrs, "select * from ev asof join ord on ts"
            )
        with pytest.raises(ArgsError, match="temporal-join shape"):
            folio_asof(
                spark, addrs, "select event_id from ev where user_id > 0"
            )
    finally:
        for s in srvs:
            s.stop()


def test_folio_asof_miscosharded_fails_loud(spark):
    """The co-sharding check catches the cross-TABLE hazard per-table
    disjointness misses: each table's keys are member-disjoint, but
    the right table's assignment is the OPPOSITE of the left's — every
    member-side match would be dropped.  folio_asof refuses naming
    the key and both members."""
    from pyspark.sql import functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.functions import temporal as TM
    from kerf_spark.server import KerfServer, folio_asof
    from kerf_spark.sources.io import read_table

    ev = read_table(spark, SF, "events").select(
        "event_id", "user_id", "ts"
    )
    oaj = read_table(spark, SF, "orders").select(
        F.col("o_custkey").alias("user_id"),
        TM.ts_to_ns("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    srvs = [
        KerfServer(
            spark,
            tables={
                "ev": ev.where(F.col("user_id") % 2 == i),
                "ord": oaj.where(F.col("user_id") % 2 == (1 - i)),
            },
        ).start()
        for i in range(2)
    ]
    try:
        addrs = [s.address for s in srvs]
        with pytest.raises(ArgsError, match="not co-sharded"):
            folio_asof(
                spark,
                addrs,
                "select event_id, o_orderkey"
                " from ev asof join ord on user_id, ts",
            )
        # check=False is the documented escape hatch
        out = folio_asof(
            spark,
            addrs,
            "select event_id, orderkey: o_orderkey"
            " from ev asof join ord on user_id, ts",
            check=False,
        )
        assert out.count() == ev.count()
    finally:
        for s in srvs:
            s.stop()


def test_folio_window_publish_persist_survives_restart(spark, tmp_path):
    """publish= + persist=: each member's windowed shard lands as
    parquet under its save_root and the published table reads FROM
    the persisted copy — a restarted member reloads the shard
    bit-identical (the same durability contract folio_reshard's
    persist gives the exchange).  persist without publish refuses;
    a persist target outside save_root is confined."""
    from pyspark.sql import functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.server import folio_remote, folio_window
    from kerf_spark.sources.io import read_table

    d = str(tmp_path / "fw_persist")
    orders = read_table(spark, SF, "orders").withColumn(
        "oc", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    srvs = [
        KerfServer(
            spark,
            tables={"orders": orders.where(F.col("o_custkey") % 2 == i)},
            save_root=d,
        ).start()
        for i in range(2)
    ]
    re0 = None
    try:
        addrs = [s.address for s in srvs]
        q = (
            "select o_custkey, o_orderkey, sum(oc) over"
            " (partition by o_custkey order by o_orderkey) as rsum"
            " from orders"
        )
        res = folio_window(
            spark, addrs, q, shard_key="o_custkey",
            publish="owp", persist=d,
        )
        assert res["rows"] == orders.count()
        assert len(res["persisted"]) == 2
        tot = folio_remote(spark, addrs, "select count(*) as c from owp")
        assert sum(r.c for r in tot.collect()) == orders.count()

        # restart member 0 from its persisted shard: identical content
        me0 = f"{addrs[0][0]}:{addrs[0][1]}"
        srvs[0].stop()
        re0 = KerfServer(
            spark,
            tables={"owp": spark.read.parquet(res["persisted"][0])},
        ).start()
        back = folio_remote(
            spark, [re0.address], "select count(*) as c from owp"
        )
        assert back.collect()[0].c == res["rows_by_member"][me0]

        with pytest.raises(ArgsError, match="persist= needs publish="):
            folio_window(
                spark, addrs[1:], q, shard_key="o_custkey", persist=d
            )
        with pytest.raises(RuntimeError, match="persist failed"):
            folio_window(
                spark, addrs[1:], q, shard_key="o_custkey",
                publish="bad_p", persist=str(tmp_path / "outside".join("xx")),
            )
    finally:
        for s in ([re0] if re0 else []) + srvs[1:]:
            s.stop()


def test_folio_window_publish_composes_with_folio_select(spark):
    """The folio surfaces COMPOSE: folio_window(publish=) leaves each
    member holding its windowed shard, and folio_select aggregates
    straight over the published table — running-sum maxima per
    customer reduced across members without any windowed row ever
    crossing the wire (partials only)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kerf_spark.server import folio_select, folio_window
    from kerf_spark.sources.io import read_table

    orders = read_table(spark, SF, "orders").withColumn(
        "oc", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    srvs = [
        KerfServer(
            spark,
            tables={"orders": orders.where(F.col("o_custkey") % 2 == i)},
        ).start()
        for i in range(2)
    ]
    try:
        addrs = [s.address for s in srvs]
        folio_window(
            spark,
            addrs,
            "select o_custkey, o_orderkey, sum(oc) over"
            " (partition by o_custkey order by o_orderkey) as rsum"
            " from orders",
            shard_key="o_custkey",
            publish="owc",
        )
        got = (
            folio_select(
                spark,
                addrs,
                "select o_custkey, max(rsum) as mx from owc"
                " group by o_custkey",
            )
            .orderBy("o_custkey")
            .collect()
        )
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        want = (
            orders.withColumn("rsum", F.sum("oc").over(w))
            .groupBy("o_custkey")
            .agg(F.max("rsum").alias("mx"))
            .orderBy("o_custkey")
            .collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
    finally:
        for s in srvs:
            s.stop()


def test_folio_topk_bounded_gather(spark):
    """folio_topk: each member ships only its LOCAL top-k (any global
    top-k row is in its own member's top-k), the final re-sorts the
    |members|*k union and takes k — equal to the unsharded top-k with
    a unique tie-break, on a layout with NO sharding discipline at
    all.  Missing order-by/limit and joins refuse typed."""
    from pyspark.sql import functions as F

    from kerf_spark.errors import ArgsError
    from kerf_spark.plans import kerf_lang as KL
    from kerf_spark.server import folio_topk
    from kerf_spark.sources.io import read_table

    orders = read_table(spark, SF, "orders")
    # arbitrary (non-key) member layout: top-k needs no co-sharding
    srvs = [
        KerfServer(
            spark,
            tables={"orders": orders.where(F.col("o_orderkey") % 3 == i)},
        ).start()
        for i in range(3)
    ]
    try:
        addrs = [s.address for s in srvs]
        q = (
            "select o_orderkey, o_custkey, o_totalprice from orders"
            " order by o_totalprice desc, o_orderkey limit 7"
        )
        got = folio_topk(spark, addrs, q)
        orders.createOrReplaceTempView("__tk_orders")
        want = spark.sql(q.replace("from orders", "from __tk_orders"))
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ]
        # the gather is bounded: members*k rows before the final cut
        assert got.count() == 7

        # script plane
        members = ", ".join(
            f'"{h}:{p}"' for h, p in addrs
        )
        out = KL.run(spark, f'folio_topk([{members}], "{q}")')
        assert [tuple(r) for r in out.collect()] == [
            tuple(r) for r in want.collect()
        ]

        with pytest.raises(ArgsError, match="BOTH a statement-level"):
            folio_topk(
                spark, addrs,
                "select o_orderkey from orders order by o_orderkey",
            )
        with pytest.raises(ArgsError, match="BOTH a statement-level"):
            folio_topk(
                spark, addrs, "select o_orderkey from orders limit 5"
            )
        with pytest.raises(ArgsError, match="joins tables"):
            folio_topk(
                spark, addrs,
                "select o_orderkey from orders join nation on"
                " o_custkey = n_nationkey order by o_orderkey limit 5",
            )
    finally:
        for s in srvs:
            s.stop()


def test_plan_cache_repeats_and_invalidation(spark):
    """The per-connection prepared-plan cache (optimization r13): a
    repeated identical SELECT reuses the planned DataFrame — results
    must stay bitwise identical — and every rebinding plane
    invalidates it: a republish under the same name, an upload
    shadowing the name, and an assignment statement between repeats
    must all change what the SAME statement returns."""
    from kerf_spark.sources.io import read_table

    nation = read_table(spark, SF, "nation")
    srv = KerfServer(spark, tables={"nation": nation}).start()
    stmt = "select count(*) as n, sum(n_regionkey) as s from nation"
    try:
        with _client(srv) as c:
            r1 = c.execute(stmt, arrow=True)
            r2 = c.execute(stmt, arrow=True)  # cache hit
            r3 = c.execute(stmt, arrow=True)  # cache hit
            assert r1["table"].equals(r2["table"])
            assert r1["table"].equals(r3["table"])
            assert r1["table"].column("n")[0].as_py() == 25

            # republish under the same name -> view signature changes
            c.execute("select * from nation where n_regionkey = 0",
                      publish="nation")
            r4 = c.execute(stmt, arrow=True)
            assert r4["table"].column("n")[0].as_py() == 5

            # upload shadowing the name -> epoch bump, fresh plan
            up = nation.limit(3).toArrow()
            c.execute("1", upload=("nation", up))
            r5 = c.execute(stmt, arrow=True)
            assert r5["table"].column("n")[0].as_py() == 3

            # an assignment between repeats invalidates too: the SQL
            # rewriter inlines env vars, so `k` must re-resolve
            # (nation is the 3-row upload here: regionkeys 0, 1, 1)
            c.execute("k: 1")
            ra = c.execute("select count(*) as n from nation where"
                           " n_regionkey >= k", arrow=True)
            c.execute("k: 99")
            rb = c.execute("select count(*) as n from nation where"
                           " n_regionkey >= k", arrow=True)
            assert ra["table"].column("n")[0].as_py() == 2
            assert rb["table"].column("n")[0].as_py() == 0
    finally:
        srv.stop()
