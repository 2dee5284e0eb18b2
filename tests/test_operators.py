"""Operator-level tests: as-of/interval joins, window adverbs, relational
verbs, dedup, similarity — small inline goldens on synthetic frames plus
fixture-scale sanity on sf0.001."""

import pyspark.sql.functions as F
import pytest

from kerf_spark.operators import asof as AS
from kerf_spark.operators import dedup as DD
from kerf_spark.operators import relational as R
from kerf_spark.operators import similarity as SIM
from kerf_spark.operators import text as TX
from kerf_spark.operators import windows as W


# ------------------------------------------------------------- asof join
@pytest.fixture()
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [("A", 100, 1), ("A", 205, 2), ("B", 150, 3), ("A", 50, 4)],
        "sym string, ts long, trade_id long",
    )
    quotes = spark.createDataFrame(
        [("A", 90, 1.0), ("A", 100, 2.0), ("A", 200, 3.0), ("B", 160, 9.0)],
        "sym string, ts long, bid double",
    )
    return trades, quotes


def test_asof_basic(trades_quotes):
    trades, quotes = trades_quotes
    res = AS.asof_join(trades, quotes, on="ts", by="sym")
    got = {r.trade_id: r.bid for r in res.collect()}
    # trade@100 sees quote@100 (<=, simultaneous visible); trade@205 sees 200;
    # B@150 has no quote <= 150; A@50 has none
    assert got == {1: 2.0, 2: 3.0, 3: None, 4: None}


def test_asof_tolerance(trades_quotes):
    trades, quotes = trades_quotes
    # tolerance 5: trade@205 still sees quote@200 (205-5 <= 200)
    got5 = {r.trade_id: r.bid for r in AS.asof_join(
        trades, quotes, on="ts", by="sym", tolerance_ns=5).collect()}
    assert got5 == {1: 2.0, 2: 3.0, 3: None, 4: None}
    # tolerance 4: quote@200 is stale for trade@205 (205-4 > 200)
    got4 = {r.trade_id: r.bid for r in AS.asof_join(
        trades, quotes, on="ts", by="sym", tolerance_ns=4).collect()}
    assert got4 == {1: 2.0, 2: None, 3: None, 4: None}


def test_asof_tie_last_wins(spark):
    left = spark.createDataFrame([("A", 10, 1)], "sym string, ts long, id long")
    right = spark.createDataFrame(
        [("A", 10, 100.0), ("A", 10, 200.0)], "sym string, ts long, px double"
    )
    res = AS.asof_join(left, right, on="ts", by="sym", tiebreak="px")
    assert res.head().px == 200.0


def test_window_join_bucketed_equals_plain(spark):
    left = spark.createDataFrame(
        [("A", 100, 1), ("A", 500, 2)], "sym string, ts long, id long"
    )
    right = spark.createDataFrame(
        [("A", 60, 10), ("A", 99, 11), ("A", 101, 12), ("A", 460, 13)],
        "sym string, ts long, rid long",
    )
    plain = AS.window_join(left, right, on="ts", lo_ns=-50, hi_ns=0, by="sym")
    bucketed = AS.window_join(
        left, right, on="ts", lo_ns=-50, hi_ns=0, by="sym", bucket_ns=64
    )
    a = {(r.id, r.rid) for r in plain.collect()}
    b = {(r.id, r.rid) for r in bucketed.collect()}
    assert a == b == {(1, 10), (1, 11), (2, 13)}


# ------------------------------------------------------------- windows
def test_deltas_and_running(spark):
    df = spark.createDataFrame(
        [(1, 1, 10.0), (1, 2, 15.0), (1, 3, 12.0), (2, 1, 100.0)],
        "g int, seq int, v double",
    )
    out = df.select(
        "g", "seq",
        W.deltas("v", ["g"], ["seq"]).alias("d"),
        W.running_sum("v", ["g"], ["seq"]).alias("rs"),
        W.mavg("v", 2, ["g"], ["seq"]).alias("ma"),
    ).collect()
    by = {(r.g, r.seq): r for r in out}
    assert by[(1, 1)].d is None and by[(1, 2)].d == 5.0 and by[(1, 3)].d == -3.0
    assert by[(1, 3)].rs == 37.0
    assert by[(1, 3)].ma == pytest.approx(13.5)
    assert by[(2, 1)].d is None


def test_mapback_seeded(spark):
    df = spark.createDataFrame([(1, 5.0), (2, 7.0)], "seq int, v double")
    out = df.select(
        "seq", W.mapback(lambda a, b: a - b, "v", None, ["seq"], seed=F.lit(0.0)).alias("d")
    ).collect()
    got = {r.seq: r.d for r in out}
    assert got == {1: 5.0, 2: 2.0}


def test_differ(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, None), (5, None), (6, "b")],
        "seq int, v string",
    )
    out = {r.seq: r.d for r in df.select("seq", W.differ("v", None, ["seq"]).alias("d")).collect()}
    # first row true; a->a false; a->b true; b->NULL true; NULL->NULL false
    assert out == {1: True, 2: False, 3: True, 4: True, 5: False, 6: True}


def test_ffill_bfill(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, None), (4, 7.0), (5, None)], "seq int, v double"
    )
    out = df.select(
        "seq",
        W.ffill("v", None, ["seq"]).alias("f"),
        W.bfill("v", None, ["seq"]).alias("b"),
    ).collect()
    assert {r.seq: r.f for r in out} == {1: 10.0, 2: 10.0, 3: 10.0, 4: 7.0, 5: 7.0}
    assert {r.seq: r.b for r in out} == {1: 10.0, 2: 7.0, 3: 7.0, 4: 7.0, 5: None}


def test_grade_permutation(spark):
    df = spark.createDataFrame([(30,), (10,), (20,)], "v int")
    got = {r.v: r.g for r in df.select("v", W.grade(["v"]).alias("g")).collect()}
    assert got == {10: 1, 20: 2, 30: 3}


def test_time_moving_range(spark):
    df = spark.createDataFrame(
        [("A", 0, 1.0), ("A", 50, 2.0), ("A", 100, 4.0), ("A", 1000, 8.0)],
        "sym string, ts long, v double",
    )
    out = df.select(
        "ts", W.time_moving("sum", "v", 100, ["sym"], "ts").alias("s")
    ).collect()
    got = {r.ts: r.s for r in out}
    # window is (t-99, t]: at t=100 -> 2+4 (excludes t=0), at t=1000 -> 8
    assert got == {0: 1.0, 50: 3.0, 100: 6.0, 1000: 8.0}


# ------------------------------------------------------------- relational
def test_update_delete(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)], "id int, s string")
    upd = R.update(df, F.col("id") == 2, s=F.lit("z"))
    assert {r.id: r.s for r in upd.collect()} == {1: "a", 2: "z", 3: None}
    # delete with NULL predicate keeps the row (ANSI semantics)
    d = R.delete(df, F.col("s") == "a")
    assert sorted(r.id for r in d.collect()) == [2, 3]


def test_upsert(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    new = spark.createDataFrame([(2, "B"), (3, "c")], "id int, s string")
    got = {r.id: r.s for r in R.upsert(base, new, ["id"]).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_top_k_deterministic(spark):
    df = spark.createDataFrame([(1, 5), (2, 5), (3, 9)], "id int, v int")
    got = [r.id for r in R.top_k(df, [F.col("v").desc(), F.col("id").asc()], 2, desc=False).collect()]
    assert got == [3, 1]


def test_set_ops(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k int")
    b = spark.createDataFrame([(2,), (4,)], "k int")
    assert sorted(r.k for r in R.union_distinct(a, b).collect()) == [1, 2, 3, 4]
    assert sorted(r.k for r in R.intersect_rows(a.distinct(), b).collect()) == [2]
    assert sorted(r.k for r in R.in_keys(a, b, ["k"]).collect()) == [2, 2]
    assert sorted(r.k for r in R.not_in_keys(a, b, ["k"]).collect()) == [1, 3]


# ------------------------------------------------------------- dedup/text
def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "unique")],
        "doc_id long, text string",
    )
    got = {r.text: (r.doc_id, r.dup_count) for r in DD.exact_dedup(df).collect()}
    assert got == {"hello world": (1, 2), "unique": (3, 1)}


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra token"), (3, "completely different words entirely unrelated content here")],
        "doc_id long, text string",
    )
    pairs = DD.minhash_dedup(df, num_hashes=16, bands=8, threshold=0.5).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_simhash_identical_zero_distance(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")], "doc_id long, text string"
    )
    sigs = DD.simhash64(df)
    pairs = DD.simhash_near_pairs(sigs, max_hamming=0, prefix_bits=4).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_simhash_null_text_pairs_as_zero(spark):
    """NULL-text docs hash to 0 (not NULL) so null duplicates still
    surface as hamming-0 pairs — the single-pass fold must not let the
    NULL word array propagate and silently drop them (review r4)."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text here")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.simhash for r in DD.simhash64(df).collect()}
    assert sigs[1] == 0 and sigs[2] == 0 and sigs[3] is not None
    pairs = DD.simhash_near_pairs(
        DD.simhash64(df), max_hamming=0, prefix_bits=4
    ).collect()
    assert {(p.id_a, p.id_b) for p in pairs} >= {(1, 2)}
    psigs = {r.doc_id: r.simhash for r in DD.simhash_portable(df).collect()}
    assert psigs[1] == 0 and psigs[2] == 0


def test_minhash_fast_path_matches_portable_twin_and_bruteforce(spark):
    """The xxhash64 fast path is driver-checked rows-only (the hash
    family is not SQL-portable).  Tie it to the oracle-matched md5 twin:
    with full-recall banding both pipelines must converge to the same
    final verified pair set, which in turn must equal the brute-force
    all-pairs exact-Jaccard ground truth — so the fast path inherits the
    twin's oracle and the twin inherits a brute-force proof."""
    from kerf_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    thr = 0.5
    fast = {
        (r.id_a, r.id_b)
        for r in DD.minhash_dedup(
            docs, num_hashes=16, bands=8, threshold=thr
        ).collect()
    }
    portable = {
        (r.id_a, r.id_b)
        for r in DD.minhash_dedup_portable(
            docs, num_hashes=16, bands=8, threshold=thr
        ).collect()
    }
    # ground truth: ALL-pairs exact Jaccard over the same word 3-shingles
    # (test-only quadratic — 500 docs — never a production path)
    sh = DD._shingle_hash_df(docs, "text", "doc_id", 3)
    a, b = sh.alias("a"), sh.alias("b")
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (
                F.size(F.array_intersect("a.sh", "b.sh"))
                / F.size(F.array_union("a.sh", "b.sh"))
            ).alias("j"),
        )
        .where(F.col("j") >= thr)
        .collect()
    }
    assert fast == truth
    assert portable == truth


def test_minhash_arrow_kernel_matches_expression_form(spark):
    """The NumPy XXH64 kernel (minhash_arrow) must be bit-identical to
    the transform/array_min SQL expression it replaced — on the real
    corpus AND on the rare shapes the fast reduceat path can't express
    (NULL arrays, empty arrays, NULL elements, int64 domain extremes)."""
    from kerf_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    fast = {
        r.doc_id: r.minhash
        for r in DD.minhash_signature(docs, use_arrow=True).collect()
    }
    expr = {
        r.doc_id: r.minhash
        for r in DD.minhash_signature(docs, use_arrow=False).collect()
    }
    assert fast == expr and len(fast) == docs.count()

    shdf = spark.createDataFrame(
        [
            (1, [1, 2, 3]),
            (2, []),
            (3, None),
            (4, [None, 5]),
            (5, [-(2**63), 2**63 - 1, 0, -1]),
            (6, [42]),
        ],
        "doc_id bigint, sh array<bigint>",
    )
    seeds = ", ".join(str(i) for i in range(32))
    want = {
        r.doc_id: r.minhash
        for r in shdf.selectExpr(
            "doc_id",
            f"transform(cast(array({seeds}) as array<int>),"
            " i -> array_min(transform(sh, h -> xxhash64(h, i))))"
            " as minhash",
        ).collect()
    }
    got = {
        r.doc_id: r.minhash
        for r in DD.minhash_arrow(shdf, "doc_id", 32).collect()
    }
    assert got == want


def test_bigram_lm_score_known_probs(spark):
    """Hand-computable corpus: 'x' continues to 'y' or 'z' with equal
    probability, so both docs score p=1/2 per bigram -> ppl 2.0; a
    single-token doc has no bigrams and is excluded."""
    df = spark.createDataFrame(
        [(1, "x y"), (2, "x z"), (3, "lonely")], "doc_id long, text string"
    )
    got = {r.doc_id: (r.n_bigrams, r.ppl) for r in TX.bigram_lm_score(df).collect()}
    assert got == {1: (1, 2.0), 2: (1, 2.0)}


def test_substring_dup_spans_planted(spark):
    """Two docs sharing one verbatim 20-token span (at stride-aligned
    positions) are both flagged; an unrelated doc reports zero dups."""
    shared = " ".join(f"tok{j}" for j in range(20))
    a = shared + " " + " ".join(f"atail{j}" for j in range(10))
    b = shared + " " + " ".join(f"btail{j}" for j in range(10))
    c = " ".join(f"other{j}" for j in range(30))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in DD.substring_dup_spans(df, window=20, stride=10).collect()
    }
    # 30 tokens -> windows at offsets 0 and 10: doc 1/2 share offset 0
    assert got[1] == (2, 1) and got[2] == (2, 1) and got[3] == (2, 0)
    # short doc (< window tokens) contributes nothing
    short = spark.createDataFrame([(9, "just a few tokens")],
                                  "doc_id long, text string")
    assert DD.substring_dup_spans(short).count() == 0


def test_simhash64_matches_python_bitvote(spark):
    """Independent recomputation of the 64-bit SimHash: take the token
    hashes from Spark (the xxhash64 primitive itself), rebuild the
    bit-vote construction in plain Python, and compare.  Verifies the
    64 aggregate-expression votes + shiftleft bit assembly, including
    the sign bit (bit 63)."""
    from kerf_spark.operators.text import normalize_text

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha alpha beta"),
            (3, "The  QUICK brown   fox"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    tok = docs.select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(F.split(normalize_text("text"), " "))
        ).alias("w"),
    ).select("doc_id", F.xxhash64("w").alias("h"), "w")
    hashes: dict[int, list[int]] = {}
    for r in tok.collect():
        hashes.setdefault(r.doc_id, [])
        if r.w is not None:
            hashes[r.doc_id].append(r.h)

    def py_simhash(hs: list[int]) -> int:
        out = 0
        for b in range(64):
            # python's >> on negative ints is arithmetic shift — same
            # two's-complement semantics as Spark's shiftright
            vote = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if vote > 0:
                out |= 1 << b
        return out - (1 << 64) if out >= (1 << 63) else out

    got = {r.doc_id: r.simhash for r in DD.simhash64(docs).collect()}
    assert got == {d: py_simhash(hs) for d, hs in hashes.items()}


def test_tokens_and_quality(spark):
    df = spark.createDataFrame([(1, "  the cat.  "), (2, "")], "id long, text string")
    row = {r.id: r for r in df.select(
        "id",
        TX.token_count("text").alias("n"),
        TX.punct_count("text").alias("p"),
        TX.stopword_count("text").alias("sw"),
    ).collect()}
    assert row[1].n == 2 and row[1].p == 1 and row[1].sw == 1
    assert row[2].n == 0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el perro de la casa que corre por los campos"),
            (3, "xyzzy qwerty plugh"),
        ],
        "id long, text string",
    )
    got = {r.id: r.lang for r in df.select("id", TX.lang_id("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "es", 3: "und"}


# ------------------------------------------------------------- similarity
def test_cosine_identical_vector_is_top(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [1.0, 0.01, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") == 0)
    top = SIM.cosine_topk(df, q, k=2).collect()
    assert [r.neighbor_id for r in top] == [3, 1]


def test_ivf_results_partition_invariant(spark):
    """Centroid seeding samples by content-hash order, so the same data
    in a different partition layout must give identical ANN results
    (r3 verdict: bare limit() was layout-dependent)."""
    from kerf_spark.sources.io import read_table

    em = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = em.where(F.col("vec_id") < 4)

    def run(corpus):
        return sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in SIM.ivf_topk(corpus, q, k=3, n_cells=4, nprobe=2).collect()
        )

    assert run(em) == run(em.repartition(13))


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0], [1.0, 0.0])], "a array<double>, b array<double>")
    row = df.select(
        SIM.dot("a", "b").alias("d"), SIM.l2_norm("a").alias("n"), SIM.cosine("a", "b").alias("c")
    ).head()
    assert row.d == 3.0 and row.n == 5.0 and row.c == pytest.approx(0.6)


# ------------------------------------------------------------- fixture-scale
def test_asof_fixture_scale(spark, tables):
    from kerf_spark.functions import temporal as TM

    e = tables["events"].select("event_id", "user_id", "ts")
    o = tables["orders"].select(
        F.col("o_custkey").alias("user_id"),
        TM.ts_to_ns("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    res = AS.asof_join(e, o, on="ts", by="user_id", tiebreak="o_orderkey")
    assert res.count() == e.count()
    assert res.where(F.col("o_orderkey").isNull()).count() == 0


# ----------------------------------------------------- asof merge variant
def _cobucketed(spark, root, by, **frames):
    """Save each frame hash-bucketed on ``by`` (2 buckets) and load it
    back: the input shape on which the as-of plans no exchange."""
    from kerf_spark.sources.catalog import Workspace

    ws = Workspace(spark, str(root))
    for name, df in frames.items():
        ws.save_bucketed(name, df, [by], num_buckets=2)
    return [ws.load(name) for name in frames]


def _exchanges(df):
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def test_asof_merge_equals_window_variant(spark, tables, tmp_path):
    """On co-bucketed inputs (no exchange: the window's union keeps the
    bucketed scans' clustering) the as-of must agree row-for-row with
    the same join on the plain inputs (one hash exchange), on fixture
    data."""
    from pyspark.sql import functions as F

    from kerf_spark.operators.asof import asof_join, asof_join_merge

    ev = tables["events"].select("user_id", "event_id", "ts", "value")
    lf = ev.where(F.col("event_id") % 3 == 0)
    rf = ev.where(F.col("event_id") % 3 != 0).select(
        "user_id", "ts", F.col("value").alias("rv")
    )
    left, right = _cobucketed(
        spark, tmp_path, "user_id", ev_left=lf, ev_right=rf
    )
    plain = asof_join(lf, rf, on="ts", by="user_id", right_cols=["rv"])
    assert _exchanges(plain) == 1
    a = plain.select("event_id", "ts", "rv")
    merged = asof_join_merge(
        left, right, on="ts", by="user_id", right_cols=["rv"]
    )
    assert _exchanges(merged) == 0
    b = merged.select("event_id", "ts", "rv")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
    assert a.count() == left.count()
    assert b.where(F.col("rv").isNotNull()).count() > 0


def test_asof_merge_bucket_path_nulls_and_mixed_dtypes(spark, tmp_path):
    """``asof_join_merge`` keeps Spark's group identity for NULL keys
    (NULL = NULL matches), on long and on double keys, on plain inputs
    (one hash exchange) and on co-bucketed ones (no exchange)."""
    from pyspark.sql import functions as F

    from kerf_spark.operators.asof import asof_join, asof_join_merge

    left = spark.createDataFrame(
        [(1, 100, 10), (1, 300, 11), (2, 150, 12), (None, 120, 13),
         (None, 500, 14), (3, 50, 15)],
        "k long, ts long, lid long",
    )
    right = spark.createDataFrame(
        [(1, 90, 1.0), (1, 250, 2.0), (2, 150, 3.0), (None, 100, 4.0),
         (None, 400, 5.0), (4, 10, 6.0)],
        "k long, ts long, px double",
    )

    def res(df):
        return {r["lid"]: r["px"] for r in df.select("lid", "px").collect()}

    # equal stamps are visible (lid 12); the NULL-key rows match the
    # NULL-key right rows (13, 14); key 3 has no right rows (15)
    want = {10: 1.0, 11: 2.0, 12: 3.0, 13: 4.0, 14: 5.0, 15: None}
    dbl = F.col("k").cast("double")
    for name, (lf, rf) in {
        "long_keys": (left, right),
        "double_keys": (left.withColumn("k", dbl), right.withColumn("k", dbl)),
    }.items():
        cobucketed = _cobucketed(
            spark, tmp_path / name, "k", **{f"{name}_l": lf, f"{name}_r": rf}
        )
        for plain, (a, b) in ((True, (lf, rf)), (False, cobucketed)):
            got = asof_join_merge(a, b, on="ts", by="k", right_cols=["px"])
            # a floating key partitions on its NaN/-0.0-normalized value,
            # which the bucket hash is not: co-bucketed, it still shuffles
            shuffles = plain or name == "double_keys"
            assert _exchanges(got) == int(shuffles), (name, plain)
            assert res(got) == want, (name, plain)


@pytest.mark.parametrize(
    "ltype, rtype, right_cols",
    [
        ("int", "bigint", ["px"]),  # int left key against bigint right
        ("bigint", "bigint", ["px", "k"]),  # by key also carried
        ("int", "double", ["px"]),  # float key on the right side only
    ],
)
def test_asof_merge_mixed_key_types_match(
    spark, tmp_path, ltype, rtype, right_cols
):
    """Key types that differ between the sides, or a ``by`` key listed
    in ``right_cols``, still match equal key values, on plain and on
    co-bucketed inputs (where keys of different types sit in different
    buckets, so the plan must shuffle); the result keeps the left key's
    type."""
    from kerf_spark.operators.asof import asof_join, asof_join_merge

    left = spark.range(1, 40).selectExpr(
        f"cast(id as {ltype}) as k", "100L as ts", "id as lid"
    )
    right = spark.range(1, 40).selectExpr(
        f"cast(id as {rtype}) as k", "90L as ts", "5.0d as px"
    )
    cobucketed = _cobucketed(spark, tmp_path, "k", l=left, r=right)
    for lf, rf in ((left, right), cobucketed):
        got = asof_join_merge(lf, rf, on="ts", by="k", right_cols=right_cols)
        if lf is cobucketed[0]:
            assert _exchanges(got) == (0 if ltype == rtype else 1)
        want = asof_join(lf, rf, on="ts", by="k", right_cols=right_cols)
        assert {r["px"] for r in got.collect()} == {5.0}
        assert sorted(got.collect()) == sorted(want.collect())
        assert dict(got.dtypes)["k"] == dict(want.dtypes)["k"] == ltype


def test_asof_keeps_left_values_the_union_widens(spark):
    """A left ``by``/``on`` column whose type differs from right's is
    widened by the union (long -> double, lossy above 2^53); the result
    still carries the left rows' own values, bit for bit, in all three
    directions."""
    from kerf_spark.operators.asof import asof_join

    k, t0 = 2**62 + 1, 1704187800000000000
    left = spark.createDataFrame(
        [(k, t0 + 1, 1), (k, t0 + 3, 2)], "k long, ts long, id long"
    )
    right = spark.createDataFrame(
        [(float(2**62), float(t0 - 10**11), 9.5)], "k double, ts double, px double"
    )
    for direction, px in (("backward", 9.5), ("forward", None), ("nearest", 9.5)):
        res = asof_join(left, right, on="ts", by="k", direction=direction)
        assert dict(res.dtypes)["k"] == dict(res.dtypes)["ts"] == "bigint"
        got = sorted(tuple(r) for r in res.select("id", "k", "ts", "px").collect())
        assert got == [(1, k, t0 + 1, px), (2, k, t0 + 3, px)], direction


def test_asof_property_vs_pandas_oracle(spark):
    """Randomized check against pandas.merge_asof as brute-force oracle."""
    import random

    import pandas as pd

    rng = random.Random(7)
    syms = ["a", "b", "c"]
    lrows = [
        (rng.choice(syms), rng.randrange(0, 1000), i)
        for i in range(120)
    ]
    rrows = [
        (rng.choice(syms), rng.randrange(0, 1000), float(i))
        for i in range(200)
    ]
    left = spark.createDataFrame(lrows, "sym string, ts_ns long, lid long")
    right = spark.createDataFrame(rrows, "sym string, ts_ns long, px double")

    from kerf_spark.operators.asof import asof_join

    got = (
        asof_join(left, right, on="ts_ns", by="sym", right_cols=["px"])
        .orderBy("lid")
        .toPandas()
    )
    lp = pd.DataFrame(lrows, columns=["sym", "ts_ns", "lid"]).sort_values(
        ["ts_ns", "lid"], kind="mergesort"
    )
    rp = (
        pd.DataFrame(rrows, columns=["sym", "ts_ns", "px"])
        .sort_values(["ts_ns", "px"], kind="mergesort")
    )
    want = pd.merge_asof(
        lp, rp, on="ts_ns", by="sym", direction="backward"
    ).sort_values("lid")
    got_px = got["px"].tolist()
    want_px = want["px"].tolist()
    assert len(got_px) == len(want_px)
    for g, w in zip(got_px, want_px):
        assert (g is None and pd.isna(w)) or (
            g is not None and not pd.isna(w) and abs(g - w) < 1e-12
        ), (g, w)


def test_dup_clusters_components(spark):
    from kerf_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (6, 5), (9, 8)], "id_a long, id_b long"
    )
    got = {
        (r.doc_id, r.cluster) for r in dup_clusters(pairs).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),   # chain collapses to min id
        (5, 5), (6, 5),
        (8, 8), (9, 8),
    }


def test_hash_sample_deterministic_and_partition_invariant(spark):
    from kerf_spark.operators.sampling import hash_sample

    df = spark.range(1000).withColumnRenamed("id", "k")
    a = sorted(r.k for r in hash_sample(df, "k", 30).collect())
    b = sorted(r.k for r in hash_sample(df.repartition(7), "k", 30).collect())
    assert a == b and 200 < len(a) < 400


def test_split_partitions_are_exhaustive_and_disjoint(spark):
    from pyspark.sql import functions as F

    from kerf_spark.operators.sampling import train_val_test_split

    df = spark.range(500).withColumnRenamed("id", "k")
    s = train_val_test_split(df, "k", val_pct=10, test_pct=10)
    counts = {r.split: r.n for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 500
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]


def test_salted_groupby_agg_equals_plain(spark):
    from pyspark.sql import functions as F

    from kerf_spark.operators.skew import salted_groupby_agg

    df = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("k"),
        (F.col("id") * 7 % 101).cast("double").alias("v"),
    )
    got = {
        r.k: (r.s, r.n, r.mn, r.mx, round(r.av, 9))
        for r in salted_groupby_agg(
            df,
            ["k"],
            [("v", "sum", "s"), ("v", "count", "n"), ("v", "min", "mn"),
             ("v", "max", "mx"), ("v", "avg", "av")],
            buckets=16,
        ).collect()
    }
    want = {
        r.k: (r.s, r.n, r.mn, r.mx, round(r.av, 9))
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"),
             F.min("v").alias("mn"), F.max("v").alias("mx"),
             F.avg("v").alias("av"))
        .collect()
    }
    assert got == want


def test_salted_join_inner_and_left_match_plain(spark):
    from pyspark.sql import functions as F

    from kerf_spark.operators.skew import salted_join

    big = spark.range(1000).select(
        (F.col("id") % 4).alias("k"), F.col("id").alias("rowid")
    )
    # dim missing key 3 -> left join must null-fill exactly once per row
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["k", "tag"])
    for how in ("inner", "left"):
        got = sorted(
            (r.k, r.rowid, r.tag)
            for r in salted_join(big, small, ["k"], how=how, buckets=4).collect()
        )
        want = sorted(
            (r.k, r.rowid, r.tag) for r in big.join(small, ["k"], how).collect()
        )
        assert got == want, how


def test_salted_join_broadcasts_replicated_side(spark):
    from pyspark.sql import functions as F

    from kerf_spark.operators.skew import salted_join

    big = spark.range(100).select((F.col("id") % 2).alias("k"), "id")
    small = spark.createDataFrame([(0, "x"), (1, "y")], ["k", "t"])
    plan = salted_join(big, small, ["k"])._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_ema_golden(spark):
    from pyspark.sql import functions as F

    from kerf_spark.operators import windows as W

    df = spark.createDataFrame(
        [(1, 1, 1.0), (1, 2, 2.0), (1, 3, 3.0)], "g int, t int, v double"
    )
    got = {
        r.t: round(r.e, 9)
        for r in df.select(
            "t", W.ema("v", 8, ["g"], ["t"], decay=0.9).alias("e")
        ).collect()
    }
    # hand-computed: Σ decay^k·x_{t-k} / Σ decay^k
    assert got[1] == 1.0
    assert got[2] == round((2 + 0.9 * 1) / 1.9, 9)
    assert got[3] == round((3 + 0.9 * 2 + 0.81 * 1) / 2.71, 9)


def test_ema_matches_pandas_ewm(spark):
    """Cross-validate the bounded-window EMA against pandas ewm
    (adjust=True): identical for series shorter than the window."""
    import pandas as pd

    vals = [3.0, 1.5, -2.0, 7.25, 0.0, 4.4]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "g int, t int, v double"
    )
    from kerf_spark.operators import windows as W

    got = {
        r.t: r.e
        for r in df.select(
            "t", W.ema("v", 32, ["g"], ["t"], decay=0.9).alias("e")
        ).collect()
    }
    want = pd.Series(vals).ewm(alpha=0.1, adjust=True).mean()
    for i in range(len(vals)):
        assert abs(got[i] - want[i]) < 1e-9, i


# ------------------------------------------------- resample / melt / topk
def test_resample_grid_and_fill(spark):
    src = spark.createDataFrame(
        [("A", 103, 1.0), ("A", 127, 2.0), ("A", 155, 3.0), ("B", 205, 9.0)],
        "sym string, ts long, v double",
    )
    res = AS.resample(src, on="ts", step=10, by="sym", val_cols=["v"])
    got = {(r.sym, r.ts): r.v for r in res.collect()}
    # A spans 103..155 -> grid 100..150; 100 precedes the first obs (null)
    assert got == {
        ("A", 100): None, ("A", 110): 1.0, ("A", 120): 1.0,
        ("A", 130): 2.0, ("A", 140): 2.0, ("A", 150): 2.0,
        ("B", 200): None,
    }


def test_resample_negative_stamps_floor(spark):
    # pre-epoch axis: pmod alignment floors toward -inf, not toward zero
    src = spark.createDataFrame(
        [("A", -25, 1.0), ("A", 5, 2.0)], "sym string, ts long, v double"
    )
    res = AS.resample(src, on="ts", step=10, by="sym", val_cols=["v"])
    ts = sorted(r.ts for r in res.collect())
    assert ts == [-30, -20, -10, 0]


def test_melt_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, 2.0, 3.0), (2, 4.0, 5.0)], "id long, a double, b double"
    )
    long = R.melt(df, ["id"], ["a", "b"])
    assert long.columns == ["id", "measure", "val"]
    got = {(r.id, r.measure): r.val for r in long.collect()}
    assert got == {(1, "a"): 2.0, (1, "b"): 3.0, (2, "a"): 4.0, (2, "b"): 5.0}


def test_top_k_by_group_rank_and_ties(spark):
    df = spark.createDataFrame(
        [("x", 1, 10.0), ("x", 2, 10.0), ("x", 3, 5.0), ("y", 4, 1.0)],
        "g string, id long, v double",
    )
    res = R.top_k_by_group(df, by="g", order=["v", "id"], k=2)
    got = {(r.g, r.rn): r.id for r in res.collect()}
    # desc on (v, id): tie at v=10 broken by id desc -> id=2 first
    assert got == {("x", 1): 2, ("x", 2): 1, ("y", 1): 4}


# -------------------------------------------- tfidf / levenshtein / strata
def test_tfidf_ranks_distinctive_terms(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "banana date")],
        "doc_id long, text string",
    )
    res = TX.tfidf_top_terms(docs, k=1, min_len=3)
    got = {r.doc_id: r.term for r in res.collect()}
    # banana appears everywhere (idf=0); the distinctive term wins per doc
    assert got == {1: "apple", 2: "cherry", 3: "date"}


def test_levenshtein_pairs_blocked(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy cat today"),
            (3, "completely different text that shares no prefix at all"),
        ],
        "doc_id long, text string",
    )
    res = DD.levenshtein_pairs(docs, prefix_len=16, cmp_len=100, max_dist=5)
    rows = res.collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}
    assert rows[0].dist == 3  # dog -> cat


def test_stratified_sample_exact_counts_and_determinism(spark):
    from kerf_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i < 10 else "b") for i in range(30)], "id long, s string"
    )
    res = stratified_sample(df, strata="s", frac=0.3, id_col="id")
    by_s = {r.s: r.n for r in res.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert by_s == {"a": 3, "b": 6}  # ceil(0.3*10), ceil(0.3*20)
    again = stratified_sample(df.repartition(7), strata="s", frac=0.3, id_col="id")
    assert sorted(r.id for r in res.collect()) == sorted(r.id for r in again.collect())


def test_lsh_near_pairs_finds_identical_and_blocks(spark):
    base = [0.5] * 8
    shifted = [0.5] * 7 + [0.52]          # near-dup of base
    opposite = [(-0.5) ** (i + 1) for i in range(8)]  # alternating, far from base
    df = spark.createDataFrame(
        [(1, base), (2, shifted), (3, opposite)],
        "vec_id long, embedding array<float>",
    )
    res = SIM.lsh_near_pairs(df, dim=8, threshold=0.9, bands=2, planes_per_band=4)
    rows = res.collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}
    assert rows[0].cosine > 0.99


def test_repetition_signals_flags_degenerate_text(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),                # one word repeated
            (2, "all words here are fully distinct"),  # no repetition
            (3, "one"),                                # single word: no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in TX.repetition_signals(df).collect()}
    assert got[1].top_word_frac == 1.0
    assert got[1].dup_word_frac == 0.75
    assert got[1].top_bigram_frac == 1.0
    assert got[2].dup_word_frac == 0.0
    assert got[2].top_word_frac == round(1 / 6, 9)
    assert got[3].top_bigram_frac is None


def test_weighted_median_crosses_half_total(spark):
    df = spark.createDataFrame(
        [("g", 1.0, 1.0, 1), ("g", 2.0, 1.0, 2), ("g", 3.0, 10.0, 3),
         ("h", 5.0, 1.0, 4), ("h", 7.0, 1.0, 5)],
        "k string, v double, wt double, id long",
    )
    got = {r.k: r.wmedian for r in W.weighted_median(
        df, value="v", weight="wt", by=["k"], tiebreak=["id"]
    ).collect()}
    # g: total 12, cum at v=3 reaches 12 >= 6 first -> 3
    # h: total 2, cum at v=5 is 1, 1*2 >= 2 -> 5 (lower of the even split)
    assert got == {"g": 3.0, "h": 5.0}


def test_mdev_mcorr_match_numpy(spark):
    import numpy as np

    xs = [1.0, 4.0, 2.0, 8.0, 5.0, 7.0]
    ys = [2.0, 3.0, 1.0, 9.0, 4.0, 8.0]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(zip(xs, ys))],
        "i long, x double, y double",
    )
    res = df.select(
        "i",
        W.mdev("x", 3, None, ["i"]).alias("sd"),
        W.mcorr("x", "y", 3, None, ["i"]).alias("r"),
    ).collect()
    got = {r.i: (r.sd, r.r) for r in res}
    assert got[0][0] is None  # single-row frame: stddev undefined
    for i in range(2, 6):
        wx, wy = np.array(xs[i - 2 : i + 1]), np.array(ys[i - 2 : i + 1])
        assert abs(got[i][0] - wx.std(ddof=1)) < 1e-9
        assert abs(got[i][1] - np.corrcoef(wx, wy)[0, 1]) < 1e-9
    const = spark.createDataFrame(
        [(i, 5.0, float(i)) for i in range(4)], "i long, x double, y double"
    )
    rows = const.select(W.mcorr("x", "y", 3, None, ["i"]).alias("r")).collect()
    assert all(r.r is None for r in rows)  # constant series: no correlation


# ------------------------------------------------------------- curation
def _docs_df(spark):
    return spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),          # benchmark doc
            (20, "alpha beta gamma epsilon"),       # shares gram "alpha beta gamma"
            (21, "zeta eta theta iota kappa"),      # disjoint from benchmark
            (22, "alpha beta gamma delta"),         # fully contained in benchmark
        ],
        "doc_id long, text string",
    )


def test_contamination_overlap_ratio(spark):
    from kerf_spark.operators import curation as CU

    d = _docs_df(spark)
    out = CU.contamination_overlap(
        d.filter(F.col("doc_id") >= 16), d.filter(F.col("doc_id") < 16), n=3
    )
    got = {r.doc_id: (r.n_grams, r.n_hit, r.contamination) for r in out.collect()}
    # doc 20: grams {abg, bge} -> 1 of 2 in bench {abg, bgd}
    assert got[20] == (2, 1, 0.5)
    assert got[21] == (3, 0, 0.0)
    assert got[22] == (2, 2, 1.0)


def test_segment_dedup_first_occurrence_wins(spark):
    from kerf_spark.operators import curation as CU

    d = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # segs: "a b c", "d e f" -> both kept
            (2, "a b c x y z"),        # "a b c" dropped (doc 1 owns it)
            (3, "d e f"),              # fully duplicate -> nothing kept
        ],
        "doc_id long, text string",
    )
    out = CU.segment_dedup(d, seg_words=3)
    got = {r.doc_id: (r.n_segs, r.kept_segs, r.kept_fp) for r in out.collect()}
    assert got[1][:2] == (2, 2)
    assert got[2][:2] == (2, 1)
    assert got[3][:2] == (1, 0)
    assert got[3][2] is None  # all segments deduped away -> null fingerprint


def test_pii_scrub_counts_and_redaction(spark):
    from kerf_spark.operators import curation as CU

    d = spark.createDataFrame(
        [(1, "mail me at bob@example.com or call 555 1234 about the data")],
        "doc_id long, text string",
    )
    r = CU.pii_scrub(d).collect()[0]
    assert (r.n_emails, r.n_digit_runs, r.n_keyword_hits) == (1, 2, 1)
    import hashlib

    expected = "mail me at <EMAIL> or call # # about the data"
    assert r.redacted_fp == hashlib.md5(expected.encode()).hexdigest()


def test_vocab_zipf_ranks_by_frequency(spark):
    from kerf_spark.operators import curation as CU

    d = spark.createDataFrame(
        [(1, "x x x y y z")], "doc_id long, text string"
    )
    rows = CU.vocab_zipf(d, top=2).collect()
    assert [(r.term, r.freq, r.rank) for r in rows] == [("x", 3, 1), ("y", 2, 2)]


def test_resample_interp_linear_blend(spark):
    # ticks at t=0 (v=10) and t=100 (v=30); grid step 25
    df = spark.createDataFrame(
        [("A", 0, 10.0), ("A", 100, 30.0), ("B", 50, 5.0)],
        "sym string, t long, v double",
    )
    out = AS.resample_interp(df, on="t", step=25, by="sym", val_col="v")
    got = {(r.sym, r.t): r.interp for r in out.collect()}
    assert got[("A", 0)] == 10.0        # on-tick -> exact value
    assert got[("A", 25)] == 15.0       # quarter of the way
    assert got[("A", 50)] == 20.0
    assert got[("A", 75)] == 25.0
    assert got[("A", 100)] == 30.0
    assert got[("B", 50)] == 5.0        # single tick: nt == pt -> value


def test_resample_interp_averages_duplicate_stamps(spark):
    # two observations at the same stamp pre-average to 20 before blending
    df = spark.createDataFrame(
        [("A", 0, 10.0), ("A", 0, 30.0), ("A", 10, 40.0)],
        "sym string, t long, v double",
    )
    out = AS.resample_interp(df, on="t", step=5, by="sym", val_col="v")
    got = {r.t: r.interp for r in out.collect()}
    assert got[0] == 20.0 and got[5] == 30.0 and got[10] == 40.0


def test_interval_overlap_join_matches_brute_force(spark):
    """Randomized check: bucketed overlap join == brute-force O(n²)
    pairs, across bucket widths smaller/larger than interval lengths."""
    import random

    rng = random.Random(11)
    ivs = []
    for i in range(40):
        s = rng.randrange(0, 500)
        ivs.append((i, s, s + rng.randrange(0, 80)))
    left = spark.createDataFrame(ivs, "lid long, s long, e long")
    right = spark.createDataFrame(
        [(i + 100, s, e) for i, s, e in ivs], "rid long, s long, e long"
    )
    want = sorted(
        (a[0], b[0] + 100, min(a[2], b[2]) - max(a[1], b[1]))
        for a in ivs
        for b in ivs
        if a[1] <= b[2] and b[1] <= a[2]
    )
    for bucket in (16, 64, 1000):
        out = AS.interval_overlap_join(left, right, "s", "e", bucket_ns=bucket)
        got = sorted((r.lid, r.rid, r.overlap) for r in out.collect())
        assert got == want, f"bucket={bucket}"


def test_chunk_text_edges(spark):
    from kerf_spark.operators.text import chunk_text

    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xy"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_text(df, "text", "doc_id", size=4, overlap=1)
    got = {(r.doc_id, r.chunk_idx): (r.off, r.chunk) for r in out.collect()}
    # doc 1: starts 0,3,6,9 — overlapping by 1, last chunk short
    assert got[(1, 0)] == (0, "abcd")
    assert got[(1, 1)] == (3, "defg")
    assert got[(1, 2)] == (6, "ghij")
    assert got[(1, 3)] == (9, "j")
    # short doc: single chunk; empty doc: single empty chunk
    assert got[(2, 0)] == (0, "xy")
    assert got[(3, 0)] == (0, "")
    assert len(got) == 6


def test_semantic_dedup_pairs_and_survivors(spark):
    """SemDeDup invariants: (a) identical partition layouts of the same
    data give identical pair sets (deterministic centroids); (b) exact
    duplicates always land in one cell and pair at cos=1; (c) survivors
    = corpus minus every id that duplicates a smaller id."""
    from kerf_spark.sources.io import read_table

    em = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    # plant an exact duplicate of vec 0 under a fresh id
    dup = em.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label"
    )
    corpus = em.unionByName(dup)

    def pairs(df):
        return sorted(
            (r.id_a, r.id_b, r.cos)
            for r in SIM.semantic_dedup_pairs(
                df, n_cells=4, threshold=0.30
            ).collect()
        )

    p1 = pairs(corpus)
    assert p1 == pairs(corpus.repartition(13))
    assert any(a == 0 and b == 100000 and c == 1.0 for a, b, c in p1)

    surv = set(
        r.vec_id
        for r in SIM.semantic_dedup_survivors(
            corpus, n_cells=4, threshold=0.30
        ).collect()
    )
    losers = {b for _, b, _ in p1}
    total = {r.vec_id for r in corpus.select("vec_id").collect()}
    assert surv == total - losers
    assert 100000 not in surv and 0 in surv


def test_dsir_weights_direction_and_select(spark):
    """DSIR sanity: (a) raw==target ⇒ every weight exactly 0 (identical
    counts cancel); (b) a doc written in target vocabulary outscores a
    doc written in raw-only vocabulary; (c) the Gumbel top-k draw is
    deterministic and returns exactly k rows."""
    from kerf_spark.operators import curation as CU

    rows = [
        (1, "alpha beta gamma alpha beta gamma alpha beta"),
        (2, "delta epsilon zeta delta epsilon zeta delta epsilon"),
        (3, "alpha beta gamma beta alpha gamma beta alpha"),
        (4, "delta epsilon zeta epsilon delta zeta epsilon delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    zero = CU.dsir_weights(df, df, buckets=64).collect()
    assert zero and all(r.log_ratio == 0.0 for r in zero)

    target = df.where(F.col("doc_id").isin(1, 3))  # alpha/beta/gamma world
    w = {r.doc_id: r.log_ratio for r in CU.dsir_weights(df, target, buckets=64).collect()}
    assert w[1] > 0 > w[2] and w[3] > 0 > w[4]

    sel = CU.dsir_select(df, target, k=2).collect()
    assert len(sel) == 2
    sel2 = CU.dsir_select(df.repartition(7), target, k=2).collect()
    assert sorted(r.doc_id for r in sel) == sorted(r.doc_id for r in sel2)


def test_quality_classifier_orders_prose_over_soup(spark):
    """The logistic scorer must rank stopword-rich prose above
    punctuation soup, and handle empty text without nulls."""
    from kerf_spark.operators import text as TX

    rows = [
        (1, "the cat sat on the mat and it was happy to be in the sun"),
        (2, "!!! ??? ;;; ::: ,,, ... ((( ))) [[[ ]]] {{{ }}}"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = TX.quality_classifier_score("text")
    got = {
        r.doc_id: r.score
        for r in df.select("doc_id", cols["score"].alias("score")).collect()
    }
    assert got[1] > got[2]
    assert all(v is not None and 0.0 < v < 1.0 for v in got.values())


def test_incremental_dedup_batch_vs_index(spark):
    """Batch-vs-index dedup: exact copies and near-copies of index docs
    are rejected, genuinely new docs are admitted, and index×index
    pairs are never emitted."""
    idx_rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "pack my box with five dozen liquor jugs for the long trip north"),
        (3, "how vexingly quick daft zebras jump over the fence in the morning"),
    ]
    batch_rows = [
        (101, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 1
        (102, "pack my box with five dozen liquor jugs for the long trip south"),     # near dup of 2
        (103, "completely unrelated fresh content about spark query planning at scale"),
    ]
    idx = spark.createDataFrame(idx_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")

    pairs = DD.incremental_neardup(batch, idx, threshold=0.5).collect()
    got = {(r.batch_id, r.index_id) for r in pairs}
    assert (101, 1) in got and (102, 2) in got
    assert all(b >= 100 and i < 100 for b, i in got)  # strictly cross-corpus
    assert all(r.jaccard == 1.0 for r in pairs if r.batch_id == 101)

    admitted = {r.doc_id for r in DD.incremental_new_docs(batch, idx, threshold=0.5).collect()}
    assert admitted == {103}


def test_leakage_safe_split_keeps_pairs_together(spark):
    """No verified near-dup pair may straddle splits: both members key
    by the same cluster id, hence land in the same split."""
    from kerf_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    split = {r.doc_id: r.split for r in QUERIES["leakage_safe_split"](spark, sf).collect()}
    d = spark.read.parquet(sf + "/documents.parquet")
    pairs = DD.prefix_jaccard_pairs(d, prefix_len=32, shingle_n=3, threshold=0.5).collect()
    assert pairs, "fixture should contain at least one near-dup pair"
    for r in pairs:
        assert split[r.id_a] == split[r.id_b]


def test_dup_clusters_raises_when_unconverged(spark):
    """Partial labels are silently wrong (split-straddle hazard), so a
    chain longer than max_iter must raise, not return."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        DD.dup_clusters(chain, max_iter=2, check_every=2)
    # and a convergent call still works
    ok = DD.dup_clusters(chain, max_iter=25, check_every=3).collect()
    assert {r.cluster for r in ok} == {0}


def test_quantize_roundtrip_and_pca_invariance(spark):
    """int8 quantization reconstructs within scale/254 per coordinate
    (half a code step); PCA projection is partition-layout-invariant
    and orthonormal-ish (components from the deterministic sample)."""
    from kerf_spark.sources.io import read_table

    em = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = SIM.quantize_embeddings(em)
    joined = (
        em.select("vec_id", "embedding")
        .join(q, "vec_id")
        .select(
            "vec_id",
            F.array_max(
                F.zip_with(
                    F.transform("embedding", lambda x: x.cast("double")),
                    SIM.dequantize_expr("codes", F.col("scale")),
                    lambda a, b: F.abs(a - b),
                )
            ).alias("max_err"),
            F.col("scale"),
        )
    )
    bad = joined.where(F.col("max_err") > F.col("scale") / 254.0 + 1e-12).count()
    assert bad == 0

    p1 = sorted(map(tuple, SIM.pca_project(em, k=3).collect()))
    p2 = sorted(map(tuple, SIM.pca_project(em.repartition(11), k=3).collect()))
    assert p1 == p2

    comps = SIM.pca_components(
        [[1.0, 0.0], [0.0, 2.0], [-1.0, 0.0], [0.0, -2.0]], k=2
    )
    import math
    assert abs(sum(x * x for x in comps[0]) - 1.0) < 1e-9
    assert abs(sum(a * b for a, b in zip(comps[0], comps[1]))) < 1e-6
    # dominant variance axis is y (variance 2^2 spread)
    assert abs(comps[0][1]) > abs(comps[0][0])


def _bpe_reference(texts, n_merges):
    """Pure-Python BPE trainer (the classic word-freq algorithm) used
    as the independent oracle for the Spark implementation."""
    import collections
    import re

    freqs = collections.Counter()
    for t in texts:
        norm = re.sub(r"\s+", " ", t).strip().lower()
        if norm:
            freqs.update(norm.split(" "))
    vocab = {w: list(w) for w in freqs}
    merges = []
    for step in range(n_merges):
        counts = collections.Counter()
        for w, toks in vocab.items():
            for a, b in zip(toks, toks[1:]):
                counts[(a, b)] += freqs[w]
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((step, left, right, cnt))
        for w, toks in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_learn_matches_reference(spark):
    """The Spark BPE trainer must agree step-for-step with a classic
    pure-Python word-freq BPE on a corpus with repeats, overlaps
    ('aaa'), and ties."""
    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "aaa aaab aa aaa",
        "the the the banana bandana",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r.step, r.left, r.right, r.pair_count)
        for r in TX.bpe_learn(df, n_merges=6).orderBy("step").collect()
    ]
    assert got == _bpe_reference(texts, 6)

    # greedy non-overlap on 'aaa': first merge (a,a) leaves [aa, a]
    one = spark.createDataFrame([(0, "aaa")], "doc_id long, text string")
    m = TX.bpe_learn(one, n_merges=2).orderBy("step").collect()
    assert (m[0].left, m[0].right) == ("a", "a") and m[0].pair_count == 2
    assert (m[1].left, m[1].right) == ("aa", "a")


def test_bpe_encode_matches_reference(spark):
    """Encoding with a learned merge table must agree with the Python
    reference applied word-by-word in merge order."""
    texts = ["low lower lowest", "new newest", "aaa banana"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = [
        (m[1], m[2]) for m in _bpe_reference(texts, 4)
    ]
    got = {
        r.doc_id: (list(r.tokens), r.n_tokens)
        for r in TX.bpe_encode(df, merges).collect()
    }

    def ref_encode(t):
        out = []
        for w in t.strip().lower().split():
            toks = list(w)
            for left, right in merges:
                nxt, i = [], 0
                while i < len(toks):
                    if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
                        nxt.append(left + right)
                        i += 2
                    else:
                        nxt.append(toks[i])
                        i += 1
                toks = nxt
            out.extend(toks)
        return out

    for i, t in enumerate(texts):
        want = ref_encode(t)
        assert got[i] == (want, len(want)), (i, got[i], want)


def test_incremental_dedup_from_stored_index(spark, tmp_path):
    """The stored-index path end to end: band keys + shingles +
    fingerprints persisted once via Workspace (band keys bucketed on
    the join key), then an increment deduped against the STORED tables
    must match the recompute-everything path exactly."""
    from kerf_spark.sources.catalog import Workspace
    from kerf_spark.sources.io import read_table
    from kerf_spark.operators.text import fingerprint_md5

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    batch = d.where(F.col("doc_id") >= 400)
    index = d.where(F.col("doc_id") < 400)

    ws = Workspace(spark, str(tmp_path / "ws"))
    ib, ish = DD.portable_band_keys(index)
    ws.save_bucketed("index_bands", ib, bucket_by=["band", "key"], num_buckets=8)
    ws.save("index_shingles", ish)
    ws.save("index_fp", index.select(fingerprint_md5("text").alias("fp")))

    stored = DD.incremental_new_docs(
        batch, index,
        index_bands=ws.load("index_bands"),
        index_shingles=ws.load("index_shingles"),
        index_fingerprints=ws.load("index_fp"),
    )
    recomputed = DD.incremental_new_docs(batch, index)
    got = sorted(r.doc_id for r in stored.collect())
    want = sorted(r.doc_id for r in recomputed.collect())
    assert got == want and 0 < len(got) <= batch.count()


# ------------------------------------------------- bloom / index / shard
def test_bloom_no_false_negatives_and_layout_invariant(spark):
    keys = spark.createDataFrame(
        [(f"member-{i}",) for i in range(200)], "k string"
    )
    from kerf_spark.operators.curation import bloom_build, bloom_probe

    words = bloom_build(keys, "k", m_bits=1 << 14, k=4)
    # every true member must probe positive (Bloom guarantees no FNs)
    flagged = bloom_probe(keys, "k", words, ["k"], m_bits=1 << 14, k=4)
    assert flagged.filter(F.col("maybe_member") == 0).count() == 0
    # probing is layout-invariant: repartitioned input, same verdicts
    probe = spark.createDataFrame(
        [(f"other-{i}",) for i in range(500)], "k string"
    )
    a = {
        r["k"]: r["maybe_member"]
        for r in bloom_probe(
            probe, "k", words, ["k"], m_bits=1 << 14, k=4
        ).collect()
    }
    b = {
        r["k"]: r["maybe_member"]
        for r in bloom_probe(
            probe.repartition(13), "k", words, ["k"], m_bits=1 << 14, k=4
        ).collect()
    }
    assert a == b
    # 16384 bits / 200 members / 4 hashes -> FP rate well under 5%
    assert sum(a.values()) <= 25


def test_bloom_bit63_is_reachable_and_roundtrips(spark):
    """Keys whose positions land on bit 63 of a word must still verify
    (the sign-bit word is the DuckDB-oracle edge case)."""
    from kerf_spark.operators.curation import bloom_build, bloom_probe

    # tiny filter (64 bits = 1 word) so every bit incl. 63 gets hit
    keys = spark.createDataFrame(
        [(f"k{i}",) for i in range(100)], "k string"
    )
    words = bloom_build(keys, "k", m_bits=64, k=2)
    masks = [r["__mask"] for r in words.collect()]
    assert any(m < 0 for m in masks), "bit 63 never set — edge untested"
    flagged = bloom_probe(keys, "k", words, ["k"], m_bits=64, k=2)
    assert flagged.filter(F.col("maybe_member") == 0).count() == 0


def test_bloom_member_binary_form_equals_array_form(spark):
    """The r14 large-filter probe encoding (one binary literal + O(1)
    byte slice) must test exactly the filter bits the array form does:
    compared against a pure-Python twin of the md5 position family
    over a random signed-word filter — any byte-layout or
    sign-extension slip is a mismatch."""
    import random

    from kerf_spark.operators import curation as CU

    rng = random.Random(20260819)
    m_bits, k, salt = 1 << 18, 4, "bsj"  # 4096 words: binary branch
    uw = [rng.getrandbits(64) for _ in range(m_bits // 64)]
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in uw]
    keys = spark.range(5000).select(F.col("id").cast("string").alias("s"))
    assert len(words) > 2048  # takes the binary-literal branch
    got = [
        r.x
        for r in keys.select(
            CU.bloom_member_col(F.col("s"), words, m_bits, k, salt)
            .alias("x")
        ).collect()
    ]
    import hashlib

    w = 32 // k
    def py_member(s):
        h = hashlib.md5((s + "#" + salt).encode()).hexdigest()
        for j in range(k):
            p = int(h[w * j: w * j + w], 16) % m_bits
            if not (words[p // 64] >> (p % 64)) & 1:
                return False
        return True

    want = [py_member(str(i)) for i in range(5000)]
    assert got == want
    assert any(want) and not all(want)


def test_inverted_index_df_exact_and_postings_capped(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha"),
            (2, "beta gamma"),
            (3, "beta  beta alpha"),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    idx = {
        r["term"]: (r["df"], r["postings"])
        for r in TX.inverted_index(
            docs, "text", "doc_id", postings_cap=2
        ).collect()
    }
    assert idx["alpha"] == (2, [1, 3])
    assert idx["beta"] == (3, [1, 2])  # df counts all 3, postings cap 2
    assert idx["gamma"] == (1, [2])
    assert set(idx) == {"alpha", "beta", "gamma"}  # blank doc contributes 0


def test_rendezvous_shards_balanced_and_monotone(spark):
    from kerf_spark.operators.sampling import rendezvous_shard

    keys = spark.createDataFrame(
        [(i,) for i in range(600)], "doc_id long"
    )
    a4 = {
        r["doc_id"]: r["shard"]
        for r in keys.select(
            "doc_id", rendezvous_shard("doc_id", 4).alias("shard")
        ).collect()
    }
    a5 = {
        r["doc_id"]: r["shard"]
        for r in keys.select(
            "doc_id", rendezvous_shard("doc_id", 5).alias("shard")
        ).collect()
    }
    # monotone: growing 4 -> 5 only ever moves keys TO the new shard
    moved = {k for k in a4 if a4[k] != a5[k]}
    assert moved and all(a5[k] == 4 for k in moved)
    # and roughly 1/5 of keys move (binomial around 120 of 600)
    assert 60 <= len(moved) <= 180
    # every shard owns a reasonable share
    from collections import Counter

    c = Counter(a5.values())
    assert set(c) == {0, 1, 2, 3, 4} and min(c.values()) >= 60


def test_asof_nearest_matches_pandas(spark):
    """direction='nearest' must replicate pandas merge_asof nearest
    semantics (incl. tolerance and backward tie preference) on a grid
    of key/ts layouts."""
    import pandas as pd

    lrows = [
        ("A", 100, 1), ("A", 205, 2), ("B", 150, 3), ("A", 50, 4),
        ("A", 300, 5), ("C", 7, 6), ("B", 165, 7), ("A", 195, 8),
    ]
    rrows = [
        ("A", 90, 1.0), ("A", 100, 2.0), ("A", 200, 3.0),
        ("A", 290, 4.0), ("B", 160, 9.0), ("B", 170, 8.0),
    ]
    t = spark.createDataFrame(lrows, "sym string, ts long, tid long")
    q = spark.createDataFrame(rrows, "sym string, ts long, bid double")
    pt = pd.DataFrame(lrows, columns=["sym", "ts", "tid"]).sort_values("ts")
    pq = pd.DataFrame(rrows, columns=["sym", "ts", "bid"]).sort_values("ts")
    from kerf_spark.operators.asof import asof_join

    for tol in (None, 10, 60):
        out = asof_join(
            t, q, on="ts", by="sym", direction="nearest", tolerance_ns=tol
        )
        got = {(r["sym"], r["ts"]): r["bid"] for r in out.collect()}
        m = pd.merge_asof(
            pt, pq, on="ts", by="sym", direction="nearest", tolerance=tol
        )
        exp = {
            (r.sym, r.ts): (None if pd.isna(r.bid) else r.bid)
            for r in m.itertuples()
        }
        assert got == exp, f"tolerance={tol}"


def test_asof_nearest_equidistant_prefers_backward(spark):
    t = spark.createDataFrame([("A", 100, 1)], "sym string, ts long, tid long")
    q = spark.createDataFrame(
        [("A", 90, 1.0), ("A", 110, 2.0)], "sym string, ts long, bid double"
    )
    from kerf_spark.operators.asof import asof_join

    [row] = asof_join(t, q, on="ts", by="sym", direction="nearest").collect()
    assert row["bid"] == 1.0  # dist 10 both ways -> backward wins


# ---------------------------------------------------------------- graph
def test_pagerank_cycle_is_uniform_and_conserves_mass(spark):
    from kerf_spark.operators.graph import pagerank

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(cyc, iters=4).collect()}
    for v in got.values():
        assert abs(v - 1 / 3) < 1e-12  # symmetric graph stays uniform
    assert abs(sum(got.values()) - 1.0) < 1e-12


def test_pagerank_sink_redistributes_dangling_mass(spark):
    from kerf_spark.operators.graph import pagerank

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(e, iters=1).collect()}
    # closed form, one iteration: dangling mass 0.5 spreads uniformly
    assert abs(got["a"] - (0.15 / 2 + 0.85 * 0.25)) < 1e-12
    assert abs(got["b"] - (0.15 / 2 + 0.85 * (0.5 + 0.25))) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-12


# -------------------------------------------------------------- sketches
def test_cms_overestimates_and_merges_by_cell_sum(spark):
    from kerf_spark.operators import sketches as SK

    rows = [("a",)] * 40 + [("b",)] * 15 + [(f"x{i}",) for i in range(300)]
    words = spark.createDataFrame(rows, "term string")
    whole = SK.cms_build(words, "term")
    ests = {
        r["__k"]: r["est"]
        for r in SK.cms_estimate(words.distinct(), "term", whole).collect()
    }
    assert ests["a"] >= 40 and ests["b"] >= 15  # one-sided error
    # mergeability: sketch(half1) + sketch(half2) == sketch(whole)
    h1 = SK.cms_build(spark.createDataFrame(rows[:100], "term string"), "term")
    h2 = SK.cms_build(spark.createDataFrame(rows[100:], "term string"), "term")
    merged = {
        (r["__d"], r["__b"]): r["__n"]
        for r in h1.unionByName(h2)
        .groupBy("__d", "__b")
        .agg(F.sum("__n").alias("__n"))
        .collect()
    }
    assert merged == {
        (r["__d"], r["__b"]): r["__n"] for r in whole.collect()
    }


def test_hll_registers_bounded_and_merge_by_max(spark):
    from kerf_spark.operators import sketches as SK

    df = spark.range(1000).select(F.col("id").cast("string").alias("k"))
    whole = SK.hll_registers(df, "k")
    assert whole.count() <= 256  # constant-size summary
    est = SK.hll_estimate(whole).collect()[0]["est"]
    assert abs(est - 1000) / 1000 < 0.15  # ~1.04/sqrt(256) typical
    # mergeability: register-wise max of two halves == whole
    h1 = SK.hll_registers(df.filter(F.col("k").cast("long") < 500), "k")
    h2 = SK.hll_registers(df.filter(F.col("k").cast("long") >= 500), "k")
    merged = {
        r["__idx"]: r["__rho"]
        for r in h1.unionByName(h2)
        .groupBy("__idx")
        .agg(F.max("__rho").alias("__rho"))
        .collect()
    }
    assert merged == {r["__idx"]: r["__rho"] for r in whole.collect()}


def test_hll_small_range_uses_linear_counting(spark):
    from kerf_spark.operators import sketches as SK

    df = spark.range(25).select(F.col("id").cast("string").alias("k"))
    est = SK.hll_estimate(SK.hll_registers(df, "k")).collect()[0]["est"]
    assert abs(est - 25) < 5


def test_asof_fills_pick_whole_rows_not_columns(spark):
    """A NULL in the nearest right row's carried column must surface as
    NULL — not fall through to an older (tolerance-violating) row's
    value.  Pins the row-atomic struct fill for all three directions."""
    from kerf_spark.operators.asof import asof_join

    t = spark.createDataFrame([("A", 100, 1)], "sym string, ts long, tid long")
    q = spark.createDataFrame(
        [("A", 10, 5.0), ("A", 90, None)], "sym string, ts long, bid double"
    )
    for kw in (
        dict(direction="nearest", tolerance_ns=20),
        dict(direction="backward", tolerance_ns=20),
        dict(direction="backward"),
    ):
        [r] = asof_join(t, q, on="ts", by="sym", **kw).collect()
        assert r["bid"] is None, kw
    # forward: nearest-after row (ts=110) carries NULL, older ts=190 has
    # a value — must stay NULL
    q2 = spark.createDataFrame(
        [("A", 110, None), ("A", 190, 7.0)], "sym string, ts long, bid double"
    )
    [r] = asof_join(
        t, q2, on="ts", by="sym", direction="forward", tolerance_ns=50
    ).collect()
    assert r["bid"] is None


def test_pagerank_releases_its_caches(spark):
    from kerf_spark.operators.graph import pagerank

    spark.catalog.clearCache()
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    )
    got = pagerank(e, iters=2)
    assert abs(sum(r["rank"] for r in got.collect()) - 1.0) < 1e-9
    # all intermediates unpersisted: nothing left in the cache manager
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.isEmpty()


def test_bloom_semi_join_exact_vs_plain_semi(spark):
    from kerf_spark.operators.curation import bloom_semi_join

    left = spark.range(20000).select(
        (F.col("id") % 9000).alias("key"), F.col("id").alias("v")
    )
    right = spark.range(400).select((F.col("id") * 17).alias("key"))
    got = sorted(
        r["v"]
        for r in bloom_semi_join(
            left, right, "key", min_right_keys=0
        ).collect()
    )
    exp = sorted(
        r["v"]
        for r in left.join(right.distinct(), "key", "left_semi").collect()
    )
    assert got == exp and len(got) > 0
    # regime guard: below the threshold the plan is the plain semi-join
    # (no embedded filter words)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        bloom_semi_join(left, right, "key").explain("simple")
    assert "element_at" not in buf.getvalue()


# -------------------------------------------------------------- validate
def test_validate_audit_single_pass_and_counts(spark):
    from kerf_spark.operators import validate as V

    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, None, "b"), (3, -1.0, "zz"), (4, 2.0, "a")],
        "id long, v double, tag string",
    )
    rep = {
        r["rule"]: (r["n_violations"], r["violation_rate"])
        for r in V.audit(
            df,
            [
                V.not_null("v"),
                V.in_range("v", 0, 10),
                V.in_set("tag", ["a", "b"]),
                V.custom("id_even", F.col("id") % 2 == 0),
            ],
        ).collect()
    }
    assert rep["not_null(v)"] == (1, 0.25)
    assert rep["in_range(v,0,10)"] == (2, 0.5)  # null counts as violating
    assert rep["in_set(tag,2 values)"] == (1, 0.25)
    assert rep["id_even"] == (2, 0.5)
    # single pass: the audit plan contains exactly one aggregate pair
    # (partial+final) and no shuffle join
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        V.audit(
            df,
            [
                V.not_null("v"),
                V.in_set("tag", ["a"]),
                # two same-kind rules on one column must not collide
                V.matches("tag", "^a"),
                V.matches("tag", "b$"),
            ],
        ).explain("simple")
    plan = buf.getvalue()
    assert plan.count("Scan") == 1 and "Join" not in plan


def test_validate_duplicates_and_orphans(spark):
    from kerf_spark.operators import validate as V

    child = spark.createDataFrame(
        [(1, "x"), (2, "y"), (9, "z"), (2, "w")], "k long, p string"
    )
    parent = spark.createDataFrame([(1,), (2,)], "k long")
    dups = {(r["k"], r["n"]) for r in V.duplicate_keys(child, "k").collect()}
    assert dups == {(2, 2)}
    orph = [r["k"] for r in V.orphans(child, parent, "k").collect()]
    assert orph == [9]


def test_scd2_history_collapses_and_closes_versions(spark):
    from kerf_spark.operators.relational import scd2_history

    log = spark.createDataFrame(
        [
            (1, 10, "a"), (1, 20, "a"), (1, 30, "b"), (1, 40, "a"),
            (2, 15, "x"),
        ],
        "k long, ts long, attr string",
    )
    rows = {
        (r["k"], r["attr"], r["valid_from"]): r["valid_to"]
        for r in scd2_history(log, "k", "ts", ["attr"]).collect()
    }
    # consecutive duplicate at ts=20 collapsed; versions chain correctly
    assert rows == {
        (1, "a", 10): 30,
        (1, "b", 30): 40,
        (1, "a", 40): None,   # open version
        (2, "x", 15): None,
    }
    # point-in-time: state at t=35 is 'b' for key 1
    hist = scd2_history(log, "k", "ts", ["attr"])
    pit = hist.where(
        (F.col("valid_from") <= 35)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > 35))
    )
    assert {(r["k"], r["attr"]) for r in pit.collect()} == {(1, "b"), (2, "x")}


def test_scd2_apply_equals_full_rebuild(spark):
    from kerf_spark.operators.relational import scd2_apply, scd2_history

    log1 = spark.createDataFrame(
        [(1, 10, "a"), (1, 30, "b"), (2, 15, "x"), (3, 5, "q")],
        "k long, ts long, attr string",
    )
    # batch touches key 1 (incl. an OUT-OF-ORDER row at ts=20) and a
    # brand-new key 4; keys 2 and 3 must pass through untouched
    log2 = spark.createDataFrame(
        [(1, 20, "c"), (1, 50, "d"), (4, 7, "n")],
        "k long, ts long, attr string",
    )
    got = {
        (r["k"], r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_apply(
            scd2_history(log1, "k", "ts", ["attr"]),
            log2, "k", "ts", ["attr"],
        ).collect()
    }
    want = {
        (r["k"], r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_history(
            log1.unionByName(log2), "k", "ts", ["attr"]
        ).collect()
    }
    assert got == want
    assert (1, "c", 20, 30) in got  # out-of-order row landed mid-history


def test_scd2_apply_collapsed_contract_and_bronze_pattern(spark):
    """The documented limitation: a batch row interleaving a collapsed
    same-state run yields collapsed-changelog semantics (the later
    re-assertion was never recorded); rebuilding from the retained RAW
    log restores full fidelity."""
    from kerf_spark.operators.relational import scd2_apply, scd2_history

    raw1 = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "a")], "k long, ts long, attr string"
    )
    late = spark.createDataFrame(
        [(1, 15, "b")], "k long, ts long, attr string"
    )
    inc = {
        (r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_apply(
            scd2_history(raw1, "k", "ts", ["attr"]),
            late, "k", "ts", ["attr"],
        ).collect()
    }
    # collapsed-changelog semantics: a@20 was never recorded, b stays open
    assert inc == {("a", 10, 15), ("b", 15, None)}
    # == the documented invariant target: collapsed C1 (just a@10) ∪ C2
    c1c2 = {
        (r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_history(
            spark.createDataFrame(
                [(1, 10, "a"), (1, 15, "b")], "k long, ts long, attr string"
            ),
            "k", "ts", ["attr"],
        ).collect()
    }
    assert inc == c1c2
    # bronze pattern: rebuild from the retained raw log -> full fidelity
    full = {
        (r["attr"], r["valid_from"], r["valid_to"])
        for r in scd2_history(
            raw1.unionByName(late), "k", "ts", ["attr"]
        ).collect()
    }
    assert full == {("a", 10, 15), ("b", 15, 20), ("a", 20, None)}


def test_bronze_log_scd2_fold_is_order_insensitive(spark):
    """The stream_scd2_history fold (bronze changelog + touched-key
    rebuild from the RAW log) must yield the full-rebuild history for
    ANY batch delivery order — including one that interleaves a
    collapsed run, the case version-only state gets wrong."""
    from kerf_spark.operators.relational import scd2_history

    batches = [
        [(1, 10, "a"), (2, 5, "x")],
        [(1, 15, "b")],          # interleaves between 1's a@10 and a@20
        [(1, 20, "a"), (3, 7, "q")],
    ]
    schema = "user_id long, tu long, state string"

    def fold(order):
        log = spark.createDataFrame([], schema)
        hist = scd2_history(log, "user_id", "tu", ["state"])
        for i in order:
            bdf = spark.createDataFrame(batches[i], schema)
            log = log.unionByName(bdf).localCheckpoint()
            touched = bdf.select("user_id").distinct()
            untouched = hist.join(touched, "user_id", "left_anti")
            rebuilt = scd2_history(
                log.join(touched, "user_id", "left_semi"),
                "user_id", "tu", ["state"],
            )
            hist = untouched.unionByName(rebuilt).localCheckpoint()
        return {
            (r["user_id"], r["state"], r["valid_from"], r["valid_to"])
            for r in hist.collect()
        }

    full = {
        (r["user_id"], r["state"], r["valid_from"], r["valid_to"])
        for r in scd2_history(
            spark.createDataFrame(sum(batches, []), schema),
            "user_id", "tu", ["state"],
        ).collect()
    }
    assert (1, "a", 20, None) in full  # the re-assertion survives
    for order in ([0, 1, 2], [2, 1, 0], [1, 2, 0]):
        assert fold(order) == full, order


def test_asof_strategies_agree_all_directions(spark, tmp_path):
    """The as-of on co-bucketed inputs (no exchange) and on the plain
    inputs (one hash exchange) must agree row for row in every
    direction, with and without tolerance — also on NULL keys (NULL =
    NULL matches, as in Spark grouping) and on double keys."""
    from pyspark.sql import functions as F

    from kerf_spark.operators.asof import asof_join, asof_join_merge

    t = spark.createDataFrame(
        [("A", 100, 1), ("A", 205, 2), ("B", 150, 3), ("A", 50, 4),
         ("A", 300, 5), ("C", 7, 6)],
        "k string, ts long, lid long",
    )
    q = spark.createDataFrame(
        [("A", 90, 1.0), ("A", 100, 2.0), ("A", 200, 3.0),
         ("A", 290, 4.0), ("B", 160, 9.0)],
        "k string, ts long, px double",
    )
    nl = spark.createDataFrame(
        [(1, 100, 10), (1, 300, 11), (2, 150, 12), (None, 120, 13),
         (None, 500, 14), (3, 50, 15)],
        "k long, ts long, lid long",
    )
    nr = spark.createDataFrame(
        [(1, 90, 1.0), (1, 250, 2.0), (2, 150, 3.0), (None, 100, 4.0),
         (None, 400, 5.0), (4, 10, 6.0)],
        "k long, ts long, px double",
    )
    dbl = F.col("k").cast("double")
    inputs = {
        "sym": (t, q),
        "null_keys": (nl, nr),
        "double_keys": (nl.withColumn("k", dbl), nr.withColumn("k", dbl)),
    }
    for name, (lf, rf) in inputs.items():
        bl, br = _cobucketed(
            spark, tmp_path / name, "k", **{f"{name}_l": lf, f"{name}_r": rf}
        )
        for direction in ("backward", "forward", "nearest"):
            for tol in (None, 15):
                a = {
                    r["lid"]: r["px"]
                    for r in asof_join(
                        lf, rf, on="ts", by="k",
                        direction=direction, tolerance_ns=tol,
                    ).collect()
                }
                merged = asof_join_merge(
                    bl, br, on="ts", by="k",
                    direction=direction, tolerance_ns=tol,
                )
                assert _exchanges(merged) == int(name == "double_keys")
                b = {r["lid"]: r["px"] for r in merged.collect()}
                assert a == b, (name, direction, tol)
                if name == "null_keys" and (direction, tol) == ("backward", None):
                    # the NULL-key rows really matched the NULL-key quotes
                    assert b[13] == 4.0 and b[14] == 5.0


def test_merge_intervals_islands_and_touching(spark):
    from kerf_spark.operators.asof import merge_intervals

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 4, 9), ("a", 9, 12), ("a", 20, 25),
         ("b", 1, 2), ("b", 2, 3), ("b", 5, 6)],
        "k string, s long, e long",
    )
    got = sorted(
        (r["k"], r["s"], r["e"])
        for r in merge_intervals(df, "s", "e", "k").collect()
    )
    # overlap merges, TOUCHING (end==next start) merges, gaps split
    assert got == [("a", 1, 12), ("a", 20, 25), ("b", 1, 3), ("b", 5, 6)]
    # contained and duplicate intervals collapse too
    df2 = spark.createDataFrame(
        [("x", 0, 10), ("x", 2, 3), ("x", 0, 10)], "k string, s long, e long"
    )
    assert [
        (r["s"], r["e"])
        for r in merge_intervals(df2, "s", "e", "k").collect()
    ] == [(0, 10)]


def test_interval_gaps_complement(spark):
    from kerf_spark.operators.asof import interval_gaps

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 4, 9), ("a", 20, 25), ("a", 30, 31),
         ("b", 1, 2)],
        "k string, s long, e long",
    )
    got = sorted(
        (r["k"], r["gap_start"], r["gap_end"])
        for r in interval_gaps(df, "s", "e", "k").collect()
    )
    assert got == [("a", 9, 20), ("a", 25, 30)]  # b: no gaps, no rows


def test_fit_memo_reuses_and_discriminates(spark):
    """The IVF/PCA sample fit is an index-build artifact: same plan +
    params reuse the cached fit (no second Spark job), different params
    or a different plan refit."""
    from kerf_spark.operators import similarity as SIM

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    SIM._FIT_CACHE.clear()
    a = SIM.fit_centroids(df, n_cells=4)
    b = SIM.fit_centroids(df, n_cells=4)
    assert a is b  # memo hit — not merely equal, the same object
    c = SIM.fit_centroids(df, n_cells=2)
    assert c is not a and len(c) == 2
    d = SIM.fit_centroids(df.filter("vec_id < 32"), n_cells=4)
    assert d is not a  # different plan -> different fit


def test_global_scan_matches_single_partition_window(spark):
    """Distributed whole-table prefix scan == the single-task global
    window, for all four closed-form aggs, with ties in the leading
    order column and a custom coarser bucket expression."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kerf_spark.operators.windows import global_scan

    df = spark.createDataFrame(
        [(i, i % 13, float((i * 7919) % 101) - 50.0) for i in range(400)],
        "rid long, g long, v double",
    ).repartition(7)
    order = ["g", "rid"]
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for agg, ref in [
        ("sum", F.sum), ("min", F.min), ("max", F.max), ("count", F.count)
    ]:
        got = {
            r["rid"]: r["run"]
            for r in global_scan(df, "v", order, agg=agg).collect()
        }
        want = {
            r["rid"]: r["w"]
            for r in df.select("rid", ref("v").over(w).alias("w")).collect()
        }
        assert got == want, agg
    # custom bucket: coarser than the leading column but order-aligned
    got = {
        r["rid"]: r["run"]
        for r in global_scan(
            df, "v", order, agg="sum", bucket=(F.col("g") - F.col("g") % 4)
        ).collect()
    }
    want = {
        r["rid"]: r["w"]
        for r in df.select("rid", F.sum("v").over(w).alias("w")).collect()
    }
    assert got == want


def test_global_rank_is_dense_total_order(spark):
    from kerf_spark.operators.windows import global_rank

    df = spark.createDataFrame(
        [(i, (i * 31) % 10) for i in range(100)], "rid long, g long"
    ).repartition(5)
    got = {r["rid"]: r["rn"] for r in global_rank(df, ["g", "rid"]).collect()}
    want = {
        rid: i + 1
        for i, (g, rid) in enumerate(
            sorted(((v * 31) % 10, v) for v in range(100))
        )
    }
    assert got == want


def test_chunked_moving_equals_plain_moving_window(spark):
    """Borrowed-tail chunked moving aggregates == the single-partition
    per-key window, including across chunk boundaries and at series
    starts (truncated frames)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kerf_spark.operators.windows import chunked_moving

    df = spark.createDataFrame(
        [(i % 2, i, float((i * 37) % 19)) for i in range(300)],
        "k long, pos long, v double",
    ).repartition(6)
    n = 7
    got = chunked_moving(
        df,
        {"ms": ("sum", "v"), "mc": ("count", "v"), "mx": ("max", "v")},
        n=n,
        by=["k"],
        order=["pos"],
        chunk=(F.col("pos") - F.col("pos") % 25),
    )
    w = Window.partitionBy("k").orderBy("pos").rowsBetween(-(n - 1), 0)
    ref = df.select(
        "k", "pos",
        F.sum("v").over(w).alias("rs"),
        F.count("v").over(w).alias("rc"),
        F.max("v").over(w).alias("rx"),
    )
    j = got.join(ref, ["k", "pos"])
    bad = j.filter(
        (F.col("ms") != F.col("rs"))
        | (F.col("mc") != F.col("rc"))
        | (F.col("mx") != F.col("rx"))
    )
    assert got.count() == 300
    assert bad.count() == 0


def test_global_rank_grouped_matches_per_key_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kerf_spark.operators.windows import global_rank

    df = spark.createDataFrame(
        [(i % 3, (i * 17) % 50, i) for i in range(240)],
        "flag long, price long, rid long",
    ).repartition(5)
    got = global_rank(
        df, ["price", "rid"], by=["flag"],
        bucket=(F.col("price") - F.col("price") % 10),
    )
    w = Window.partitionBy("flag").orderBy("price", "rid")
    ref = df.select("flag", "rid", F.row_number().over(w).alias("rn_ref"))
    bad = got.join(ref, ["flag", "rid"]).filter("rn <> rn_ref")
    assert bad.count() == 0


def test_pq_encode_and_adc_match_python_reference(spark):
    """PQ codes and ADC ranking equal an independent pure-Python
    implementation on a small synthetic corpus."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import similarity as SIM

    dim, m, kcw = 8, 4, 4
    rows = [
        (i, [float(((i * 31 + d * 17) % 23) - 11) for d in range(dim)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    SIM._FIT_CACHE.clear()
    books = SIM.pq_fit(df, m=m, k=kcw, dim=dim)
    sub = dim // m

    def py_codes(v):
        out = []
        for j in range(m):
            sl = v[j * sub:(j + 1) * sub]
            d2 = [
                sum((a - b) * (a - b) for a, b in zip(sl, cw))
                for cw in books[j]
            ]
            out.append(d2.index(min(d2)))
        return out

    got = {
        r["vec_id"]: list(r["codes"])
        for r in SIM.pq_encode(df, books).collect()
    }
    assert got == {i: py_codes(v) for i, v in rows}

    def py_adc(q, codes):
        tot = 0.0
        for j in range(m):
            sl = q[j * sub:(j + 1) * sub]
            cw = books[j][codes[j]]
            tot += sum((a - b) * (a - b) for a, b in zip(sl, cw))
        return tot

    qs = df.filter("vec_id < 3")
    got_topk = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in SIM.pq_topk(df, qs, books, k=4).collect()
    }
    for qid, qv in rows[:3]:
        ref = sorted(
            ((py_adc(qv, py_codes(v)), i) for i, v in rows if i != qid)
        )[:4]
        for rank, (_, nid) in enumerate(ref, start=1):
            assert got_topk[(qid, rank)] == nid, (qid, rank)


def test_global_scan_null_values_match_plain_window(spark):
    """A bucket whose leading rows are all-NULL must still carry the
    prior buckets' running aggregate forward (the null-safe combine)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kerf_spark.operators.windows import global_scan

    rows = [
        (0, 1.0), (1, 2.0),            # bucket 0
        (10, None), (11, None),        # bucket 1: all null
        (12, 4.0),
        (20, None), (21, 8.0),         # bucket 2: null-leading
    ]
    df = spark.createDataFrame(rows, "pos long, v double").repartition(3)
    w = Window.orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for agg, ref in [("sum", F.sum), ("min", F.min), ("max", F.max)]:
        got = {
            r["pos"]: r["run"]
            for r in global_scan(
                df, "v", ["pos"], agg=agg,
                bucket=(F.col("pos") - F.col("pos") % 10),
            ).collect()
        }
        want = {
            r["pos"]: r["w"]
            for r in df.select("pos", ref("v").over(w).alias("w")).collect()
        }
        assert got == want, agg


def test_cluster_best_survivors_policy(spark):
    from kerf_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (9, 7)],  # 9 is a singleton
        "doc_id long, n_chars long",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster long"
    )
    got = {
        r["cluster"]: (r["keep_id"], r["quality"], r["cluster_size"])
        for r in DD.cluster_best_survivors(docs, clusters, "n_chars").collect()
    }
    assert got[1] == (2, 50, 3)  # best quality; tie (2 vs 3) -> smaller id
    assert got[9] == (9, 7, 1)   # singleton survives as its own cluster


def test_chunked_moving_with_nulls_matches_plain_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kerf_spark.operators.windows import chunked_moving

    rows = [
        (i, None if i % 5 == 0 else float(i % 11)) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "pos long, v double").repartition(4)
    got = chunked_moving(
        df.withColumn("k", F.lit(1)),
        {"ms": ("sum", "v"), "mc": ("count", "v")},
        n=9,
        by=["k"],
        order=["pos"],
        chunk=(F.col("pos") - F.col("pos") % 20),
    )
    w = Window.partitionBy(F.lit(1)).orderBy("pos").rowsBetween(-8, 0)
    ref = df.select(
        "pos", F.sum("v").over(w).alias("rs"), F.count("v").over(w).alias("rc")
    )
    bad = got.join(ref, "pos").filter(
        (~F.col("ms").eqNullSafe(F.col("rs"))) | (F.col("mc") != F.col("rc"))
    )
    assert bad.count() == 0


def test_ann_recall_meters_the_approximate_paths(spark):
    """recall(approx vs exact) is 1.0 for exact-vs-itself, in (0, 1]
    for IVF and PQ on the fixture corpus, and counts hits correctly."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import similarity as SIM
    from kerf_spark.sources.io import read_table

    em = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = em.where(F.col("vec_id") < 4)
    exact = SIM.cosine_topk(em, q, k=5)
    self_recall = SIM.ann_recall(exact, exact).agg(
        F.min("recall").alias("m")
    ).head()["m"]
    assert self_recall == 1.0
    ivf = SIM.ivf_topk(em, q, k=5, n_cells=4, nprobe=2)
    r = SIM.ann_recall(ivf, exact)
    rows = {x["query_id"]: x for x in r.collect()}
    assert len(rows) == 4
    assert all(0.0 <= x["recall"] <= 1.0 for x in rows.values())
    assert all(x["n_exact"] == 5 for x in rows.values())
    mean = r.agg(F.avg("recall").alias("a")).head()["a"]
    assert mean > 0.2  # coarse IVF on a tiny corpus still finds some


def test_volume_bars_blocks_are_threshold_sized(spark):
    from pyspark.sql import functions as F

    from kerf_spark.operators.windows import volume_bars

    df = spark.createDataFrame(
        [(1, i, 10.0) for i in range(30)], "k long, pos long, vol double"
    ).repartition(3)
    out = volume_bars(
        df, "vol", threshold=100.0, order=["pos"], by=["k"],
        bucket=(F.col("pos") - F.col("pos") % 7),
    )
    got = {r["pos"]: r["bar_id"] for r in out.collect()}
    # 30 rows x 10 vol at threshold 100 -> bars of exactly 10 rows
    assert got == {p: p // 10 for p in range(30)}


def test_global_scan_null_group_keys_carry_offsets(spark):
    """NULL by-keys and NULL bucket values are ordinary groups to the
    window/groupBy; the offset join must match them too (null-safe
    join), or their running totals silently reset at bucket edges."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kerf_spark.operators.windows import global_scan

    rows = [(i, None if i % 2 else "a", float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "pos long, k string, v double")
    got = {
        (r["k"], r["pos"]): r["run"]
        for r in global_scan(
            df, "v", ["pos"], agg="sum", by=["k"],
            bucket=(F.col("pos") - F.col("pos") % 10),
        ).collect()
    }
    w = Window.partitionBy("k").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        (r["k"], r["pos"]): r["w"]
        for r in df.select("k", "pos", F.sum("v").over(w).alias("w")).collect()
    }
    assert got == want


def test_cluster_best_survivors_string_ids(spark):
    from kerf_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [("a", 10), ("b", 50), ("c", 50), ("z", 7)],
        "doc_id string, n_chars long",
    )
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a")], "doc_id string, cluster string"
    )
    got = {
        r["cluster"]: (r["keep_id"], r["quality"], r["cluster_size"])
        for r in DD.cluster_best_survivors(docs, clusters, "n_chars").collect()
    }
    assert got["a"] == ("b", 50, 3)  # best quality, tie -> min string id
    assert got["z"] == ("z", 7, 1)


def test_chunked_moving_validate_raises_on_short_interior_chunk(spark):
    """An interior (series, chunk) group with < n-1 rows would silently
    truncate its successor's trailing frames; validate=True (default)
    must refuse instead (ADVICE r5)."""
    import pytest
    from pyspark.sql import functions as F

    from kerf_spark.operators.windows import chunked_moving

    # chunk 0: rows 0-9; chunk 1: ONE row (pos 10); chunk 2: rows 20-29
    # — chunk 1 is interior and holds 1 < n-1 = 6 rows
    df = spark.createDataFrame(
        [(0, p, 1.0) for p in [*range(10), 10, *range(20, 30)]],
        "k long, pos long, v double",
    )
    kw = dict(
        aggs={"ms": ("sum", "v")},
        n=7,
        by=["k"],
        order=["pos"],
        chunk=(F.col("pos") - F.col("pos") % 10),
    )
    with pytest.raises(ValueError, match="interior chunk"):
        chunked_moving(df, **kw)
    # short FIRST chunk is legal (frames truncate at series start)
    df2 = spark.createDataFrame(
        [(0, p, 1.0) for p in [5, *range(10, 30)]],
        "k long, pos long, v double",
    )
    assert chunked_moving(df2, **kw).count() == 21
    # validate=False keeps the old behavior for known-safe chunkings
    assert chunked_moving(df, **kw, validate=False).count() == 21


def test_two_phase_topk_bounded_windows_and_layout_invariance(
    spark, monkeypatch
):
    """On the scale path (forced via the threshold) cosine_topk's
    ranking must be two bounded windows — local rank within
    (query_id, input slice), then a final rank over the |slices|*k
    survivors — never one corpus-sized partition per query (the r5
    verdict's one genuine 100x-scale flaw).  The result must not
    depend on the partition layout, and must equal the small-corpus
    single-window shape row-for-row (same total order)."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import similarity as SIM
    from kerf_spark.operators.similarity import cosine_topk

    rows = [
        (i, [float((i * 7 + j * 13) % 11) for j in range(4)])
        for i in range(200)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        rows[:3], "vec_id long, embedding array<float>"
    )
    # small path first (createDataFrame corpora have no inputFiles, but
    # the count memo still resolves): one window, no __slice
    small = cosine_topk(corpus.repartition(13), queries, k=5)
    small_rows = sorted(map(tuple, small.collect()))
    monkeypatch.setattr(SIM, "_SINGLE_WINDOW_MAX_ROWS", -1)
    got = cosine_topk(corpus.repartition(13), queries, k=5)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    # the local phase partitions by (query_id, __slice) — a window
    # partitioned by query_id ALONE over the scored corpus is the
    # scale bug this guards against
    assert "__slice" in plan, plan
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, cosine_topk(corpus.coalesce(1), queries, k=5).collect()))
    assert a == b
    assert a == small_rows  # shape choice is invisible in the rows
    per_q = {}
    for q, n, c, r in a:
        per_q.setdefault(q, []).append(r)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_atlas_doc_set_preserves_siblings_and_types(spark):
    """Schemaless amend must keep untouched fields' TYPES through the
    round-trip (numbers stay numbers, strings stay quoted) and create
    missing intermediate objects."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import atlas as A

    df = spark.createDataFrame(
        [('{"k": 69, "s": "pro", "nest": {"b": 1}, "f": 1.5, "t": true}',)],
        "doc string",
    )
    got = df.select(
        A.doc_set("doc", ["nest", "tier"], F.lit('"gold"')).alias("a"),
        A.doc_set("doc", ["made", "up", "deep"], F.lit("7")).alias("b"),
        A.doc_drop("doc", ["nest", "b"]).alias("c"),
        A.doc_drop("doc", ["missing", "x"]).alias("d"),
    ).collect()[0]
    assert got.a == (
        '{"k":69,"s":"pro","f":1.5,"t":true,'
        '"nest":{"b":1,"tier":"gold"}}'
    )
    assert '"made":{"up":{"deep":7}}' in got.b
    assert got.c == '{"k":69,"s":"pro","f":1.5,"t":true,"nest":{}}'
    # dropping inside a missing subtree must not create the subtree
    assert got.d == '{"k": 69, "s": "pro", "nest": {"b": 1}, "f": 1.5, "t": true}'


def test_atlas_schema_profile_promotion_lattice(spark):
    from kerf_spark.operators import atlas as A

    df = spark.createDataFrame(
        [('{"a": 1, "b": 1, "c": true}',),
         ('{"a": 1.5, "b": "x", "c": null}',)],
        "doc string",
    )
    got = {
        r["key"]: (r["n_docs"], r["n_null"], r["promoted_type"])
        for r in A.schema_profile(df, "doc").collect()
    }
    assert got["a"] == (2, 0, "double")    # bigint + double -> double
    assert got["b"] == (2, 0, "varchar")   # bigint + varchar -> varchar
    assert got["c"] == (2, 1, "boolean")   # null never demotes


def test_ann_recall_meets_threshold(spark):
    """The approximate paths must hold their stated mean recall@5
    against the exact scan on the fixture embeddings (r5 verdict item
    5: the one number that justifies the approximate paths;
    deterministic given the layout-invariant fits).  Raw PQ ADC is
    DELIBERATELY low-recall (8-byte codes, no refinement — the
    32x-compression tradeoff the docstring states); the serving
    answer is pq_rerank."""
    from kerf_spark.queries import QUERIES

    rows = QUERIES["ann_recall_meter"](spark, "/root/testdata/sf0.001").collect()
    by_method = {}
    for r in rows:
        by_method.setdefault(r["method"], []).append(r["recall"])
    # ivfpq compounds the IVF pruning loss with ADC ranking loss —
    # its ceiling is the IVF probe recall; the exact rerank only
    # recovers within probed cells
    floors = {"ivf": 0.7, "pq": 0.15, "pq_rerank": 0.7, "ivfpq": 0.5}
    assert set(by_method) == set(floors)
    for method, floor in floors.items():
        recalls = by_method[method]
        mean = sum(recalls) / len(recalls)
        assert mean >= floor, f"{method} mean recall {mean} < {floor}: {recalls}"


def test_atlas_frag_brace_string_and_null_key_rand(spark):
    """Review regressions: (1) a brace/bracket-wrapped STRING value
    must be re-quoted, not passed through as a 'JSON literal' (a shape
    regex corrupted the whole document); (2) a literal-with-trailing-
    newline string stays a string; (3) rand_det draws NULL for a NULL
    key instead of silently skipping it."""
    import json

    from pyspark.sql import functions as F

    from kerf_spark.functions.scalars import rand_det
    from kerf_spark.operators import atlas as A

    doc = json.dumps({"s": "{hello}", "b": "[a] b [c]", "n": "123\n", "k": 1})
    df = spark.createDataFrame([(doc,)], "doc string")
    upd = A.doc_set("doc", "NEW", F.lit("7"))
    r = df.select(
        F.from_json(upd, "map<string,string>").isNotNull().alias("valid"),
        F.get_json_object(upd, "$.s").alias("s"),
        F.get_json_object(upd, "$.b").alias("b"),
        F.get_json_object(upd, "$.n").alias("n"),
        F.get_json_object(upd, "$.k").alias("k"),
        F.get_json_object(upd, "$.NEW").alias("new"),
    ).collect()[0]
    assert r["valid"], "document corrupted by serializer"
    assert r["s"] == "{hello}"
    assert r["b"] == "[a] b [c]"
    assert r["n"] == "123\n"
    assert r["k"] == "1"
    assert r["new"] == "7"
    # nested navigation refuses JSONPath metacharacters in the path
    import pytest

    with pytest.raises(ValueError, match="metacharacters"):
        A.doc_set("doc", ["a.b", "t"], F.lit("1"))
    # rand_det: NULL key -> NULL draw (concat propagates, like the SQL twin)
    t = spark.createDataFrame([(1,), (None,)], "k long")
    got = {r2["k"]: r2["u"] for r2 in t.select(
        "k", rand_det(42, "k").alias("u")).collect()}
    assert got[1] is not None and got[None] is None


def test_rand_pcg_golden_stream_and_layout_invariance(spark):
    """rand_pcg(seed, k) must be draw k of numpy's
    Generator(PCG64(seed)).random() stream BITWISE (the reference's
    reproducible-stream contract, rng.h:18) on any partition layout,
    in any key order, with NULL keys drawing NULL.  First three
    PCG64(42) draws pinned as literals so a numpy behavior change
    (or a broken advance-delta) fails loudly rather than silently
    agreeing with itself."""
    from numpy.random import PCG64, Generator

    from kerf_spark.functions.scalars import rand_pcg

    golden = [
        0.7739560485559633,
        0.4388784397520523,
        0.8585979199113825,
    ]
    want = Generator(PCG64(42)).random(64)
    assert [want[0], want[1], want[2]] == golden
    # shuffled keys over a skewed layout: the advance-delta walk must
    # handle backward jumps (negative delta mod 2^128)
    keys = [(k,) for k in [63, 0, 17, 5, 62, 1, None, 33, 2]]
    t = spark.createDataFrame(keys, "k long").repartition(4)
    got = {r.k: r.u for r in t.select(
        "k", rand_pcg(42, "k").alias("u")).collect()}
    assert got[None] is None
    for k in [63, 0, 17, 5, 62, 1, 33, 2]:
        assert got[k] == want[k], k


def test_fit_memo_refits_when_data_rewritten_under_same_path(spark, tmp_path):
    """The fit memo must fold a data-freshness signal into its key:
    rewriting the parquet under an unchanged path (same plan, same
    semantic hash) has to produce a REFIT, not a stale cached fit
    (ADVICE r5: staleness was documented; now it's handled for any
    locally-resolvable listing)."""
    import time

    from kerf_spark.operators import similarity as SIM

    p = str(tmp_path / "vecs")
    rows1 = [(i, [float(i + j) for j in range(4)]) for i in range(64)]
    spark.createDataFrame(
        rows1, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df1 = spark.read.parquet(p)
    c1 = SIM.fit_centroids(df1, n_cells=2, iters=1)
    # rewrite DIFFERENT data under the same path (mtime tick ensured)
    time.sleep(0.01)
    rows2 = [(i, [float(1000 - i * 3 + j) for j in range(4)]) for i in range(64)]
    spark.createDataFrame(
        rows2, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df2 = spark.read.parquet(p)
    c2 = SIM.fit_centroids(df2, n_cells=2, iters=1)
    assert c1 != c2, "stale fit served after the data changed under the path"


def test_chunked_moving_validate_catches_nonmonotone_chunk(spark):
    """A chunk expression that is not monotone in the leading order
    column (chunking on one key while ordering by another) silently
    corrupts every boundary frame; validate=True must refuse."""
    import pytest
    from pyspark.sql import functions as F

    from kerf_spark.operators.windows import chunked_moving

    # order by `d`, but chunk on `k` which is anti-correlated with d
    df = spark.createDataFrame(
        [(i, 100 - i, float(i)) for i in range(100)],
        "d long, k long, v double",
    )
    with pytest.raises(ValueError, match="not monotone"):
        chunked_moving(
            df,
            {"ms": ("sum", "v")},
            n=5,
            by=[],
            order=["d"],
            chunk=(F.col("k") - F.col("k") % 20),
        )


def test_atlas_doc_rename_in_place(spark):
    """Rename keeps document position (unlike drop+set), is a no-op on
    a missing key, and last-wins over an existing target key."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import atlas as A

    df = spark.createDataFrame(
        [('{"a": 1, "b": "x", "c": true}',)], "doc string"
    )
    got = df.select(
        A.doc_rename("doc", "b", "bb").alias("r1"),
        A.doc_rename("doc", "zz", "b2").alias("r2"),
        A.doc_rename("doc", "a", "c").alias("r3"),
    ).collect()[0]
    assert got.r1 == '{"a":1,"bb":"x","c":true}'       # in place
    assert got.r2 == '{"a": 1, "b": "x", "c": true}'   # no-op, untouched
    assert got.r3 == '{"c":1,"b":"x"}'                 # last-wins over c


def test_atlas_doc_rename_to_self_is_noop(spark):
    """Review regression: rename-to-self must not delete the field (the
    key != new pre-filter used to drop it before the rename saw it)."""
    from kerf_spark.operators import atlas as A

    df = spark.createDataFrame([('{"a": 1, "b": "x"}',)], "doc string")
    got = df.select(A.doc_rename("doc", "b", "b").alias("r")).collect()[0]
    assert got.r == '{"a": 1, "b": "x"}'


def test_atlas_doc_find_predicates(spark):
    """doc_find: typed + text predicates AND together; a missing field
    extracts NULL and never matches; unknown ops raise."""
    import pytest

    from kerf_spark.operators import atlas as A

    df = spark.createDataFrame(
        [
            (1, '{"k": 14, "meta": {"band": "hi"}}'),
            (2, '{"k": 14, "meta": {"band": "lo"}}'),
            (3, '{"k": 3, "meta": {"band": "hi"}}'),
            (4, '{"meta": {"band": "hi"}}'),          # k missing
            (5, '{"k": 21}'),                          # band missing
        ],
        "id long, doc string",
    )
    got = A.doc_find(
        df, "doc",
        [("meta.band", None, "=", "hi"), ("k", "long", ">=", 10)],
    )
    assert [r["id"] for r in got.select("id").orderBy("id").collect()] == [1]
    with pytest.raises(ValueError, match="unknown op"):
        A.doc_find(df, "doc", [("k", "long", "~", 1)])


def test_round_half_up_matches_engines():
    """atlas.round_half_up is half-AWAY (F.round / oracle round), not
    Python's half-to-even."""
    from kerf_spark.operators.atlas import round_half_up

    assert round_half_up(0.0625, 3) == 0.063      # builtin round: 0.062
    assert round_half_up(-0.0625, 3) == -0.063    # away from zero
    assert round_half_up(12.5) == 13.0            # builtin round: 12
    assert round_half_up(0.7372, 3) == 0.737      # non-tie unchanged


def test_cosine_radius_matches_bruteforce(spark):
    """cosine_radius against a python brute force: membership at the
    rounded threshold boundary and the rounded cosine values agree."""
    import math

    from kerf_spark.operators import similarity as S

    rows = [
        (i, [((i * 7 + j * 13) % 11) / 10.0 - 0.5 for j in range(8)])
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    thr = 0.5
    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in S.cosine_radius(
            df, df.where(F.col("vec_id") < 3), thr
        ).collect()
    }
    want = {}
    for qid, qv in rows[:3]:
        for nid, nv in rows:
            if nid == qid:
                continue
            d = sum(x * y for x, y in zip(qv, nv))
            nq = math.sqrt(sum(x * x for x in qv))
            nn = math.sqrt(sum(x * x for x in nv))
            if nq == 0 or nn == 0:
                continue
            c = round(d / (nq * nn), 6)
            if c >= thr:
                want[(qid, nid)] = c
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9


def test_fp16_pack_unpack_roundtrip_and_nulls(spark):
    """fp16 storage (FLOAT1, enums.h:197): pack is IEEE binary16 (2
    bytes/dim), unpack widens exactly, NULL vectors stay NULL, and the
    round-trip equals numpy's astype(f2).astype(f4) bitwise — so the
    packed column is a drop-in half-storage embedding lake format."""
    import numpy as np

    from kerf_spark.operators.similarity import fp16_pack, fp16_unpack

    vecs = [
        [0.1, -2.5, 65504.0, 1e-8],   # incl. fp16 max + a subnormal-ish
        [0.0, 1.0, -1.0, 3.14159],
    ]
    rows = [(i, v) for i, v in enumerate(vecs)] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: (r.packed, r.rt)
        for r in df.select(
            "vec_id",
            fp16_pack("embedding").alias("packed"),
            fp16_unpack(fp16_pack("embedding")).alias("rt"),
        ).collect()
    }
    assert out[99] == (None, None)
    for i, v in enumerate(vecs):
        packed, rt = out[i]
        assert len(packed) == 2 * len(v)
        want = np.asarray(v, dtype="<f4").astype("<f2").astype("<f4")
        assert rt == want.tolist(), i
        assert packed == np.asarray(v, dtype="<f2").tobytes()


def test_hist_sketch_quantiles_bounded_error_and_merge(spark):
    """The histogram sketch's two contracts: quantile estimates land
    within one bin width of the exact quantile, and sketches merge by
    plain cnt-sum (build(a ∪ b) == merge(build(a), build(b)))."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import sketches as SK

    lo, hi, nb = 0.0, 100.0, 50
    width = (hi - lo) / nb
    vals_a = [float(x) for x in range(0, 80)]
    vals_b = [float(x) for x in range(40, 100)] + [250.0, -10.0]  # clamped
    a = spark.createDataFrame([(v,) for v in vals_a], "value double")
    b = spark.createDataFrame([(v,) for v in vals_b], "value double")
    u = a.unionByName(b)

    ha = SK.hist_build(a, "value", lo, hi, nb)
    hb = SK.hist_build(b, "value", lo, hi, nb)
    hu = SK.hist_build(u, "value", lo, hi, nb)
    merged = (
        ha.unionByName(hb).groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, hu.collect())) == sorted(
        map(tuple, merged.collect())
    )

    import statistics

    allv = sorted(max(lo, min(v, hi - 1e-9)) for v in vals_a + vals_b)
    for q in (0.1, 0.5, 0.9):
        est = SK.hist_quantile(hu, q, lo, hi, nb).collect()[0]["quantile"]
        exact = allv[max(0, -1 + max(1, int(-(-q * len(allv) // 1))))]
        assert abs(est - exact) <= width + 1e-9, (q, est, exact)


def test_hist_sketch_grouped_constant_size(spark):
    from kerf_spark.operators import sketches as SK

    rows = [("a", float(i % 7)) for i in range(1000)] + [
        ("b", float(i % 13)) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, value double")
    h = SK.hist_build(df, "value", 0.0, 16.0, 16, by=("g",))
    # constant cell count per group no matter the input rows
    assert h.count() <= 2 * 16
    p50 = SK.hist_quantile(h, 0.5, 0.0, 16.0, 16, by=("g",), out="p50")
    got = {r["g"]: r["p50"] for r in p50.collect()}
    assert set(got) == {"a", "b"}
    assert 2.0 <= got["a"] <= 4.0   # median of uniform 0..6 ≈ 3
    assert 5.0 <= got["b"] <= 7.0   # median of uniform 0..12 ≈ 6


def test_ppjoin_exact_beats_char_prefix_blocking(spark):
    """ppjoin_pairs has zero false negatives by the prefix-filtering
    theorem; the char-prefix heuristic misses near-dups whose first
    chars differ.  Engineer exactly that case and check both claims,
    plus brute-force equality."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from kerf_spark.operators import dedup as DD

    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "zzz " + body),           # same body, wildly different
        (1, "aaa " + body),           # leading characters
        (2, body + " extra tail words here"),
        (3, "unrelated totally different words nothing shared at all"),
        (4, "aaa " + body),           # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tau = 0.5
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ppjoin_pairs(df, threshold=tau).collect()
    }

    def shingles(t):
        ws = t.lower().split()
        return {
            " ".join(ws[i:i + 3]) for i in range(max(len(ws) - 2, 1))
        } if len(ws) >= 3 else {" ".join(ws)}

    want = {}
    for (ia, ta), (ib, tb) in combinations([(i, t) for i, t in rows], 2):
        sa, sb = shingles(ta), shingles(tb)
        j = len(sa & sb) / len(sa | sb)
        if j >= tau:
            want[(min(ia, ib), max(ia, ib))] = j
    assert set(got) == set(want)
    for k_, v in want.items():
        assert abs(got[k_] - v) < 1e-12
    # the engineered miss: 0 and 1 share the body but no 32-char prefix
    assert (0, 1) in got
    blocked = {
        (r["id_a"], r["id_b"])
        for r in DD.prefix_jaccard_pairs(df, threshold=tau).collect()
    }
    assert (0, 1) not in blocked  # the heuristic really does miss it


def test_ppjoin_cap_is_opt_in_and_audited(spark):
    """ADVICE r7: ppjoin_pairs must be exact with DEFAULT arguments —
    the bucket cap is strictly opt-in, and when a corpus would trigger
    it, ppjoin_prefix_buckets surfaces the hot bucket BEFORE the user
    opts in.  Engineer a hot prefix shingle (many near-dup docs share
    their rarest shingles) and check: (a) the audit reports a bucket
    larger than the cap, (b) default ppjoin_pairs finds every
    brute-force pair anyway, (c) the capped variant finds strictly
    fewer — the documented degradation, loud not silent."""
    from itertools import combinations

    from kerf_spark.operators import dedup as DD

    # 12 docs sharing one body → every prefix shingle bucket holds all 12
    body = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, f"tag{i} " + body) for i in range(12)] + [
        (99, "unrelated totally different words nothing shared at all")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tau = 0.5
    cap = 4

    buckets = {
        r["s"]: r["bucket_n"]
        for r in DD.ppjoin_prefix_buckets(df, threshold=tau).collect()
    }
    assert max(buckets.values()) > cap  # (a) audit flags the hot bucket

    def shingles(t):
        ws = t.lower().split()
        return {" ".join(ws[i:i + 3]) for i in range(max(len(ws) - 2, 1))}

    want = set()
    for (ia, ta), (ib, tb) in combinations(rows, 2):
        sa, sb = shingles(ta), shingles(tb)
        if len(sa & sb) / len(sa | sb) >= tau:
            want.add((min(ia, ib), max(ia, ib)))

    exact = {
        (r["id_a"], r["id_b"])
        for r in DD.ppjoin_pairs(df, threshold=tau).collect()
    }
    assert exact == want  # (b) default arguments stay exact

    capped = {
        (r["id_a"], r["id_b"])
        for r in DD.ppjoin_pairs(df, threshold=tau, max_bucket=cap).collect()
    }
    assert capped < exact  # (c) opting in degrades — visibly
