"""Plan-shape guards + property tests.

Plan tests pin the *scale* properties the engine is designed around:
filters reach the parquet scan, projections prune the read schema, dims
broadcast, top-k never globally sorts, the as-of join shuffles exactly
once.  These are the properties that decide 100 TB behavior; value
correctness is covered by the oracle harness.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kerf_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


# ------------------------------------------------------------ plan shape
def test_q1_scan_pushes_filter_and_prunes_columns(spark):
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan
    # projection pruning: untouched wide columns never reach the scan
    assert "l_comment" not in plan
    assert "l_partkey" not in plan


def test_q3_broadcasts_dimension_side(spark):
    plan = plan_of(QUERIES["q3_shipping_priority"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort


def test_top_k_uses_take_ordered(spark):
    plan = plan_of(QUERIES["top_k_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "GlobalSort" not in plan


def test_positional_family_cuts_before_numbering(spark):
    """index_gather/amend_point/delete_point must bound the ordered
    slice with TakeOrderedAndProject before any row numbering, and
    find_first must be windowless — no query in the positional family
    may globally sort or window the full table (r02 verdict fix)."""
    for name in ("index_gather", "amend_point", "delete_point"):
        plan = plan_of(QUERIES[name](spark, SF))
        assert "TakeOrderedAndProject" in plan, name
        # any Sort left is inside the bounded slice, never global
        assert "Sort [" not in plan.split("TakeOrderedAndProject")[0], name
    plan = plan_of(QUERIES["find_first"](spark, SF))
    assert "Window" not in plan
    assert "Sort [" not in plan


def test_asof_join_shuffles_exactly_once(spark):
    """On inputs not clustered on the by-key, through both entry
    points (asof_join_merge is the keyed alias of the same plan)."""
    from kerf_spark.operators.asof import asof_join, asof_join_merge

    t = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 20, 2.0)], "sym string, ts_ns long, price double"
    )
    q = spark.createDataFrame(
        [("a", 5, 0.9), ("a", 15, 1.9)], "sym string, ts_ns long, bid double"
    )
    for fn in (asof_join, asof_join_merge):
        plan = plan_of(fn(t, q, on="ts_ns", by="sym"), "simple")
        # one hash-partitioning exchange for the window; unions are
        # shuffle-free
        assert plan.count("Exchange hashpartitioning") == 1, fn.__name__


def test_bucketed_asof_runs_with_zero_exchanges(spark):
    """The zero-shuffle as-of: both sides bucketed on the by-key, the
    window plan's union inherits the bucketed scans' distribution, and
    the executed plan contains NO Exchange of any kind."""
    df = QUERIES["asof_bucketed_colocated"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0


def test_folio_scan_prunes_partitions(spark):
    df = QUERIES["folio_partition_prune"](spark, SF)
    plan = plan_of(df)
    # the date filter must be a partition filter on the scan, not a row filter
    assert "PartitionFilters" in plan
    assert "date#" in plan.split("PartitionFilters", 1)[1][:400]


def test_corpus_assembly_plan_shapes(spark):
    """sequence_packing windows per shard (exactly one exchange for the
    window+agg chain reuses it), script_detect is a pure projection
    (zero exchanges), shuffle_order bounds with TakeOrderedAndProject."""
    plan = plan_of(QUERIES["script_detect_docs"](spark, SF), "simple")
    assert "Exchange" not in plan

    plan = plan_of(QUERIES["corpus_shuffle_order"](spark, SF))
    assert "TakeOrderedAndProject" in plan

    plan = plan_of(QUERIES["sequence_packing"](spark, SF), "simple")
    # one hash exchange on the shard key for the window; the pack_id
    # aggregate on top may add its own — but never a global (single
    # partition) exchange
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_transpose_shuffles_once_on_uniform_position_key(spark):
    from kerf_spark.operators.relational import transpose_vectors

    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1), float(i + 2)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    plan = plan_of(transpose_vectors(df, "vec_id", "embedding"), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_kerf_lang_lambda_stays_jvm_side(spark):
    """A traced lambda lands in Catalyst as a plain expression: the
    plan must contain no Python evaluation operator."""
    from kerf_spark.plans import kerf_lang as KL
    from kerf_spark.sources.io import read_table

    df = KL.run_df(
        spark,
        "disc: {[p, d] p * (1 - d)}\n"
        "select s: sum(disc(l_extendedprice, l_discount)) from lineitem",
        tables={"lineitem": read_table(spark, SF, "lineitem")},
    )
    plan = plan_of(df)
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython
    assert "partial_sum" in plan  # still a map-side-combined aggregate


def test_kerf_lang_inlined_stamp_pushes_down(spark, tmp_path):
    """A script variable inlined into a range predicate must reach the
    parquet scan as a pushed filter — on the engine's NATIVE storage.

    The fixture's events file may be µs-physical (TIMESTAMP(MICROS)):
    there the read edge promotes ts to epoch-ns long via a projection
    (sources.io.normalize_ts_ns), and no pure-cast chain exists that
    Catalyst's UnwrapCastInBinaryComparison could invert, so row-group
    range skipping on the raw column is structurally unavailable (date
    partition pruning still applies — test_folio_scan_prunes_partitions).
    The reference resolves exactly this by re-widthing ON APPEND
    (layout.cc:726-934): once data lands in native storage, it is
    native-width.  Same here: after one Workspace.save, ts is physical
    INT64 ns and the same script's predicate pushes fully.
    """
    from kerf_spark.plans import kerf_lang as KL
    from kerf_spark.sources.catalog import Workspace
    from kerf_spark.sources.io import read_table

    ws = Workspace(spark, str(tmp_path / "ws"))
    ws.save("events", read_table(spark, SF, "events"))
    native = ws.load("events")
    assert dict(native.dtypes)["ts"] == "bigint"  # native width on disk

    df = KL.run_df(
        spark,
        "t0: 2024-01-07\n"
        "select n: count(*) from events where ts >= t0",
        tables={"events": native},
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts," in plan


def test_aggregates_are_partial_then_final(spark):
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF))
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_dedup_candidates_never_cross_join(spark):
    # xxhash64 fast path — bench-only callable, no registry entry
    from kerf_spark.queries import minhash_dedup_pairs

    plan = plan_of(minhash_dedup_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_overlap_join_is_bucketed_equi(spark):
    """The interval×interval overlap join must plan as an equi-join on
    (bucket) with a residual filter — never a nested loop."""
    plan = plan_of(QUERIES["interval_overlap_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------------ properties
finite_floats = st.floats(allow_nan=False, allow_infinity=False, width=64)
any_floats = st.one_of(st.none(), st.just(float("nan")), finite_floats)


@settings(max_examples=8, deadline=None)
@given(st.lists(any_floats, min_size=1, max_size=12))
def test_kerf_eq_reflexive_incl_nan_null(spark, xs):
    from pyspark.sql import functions as F

    from kerf_spark.functions.semantics import kerf_eq

    df = spark.createDataFrame([(x,) for x in xs], "v double")
    out = df.select(kerf_eq("v", "v").alias("eq")).collect()
    assert all(r["eq"] is True for r in out)


@settings(max_examples=8, deadline=None)
@given(st.lists(any_floats, min_size=1, max_size=12))
def test_nan_to_null_idempotent_and_total(spark, xs):
    import math

    from kerf_spark.functions.semantics import nan_to_null

    df = spark.createDataFrame([(x,) for x in xs], "v double")
    one = df.select(nan_to_null("v").alias("v"))
    two = one.select(nan_to_null("v").alias("v"))
    a = [r["v"] for r in one.collect()]
    b = [r["v"] for r in two.collect()]
    assert a == b
    assert not any(x is not None and math.isnan(x) for x in a)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**62), min_size=1, max_size=12
    ),
    st.sampled_from([1_000, 60_000_000_000, 300_000_000_000]),
)
def test_xbar_floor_bounds(spark, ns_vals, width):
    from kerf_spark.functions.temporal import xbar

    df = spark.createDataFrame([(v,) for v in ns_vals], "ts_ns long")
    rows = df.select("ts_ns", xbar("ts_ns", width).alias("b")).collect()
    for r in rows:
        assert r["b"] <= r["ts_ns"] < r["b"] + width
        assert r["b"] % width == 0


@settings(max_examples=20, deadline=None)
@given(
    st.sampled_from(["tinyint", "smallint", "int", "bigint", "float", "double"]),
    st.sampled_from(["tinyint", "smallint", "int", "bigint", "float", "double"]),
)
def test_type_promotion_lattice(a, b):
    from kerf_spark.sources.catalog import _NUM_WIDTH, _promote

    p = _promote(a, b)
    assert p == _promote(b, a)                  # commutative
    assert _promote(p, p) == p                  # idempotent
    assert _NUM_WIDTH[p] >= max(                # never narrows
        _NUM_WIDTH[a] % 10, _NUM_WIDTH[b] % 10
    ) or p == "double"
    if (a in ("float", "double")) != (b in ("float", "double")):
        assert p == "double"                    # int x float -> double


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 300)),
        min_size=1, max_size=25,
    ),
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 300)),
        min_size=1, max_size=40,
    ),
)
def test_window_join_matches_bruteforce(spark, lrows, rrows):
    """Bucketed interval join == brute-force python filter on random data."""
    from kerf_spark.operators.asof import window_join

    lo, hi = -60, 0
    left = spark.createDataFrame(
        [(s, t, i) for i, (s, t) in enumerate(lrows)], "sym string, ts long, lid int"
    )
    right = spark.createDataFrame(
        [(s, t, i) for i, (s, t) in enumerate(rrows)], "sym string, ts long, rid int"
    )
    got = {
        (r.lid, r.rid)
        for r in window_join(
            left, right, on="ts", lo_ns=lo, hi_ns=hi, by="sym", bucket_ns=64
        ).collect()
    }
    want = {
        (li, ri)
        for li, (ls, lt) in enumerate(lrows)
        for ri, (rs, rt) in enumerate(rrows)
        if ls == rs and lt + lo <= rt <= lt + hi
    }
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 300)),
        min_size=1, max_size=40,
    ),
    st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 300)),
        min_size=0, max_size=40,
    ),
)
def test_window_count_matches_bruteforce(spark, lrows, rrows):
    """Rank-difference window_count == brute-force count, closed bounds,
    duplicate timestamps and duplicate left rows included."""
    from kerf_spark.operators.asof import window_count

    lo, hi = -60, 10
    left = spark.createDataFrame(
        [(s, t, i) for i, (s, t) in enumerate(lrows)], "sym string, ts long, lid int"
    )
    right = spark.createDataFrame(
        [(s, t) for s, t in rrows], "sym string, ts long"
    )
    got = {
        r.lid: r.n
        for r in window_count(
            left, right, on="ts", lo_ns=lo, hi_ns=hi, by="sym", out="n"
        ).collect()
    }
    want = {
        li: sum(
            1 for rs, rt in rrows if rs == ls and lt + lo <= rt <= lt + hi
        )
        for li, (ls, lt) in enumerate(lrows)
    }
    assert got == want


def test_interval_overlap_join_keeps_duplicate_rows(spark):
    """Two identical left rows matching one right row must yield two
    output pairs (bag semantics) — the r3 full-row distinct collapsed
    them (ADVICE r4)."""
    from kerf_spark.operators.asof import interval_overlap_join

    left = spark.createDataFrame(
        [(0, 10), (0, 10), (50, 60)], "s long, e long"
    )
    right = spark.createDataFrame([(5, 100)], "s long, e long")
    got = interval_overlap_join(left, right, "s", "e", bucket_ns=64).collect()
    assert len(got) == 3


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=30).map(" ".join),
        min_size=1, max_size=8,
    )
)
def test_substring_spans_match_bruteforce(spark, texts):
    """Operator output == plain-Python recomputation over a tiny-vocab
    corpus where window collisions are common (window=4, stride=2)."""
    from kerf_spark.operators.dedup import substring_dup_spans

    window, stride = 4, 2
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in substring_dup_spans(
            df, window=window, stride=stride
        ).collect()
    }
    wins: dict[int, list[str]] = {}
    for i, t in enumerate(texts):
        ws = t.split()
        if len(ws) >= window:
            k = (len(ws) - window) // stride + 1
            wins[i] = [
                " ".join(ws[j * stride : j * stride + window])
                for j in range(k)
            ]
    docs_of = {}
    for i, hs in wins.items():
        for h in set(hs):
            docs_of.setdefault(h, set()).add(i)
    want = {
        i: (len(hs), sum(1 for h in hs if len(docs_of[h]) >= 2))
        for i, hs in wins.items()
    }
    assert got == want


# ------------------------------------------------------- hot-bucket caps
def test_blocked_selfjoins_cap_hot_buckets(spark):
    """Adversarial corpus: thousands of identical docs land in ONE band /
    block / prefix bucket.  Uncapped, each generator is O(n²) there; the
    loud cap must bound candidate pairs at C(max_bucket, 2)."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import dedup as DD

    n, cap = 3000, 40
    bound = cap * (cap - 1) // 2
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated for every document").alias("text"),
    )

    sigs = DD.minhash_signature(docs, num_hashes=8, shingle_n=2)
    lsh = DD.lsh_candidates(sigs, bands=2, rows_per_band=4, max_bucket=cap)
    assert lsh.count() == bound  # identical docs: every capped pair survives

    sims = DD.simhash64(docs)
    sp = DD.simhash_near_pairs(sims, max_bucket=cap)
    assert sp.count() == bound

    pj = DD.prefix_jaccard_pairs(docs, max_bucket=cap)
    assert pj.count() == bound

    # audit companion reports exactly the overweight buckets
    keyed = sims.withColumn("blk", F.shiftright("simhash", 48))
    rep = DD.hot_bucket_report(keyed, ["blk"], max_bucket=cap).collect()
    assert len(rep) == 1 and rep[0].n == n and rep[0].dropped == n - cap


def test_lsh_candidates_joinfree(spark):
    """r3→r4 restructure: LSH candidate pairs come from in-bucket array
    explosion, not a banded self-join.  Pin the whole scale story: no
    Join operator at all (the upstream minhash pipeline is computed
    once, not once per join side), exactly two hash Exchanges (band
    shuffle + the distinct), and the bucket-cap window feeds the
    collect_list aggregate with no Exchange in between."""
    from kerf_spark.operators import dedup as DD
    from kerf_spark.sources.io import read_table

    docs = read_table(spark, SF, "documents")
    sigs = DD.minhash_signature(docs, num_hashes=8, shingle_n=2)
    plan = plan_of(DD.lsh_candidates(sigs, bands=2, rows_per_band=4), "simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Window") == 1  # the cap; its exchange is the band shuffle


def test_simhash_pairs_joinfree(spark):
    """Same join-free shape for simhash blocking, with the simhash value
    carried as pair payload through the bucket arrays."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import dedup as DD

    sims = spark.range(64).select(
        F.col("id").alias("doc_id"), (F.col("id") * 7).alias("simhash")
    )
    plan = plan_of(DD.simhash_near_pairs(sims, prefix_bits=8), "simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # block shuffle only


def test_ivf_topk_scale_shape(spark, monkeypatch):
    """IVF ANN plan ON THE SCALE PATH (corpus above the single-window
    bound, forced via the threshold): corpus cell assignment is a pure
    projection (no Exchange before the probe join), the probe join
    broadcasts the tiny query fan-out, and the only hash shuffles are
    the TWO bounded top-k windows — the r6 two-phase rank (local per
    (query, slice) keeping k, then the survivors per query), never a
    single corpus-sized partition per query."""
    from kerf_spark.operators import similarity as SIM
    from kerf_spark.sources.io import read_table
    from pyspark.sql import functions as F

    monkeypatch.setattr(SIM, "_SINGLE_WINDOW_MAX_ROWS", -1)
    em = read_table(spark, SF, "embeddings")
    q = em.where(F.col("vec_id") < 4)
    plan = plan_of(SIM.ivf_topk(em, q, k=3, n_cells=4, nprobe=2), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 2  # local + final rank
    assert "__slice" in plan  # the local phase's slice key is present


def test_ivf_topk_small_corpus_single_window(spark):
    """Below the bound the r7 constant-shave kicks in: ONE bounded
    query-partitioned window (each task sorts at most
    _SINGLE_WINDOW_MAX_ROWS candidate rows), no __slice phase — and
    the result matches the two-phase shape row-for-row (total order)."""
    from kerf_spark.operators import similarity as SIM
    from kerf_spark.sources.io import read_table
    from pyspark.sql import functions as F

    em = read_table(spark, SF, "embeddings")
    q = em.where(F.col("vec_id") < 4)
    small = SIM.ivf_topk(em, q, k=3, n_cells=4, nprobe=2)
    plan = plan_of(small, "simple")
    assert "__slice" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # final rank only


def test_melt_expands_without_shuffle(spark):
    plan = plan_of(QUERIES["unpivot_melt"](spark, SF), "simple")
    assert "Expand" in plan
    assert "Exchange" not in plan  # wide->long is a pure fan-out


def test_resample_is_two_exchanges(spark):
    # bounds agg + as-of fill; grid explode adds no shuffle of its own
    plan = plan_of(QUERIES["resample_1h_ffill"](spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") <= 3  # pre-agg + bounds + fill


def test_twap_reuses_window_exchange(spark):
    # window partitionBy(user_id) then groupBy(user_id): one exchange
    plan = plan_of(QUERIES["twap_by_user"](spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_topk_per_group_no_global_sort(spark):
    plan = plan_of(QUERIES["topk_per_group"](spark, SF), "simple")
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert plan.count("Exchange hashpartitioning") == 1


def test_weighted_median_single_exchange(spark):
    # running-sum + group-total windows + final groupBy all share the
    # by-key partitioning: one exchange end to end
    plan = plan_of(QUERIES["weighted_median_price"](spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_curation_pipeline_filter_reaches_scan(spark):
    # the composite must not materialize between stages; the only scan
    # is documents.parquet and shuffles stay doc/fp/source-keyed
    plan = plan_of(QUERIES["corpus_curation_pipeline"](spark, SF), "simple")
    assert plan.lower().count("filescan") == 1
    assert "Exchange rangepartitioning" not in plan


def test_lsh_near_pairs_joins_on_band_keys(spark):
    # blocking self-join must be an equi-join on (band, sig) — never a
    # cartesian/broadcast-nested-loop over the corpus
    from kerf_spark.operators import similarity as SIM2
    from kerf_spark.sources.io import read_table

    e = read_table(spark, SF, "embeddings")
    plan = plan_of(SIM2.lsh_near_pairs(e, dim=64, bands=2, planes_per_band=4), "simple")
    assert "CartesianProduct" not in plan


def test_contamination_broadcasts_benchmark_grams(spark):
    plan = plan_of(QUERIES["contamination_check_docs"](spark, SF), "simple")
    # benchmark n-gram set must be the broadcast build side, never shuffled
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pii_scrub_is_pure_projection(spark):
    plan = plan_of(QUERIES["pii_scrub_docs"](spark, SF), "simple")
    # scan -> regex projection -> output sort; no hash/aggregate exchange
    assert "Exchange hashpartitioning" not in plan
    # reads only the two referenced columns
    fplan = plan_of(QUERIES["pii_scrub_docs"](spark, SF))
    assert "lang" not in fplan and "source" not in fplan


def test_vocab_zipf_head_is_take_ordered(spark):
    plan = plan_of(QUERIES["vocab_zipf_stats"](spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan


def test_kmeans_assign_no_window_no_sort_merge(spark):
    plan = plan_of(QUERIES["kmeans_assign_embeddings"](spark, SF), "simple")
    # centroids broadcast; per-vector argmin is a hash agg, not a window
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_ohlc_windows_share_one_exchange(spark):
    plan = plan_of(QUERIES["ohlc_bars"](spark, SF), "simple")
    # both row_number orderings + the bar agg ride a single (type, bar)
    # hash partitioning; only the deterministic output sort adds a range
    # exchange
    assert plan.count("Exchange hashpartitioning") <= 1


def test_segment_dedup_single_wide_shuffle(spark):
    plan = plan_of(QUERIES["segment_dedup_docs"](spark, SF), "simple")
    # one exchange for the first-occurrence window on the segment value,
    # one for the per-doc regroup - the exact-dedup cost class
    assert plan.count("Exchange hashpartitioning") <= 2


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.floats(-100, 100)),
        min_size=1, max_size=20, unique_by=lambda tv: tv[0],
    ),
    st.integers(5, 50),
)
def test_resample_interp_matches_numpy(spark, ticks, step):
    """Grid linear interpolation == numpy.interp inside the observed span."""
    import numpy as np

    from kerf_spark.operators.asof import resample_interp

    df = spark.createDataFrame(
        [("k", t, v) for t, v in ticks], "sym string, t long, v double"
    )
    out = resample_interp(df, on="t", step=step, by="sym", val_col="v")
    got = {r.t: r.interp for r in out.collect()}
    ts = sorted(t for t, _ in ticks)
    xs = np.array(ts, dtype=float)
    ys = np.array([dict(ticks)[t] for t in ts], dtype=float)
    for t, iv in got.items():
        if t < ts[0] or t > ts[-1]:
            assert iv is None  # outside the observed span
        else:
            assert iv is not None
            assert abs(iv - float(np.interp(t, xs, ys))) < 1e-9


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.floats(-1e6, 1e6), min_size=1, max_size=30),
    st.integers(2, 7),
)
def test_moving_median_matches_numpy(spark, vals, width):
    """Frame-sorted middle interpolation == numpy median per window."""
    import numpy as np

    from pyspark.sql import Window as Wn
    from pyspark.sql import functions as FF

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i long, v double"
    )
    w = Wn.orderBy("i").rowsBetween(-(width - 1), 0)
    arr = FF.array_sort(FF.collect_list("v").over(w))
    d = df.select("i", arr.alias("a"))
    n = FF.size("a")
    lo = FF.element_at("a", ((n + 1) / FF.lit(2)).cast("int"))
    hi = FF.element_at("a", (n / FF.lit(2) + 1).cast("int"))
    med = FF.when(n % 2 == 1, lo).otherwise((lo + hi) / 2)
    got = {r.i: r.m for r in d.select("i", med.alias("m")).collect()}
    for i in range(len(vals)):
        frame = vals[max(0, i - width + 1): i + 1]
        assert abs(got[i] - float(np.median(frame))) < 1e-6


def test_semantic_dedup_plan_is_keyed_equi_join(spark):
    """SemDeDup's within-cell pair search must plan as an equi-join on
    the cell id (shuffle keyed, AQE-skew-splittable) — never a nested
    loop or cartesian product, at any corpus size."""
    plan = plan_of(QUERIES["semantic_dedup_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_plan_is_keyed_equi_join(spark):
    """Batch-vs-index candidate generation must be an equi-join on
    (band, key) — the stored-index join shape — with no nested loop."""
    plan = plan_of(QUERIES["incremental_neardup_pairs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_select_plans_as_take_ordered(spark):
    """The Gumbel top-k draw must compile to TakeOrderedAndProject —
    no global sort materializes for the k-row selection."""
    plan = plan_of(QUERIES["dsir_select_docs"](spark, SF))
    assert "TakeOrderedAndProject" in plan


@settings(max_examples=20, deadline=None)
@given(
    toks=st.lists(st.sampled_from(["a", "b", "ab", "c"]), min_size=0, max_size=12),
    pair=st.tuples(
        st.sampled_from(["a", "b", "ab"]), st.sampled_from(["a", "b", "c"])
    ),
)
def test_apply_merge_matches_python_fold(spark, toks, pair):
    """The Column-fold BPE merge must equal the classic left-to-right
    non-overlapping Python merge on arbitrary token sequences."""
    from pyspark.sql import functions as F

    from kerf_spark.operators.text import _apply_merge

    left, right = pair
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(toks[i])
            i += 1

    df = spark.createDataFrame([(toks,)], "toks array<string>")
    got = df.select(_apply_merge(F.col("toks"), left, right).alias("m")).head().m
    assert list(got) == out


@settings(max_examples=15, deadline=None)
@given(
    mat=st.lists(
        st.lists(
            st.floats(
                allow_nan=False, allow_infinity=False, width=64,
                min_value=-1e6, max_value=1e6,
            ),
            min_size=1, max_size=4,
        ),
        min_size=1, max_size=3,
    )
)
def test_array_lit_matches_f_lit(spark, mat):
    """array_lit's single-expr literal must be value-identical to the
    per-element F.lit path for arbitrary finite nested floats."""
    from pyspark.sql import functions as F

    from kerf_spark.operators.similarity import array_lit

    # ragged rows are fine for this comparison: both paths build the
    # same nested array values
    df = spark.range(1)
    a = df.select(array_lit(mat).alias("v")).head().v
    b = df.select(F.lit([[float(x) for x in row] for row in mat]).alias("v")).head().v
    assert a == b


def test_rendezvous_shard_is_pure_projection(spark):
    """Shard assignment must not shuffle: the score array + array_max
    is a projection, so the only Exchange in the report query is the
    per-shard aggregation itself."""
    from kerf_spark.operators.sampling import rendezvous_shard

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    assigned = df.select(
        "doc_id", rendezvous_shard("doc_id", 8).alias("shard")
    )
    plan = plan_of(assigned, "simple")
    assert "Exchange" not in plan


def test_inverted_index_single_term_exchange(spark):
    """The posting-cap window and the df groupBy both key on term —
    one hash Exchange, reused by the aggregation."""
    from kerf_spark.operators.text import inverted_index

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(20)],
        "doc_id long, text string",
    )
    plan = plan_of(inverted_index(docs, "text", "doc_id", 4), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_bloom_probe_broadcasts_filter_words(spark):
    """The word table joins as a broadcast (it is m_bits/64 rows at any
    member count); the corpus side pays exactly one keyed shuffle for
    the per-id re-aggregation, plus the build's own word aggregation."""
    from kerf_spark.operators.curation import bloom_build, bloom_probe

    keys = spark.createDataFrame(
        [(f"k{i}",) for i in range(50)], "k string"
    )
    words = bloom_build(keys, "k", m_bits=1 << 12, k=4)
    probed = bloom_probe(keys, "k", words, ["k"], m_bits=1 << 12, k=4)
    plan = plan_of(probed, "simple")
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan
    # two hash exchanges total: the build's word groupBy + probe re-agg
    assert plan.count("Exchange hashpartitioning") == 2


def test_asof_nearest_single_window_pass(spark):
    """nearest = backward last() + forward first() as two frames over
    ONE partitioning+ordering: exactly one Exchange, one Sort, one
    Window node — not two chained as-of plans."""
    from kerf_spark.operators.asof import asof_join

    t = spark.createDataFrame(
        [("a", 10, 1.0)], "sym string, ts long, price double"
    )
    q = spark.createDataFrame(
        [("a", 5, 0.9)], "sym string, ts long, bid double"
    )
    plan = plan_of(
        asof_join(t, q, on="ts", by="sym", direction="nearest"), "simple"
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("+- Window") == 1
    assert plan.count("+- Sort") == 1


def test_bloom_semi_join_prefilters_map_side(spark):
    """The Bloom membership test is an array-literal projection applied
    as a Filter BEFORE the join — no extra shuffle, no lookup join."""
    from kerf_spark.operators.curation import bloom_semi_join

    left = spark.createDataFrame([(i, i) for i in range(50)], "key long, v long")
    right = spark.createDataFrame([(3,), (7,)], "key long")
    plan = plan_of(
        bloom_semi_join(left, right, "key", min_right_keys=0), "simple"
    )
    assert "element_at" in plan          # the embedded filter words
    assert plan.count("Join") == 1       # only the confirming semi-join


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.text(alphabet="abcdefg", min_size=1, max_size=6),
             min_size=1, max_size=20),
    st.lists(st.text(alphabet="hijklmn", min_size=1, max_size=6),
             min_size=1, max_size=20),
)
def test_bloom_union_is_wordwise_or(spark, ka, kb):
    """bloom(A ∪ B) == word-wise OR of bloom(A), bloom(B) — the merge
    law that lets per-partition filters combine without raw keys."""
    from kerf_spark.operators.curation import bloom_build

    m = 1 << 10
    fa = spark.createDataFrame([(k,) for k in ka], "k string")
    fb = spark.createDataFrame([(k,) for k in kb], "k string")
    fab = fa.unionByName(fb)

    def words(df):
        return {
            r["__w"]: r["__mask"]
            for r in bloom_build(df, "k", m_bits=m, k=3).collect()
        }

    wa, wb, wab = words(fa), words(fb), words(fab)
    merged = {
        w: wa.get(w, 0) | wb.get(w, 0) for w in set(wa) | set(wb)
    }
    assert merged == wab


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10**6),
             min_size=1, max_size=40),
    st.integers(min_value=1, max_value=39),
)
def test_hll_merge_invariant_over_any_split(spark, keys, cut):
    """Register-max merge of ANY two-way split equals the whole-input
    registers — the distributivity HLL summaries rely on."""
    from kerf_spark.operators.sketches import hll_registers

    cut = min(cut, len(keys))
    df = spark.createDataFrame([(str(k),) for k in keys], "k string")
    d1 = spark.createDataFrame([(str(k),) for k in keys[:cut]], "k string")
    d2 = spark.createDataFrame([(str(k),) for k in keys[cut:]], "k string")

    def regs(frame):
        return {
            r["__idx"]: r["__rho"]
            for r in hll_registers(frame, "k").collect()
        }

    whole, r1, r2 = regs(df), regs(d1), (regs(d2) if keys[cut:] else {})
    merged = {
        i: max(r1.get(i, 0), r2.get(i, 0)) for i in set(r1) | set(r2)
    }
    assert merged == whole


def test_lint_plan_detects_each_antipattern(spark):
    """The linter itself: one positive and one negative probe per tag."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kerf_spark.plans.lint import lint_plan

    df = spark.range(64).select("id", (F.col("id") % 4).alias("g"))
    # global (unpartitioned, ordered) window
    assert "global-window" in lint_plan(
        df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    )
    # partitioned window — both ordered and unordered forms are clean
    assert lint_plan(
        df.withColumn("rn", F.row_number().over(
            Window.partitionBy("g").orderBy("id")))
    ) == []
    assert lint_plan(
        df.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("g")))
    ) == []
    # cartesian product / nested loop
    other = spark.range(8).select(F.col("id").alias("j"))
    tags = lint_plan(df.crossJoin(other))
    assert "cartesian-product" in tags or "nested-loop-join" in tags
    # row-at-a-time Python UDF
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType())
    assert "python-row-udf" in lint_plan(df.select(slow("id").alias("y")))

    # InferFiltersFromGenerate double-eval: exploding an ALIASED
    # generator whose per-element lambda re-indexes with element_at
    # (the r13 leg-6 dsir/bigram pathology) — the rule infers
    # size(__g) > 0 on the attribute and projection collapse then
    # copies the whole interpreted body into the pushed filter
    words = df.selectExpr(
        "id", "split(concat('a b c d ', cast(id as string)), ' ') as __w"
    )
    bad = words.selectExpr(
        "id",
        "transform(sequence(1, size(__w) - 1),"
        " i -> concat_ws(' ', element_at(__w, i),"
        " element_at(__w, i + 1))) as __g",
    ).selectExpr("id", "explode(__g) as g")
    assert "generator-filter-dup" in lint_plan(bad)
    # ... also in a projection wider than the 25 fields a printed plan
    # list may keep (spark.sql.debug.maxToStringFields)
    wide = [f"id + {i} as c{i}" for i in range(30)]
    bad_wide = words.selectExpr(
        "id", *wide,
        "transform(sequence(1, size(__w) - 1),"
        " i -> concat_ws(' ', element_at(__w, i),"
        " element_at(__w, i + 1))) as __g",
    ).selectExpr("id", *[f"c{i}" for i in range(30)], "explode(__g) as g")
    assert "generator-filter-dup" in lint_plan(bad_wide)
    # ... while the arrays_zip rebuild (cheap struct-field body) and a
    # deliberate element_at filter WITHOUT a Generate both stay clean
    good = words.selectExpr(
        "id",
        "transform("
        " arrays_zip(slice(__w, 1, size(__w) - 1), slice(__w, 2, size(__w) - 1)),"
        " s -> concat_ws(' ', s['0'], s['1'])) as __g",
    ).selectExpr("id", "explode(__g) as g")
    assert "generator-filter-dup" not in lint_plan(good)
    nogen = words.where(
        "size(filter(__w, x -> element_at(__w, 1) = x)) > 0"
    )
    assert "generator-filter-dup" not in lint_plan(nogen)
    # ... and so does that element_at-lambda filter beside an unrelated
    # explode: its size(...) > 0 wraps the user's predicate, not the
    # generator's input
    unrelated = nogen.selectExpr("id", "explode(__w) as g")
    assert "generator-filter-dup" not in lint_plan(unrelated)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),     # order key (ties!)
            st.one_of(st.none(), st.integers(-50, 50)), # value incl. nulls
        ),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from(["sum", "min", "max", "count"]),
    st.integers(min_value=1, max_value=9),              # bucket width
)
def test_global_scan_property_equals_sequential(spark, rows, agg, width):
    """Property: for ANY data (duplicate order keys, NULLs, any bucket
    width) the distributed scan equals the sequential global window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kerf_spark.operators.windows import global_scan

    data = [(i, k, None if v is None else float(v))
            for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "rid long, k long, v double").repartition(3)
    order = ["k", "rid"]
    got = {
        r["rid"]: r["run"]
        for r in global_scan(
            df, "v", order, agg=agg,
            bucket=(F.col("k") - F.col("k") % width),
        ).collect()
    }
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ref_fn = {"sum": F.sum, "min": F.min, "max": F.max, "count": F.count}[agg]
    want = {
        r["rid"]: r["w"]
        for r in df.select("rid", ref_fn("v").over(w).alias("w")).collect()
    }
    assert got == want


# ------------------------------------------------------- ATLAS round-trip
_akey = st.text(alphabet="abcdefghij", min_size=1, max_size=4)
_astr = st.text(
    # codepoint 1: the escape path must survive the WHOLE control
    # range (ADVICE r6 — \b/\f etc. used to pass through raw and make
    # strict parsers reject the fragment).  NUL itself is excluded:
    # get_json_object's extraction (the test's comparator) truncates
    # at NUL independent of escaping.
    alphabet=st.characters(min_codepoint=1, max_codepoint=126),
    max_size=12,
)
_aval = st.one_of(
    st.integers(min_value=-10**9, max_value=10**9),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.booleans(),
    st.none(),
    _astr,
)
_adoc = st.dictionaries(_akey, _aval, min_size=0, max_size=5)


@settings(max_examples=20, deadline=None)
@given(st.lists(_adoc, min_size=1, max_size=6))
def test_atlas_set_drop_roundtrip_props(spark, docs):
    """doc_set of a fresh key must (a) make the new field extractable,
    (b) leave every pre-existing field's EXTRACTED value byte-identical
    (extraction strips string quotes, so the documented literal-shaped-
    string canonicalization is invisible at this level), and (c) keep
    the document parseable; doc_drop must then remove exactly that key.
    Runs over arbitrary generated documents incl. quotes/backslashes in
    string values."""
    import json

    from pyspark.sql import functions as F

    from kerf_spark.operators import atlas as A

    rows = [(json.dumps(d),) for d in docs]
    df = spark.createDataFrame(rows, "doc string")
    upd = A.doc_set("doc", "NEW", F.lit("42"))
    dropped = A.doc_drop(upd, "NEW")
    keys = sorted({k for d in docs for k in d})
    sel = [
        F.get_json_object("doc", f"$.{k}").alias(f"b_{k}") for k in keys
    ] + [
        F.get_json_object(upd, f"$.{k}").alias(f"a_{k}") for k in keys
    ] + [
        F.get_json_object(upd, "$.NEW").alias("new_set"),
        F.get_json_object(dropped, "$.NEW").alias("new_dropped"),
        F.from_json(upd, "map<string,string>").isNotNull().alias("valid"),
        F.size(A.doc_keys(dropped)).alias("n_after_drop"),
    ]
    out = df.select(*sel).collect()
    for d, r in zip(docs, out):
        assert r["new_set"] == "42"
        assert r["new_dropped"] is None
        assert r["valid"]
        assert r["n_after_drop"] == len(d)
        for k in keys:
            assert r[f"a_{k}"] == r[f"b_{k}"], (k, d)


def test_atlas_write_path_is_zero_exchange(spark):
    """The schemaless amend path (doc_set/doc_drop/extraction) must be
    a pure projection: at 100 TB it runs at scan speed with no
    exchange of any kind.  The bench row additionally spread_scans its
    UNSPLITTABLE single-row-group fixture input (r13 optimization) —
    that one hash repartition exists only when the layout probe proves
    the scan serial, so the row's plan carries exactly that Exchange
    and the amend path itself stays exchange-free above it."""
    plan = plan_of(QUERIES["atlas_nested_update"](spark, SF), "simple")
    assert plan.count("Exchange") <= 1
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan

    # the operator path itself (no spread wrapper) is zero-exchange
    import os

    prior = os.environ.get("KERF_SPREAD_SCAN")
    os.environ["KERF_SPREAD_SCAN"] = "0"
    try:
        bare = plan_of(QUERIES["atlas_nested_update"](spark, SF), "simple")
        assert "Exchange" not in bare
    finally:
        if prior is None:
            os.environ.pop("KERF_SPREAD_SCAN", None)
        else:
            os.environ["KERF_SPREAD_SCAN"] = prior


def test_fp16_roundtrip_is_scan_shaped(spark):
    """fp16 pack/unpack must be a pure projection (Arrow-batched eval,
    no Exchange): at 100 TB the half-precision write path runs at scan
    speed with the corpus's own parallelism."""
    plan = plan_of(QUERIES["fp16_embeddings_roundtrip"](spark, SF), "simple")
    # the only operators are scan -> filter -> arrow eval -> project
    # (orderBy is presentation; no hash shuffle anywhere)
    assert "ArrowEvalPython" in plan
    assert "Exchange hashpartitioning" not in plan


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            max_size=10,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_split_statements_survives_hostile_string_literals(payloads):
    """Property: semicolons/newlines/parens/quotes INSIDE double-quoted
    kerf strings and single-quoted SQL literals never split a
    statement — one assignment per payload in, exactly that many
    statements out, each still carrying its (escaped) literal."""
    from kerf_spark.plans.kerf_lang import split_statements

    def kerf_quote(s: str) -> str:
        return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'

    def sql_quote(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    stmts = []
    for i, p in enumerate(payloads):
        if i % 2 == 0:
            stmts.append(f"v{i}: {kerf_quote(p + ';)(}{')}")
        else:
            stmts.append(
                f"t{i}: select n from t where note = "
                f"{sql_quote(p + ';)(}{')}"
            )
    out = split_statements(";".join(stmts))
    assert len(out) == len(stmts)
    for i, s in enumerate(out):
        assert s.startswith(("v", "t")) and s.split(":")[0] == f"{'v' if i % 2 == 0 else 't'}{i}"


# --------------------------------------------------- histogram sketch props
@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-50.0, max_value=150.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=60,
    ),
    st.floats(min_value=0.01, max_value=0.99),
)
def test_hist_sketch_props(spark, vals, q):
    """Two invariants for ANY input multiset and quantile: the sketch
    merges by cnt-sum (build(a∪b) == merge over any split), and the
    estimate lands within one bin width of an exact clamped quantile."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import sketches as SK

    lo, hi, nb = 0.0, 100.0, 25
    width = (hi - lo) / nb
    cut = len(vals) // 2
    a = spark.createDataFrame([(v,) for v in vals[:cut]] or [(None,)],
                              "value double")
    b = spark.createDataFrame([(v,) for v in vals[cut:]] or [(None,)],
                              "value double")
    u = spark.createDataFrame([(v,) for v in vals], "value double")
    hu = SK.hist_build(u, "value", lo, hi, nb)
    merged = (
        SK.hist_build(a, "value", lo, hi, nb)
        .unionByName(SK.hist_build(b, "value", lo, hi, nb))
        .groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, hu.collect())) == sorted(
        map(tuple, merged.collect())
    )
    est = SK.hist_quantile(hu, q, lo, hi, nb).collect()[0]["quantile"]
    clamped = sorted(min(max(v, lo), hi) for v in vals)
    r = max(1, -(-q * len(clamped) // 1))  # ceil
    exact = clamped[int(r) - 1]
    assert est - width - 1e-9 <= exact <= est + width + 1e-9, (
        q, est, exact,
    )


@settings(max_examples=10, deadline=None)
@given(st.text(min_size=0, max_size=80))
def test_textindex_tokenizer_python_twin(spark, text):
    """The engine-side tokenizer (split(lower, '[^a-z]+')) and the
    plain-Python twin the unit oracles use must agree on ANY input —
    including non-ASCII, where Java and Python lowercasing could
    diverge; [^a-z] never matches what either produces differently
    for ASCII, and disagreement here would silently skew BM25 stats."""
    import re as _re

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(
        F.split(F.lower(F.col("text")), "[^a-z]+").alias("t")
    ).collect()[0]["t"]
    want = _re.split(r"[^a-z]+", text.lower())
    assert got == want, (text,)


# --------------------------------------------------- persisted-index props
@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(
            st.floats(min_value=-4.0, max_value=4.0,
                      allow_nan=False, allow_infinity=False,
                      width=32),
            min_size=8, max_size=8,
        ),
        min_size=12, max_size=40,
    )
)
def test_ivf_indexed_equals_unindexed_on_random_corpora(
    spark, tmp_path_factory, vecs
):
    """For ANY small random corpus, the persisted IVF index answers
    bitwise-identically to the in-process operator — the build/store/
    reload cycle (parquet floats, JSON sidecar doubles, partition
    layout) must never perturb a single bit."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import annindex as AI
    from kerf_spark.operators import similarity as SIM

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path_factory.mktemp("prop") / "ivf")
    AI.build_ivf_index(df, path, n_cells=4)
    q = df.where(F.col("vec_id") < 3)
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    got = [
        tuple(r)
        for r in AI.ivf_topk_indexed(spark, path, q, k=3, nprobe=2)
        .select(*cols).orderBy(*cols).collect()
    ]
    want = [
        tuple(r)
        for r in SIM.ivf_topk(df, q, k=3, n_cells=4, nprobe=2)
        .select(*cols).orderBy(*cols).collect()
    ]
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta eps".split()),
            min_size=0, max_size=14,
        ).map(" ".join),
        min_size=2, max_size=12,
    ),
    st.lists(
        st.sampled_from("alpha beta gamma delta eps".split()),
        min_size=1, max_size=3,
    ),
)
def test_phrase_search_equals_python_on_random_docs(
    spark, tmp_path_factory, texts, phrase
):
    """Positional phrase retrieval over ANY random corpus and phrase
    equals a plain-Python sliding-window scan — repeated words,
    overlapping occurrences, empty docs, repeated phrase terms all
    included by construction."""
    import re as _re

    from kerf_spark.operators import textindex as TI

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path_factory.mktemp("php") / "idx")
    TI.build_text_index(df, path, n_buckets=8)
    got = {
        (r["doc_id"], r["hits"])
        for r in TI.phrase_search(spark, path, phrase).collect()
    }
    want = set()
    n = len(phrase)
    for i, t in rows:
        raw = _re.split(r"[^a-z]+", t.lower())
        h = sum(
            1 for j in range(len(raw) - n + 1) if raw[j:j + n] == phrase
        )
        if h > 0:
            want.add((i, h))
    assert got == want, (texts, phrase)


def test_ppjoin_audit_leaves_no_pinned_cache(spark):
    """ADVICE r8 (low): ppjoin_prefix_buckets must not pin the shingle
    stage in the session-lived plan cache.  The r14 lazy
    ``localCheckpoint`` on the audit path DOES register its
    materialized RDD in ``getPersistentRDDs`` — but that entry is
    ContextCleaner-managed (unpersisted when the DataFrame is GC'd),
    unlike a ``.persist()``, whose CacheManager entry survives until an
    explicit unpersist.  So the invariant is: every persistent RDD the
    audit adds is a locally-checkpointed one, never a cache entry."""
    from pyspark.sql import functions as F

    from kerf_spark.operators import dedup as DD

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc words number "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    jm = spark.sparkContext._jsc.getPersistentRDDs()
    before = {int(k) for k in jm.keySet().toArray()}
    DD.ppjoin_prefix_buckets(docs, threshold=0.5).collect()
    jm = spark.sparkContext._jsc.getPersistentRDDs()
    added = {int(k) for k in jm.keySet().toArray()} - before
    for rid in added:
        assert jm.get(rid).rdd().isLocallyCheckpointed(), rid


def test_bucket_cap_warning_fires_once_per_operator(spark, caplog):
    """The r8 bench tail was buried in identical bucket-cap lines; the
    warning dedupes per (operator, cap) while staying loud the first
    time."""
    import logging

    from pyspark.sql import functions as F

    from kerf_spark.operators import dedup as DD

    docs = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.lit("same text everywhere").alias("text"),
    )
    DD._CAP_WARNED.discard(("unit-test-op", 5))
    with caplog.at_level(logging.WARNING, logger="kerf_spark.dedup"):
        for _ in range(3):
            DD._cap_buckets(docs, ["text"], "doc_id", 5, "unit-test-op")
    hits = [r for r in caplog.records if "unit-test-op" in r.getMessage()]
    assert len(hits) == 1
