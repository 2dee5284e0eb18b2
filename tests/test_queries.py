"""Query-registry integrity + smoke runs of the newest §2 surfaces.

Full value-level validation lives in tests/oracle_check.py (the
driver's semantics); here we pin the registry contract and a few
inline goldens at sf0.001.
"""

from __future__ import annotations

import pytest

from kerf_spark.queries import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"

def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


def test_every_query_has_an_oracle():
    # the xxhash64 fast paths (irreproducible hash family) are bench-only
    # callables, NOT registry entries — so the registry is 100% oracled
    assert set(QUERIES) - set(ORACLES) == set()


def test_registry_covers_survey_families():
    # one representative per SURVEY §2 family must be registered
    for probe in [
        "q1_pricing_summary",      # scan+filter+group-agg
        "asof_join_latest_order",  # custom temporal join
        "interval_join_bursts",    # range join
        "running_sum_unfold",      # adverbs/windows
        "xbar_5min_bars",          # temporal bucketing
        "rollup_agg",              # grouping sets
        "index_gather",            # point indexing
        "take_cyclic",             # affine take
        "mapinpandas_scale",       # UDF surface
        "csv_roundtrip",           # sources
        "workspace_roundtrip",     # workspace/catalog
        "kerfsql_select_by",       # kerf-SQL front-end
        "exact_dedup_docs",        # LLM-pipeline dedup
        "cosine_topk_exact",       # similarity search
        "stream_window_counts",    # structured streaming
        "stream_ema",              # custom stateful streaming
        "kerf_lang_pipeline",      # kerf language front-end
        "flip_matrix",             # general transpose
        "bucketed_join_colocated", # bucketed co-located join
        "ivfpq_indexed_topk",      # persisted ANN index
        "ivf_stream_append_topk",  # streaming index maintenance
        "bm25_topk_docs",          # inverted-index retrieval
        "phrase_search_docs",      # positional phrase retrieval
        "hist_quantile_events",    # mergeable quantile sketch
        "ppjoin_exact_pairs",      # exact set-similarity join
    ]:
        assert probe in QUERIES, probe


@pytest.mark.parametrize(
    "name", ["take_cyclic", "find_first", "fold_generic", "map_funcs"]
)
def test_new_point_ops_smoke(spark, name):
    df = QUERIES[name](spark, SF)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == QUERIES[name](spark, SF).columns


def test_take_cyclic_wraps(spark):
    rows = {
        r["pos"]: r["r_name"]
        for r in QUERIES["take_cyclic"](spark, SF).collect()
    }
    assert len(rows) == 12
    assert rows[0] == rows[5] == rows[10]  # 5 regions -> period 5


def test_applyinpandas_zscore_grouped_mean_zero(spark):
    df = QUERIES["applyinpandas_zscore"](spark, SF)
    from pyspark.sql import functions as F

    stats = (
        df.groupBy("user_id")
        .agg(F.avg("z").alias("mu"), F.count("z").alias("n"))
        .where(F.col("n") > 1)
        .collect()
    )
    assert stats and all(abs(r["mu"]) < 1e-3 for r in stats)


def test_no_driver_hostile_output_types(spark):
    """Every registry query's output schema must be hashable by the
    driver's pandas-based canonicalizer: no ArrayType/MapType/StructType
    (pandas.sort_values raises ``unhashable type: numpy.ndarray``), no
    DecimalType (DuckDB's pandas bridge renders DECIMAL as lossy
    float64), no BinaryType.  Serialize such cells (concat_ws /
    string_agg / VARCHAR cast) before returning — the flip_matrix
    discipline.  Guards the whole r4 red-row class (VERDICT r4 §wrong).
    """
    from pyspark.sql import types as T

    hostile = (T.ArrayType, T.MapType, T.DecimalType, T.StructType,
               T.BinaryType)
    offenders = {}
    for name, fn in QUERIES.items():
        df = fn(spark, SF)
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in df.schema.fields
            if isinstance(f.dataType, hostile)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"driver-hostile output columns: {offenders}"


def test_oracle_pandas_dtypes_match_spark_schema(spark):
    """Registry-wide gate for the DuckDB-HUGEINT artifact (r3
    session_windows, r5 bpe_pair_counts + merge_event_intervals — the
    SAME bug three rounds running): an un-cast ``sum(BIGINT)`` in an
    oracle returns HUGEINT, which duckdb's ``.df()`` renders as
    float64, and the driver's pandas hasher then mismatches Spark's
    int64 even when every value is bitwise identical.  Run every
    oracle as ``LIMIT 0`` through ``.df()`` and assert numeric KIND
    agreement (integer vs float) with the Spark schema, both
    directions.  The fix is always ``CAST(... AS BIGINT)`` (or
    ``.cast('long')`` Spark-side).
    """
    import duckdb

    from pyspark.sql import types as T

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    fractional = (T.FloatType, T.DoubleType)
    offenders = {}
    for name, fn in QUERIES.items():
        sql = ORACLES.get(name)
        if sql is None:
            continue
        spark_kind = {}
        for f in fn(spark, SF).schema.fields:
            if isinstance(f.dataType, integral):
                spark_kind[f.name] = "i"
            elif isinstance(f.dataType, fractional):
                spark_kind[f.name] = "f"
        try:
            odf = con.execute(f"SELECT * FROM ({sql}) __t LIMIT 0").df()
        except Exception as ex:  # oracle must at least type-check
            offenders[name] = [f"oracle error: {str(ex)[:120]}"]
            continue
        bad = []
        for col, dt in odf.dtypes.items():
            want = spark_kind.get(col)
            if want == "i" and dt.kind == "f":
                bad.append(f"{col}: spark integral, oracle {dt}")
            elif want == "f" and dt.kind in "iu":
                bad.append(f"{col}: spark fractional, oracle {dt}")
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"oracle dtype drift (CAST the oracle, or .cast the Spark "
        f"column): {offenders}"
    )


def test_degraded_oracle_logs_a_warning(caplog):
    """A computed oracle that fails to build must WARN with the query
    name (visible in driver logs), not silently degrade to rows-only
    (r4 verdict item 6)."""
    import logging

    from kerf_spark import queries as Q

    def boom() -> str:
        raise RuntimeError("fixture missing")

    with caplog.at_level(logging.WARNING, logger="kerf_spark.queries"):
        Q._attach_oracle("__degradation_probe__", boom)
    assert "__degradation_probe__" not in Q.ORACLES
    assert any(
        "__degradation_probe__" in r.message and "fixture missing" in r.message
        for r in caplog.records
    )


# Plan-lint allowlist: every entry is a BOUNDED-BY-CONSTRUCTION use of
# a shape that is an anti-pattern on data-sized inputs.  Adding a query
# that trips a tag NOT allowed here fails the lint test — fix the plan
# (windows.global_scan / chunked_moving / a keyed join) or argue the
# bound here with a reason.
PLAN_LINT_ALLOW = {
    # broadcast of a tiny side with no equi-key (1-row aggregates, an
    # 8-vector probe set, a 5-row dim): BroadcastNestedLoopJoin IS the
    # right plan when one side is bounded
    "nested-loop-join": {
        "amend_point", "delete_point", "find_first", "index_gather",
        "join_cross", "cosine_topk_exact", "pq_ann_topk",
        "pq_indexed_topk",  # same 8-query broadcast LUT frame as
                            # pq_ann_topk, scanning the persisted codes
        "pq_rerank_topk", "kmeans_assign_embeddings",
        "dsir_weights_docs", "dsir_select_docs", "corpus_mixture_rebalance",
        "funnel_conversion", "hll_overlap_event_types", "key_skew_profile",
        "pagerank_supplier_nations", "q11_important_values",
        "q22_global_sales_opportunity", "tfidf_top_terms",
        "ann_recall_meter",  # composes cosine_topk + pq_topk (8-query
                             # broadcast probe sets, bounded)
        "radius_neighbors_embeddings",  # same 8-query broadcast probe
                             # fan-out as cosine_topk, minus the window
        "hist_quantile_merged",  # two 1-row quantile frames joined
        "knn_label_vote",        # the 16-query broadcast probe frame
                                 # of cosine_topk (same as
                                 # cosine_topk_exact)
        "theta_diff_users",      # the base theta sketch is ONE 32KB
                                 # buffer row broadcast against ≤|event
                                 # types| group sketches — bounded both
                                 # sides by construction
    },
    # global windows over provably bounded inputs: a TakeOrdered prefix,
    # a per-bucket totals table, a vocabulary, a contingency table, a
    # 12-row demo
    "global-window": {
        "global_running_sum",      # totals-prefix: one row per bucket
        "global_moving_avg",       # chunked_moving helper windows over
                                   # the one-row-per-chunk successor
                                   # table (by=[] -> empty partition
                                   # spec); the DATA windows partition
                                   # by chunk
        "index_gather",            # row_number over a bounded TakeOrdered
        "corpus_shuffle_order",    # numbering a 100-row prefix
        "take_cyclic",             # 12-row affine demo
        "vocab_zipf_stats",        # rank over the distinct vocabulary
        "chi_square_independence", # contingency-cell table
        "bm25_topk_docs",          # row_number over a k-row TakeOrdered
                                   # prefix (orderBy+limit(10) upstream)
        "bm25_append_topk",        # same bounded shape over the
                                   # appended index
        "bm25_stream_append_topk", # same bounded shape over the
                                   # streamed+compacted index
        "bm25_delete_topk",        # same bounded shape over the
                                   # tombstoned index
        "bm25_upsert_topk",        # same bounded shape over the
                                   # upserted index
        "hist_quantile_merged",    # cumsum window over the CONSTANT
                                   # <=256 sketch bins (no group key)
    },
    "python-row-udf": set(),
    "cartesian-product": set(),
    # the InferFiltersFromGenerate double-eval (r13 leg 6) — never
    # acceptable: the fix is mechanical (arrays_zip/slice generator
    # bodies), so no query may allowlist it
    "generator-filter-dup": set(),
}


def test_registry_plans_carry_no_unapproved_antipatterns(spark):
    """Lint EVERY registry query's plan (plans.lint): cartesian
    products, nested loops, row-at-a-time Python UDFs, and global
    (unpartitioned) windows must be absent or explicitly allowlisted
    with a boundedness argument.  This is the systemic guard for the
    class of bug fixed in round 5 (rolling_window_stats windowing a
    cardinality-3 key)."""
    from kerf_spark.plans.lint import lint_plan

    offenders = {}
    for name, fn in QUERIES.items():
        tags = lint_plan(fn(spark, SF))
        bad = [t for t in tags if name not in PLAN_LINT_ALLOW.get(t, set())]
        if bad:
            offenders[name] = bad
    assert not offenders, f"unapproved plan anti-patterns: {offenders}"


def test_driver_window_is_the_first_fifty():
    """The driver evaluates exactly the first 50 registry entries per
    round; the window must BE that prefix and every name must resolve.
    Every row outside it has been driver-checked at least once (a
    record in some CORRECTNESS_r*.json), so no never-checked row is
    parked out of reach."""
    import glob
    import json
    import os

    from kerf_spark.queries import _DRIVER_WINDOW

    assert len(_DRIVER_WINDOW) == len(set(_DRIVER_WINDOW)) == 50
    assert all(k in QUERIES for k in _DRIVER_WINDOW)
    assert list(QUERIES)[:50] == _DRIVER_WINDOW
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked = set()
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            checked |= set(json.load(fh))
    unchecked = [k for k in list(QUERIES)[50:] if k not in checked]
    assert not unchecked, f"never driver-checked, past the window: {unchecked}"


def test_scratch_dirs_are_removed_at_exit(spark, tmp_path, monkeypatch):
    """Rows that need throwaway dirs take them under ONE per-process
    scratch root that goes at interpreter exit.  A workspace row, a
    folio row and a stream row run under a private temp dir; after the
    exit cleanup no kerf_* dir is left there, and a real interpreter
    exit runs the same cleanup."""
    import os
    import subprocess
    import sys
    import tempfile

    import kerf_spark.queries as Q

    def leftovers():
        return sorted(p for p in os.listdir(tmp_path) if p.startswith("kerf_"))

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(Q, "_SCRATCH", [])
    for name in (
        "asof_bucketed_colocated", "folio_partition_prune", "stream_hll_users"
    ):
        QUERIES[name](spark, SF)  # construct makes the row's dirs
    assert len(leftovers()) == 1  # the one scratch root
    Q._drop_scratch()
    assert leftovers() == []
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c",
         "import kerf_spark.queries as Q; assert Q._scratch('kerf_x_')"],
        cwd=repo, env=dict(os.environ, TMPDIR=str(tmp_path)), check=True,
    )
    assert leftovers() == []


@pytest.mark.parametrize(
    "sf_dir",
    [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ],
)
def test_rolling_window_stats_chunk_density_on_every_fixture(spark, sf_dir):
    """queries.rolling_window_stats passes validate=False to
    chunked_moving for bench speed, justified by a FIXTURE property
    (TPC-H orderkeys dense → every interior 2048-orderkey chunk ≫ n−1
    rows per flag).  That reasoning must not live only in a comment:
    this test re-runs the EXACT precondition check (validate=True,
    same by/order/chunk/n) on every shipped fixture, so a regenerated
    fixture that violates the invariant turns the suite red instead of
    the bench silently truncating frames (VERDICT r7 What's-wrong #1).
    """
    import os

    from pyspark.sql import functions as F

    from kerf_spark.operators import windows as W
    from kerf_spark.sources.io import read_table

    if not os.path.isdir(sf_dir):
        pytest.skip(f"fixture dir {sf_dir} not generated")
    li = read_table(spark, sf_dir, "lineitem")
    # identical parameters to queries.rolling_window_stats; validate=True
    # raises ValueError naming the first violating chunk, and the result
    # is otherwise discarded — the validation IS the test
    W.chunked_moving(
        li,
        {"__m": ("count", F.lit(1))},
        n=20,
        by=["l_returnflag"],
        order=["l_orderkey", "l_linenumber", "l_quantity", "l_discount"],
        chunk=(F.col("l_orderkey") - F.col("l_orderkey") % 2048),
        validate=True,
    )
