"""Persisted ANN indexes (operators.annindex): build-once/query-many.

Contracts proven here:
- indexed results are BITWISE-equal to the unindexed operators
  (same fits, same arithmetic, same total order);
- the IVF probe is a partition-pruned scan (PartitionFilters on cell);
- the sidecar's freshness signal makes a source rewrite detectable
  (is_stale), and an untouched source reuses the index as-is.
"""

import os

import pytest

from pyspark.sql import functions as F

from kerf_spark.operators import annindex as AI
from kerf_spark.operators import similarity as SIM
from kerf_spark.sources.ledger import _write_sidecar

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_ivf_indexed_matches_unindexed_bitwise(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    meta = AI.build_ivf_index(emb, path, n_cells=8)
    assert meta["rows"] == emb.count()
    q = emb.where(F.col("vec_id") < 8)
    got = AI.ivf_topk_indexed(spark, path, q, k=5, nprobe=4)
    want = SIM.ivf_topk(emb, q, k=5, n_cells=8, nprobe=4)
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    # float cells compare by equality of the exact doubles — both paths
    # run the identical Column expressions over bit-identical inputs
    assert _rows(got, cols) == _rows(want, cols)


def test_ivf_probe_scan_is_partition_pruned(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    # hive layout on disk: one directory per cell
    dirs = [
        d
        for d in os.listdir(os.path.join(path, "corpus"))
        if d.startswith("cell=")
    ]
    assert len(dirs) > 1
    q = emb.where(F.col("vec_id") < 2)
    plan = AI.ivf_topk_indexed(spark, path, q, k=3, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    # the probe filter must reach the scan as a partition filter, not a
    # post-scan Filter: that IS the index (only probed dirs' bytes move)
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):]
    assert "cell" in seg[: seg.index("]")]


def test_pq_indexed_matches_unindexed_bitwise(spark, emb, tmp_path):
    path = str(tmp_path / "pq")
    meta = AI.build_pq_index(emb, path, m=8, k=16)
    assert meta["rows"] == emb.count()
    q = emb.where(F.col("vec_id") < 8)
    got = AI.pq_topk_indexed(spark, path, q, k=5)
    books = SIM.pq_fit(emb, m=8, k=16)
    want = SIM.pq_topk(emb, q, books, k=5)
    cols = ["query_id", "neighbor_id", "rank"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stale_detection_and_reuse(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    assert AI.is_stale(path, emb)  # no index yet
    AI.build_ivf_index(emb, path, n_cells=8)
    assert not AI.is_stale(path, emb)  # untouched source: reuse

    # rewrite the source under a DIFFERENT path -> different file
    # listing -> stale (the mutate-under-unchanged-path analogue the
    # freshness signal exists for)
    moved = str(tmp_path / "src")
    emb.write.parquet(moved)
    assert AI.is_stale(path, spark.read.parquet(moved))


def test_meta_roundtrips_fit_doubles_exactly(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    cents = SIM.fit_centroids(emb, n_cells=8, iters=3)
    got = AI.index_meta(path)["centroids"]
    # json round-trip must preserve every double bit-for-bit (repr is
    # shortest-roundtrip); the sidecar IS the fit, not an approximation
    assert got == [[float(x) for x in c] for c in cents]


def test_ivfpq_indexed_matches_unindexed_bitwise(spark, emb, tmp_path):
    path = str(tmp_path / "ivfpq")
    meta = AI.build_ivfpq_index(emb, path, n_cells=8, m=8, n_codewords=16)
    assert meta["rows"] == emb.count()
    q = emb.where(F.col("vec_id") < 8)
    got = AI.ivfpq_topk_indexed(spark, path, q, k=5, nprobe=4, cand=50)
    want = SIM.ivfpq_topk(
        emb, q, k=5, n_cells=8, nprobe=4, m=8, n_codewords=16, cand=50
    )
    cols = ["query_id", "neighbor_id", "cos", "rank"]
    assert _rows(got, cols) == _rows(want, cols)


def test_ivfpq_probe_scan_is_partition_pruned(spark, emb, tmp_path):
    path = str(tmp_path / "ivfpq")
    AI.build_ivfpq_index(emb, path, n_cells=8)
    q = emb.where(F.col("vec_id") < 2)
    plan = (
        AI.ivfpq_topk_indexed(spark, path, q, k=3, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):]
    assert "cell" in seg[: seg.index("]")]


def test_append_freezes_quantizer_and_extends_index(spark, emb, tmp_path):
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(even, path, n_cells=8)
    before = AI.index_meta(path)
    meta = AI.append_to_index(path, odd)
    # FAISS-add semantics: coarse quantizer frozen at build
    assert meta["centroids"] == before["centroids"]
    assert meta["rows"] == emb.count()
    assert len(meta["appends"]) == 1
    assert meta["appends"][0]["rows"] == odd.count()
    # every stored (id, cell) equals a frozen-centroid assignment of
    # the FULL corpus — appended rows went through the same expressions
    cents_lit = SIM.array_lit(before["centroids"])
    expect = emb.select(
        "vec_id",
        SIM.cell_d2s(F.col("embedding"), cents_lit).alias("__d"),
    ).select("vec_id", SIM.argmin_cell("__d").alias("cell"))
    stored = spark.read.parquet(path + "/corpus").select("vec_id", "cell")
    assert _rows(stored, ["vec_id", "cell"]) == _rows(expect, ["vec_id", "cell"])
    # and the appended index answers queries over BOTH halves
    q = emb.where(F.col("vec_id") < 4)
    res = AI.ivf_topk_indexed(spark, path, q, k=3, nprobe=8)
    assert res.count() == 4 * 3
    ids = {r["neighbor_id"] for r in res.collect()}
    assert any(i % 2 == 1 for i in ids) or odd.count() == 0


def test_append_pq_codes_match_frozen_codebooks(spark, emb, tmp_path):
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "pq")
    AI.build_pq_index(even, path, m=8, k=16)
    meta = AI.append_to_index(path, odd)
    assert meta["rows"] == emb.count()
    stored = spark.read.parquet(path + "/codes")
    expect = SIM.pq_encode(emb, meta["codebooks"]).select(
        F.col("vec_id").alias("neighbor_id"), "codes"
    )
    s = [(r["neighbor_id"], tuple(r["codes"])) for r in stored.collect()]
    e = [(r["neighbor_id"], tuple(r["codes"])) for r in expect.collect()]
    assert sorted(s) == sorted(e)


def test_ivfpq_stream_delta_equals_batch_append(spark, emb, tmp_path):
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivfpq")
    AI.build_ivfpq_index(even, path, n_cells=8)
    AI.index_stream_sink(path)(odd, 0)
    q = emb.where(F.col("vec_id") < 8)
    got = AI.ivfpq_topk_indexed(spark, path, q, k=5, nprobe=4)
    bpath = str(tmp_path / "ivfpq_batch")
    AI.build_ivfpq_index(even, bpath, n_cells=8)
    AI.append_to_index(bpath, odd)
    want = AI.ivfpq_topk_indexed(spark, bpath, q, k=5, nprobe=4)
    cols = ["query_id", "neighbor_id", "cos", "rank"]
    assert _rows(got, cols) == _rows(want, cols)
    AI.compact_index(spark, path)
    assert _rows(
        AI.ivfpq_topk_indexed(spark, path, q, k=5, nprobe=4), cols
    ) == _rows(want, cols)


def test_stream_sink_delta_reads_and_replay_idempotence(spark, emb, tmp_path):
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(even, path, n_cells=8)
    sink = AI.index_stream_sink(path)
    sink(odd, 0)
    sink(odd, 0)  # crash-replay of the same epoch must be absorbed
    q = emb.where(F.col("vec_id") < 8)
    got = AI.ivf_topk_indexed(spark, path, q, k=5, nprobe=4)
    # the delta path must answer exactly like the batch-append path
    bpath = str(tmp_path / "ivf_batch")
    AI.build_ivf_index(even, bpath, n_cells=8)
    AI.append_to_index(bpath, odd)
    want = AI.ivf_topk_indexed(spark, bpath, q, k=5, nprobe=4)
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    assert _rows(got, cols) == _rows(want, cols)


def test_compaction_folds_delta_and_preserves_results(spark, emb, tmp_path):
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(even, path, n_cells=8)
    AI.index_stream_sink(path)(odd, 3)
    q = emb.where(F.col("vec_id") < 8)
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    before = _rows(AI.ivf_topk_indexed(spark, path, q, k=5, nprobe=4), cols)
    meta = AI.compact_index(spark, path)
    assert meta["rows"] == emb.count()
    assert meta["compactions"] == 1
    assert not os.path.isdir(os.path.join(path, "stream"))
    after = _rows(AI.ivf_topk_indexed(spark, path, q, k=5, nprobe=4), cols)
    assert before == after
    # compacted base is one pruned tree again
    plan = (
        AI.ivf_topk_indexed(spark, path, q, k=3, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    # idempotent when nothing to fold
    assert AI.compact_index(spark, path)["compactions"] == 1


def test_pq_delta_path(spark, emb, tmp_path):
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "pq")
    AI.build_pq_index(even, path, m=8, k=16)
    AI.index_stream_sink(path)(odd, 0)
    q = emb.where(F.col("vec_id") < 8)
    got = AI.pq_topk_indexed(spark, path, q, k=5)
    bpath = str(tmp_path / "pq_batch")
    AI.build_pq_index(even, bpath, m=8, k=16)
    AI.append_to_index(bpath, odd)
    want = AI.pq_topk_indexed(spark, bpath, q, k=5)
    cols = ["query_id", "neighbor_id", "rank"]
    assert _rows(got, cols) == _rows(want, cols)
    AI.compact_index(spark, path)
    assert _rows(AI.pq_topk_indexed(spark, path, q, k=5), cols) == _rows(
        want, cols
    )


def test_wrong_kind_raises(spark, emb, tmp_path):
    path = str(tmp_path / "pq")
    AI.build_pq_index(emb, path, m=8, k=16)
    q = emb.where(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="not an IVF index"):
        AI.ivf_topk_indexed(spark, path, q)


def test_interrupted_compaction_fails_loud_and_reads_stale(spark, emb, tmp_path):
    """A crash inside compact's metadata window leaves the folding
    marker set: every surface refuses (base/delta could overlap), and
    is_stale reports True so guarded callers rebuild."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    meta = AI.index_meta(path)
    meta["folding"] = True
    _write_sidecar(path, AI._META, meta)
    q = emb.where(F.col("vec_id") < 2)
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        AI.ivf_topk_indexed(spark, path, q, k=3)
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        AI.append_to_index(path, q)
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        AI.compact_index(spark, path)
    assert AI.is_stale(path, emb)
    # rebuild clears the marker: everything works again
    AI.build_ivf_index(emb, path, n_cells=8)
    assert not AI.is_stale(path, emb)
    assert AI.ivf_topk_indexed(spark, path, q, k=3).count() == 6


def test_rebuild_clears_stale_deltas_and_staging(spark, emb, tmp_path):
    """ADVICE r7 #2: a rebuild over a path that has streamed deltas (or
    leftover compaction staging dirs) must NOT union the previous
    life's delta rows back in — they were assigned with the OLD
    quantizer and would duplicate or mis-cell rows.  build_* now resets
    stream/, *.compacting and *.old before writing anything."""
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(even, path, n_cells=8)
    AI.index_stream_sink(path)(odd, 0)
    # plant staging leftovers from a hypothetical interrupted compaction
    os.makedirs(os.path.join(path, "corpus.compacting"), exist_ok=True)
    os.makedirs(os.path.join(path, "corpus.old"), exist_ok=True)
    # rebuild on the SAME source: must describe exactly the new build
    meta = AI.build_ivf_index(even, path, n_cells=8)
    assert meta["rows"] == even.count()
    assert not os.path.isdir(os.path.join(path, "stream"))
    assert not os.path.isdir(os.path.join(path, "corpus.compacting"))
    assert not os.path.isdir(os.path.join(path, "corpus.old"))
    q = emb.where(F.col("vec_id") < 8)
    got = AI.ivf_topk_indexed(spark, path, q, k=5, nprobe=8)
    # no neighbor can come from the dropped odd half
    assert all(
        r["neighbor_id"] % 2 == 0 for r in got.collect()
    )


def test_empty_stream_epochs_are_first_class(spark, emb, tmp_path):
    """ADVICE r7 #3: a delta tree whose every micro-batch was EMPTY
    contains no parquet data files (empty partitioned writes emit
    nothing) — query and compaction must still work via the
    sidecar-recorded schema, not die with UNABLE_TO_INFER_SCHEMA."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    empty = emb.where(F.lit(False))
    sink = AI.index_stream_sink(path)
    sink(empty, 0)
    sink(empty, 1)
    assert os.path.isdir(os.path.join(path, "stream"))
    q = emb.where(F.col("vec_id") < 4)
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    got = _rows(AI.ivf_topk_indexed(spark, path, q, k=5, nprobe=4), cols)
    # identical to an index that never streamed at all
    bpath = str(tmp_path / "ivf_clean")
    AI.build_ivf_index(emb, bpath, n_cells=8)
    want = _rows(AI.ivf_topk_indexed(spark, bpath, q, k=5, nprobe=4), cols)
    assert got == want
    meta = AI.compact_index(spark, path)
    assert meta["rows"] == emb.count()
    assert not os.path.isdir(os.path.join(path, "stream"))
    # PQ delta flavor too (no partition columns in the codes table)
    ppath = str(tmp_path / "pq")
    AI.build_pq_index(emb, ppath, m=8, k=16)
    AI.index_stream_sink(ppath)(empty, 0)
    got_pq = AI.pq_topk_indexed(spark, ppath, q, k=5)
    assert got_pq.count() == 4 * 5


def test_delete_tombstones_then_compact_folds(spark, emb, tmp_path):
    """VERDICT r7 next #3: delete -> queries exclude immediately
    (tombstone anti-join after partition pruning) -> compact -> results
    equal a fresh build over the surviving corpus, tombstones gone."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    dead = emb.where(F.col("vec_id") % 10 == 9).select("vec_id")
    n_dead = dead.count()
    assert n_dead > 0
    meta = AI.delete_from_index(path, dead)
    assert meta["tombstones"] == n_dead
    q = emb.where(F.col("vec_id") < 8)
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    before = AI.ivf_topk_indexed(spark, path, q, k=5, nprobe=8)
    assert all(r["neighbor_id"] % 10 != 9 for r in before.collect())
    # replayed delete is a no-op on the live arithmetic
    assert AI.delete_from_index(path, dead)["tombstones"] == n_dead

    got_before = _rows(before, cols)
    meta = AI.compact_index(spark, path)
    assert "tombstones" not in meta
    assert meta["rows"] == emb.count() - n_dead
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    got_after = _rows(AI.ivf_topk_indexed(spark, path, q, k=5, nprobe=8), cols)
    assert got_before == got_after
    # equals a fresh build over the surviving corpus: same frozen
    # quantizer (fit sample is md5-ordered over ALL ids, but the fit
    # corpus differs) -> compare against the SAME index rebuilt minus
    # the dead rows via append of survivors instead
    survivors = emb.where(F.col("vec_id") % 10 != 9)
    assert {r["neighbor_id"] for r in before.collect()} <= {
        r["vec_id"] for r in survivors.select("vec_id").collect()
    }


def test_delete_from_pq_and_delta_interplay(spark, emb, tmp_path):
    """Tombstones hit the pq codes table and rows living in the
    streaming DELTA tree too (deleted after being streamed in)."""
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "pq")
    AI.build_pq_index(even, path, m=8, k=16)
    AI.index_stream_sink(path)(odd, 0)
    # delete some odd ids (they only exist in the delta tree)
    dead = odd.where(F.col("vec_id") % 4 == 1).select("vec_id")
    AI.delete_from_index(path, dead)
    q = emb.where(F.col("vec_id") < 4)
    got = AI.pq_topk_indexed(spark, path, q, k=5)
    assert all(r["neighbor_id"] % 4 != 1 for r in got.collect())
    meta = AI.compact_index(spark, path)
    assert meta["rows"] == even.count() + odd.count() - dead.count()


def test_upsert_replaces_vectors_and_inserts_new(spark, emb, tmp_path):
    """upsert_into_index: changed vectors re-enter at a higher write
    generation, so the point-in-time tombstone kills only the OLD
    version — no resurrection, no loss of the new one — and unknown
    ids are plain inserts."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    n0 = AI.index_meta(path)["rows"]
    # replace vec_id%10==3 with REVERSED embeddings (changes the cell
    # assignment for most) and insert two brand-new ids
    changed = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    fresh = emb.where(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    up = changed.unionByName(fresh)
    meta = AI.upsert_into_index(path, up)
    assert meta["rows"] == n0 + up.count()  # physical rows: old+new
    stored, live = AI._stored(spark, path, AI.index_meta(path))
    # live view: every id exactly once, upserted ids carry NEW vectors
    assert live == n0 + fresh.count()
    assert stored.count() == live
    got = {
        r["vec_id"]: list(r["embedding"])
        for r in stored.join(
            F.broadcast(up.select("vec_id")), "vec_id", "left_semi"
        ).collect()
    }
    want = {r["vec_id"]: list(r["embedding"]) for r in up.collect()}
    assert got == want
    # queries see the new versions; compaction preserves them bitwise
    q = emb.where(F.col("vec_id") < 8)
    cols = ["query_id", "neighbor_id", "cosine", "rank"]
    before = _rows(AI.ivf_topk_indexed(spark, path, q, k=5, nprobe=8), cols)
    AI.compact_index(spark, path)
    after = _rows(AI.ivf_topk_indexed(spark, path, q, k=5, nprobe=8), cols)
    assert before == after
    assert AI.index_meta(path)["rows"] == live


def test_upsert_twice_latest_generation_wins(spark, emb, tmp_path):
    """Two upserts of the same id: the second version wins (gen order),
    and a replayed delete of the FIRST generation cannot kill it."""
    path = str(tmp_path / "pq")
    AI.build_pq_index(emb, path, m=8, k=16)
    one = emb.where(F.col("vec_id") == 7)
    v1 = one.select("vec_id", F.reverse("embedding").alias("embedding"))
    AI.upsert_into_index(path, v1)
    AI.upsert_into_index(path, one)  # back to the original vector
    stored, _ = AI._stored(spark, path, AI.index_meta(path))
    rows = stored.where(F.col("neighbor_id") == 7).collect()
    assert len(rows) == 1  # exactly one live version
    # codes equal a fresh encode of the ORIGINAL vector
    want = AI._assign_rows(AI.index_meta(path), one)[0].collect()[0]["codes"]
    assert list(rows[0]["codes"]) == list(want)


def test_upsert_after_stream_delta_gen_ordering(spark, emb, tmp_path):
    """Rows living in the streaming delta tree are upsertable: the
    tombstone's __upto (recovered from epoch dirs via _gen_high) covers
    the delta generation, and the appended new version outranks it."""
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(even, path, n_cells=8)
    AI.index_stream_sink(path)(odd, 0)
    target = odd.where(F.col("vec_id") % 10 == 1)
    newv = target.select("vec_id", F.reverse("embedding").alias("embedding"))
    AI.upsert_into_index(path, newv)
    stored, _ = AI._stored(spark, path, AI.index_meta(path))
    got = {
        r["vec_id"]: list(r["embedding"])
        for r in stored.join(
            F.broadcast(newv.select("vec_id")), "vec_id", "left_semi"
        ).collect()
    }
    want = {r["vec_id"]: list(r["embedding"]) for r in newv.collect()}
    assert got == want
    # compaction folds delta + tombstones + upserts into one clean base
    meta = AI.compact_index(spark, path)
    assert meta["rows"] == even.count() + odd.count()
    stored2, _ = AI._stored(spark, path, AI.index_meta(path))
    got2 = {
        r["vec_id"]: list(r["embedding"])
        for r in stored2.join(
            F.broadcast(newv.select("vec_id")), "vec_id", "left_semi"
        ).collect()
    }
    assert got2 == want


def test_upsert_crash_between_delete_and_add_converges(spark, emb, tmp_path):
    """The documented crash contract: delete landed, append didn't —
    the id is missing; re-running the same upsert converges to the
    upserted state without double-killing or duplicating."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    up = emb.where(F.col("vec_id") == 11).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    # simulate the crash: only the tombstone half ran
    AI.delete_from_index(path, up.select("vec_id"))
    stored, _ = AI._stored(spark, path, AI.index_meta(path))
    assert stored.where(F.col("vec_id") == 11).count() == 0
    AI.upsert_into_index(path, up)  # the retry
    stored, live = AI._stored(spark, path, AI.index_meta(path))
    rows = stored.where(F.col("vec_id") == 11).collect()
    assert len(rows) == 1
    assert list(rows[0]["embedding"]) == [
        float(x) for x in up.collect()[0]["embedding"]
    ]
    assert live == emb.count()


def test_property_mutation_interleavings_match_model(spark, emb, tmp_path):
    """Hypothesis over random append/delete/upsert interleavings: the
    live view always equals a plain dict model (id -> latest version's
    vector).  This is the adversarial check on the write-generation
    machinery — any upto/gen ordering bug (resurrection, lost new
    version, double-kill) diverges from the model."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    dim = len(emb.head()["embedding"])
    base = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 8).collect()
    }
    ids_st = st.lists(
        st.integers(min_value=0, max_value=7), min_size=1, max_size=3
    )
    ops_st = st.lists(
        st.tuples(st.sampled_from(["add", "del", "ups"]), ids_st),
        min_size=1,
        max_size=4,
    )

    def vec(i, version):
        return base[i] if version == 0 else [float(version)] * dim

    def frame(pairs):  # [(id, version)]
        return spark.createDataFrame(
            [(i, vec(i, v)) for i, v in pairs],
            "vec_id long, embedding array<float>",
        )

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=ops_st, start=st.sets(st.integers(0, 7), min_size=1))
    def check(ops, start):
        import shutil as _sh

        path = str(tmp_path / "prop")
        _sh.rmtree(path, ignore_errors=True)
        model = {i: 0 for i in sorted(start)}
        AI.build_ivf_index(frame(sorted(model.items())), path, n_cells=2)
        ver = 0
        for op, ids in ops:
            ids = sorted(set(ids))
            if op == "del":
                AI.delete_from_index(path, frame([(i, 0) for i in ids]).select("vec_id"))
                for i in ids:
                    model.pop(i, None)
            elif op == "ups":
                ver += 1
                AI.upsert_into_index(path, frame([(i, ver) for i in ids]))
                for i in ids:
                    model[i] = ver
            else:  # add: only ids not live (the append contract)
                fresh = [i for i in ids if i not in model]
                if not fresh:
                    continue
                ver += 1
                AI.append_to_index(path, frame([(i, ver) for i in fresh]))
                for i in fresh:
                    model[i] = ver
        stored, live = AI._stored(spark, path, AI.index_meta(path))
        got = {
            r["vec_id"]: [round(float(x), 4) for x in r["embedding"]]
            for r in stored.collect()
        }
        want = {
            i: [round(x, 4) for x in vec(i, v)] for i, v in model.items()
        }
        assert got == want
        assert live == len(model)

    check()


def test_interrupted_upsert_is_detectable_and_replay_clears(
    spark, emb, tmp_path, monkeypatch
):
    """The r8-verdict intent-marker contract: a crash between the
    tombstone write and the re-append leaves the ``upserting`` marker
    set — queries refuse loudly, is_stale reports True, and replaying
    the upsert clears the marker and converges."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    up = emb.where(F.col("vec_id") == 11).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the re-append")

    monkeypatch.setattr(AI, "append_to_index", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        AI.upsert_into_index(path, up)
    monkeypatch.undo()
    assert AI.index_meta(path).get("upserting") is True
    q = emb.where(F.col("vec_id") < 2)
    with pytest.raises(RuntimeError, match="interrupted upsert"):
        AI.ivf_topk_indexed(spark, path, q, k=3, nprobe=2)
    with pytest.raises(RuntimeError, match="interrupted upsert"):
        AI.compact_index(spark, path)
    assert AI.is_stale(path, emb)  # guarded callers rebuild
    AI.upsert_into_index(path, up)  # the replay
    assert "upserting" not in AI.index_meta(path)
    stored, _ = AI._stored(spark, path, AI.index_meta(path))
    assert stored.where(F.col("vec_id") == 11).count() == 1


def test_huge_tombstone_set_plans_without_broadcast_hint(
    spark, emb, tmp_path
):
    """The r8-verdict scale hazard: the tombstone anti-join must DROP
    its forced broadcast hint once the sidecar's exact tombstone count
    says the set is too big for executor memory — the join still plans
    (AQE picks the strategy) and returns identical rows."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    dead = emb.where(F.col("vec_id") % 10 == 4).select("vec_id")
    AI.delete_from_index(path, dead)

    def hinted(df):
        return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()

    small, live_small = AI._stored(spark, path, AI.index_meta(path))
    assert hinted(small)  # under the threshold: broadcast forced
    meta = AI.index_meta(path)
    meta["tombstones"] = AI.TOMB_BROADCAST_MAX + 1
    _write_sidecar(path, AI._META, meta)
    big, live_big = AI._stored(spark, path, AI.index_meta(path))
    assert not hinted(big)  # over: unhinted, AQE chooses
    key = lambda df: sorted(r["vec_id"] for r in df.collect())
    assert key(big) == key(small)
    assert live_big == live_small


def test_batch_append_mid_stream_rebases_future_epochs(
    spark, emb, tmp_path
):
    """ADVICE r8 (medium): sink → epoch 0 → batch append → delete →
    epoch 1 must NOT kill epoch 1's rows.  The batch append re-bases
    the sidecar's stream_base past its own generation and the sink
    reads it per epoch, so epoch 1 outranks the delete's __upto."""
    even = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.where(F.col("vec_id") % 2 == 1)
    e0 = odd.where(F.col("vec_id") % 3 == 0)   # epoch 0
    ap = odd.where(F.col("vec_id") % 3 == 1)   # batch append
    e1 = odd.where(F.col("vec_id") % 3 == 2)   # epoch 1 (after delete)
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(even, path, n_cells=8)
    sink = AI.index_stream_sink(path)
    sink(e0, 0)
    AI.append_to_index(path, ap)
    # delete a handful of epoch-0 ids AFTER the append: __upto covers
    # the append's generation
    dead = e0.select("vec_id").limit(3)
    dead_ids = sorted(r["vec_id"] for r in dead.collect())
    AI.delete_from_index(path, dead)
    sink(e1, 1)  # lands AFTER the delete — must survive it
    stored, _ = AI._stored(spark, path, AI.index_meta(path))
    live = {r["vec_id"] for r in stored.select("vec_id").collect()}
    e1_ids = {r["vec_id"] for r in e1.select("vec_id").collect()}
    ap_ids = {r["vec_id"] for r in ap.select("vec_id").collect()}
    assert e1_ids <= live          # the lost-new-version hazard, closed
    assert ap_ids <= live          # the batch append is intact
    assert not (set(dead_ids) & live)  # the delete still took


def test_delete_accepts_plain_iterable_of_ids(spark, emb, tmp_path):
    """textindex parity: a Python list of ids deletes exactly like the
    DataFrame form; an empty iterable is a no-op."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    assert AI.delete_from_index(path, []).get("tombstones") is None
    ids = [r["vec_id"] for r in emb.select("vec_id").limit(3).collect()]
    meta = AI.delete_from_index(path, ids)
    assert meta["tombstones"] == 3 and meta["tomb_killed"] == 3
    stored, live = AI._stored(spark, path, AI.index_meta(path))
    assert stored.where(F.col("vec_id").isin(ids)).count() == 0
    assert live == emb.count() - 3


def test_upsert_sink_cdc_batches_latest_version_wins(spark, emb, tmp_path):
    """index_upsert_sink: two CDC micro-batches upsert; the second
    batch's version of a twice-changed id wins, untouched ids stay,
    and a replayed epoch converges."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    sink = AI.index_upsert_sink(path)
    b1 = emb.where(F.col("vec_id") % 10 == 3).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    b2 = emb.where(F.col("vec_id") % 20 == 3).select(
        "vec_id", F.transform(
            "embedding", lambda x: x * F.lit(2.0)
        ).alias("embedding")
    )
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # crash replay of the last epoch: converges
    sink(emb.limit(0), 2)  # empty batch: no-op
    stored, live = AI._stored(spark, path, AI.index_meta(path))
    assert live == emb.count()
    want = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    for r in b1.collect():
        want[r["vec_id"]] = [float(x) for x in r["embedding"]]
    for r in b2.collect():
        want[r["vec_id"]] = [float(x) for x in r["embedding"]]
    got = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in stored.collect()
    }
    assert got == want


def test_upsert_sink_restart_replays_through_interrupted_marker(
    spark, emb, tmp_path, monkeypatch
):
    """A CDC stream that crashed mid-upsert must be able to RESTART:
    the sink factory does not refuse on the ``upserting`` marker — the
    replayed epoch is exactly the recovery that clears it."""
    path = str(tmp_path / "ivf")
    AI.build_ivf_index(emb, path, n_cells=8)
    up = emb.where(F.col("vec_id") == 11).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the re-append")

    monkeypatch.setattr(AI, "append_to_index", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        AI.index_upsert_sink(path)(up, 0)
    monkeypatch.undo()
    assert AI.index_meta(path).get("upserting") is True
    sink = AI.index_upsert_sink(path)  # the restart: must not refuse
    sink(up, 0)  # the replayed epoch clears the marker
    assert "upserting" not in AI.index_meta(path)
    stored, _ = AI._stored(spark, path, AI.index_meta(path))
    assert stored.where(F.col("vec_id") == 11).count() == 1
