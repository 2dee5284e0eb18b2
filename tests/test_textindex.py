"""Persisted inverted text index (operators.textindex).

Contracts proven here:
- boolean retrieval over the index equals a brute-force tokenize scan;
- BM25 scores match an independent plain-Python computation exactly
  (same integer-micro-unit accumulation);
- the probe scan is partition-pruned on the term bucket;
- driver-side bucket twin agrees with the Spark bucket expression.
"""

import math
import os
import re
from collections import Counter

import pytest

from pyspark.sql import functions as F

from kerf_spark.operators import textindex as TI
from kerf_spark.sources.ledger import _write_sidecar

SF_DIR = "/root/testdata/sf0.001"
TERMS = ["merge", "stream", "vector"]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def index(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ti") / "idx")
    TI.build_text_index(docs, path, n_buckets=32)
    return path


def _py_tokens(text, min_len=3):
    return [
        t for t in re.split(r"[^a-z]+", text.lower())
        if len(t) >= min_len
    ]


def test_bucket_twin_matches_spark(spark):
    terms = ["merge", "stream", "vector", "a" * 40, "zq"]
    rows = spark.createDataFrame(
        [(t,) for t in terms], "term string"
    ).select("term", TI._term_bucket_col("term", 32).alias("tb")).collect()
    for r in rows:
        assert r["tb"] == TI.term_bucket_py(r["term"], 32), r["term"]


def test_and_or_search_match_bruteforce(spark, docs, index):
    pdf = docs.select("doc_id", "text").toPandas()
    want_and, want_or = set(), set()
    for _, row in pdf.iterrows():
        present = set(_py_tokens(row["text"])) & set(TERMS)
        if present:
            want_or.add(row["doc_id"])
        if len(present) == len(TERMS):
            want_and.add(row["doc_id"])
    got_and = {
        r["doc_id"]
        for r in TI.keyword_search(spark, index, TERMS, "and").collect()
    }
    got_or = {
        r["doc_id"]
        for r in TI.keyword_search(spark, index, TERMS, "or").collect()
    }
    assert got_and == want_and
    assert got_or == want_or
    assert want_and  # fixture sanity: the query is non-trivial


def test_bm25_matches_independent_python(spark, docs, index):
    k1, b, k = 1.2, 0.75, 10
    pdf = docs.select("doc_id", "text").toPandas()
    toks = {r["doc_id"]: _py_tokens(r["text"]) for _, r in pdf.iterrows()}
    dls = {d: len(ts) for d, ts in toks.items() if ts}
    n_docs, sum_dl = len(dls), sum(dls.values())
    avgdl = float(sum_dl) / float(n_docs)
    dfreq = {
        t: sum(1 for ts in toks.values() if t in ts) for t in TERMS
    }
    scores = {}
    for d, ts in toks.items():
        cnt = Counter(ts)
        acc = 0
        matched = 0
        for t in sorted(set(TERMS)):
            tf = cnt.get(t, 0)
            if not tf:
                continue
            matched += 1
            idf = math.log(
                1.0 + (float(n_docs) - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
            )
            tfn = (tf * (1.0 + k1)) / (
                tf + k1 * (1.0 - b + b * dls[d] / avgdl)
            )
            acc += int(
                # Python round() is banker's; replicate HALF_UP on the
                # positive contribs the engines use
                math.floor(idf * tfn * 1000000.0 + 0.5)
            )
        if matched:
            scores[d] = (round(acc / 1000000.0, 6), matched)
    want = sorted(
        ((s, -d) for d, (s, _) in scores.items()), reverse=True
    )[:k]
    want = [(-negd, s) for s, negd in want]
    got = TI.bm25_topk(spark, index, TERMS, k=k, k1=k1, b=b).collect()
    got_pairs = [(r["doc_id"], r["score"]) for r in got]
    assert got_pairs == want
    for r in got:
        assert r["matched"] == scores[r["doc_id"]][1]
    assert [r["rank"] for r in got] == list(range(1, len(got) + 1))


def test_bm25_dfreq_rides_termstats_sidecar(spark, docs, index, tmp_path):
    """FORMAT 3/4 (optimization r14): BM25's per-term document
    frequencies come from the ``termstats`` sidecar — the plan scans
    termstats and carries NO count(distinct) postings re-aggregation —
    on a clean index AND on a tombstoned one (FORMAT 4: deletes append
    negative sidecar deltas), bitwise identical to both a fresh build
    over the survivors and the forced postings-aggregation fallback."""
    # plan-string assertions grep the scan Location paths, which Spark
    # truncates at maxMetadataStringLength (default 100) — pytest tmp
    # paths are long enough to cut ".../termstats" out of the string
    prev_len = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        _run_sidecar_checks(spark, docs, index, tmp_path)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev_len)


def _run_sidecar_checks(spark, docs, index, tmp_path):
    fast = TI.bm25_topk(spark, index, TERMS, k=10)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "termstats" in plan
    assert "distinct" not in plan.lower()

    # FORMAT 4: a TOMBSTONED index rides the sidecar too — the delete
    # appended negative per-term deltas, so the plan still scans
    # termstats with no count(distinct) re-aggregation, and the rows
    # equal a fresh build over the survivors bitwise
    twin = str(tmp_path / "twin")
    TI.build_text_index(docs, twin, n_buckets=32)
    victim = [
        r["doc_id"]
        for r in docs.select("doc_id").orderBy("doc_id").limit(1).collect()
    ]
    TI.delete_from_text_index(twin, victim)
    deleted = TI.bm25_topk(spark, twin, TERMS, k=10)
    dplan = deleted._jdf.queryExecution().executedPlan().toString()
    assert "termstats" in dplan
    assert "distinct" not in dplan.lower()
    # rebuild the fast index without the victim: identical rows
    fast2_path = str(tmp_path / "fast2")
    TI.build_text_index(
        docs.where(~F.col("doc_id").isin(victim)), fast2_path, n_buckets=32
    )
    fast2 = TI.bm25_topk(spark, fast2_path, TERMS, k=10)
    a = sorted(map(tuple, fast2.collect()))
    b = sorted(map(tuple, deleted.collect()))
    assert a == b
    # and the postings-aggregation fallback (forced) agrees bitwise
    orig = TI._stats_dfreq
    TI._stats_dfreq = lambda *a_, **k_: None
    try:
        slow = TI.bm25_topk(spark, twin, TERMS, k=10)
        splan = slow._jdf.queryExecution().executedPlan().toString()
        assert "distinct" in splan.lower()
        assert b == sorted(map(tuple, slow.collect()))
    finally:
        TI._stats_dfreq = orig


def test_delete_crash_window_refuses_and_rebuilds(spark, docs, tmp_path):
    """FORMAT 4 crash discipline: the ``deleting`` intent marker
    brackets the sidecar delta append + tombstone/meta commit.  While
    set, queries and further writes refuse loudly and ``is_stale``
    reports True (staleness-guarded callers rebuild) — a replayed
    delete must never double-subtract the sidecar delta."""
    import pytest

    p = str(tmp_path / "crash")
    TI.build_text_index(docs, p, n_buckets=8)
    meta = TI.index_meta(p)
    meta["deleting"] = True
    _write_sidecar(p, TI._META, meta)
    assert TI.is_stale(p, docs)
    with pytest.raises(RuntimeError, match="interrupted delete"):
        TI.bm25_topk(spark, p, TERMS, k=10)
    with pytest.raises(RuntimeError, match="interrupted delete"):
        TI.delete_from_text_index(p, [0])
    with pytest.raises(RuntimeError, match="interrupted delete"):
        TI.append_to_text_index(p, docs.limit(0))
    # rebuild clears the marker and the index answers again
    TI.build_text_index(docs, p, n_buckets=8)
    assert not TI.is_stale(p, docs)
    assert TI.bm25_topk(spark, p, TERMS, k=10).count() > 0


def test_probe_scan_is_partition_pruned(spark, docs, index):
    dirs = [
        d
        for d in os.listdir(os.path.join(index, "postings"))
        if d.startswith("tb=")
    ]
    assert len(dirs) > 1
    plan = (
        TI.bm25_topk(spark, index, TERMS, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):]
    assert "tb" in seg[: seg.index("]")]


def _py_phrase_hits(text, terms):
    raw = re.split(r"[^a-z]+", text.lower())
    n = len(terms)
    return sum(
        1 for i in range(len(raw) - n + 1) if raw[i:i + n] == terms
    )


@pytest.mark.parametrize(
    "phrase",
    [["fast", "table"], ["big", "table", "scan"], ["table", "table"]],
)
def test_phrase_search_matches_bruteforce(spark, docs, index, phrase):
    pdf = docs.select("doc_id", "text").toPandas()
    want = {
        r["doc_id"]: _py_phrase_hits(r["text"], phrase)
        for _, r in pdf.iterrows()
    }
    want = {d: h for d, h in want.items() if h > 0}
    got = {
        r["doc_id"]: r["hits"]
        for r in TI.phrase_search(spark, index, phrase).collect()
    }
    assert got == want


def test_phrase_search_positionless_index_raises(spark, docs, tmp_path):
    path = str(tmp_path / "nopos")
    TI.build_text_index(docs, path, positions=False)
    with pytest.raises(ValueError, match="positions"):
        TI.phrase_search(spark, path, ["fast", "table"])
    with pytest.raises(ValueError, match="phrase"):
        TI.phrase_search(spark, str(tmp_path / "nopos"), [])


def test_stale_detection_and_reuse(spark, docs, tmp_path):
    path = str(tmp_path / "idx")
    assert TI.is_stale(path, docs)
    TI.build_text_index(docs, path)
    assert not TI.is_stale(path, docs)
    moved = str(tmp_path / "src")
    docs.write.parquet(moved)
    assert TI.is_stale(path, spark.read.parquet(moved))


def _all_results(spark, path):
    """Every retrieval surface over one index, as sorted row tuples."""
    bm = TI.bm25_topk(spark, path, TERMS, k=10).collect()
    kw = TI.keyword_search(spark, path, TERMS, "and").collect()
    ph = TI.phrase_search(spark, path, ["fast", "table"]).collect()
    return (
        sorted((r["doc_id"], r["score"], r["matched"], r["rank"]) for r in bm),
        sorted((r["doc_id"], r["matched"]) for r in kw),
        sorted((r["doc_id"], r["hits"]) for r in ph),
    )


def test_append_equals_full_rebuild(spark, docs, tmp_path):
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    full_path = str(tmp_path / "full")
    TI.build_text_index(docs, full_path)
    app_path = str(tmp_path / "app")
    TI.build_text_index(even, app_path)
    meta = TI.append_to_text_index(app_path, odd)
    # no learned fits -> appended index equals the full rebuild EXACTLY
    fmeta = TI.index_meta(full_path)
    assert (meta["n_docs"], meta["sum_dl"]) == (
        fmeta["n_docs"], fmeta["sum_dl"],
    )
    assert meta["appends"][0]["docs"] == odd.count()
    assert _all_results(spark, app_path) == _all_results(spark, full_path)


def test_stream_sink_and_compaction_equal_full(spark, docs, tmp_path):
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    full_path = str(tmp_path / "full")
    TI.build_text_index(docs, full_path)
    want = _all_results(spark, full_path)
    sp = str(tmp_path / "stream")
    TI.build_text_index(even, sp)
    sink = TI.text_index_stream_sink(sp)
    # TWO distinct epochs (multi-root delta read is its own code path —
    # Spark refuses one multi-root read over partitioned trees) plus a
    # crash-replay of each, absorbed by epoch-dir overwrite
    odd_a = odd.where(F.col("doc_id") % 4 == 1)
    odd_b = odd.where(F.col("doc_id") % 4 == 3)
    sink(odd_a, 5)
    sink(odd_a, 5)
    sink(odd_b, 6)
    assert _all_results(spark, sp) == want  # delta path, live stats
    meta = TI.compact_text_index(spark, sp)
    assert meta["compactions"] == 1
    assert not os.path.isdir(os.path.join(sp, "stream"))
    assert (meta["n_docs"], meta["sum_dl"]) == (
        TI.index_meta(full_path)["n_docs"],
        TI.index_meta(full_path)["sum_dl"],
    )
    assert _all_results(spark, sp) == want  # compacted path
    # idempotent when nothing to fold
    assert TI.compact_text_index(spark, sp)["compactions"] == 1


def test_bad_mode_raises(spark, docs, index):
    with pytest.raises(ValueError, match="mode"):
        TI.keyword_search(spark, index, TERMS, "xor")


def test_non_alphabet_terms_fail_loudly(spark, docs, index):
    """The tokenizer's alphabet is [a-z]+ — any other query term can
    never match, so the API refuses it instead of returning silent
    empties."""
    for bad in (["Merge"], ["naïve"], ["fast", ""], ["a b"], [None]):
        with pytest.raises(ValueError, match="a-z"):
            TI.keyword_search(spark, index, TERMS + bad)
        with pytest.raises(ValueError, match="a-z"):
            TI.bm25_topk(spark, index, TERMS + bad)
        with pytest.raises(ValueError, match="a-z"):
            TI.phrase_search(spark, index, ["fast"] + bad)


def test_interrupted_compaction_fails_loud_and_reads_stale(spark, docs, tmp_path):
    path = str(tmp_path / "idx")
    TI.build_text_index(docs, path)
    meta = TI.index_meta(path)
    meta["folding"] = True
    _write_sidecar(path, TI._META, meta)
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        TI.keyword_search(spark, path, TERMS)
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        TI.bm25_topk(spark, path, TERMS)
    with pytest.raises(RuntimeError, match="interrupted compaction"):
        TI.phrase_search(spark, path, ["fast", "table"])
    assert TI.is_stale(path, docs)
    TI.build_text_index(docs, path)  # rebuild clears the marker
    assert not TI.is_stale(path, docs)
    assert TI.keyword_search(spark, path, TERMS).count() > 0


def test_empty_corpus_index_is_first_class(spark, tmp_path):
    """A corpus with ZERO qualifying tokens (empty/short docs) must
    build, persist, and answer empty — not crash on NULL stats or
    schema-less empty parquet trees (both found by hypothesis)."""
    df = spark.createDataFrame(
        [(0, ""), (1, "a b"), (2, None)], "doc_id long, text string"
    )
    path = str(tmp_path / "empty")
    meta = TI.build_text_index(df, path)
    assert (meta["n_docs"], meta["sum_dl"]) == (0, 0)
    assert TI.keyword_search(spark, path, TERMS).count() == 0
    assert TI.bm25_topk(spark, path, TERMS).count() == 0
    assert TI.phrase_search(spark, path, ["fast", "table"]).count() == 0
    # an empty micro-batch delta is equally first-class
    TI.text_index_stream_sink(path)(df.where(F.col("doc_id") < 0), 0)
    assert TI.bm25_topk(spark, path, TERMS).count() == 0
    TI.compact_text_index(spark, path)
    assert TI.keyword_search(spark, path, TERMS, "or").count() == 0


def test_rebuild_clears_stale_deltas_and_staging(spark, docs, tmp_path):
    """ADVICE r7 #2 (textindex flavor): a rebuild over a path with
    streamed deltas or compaction staging leftovers must describe
    exactly the new build — never union a previous life's postings
    back in (duplicate postings would skew tf and BM25)."""
    path = str(tmp_path / "tix")
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    TI.build_text_index(even, path)
    TI.text_index_stream_sink(path)(odd, 0)
    os.makedirs(os.path.join(path, "postings.compacting"), exist_ok=True)
    os.makedirs(os.path.join(path, "doclens.old"), exist_ok=True)
    meta = TI.build_text_index(even, path)
    assert meta["n_docs"] == even.count()
    assert not os.path.isdir(os.path.join(path, "stream"))
    assert not os.path.isdir(os.path.join(path, "postings.compacting"))
    assert not os.path.isdir(os.path.join(path, "doclens.old"))
    hits = TI.keyword_search(spark, path, ["the"])
    assert all(r["doc_id"] % 2 == 0 for r in hits.collect())


def test_delete_docs_then_compact_equals_fresh_build(spark, docs, tmp_path):
    """Tombstoned docs vanish from keyword/BM25/phrase results
    immediately (anti-join after bucket pruning, stats counters
    adjusted), and after compaction the index answers BITWISE like one
    built fresh without those docs — same integer stats, same avgdl
    literal, same scores."""
    path = str(tmp_path / "tix")
    TI.build_text_index(docs, path)
    dead = docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
    n_dead = dead.count()
    assert n_dead > 0
    meta = TI.delete_from_text_index(path, dead)
    assert meta["tomb_docs"] > 0

    terms = ["the", "and"]
    hits = TI.keyword_search(spark, path, terms, mode="or")
    assert all(r["doc_id"] % 7 != 3 for r in hits.collect())
    # replayed delete: counters unchanged (live doclens already filtered)
    meta2 = TI.delete_from_text_index(path, dead)
    assert meta2["tomb_docs"] == meta["tomb_docs"]
    assert meta2["tomb_dl"] == meta["tomb_dl"]

    def rows(df, cols):
        return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]

    bcols = ["doc_id", "score", "matched", "rank"]
    before = rows(TI.bm25_topk(spark, path, terms, k=10), bcols)
    TI.compact_text_index(spark, path)
    import os as _os

    assert not _os.path.isdir(_os.path.join(path, "tombstones"))
    after = rows(TI.bm25_topk(spark, path, terms, k=10), bcols)
    assert before == after

    fresh = str(tmp_path / "fresh")
    TI.build_text_index(docs.where(F.col("doc_id") % 7 != 3), fresh)
    want = rows(TI.bm25_topk(spark, fresh, terms, k=10), bcols)
    assert after == want
    # phrase search over the compacted positional index excludes too
    ph = TI.phrase_search(spark, path, ["of", "the"])
    assert all(r["doc_id"] % 7 != 3 for r in ph.collect())


def _py_near_hits(text, a, b, slop, ordered):
    raw = [t for t in re.split(r"[^a-z]+", text.lower())]
    pa = [i for i, t in enumerate(raw) if t == a]
    pb = [i for i, t in enumerate(raw) if t == b]
    if ordered:
        return sum(1 for x in pa for y in pb if 1 <= y - x <= slop)
    return sum(1 for x in pa for y in pb if abs(y - x) <= slop)


@pytest.mark.parametrize(
    "a,b,slop,ordered",
    [
        ("fast", "table", 3, False),
        ("fast", "table", 1, True),   # == adjacency when phrase-like
        ("big", "scan", 5, False),
        ("the", "and", 2, True),
    ],
)
def test_near_search_matches_bruteforce(spark, docs, index, a, b, slop, ordered):
    pdf = docs.select("doc_id", "text").toPandas()
    want = {
        r["doc_id"]: _py_near_hits(r["text"], a, b, slop, ordered)
        for _, r in pdf.iterrows()
    }
    want = {d: h for d, h in want.items() if h > 0}
    got = {
        r["doc_id"]: r["hits"]
        for r in TI.near_search(
            spark, index, a, b, slop=slop, ordered=ordered
        ).collect()
    }
    assert got == want


def test_near_search_ordered_slop1_equals_phrase(spark, docs, index):
    """ordered NEAR/1 IS the exact 2-term phrase — the relaxation
    collapses to adjacency, pinning both operators to each other."""
    ph = {
        (r["doc_id"], r["hits"])
        for r in TI.phrase_search(spark, index, ["fast", "table"]).collect()
    }
    nr = {
        (r["doc_id"], r["hits"])
        for r in TI.near_search(
            spark, index, "fast", "table", slop=1, ordered=True
        ).collect()
    }
    assert ph == nr


def test_near_search_refusals(spark, docs, index, tmp_path):
    with pytest.raises(ValueError, match="distinct"):
        TI.near_search(spark, index, "fast", "fast")
    with pytest.raises(ValueError, match="slop"):
        TI.near_search(spark, index, "fast", "table", slop=0)
    nopos = str(tmp_path / "nopos2")
    TI.build_text_index(docs, nopos, positions=False)
    with pytest.raises(ValueError, match="positions"):
        TI.near_search(spark, nopos, "fast", "table")


def test_upsert_doc_text_replaces_postings_and_stats(spark, docs, tmp_path):
    """upsert_into_text_index: the new text's postings win (old
    version dies at its generation, new survives at the next), BM25
    stats reflect the corpus WITH the new text exactly, and after
    compaction the index answers bitwise like one built fresh over the
    updated corpus."""
    path = str(tmp_path / "tix")
    TI.build_text_index(docs, path)
    # swap each upserted doc's text for the NEXT doc's text (stays
    # inside the fixture vocabulary, guarantees real posting changes)
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("__new")
    )
    up = (
        docs.where(F.col("doc_id") % 7 == 3)
        .join(nxt, "doc_id", "inner")
        .select("doc_id", F.col("__new").alias("text"))
    )
    assert up.count() > 0
    meta = TI.upsert_into_text_index(path, up)
    assert meta["upserts"] == 1

    # the updated corpus, as a plain DataFrame, for the fresh twin
    updated = (
        docs.join(up.select("doc_id", F.col("text").alias("__u")),
                  "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__u"), F.col("text")).alias("text"),
            *[c for c in docs.columns if c not in ("doc_id", "text")],
        )
    )

    def rows(df, cols):
        return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]

    terms = ["the", "and"]
    bcols = ["doc_id", "score", "matched", "rank"]
    got = rows(TI.bm25_topk(spark, path, terms, k=10), bcols)
    fresh = str(tmp_path / "fresh")
    TI.build_text_index(updated, fresh)
    want = rows(TI.bm25_topk(spark, fresh, terms, k=10), bcols)
    assert got == want  # live stats match the fresh build exactly
    # compaction folds the upsert and stays bitwise-equal
    TI.compact_text_index(spark, path)
    assert rows(TI.bm25_topk(spark, path, terms, k=10), bcols) == want
    # keyword + phrase surfaces agree with the fresh twin too
    kw = rows(TI.keyword_search(spark, path, terms, mode="or"), ["doc_id"])
    assert kw == rows(
        TI.keyword_search(spark, fresh, terms, mode="or"), ["doc_id"]
    )
    ph = rows(TI.phrase_search(spark, path, ["of", "the"]), ["doc_id"])
    assert ph == rows(TI.phrase_search(spark, fresh, ["of", "the"]), ["doc_id"])


def test_upsert_inserts_unknown_doc_ids(spark, docs, tmp_path):
    path = str(tmp_path / "tix")
    half = docs.where(F.col("doc_id") % 2 == 0)
    TI.build_text_index(half, path)
    other = docs.where(F.col("doc_id") % 2 == 1)
    TI.upsert_into_text_index(path, other)
    # stats equal the full corpus
    meta = TI.index_meta(path)
    full = str(tmp_path / "full")
    fmeta = TI.build_text_index(docs, full)
    n, s = TI._live_stats(spark, path, meta)
    assert (n, s) == (fmeta["n_docs"], fmeta["sum_dl"])


def test_upsert_crash_replay_converges(spark, docs, tmp_path):
    """Delete landed, append didn't: the doc is gone; re-running the
    upsert converges without double-subtracting stats."""
    path = str(tmp_path / "tix")
    TI.build_text_index(docs, path)
    up = docs.where(F.col("doc_id") == 5).select(
        "doc_id", F.lit("replacement words only").alias("text")
    )
    meta0 = TI.index_meta(path)
    TI.delete_from_text_index(path, up.select("doc_id"))  # the "crash"
    TI.upsert_into_text_index(path, up)  # the retry
    meta = TI.index_meta(path)
    n, s = TI._live_stats(spark, path, meta)
    # n_docs is back to the original count; sum_dl swapped old->new dl
    assert n == meta0["n_docs"]
    hits = TI.keyword_search(spark, path, ["replacement"], mode="and")
    assert [r["doc_id"] for r in hits.collect()] == [5]


def test_property_mutation_interleavings_match_model(spark, tmp_path):
    """Hypothesis over random append/delete/upsert interleavings on the
    text index: boolean retrieval always equals a dict model (doc_id ->
    latest version), version-discriminating terms included — the
    adversarial check on the generation-tombstone machinery."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    ids_st = st.lists(
        st.integers(min_value=0, max_value=7), min_size=1, max_size=3
    )
    ops_st = st.lists(
        st.tuples(st.sampled_from(["add", "del", "ups"]), ids_st),
        min_size=1,
        max_size=4,
    )

    letters = "abcdefghijklmnop"

    def frame(pairs):  # [(doc_id, version)]
        # version token must stay inside the tokenizer's [a-z]+ alphabet
        return spark.createDataFrame(
            [
                (i, f"common filler words vvx{letters[v]} plus doc body")
                for i, v in pairs
            ],
            "doc_id long, text string",
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
        TI.build_text_index(frame(sorted(model.items())), path, n_buckets=4)
        ver = 0
        for op, ids in ops:
            ids = sorted(set(ids))
            if op == "del":
                TI.delete_from_text_index(
                    path,
                    spark.createDataFrame(
                        [(i,) for i in ids], "doc_id long"
                    ),
                )
                for i in ids:
                    model.pop(i, None)
            elif op == "ups":
                ver += 1
                TI.upsert_into_text_index(path, frame([(i, ver) for i in ids]))
                for i in ids:
                    model[i] = ver
            else:
                fresh = [i for i in ids if i not in model]
                if not fresh:
                    continue
                ver += 1
                TI.append_to_text_index(path, frame([(i, ver) for i in fresh]))
                for i in fresh:
                    model[i] = ver
        live = sorted(
            r["doc_id"]
            for r in TI.keyword_search(spark, path, ["common"]).collect()
        )
        assert live == sorted(model)
        for v in {0, ver} | set(model.values()):
            hits = sorted(
                r["doc_id"]
                for r in TI.keyword_search(
                    spark, path, [f"vvx{letters[v]}"]
                ).collect()
            )
            assert hits == sorted(i for i, mv in model.items() if mv == v)
        # live stats stay exact through every interleaving
        n, s = TI._live_stats(spark, path, TI.index_meta(path))
        assert n == len(model)

    check()


def test_upsert_of_streamed_doc_gen_ordering(spark, docs, tmp_path):
    """Docs living in the streaming delta tree are upsertable: the
    tombstone's __upto (recovered from epoch dirs) covers the delta
    generation, the re-derived postings outrank it, and compaction
    folds the whole interleaving into a clean base."""
    path = str(tmp_path / "tix")
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    TI.build_text_index(even, path, n_buckets=8)
    TI.text_index_stream_sink(path)(odd, 0)
    # replace a STREAMED doc's text
    target = odd.select(F.min("doc_id").alias("d")).head()["d"]
    up = spark.createDataFrame(
        [(int(target), "entirely replacement vocabulary here")],
        "doc_id long, text string",
    )
    TI.upsert_into_text_index(path, up)
    hits = TI.keyword_search(spark, path, ["replacement"], mode="and")
    assert [r["doc_id"] for r in hits.collect()] == [target]
    # the OLD streamed text no longer matches for that doc
    sample_terms = [
        t for t in
        (docs.where(F.col("doc_id") == target).head()["text"] or "").lower().split()
        if t.isalpha() and len(t) >= 3
    ][:1]
    if sample_terms:
        old_hits = {
            r["doc_id"]
            for r in TI.keyword_search(spark, path, sample_terms, "and").collect()
        }
        assert target not in old_hits or "replacement" in sample_terms
    # compaction preserves the interleaving bitwise
    before = sorted(
        tuple(r)
        for r in TI.bm25_topk(spark, path, ["replacement"], k=5).collect()
    )
    TI.compact_text_index(spark, path)
    after = sorted(
        tuple(r)
        for r in TI.bm25_topk(spark, path, ["replacement"], k=5).collect()
    )
    assert before == after


def test_delete_accepts_plain_iterable_of_ids(spark, docs, tmp_path):
    """ADVICE r8 (low): the docstring's iterable form is implemented —
    a Python list of ids deletes exactly like the DataFrame form, and
    an empty iterable is a no-op."""
    path = str(tmp_path / "tix")
    TI.build_text_index(docs, path)
    ids = [r["doc_id"] for r in docs.select("doc_id").limit(3).collect()]
    meta0 = TI.index_meta(path)
    meta = TI.delete_from_text_index(path, [])  # no-op
    assert meta.get("tomb_docs", 0) == 0
    meta = TI.delete_from_text_index(path, ids)
    assert meta["tomb_docs"] == 3
    assert meta["tombstones"] == 3
    live = TI._index_table(spark, path, "doclens", TI.index_meta(path))
    assert live.where(F.col("doc_id").isin(ids)).count() == 0
    n, _ = TI._live_stats(spark, path, TI.index_meta(path))
    assert n == meta0["n_docs"] - 3


def test_interrupted_text_upsert_detectable_and_replay_clears(
    spark, docs, tmp_path, monkeypatch
):
    """The intent-marker contract on the text index: crash between
    tombstone and re-append leaves ``upserting`` set — searches refuse,
    is_stale reports True, replay clears and converges."""
    path = str(tmp_path / "tix")
    TI.build_text_index(docs, path)
    up = docs.where(F.col("doc_id") == 5).select(
        "doc_id", F.lit("replacement words only").alias("text")
    )

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the re-append")

    monkeypatch.setattr(TI, "append_to_text_index", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        TI.upsert_into_text_index(path, up)
    monkeypatch.undo()
    assert TI.index_meta(path).get("upserting") is True
    with pytest.raises(RuntimeError, match="interrupted upsert"):
        TI.keyword_search(spark, path, ["replacement"])
    with pytest.raises(RuntimeError, match="interrupted upsert"):
        TI.bm25_topk(spark, path, ["replacement"], k=3)
    assert TI.is_stale(path, docs)
    TI.upsert_into_text_index(path, up)  # the replay
    assert "upserting" not in TI.index_meta(path)
    hits = TI.keyword_search(spark, path, ["replacement"], mode="and")
    assert [r["doc_id"] for r in hits.collect()] == [5]


def test_huge_text_tombstone_set_plans_without_broadcast_hint(
    spark, docs, tmp_path
):
    """Size-guarded tombstone broadcast on the text index (the
    annindex mirror): above the sidecar threshold the anti-join plans
    unhinted and returns identical rows."""
    path = str(tmp_path / "tix")
    TI.build_text_index(docs, path)
    dead = docs.where(F.col("doc_id") % 10 == 4).select("doc_id")
    TI.delete_from_text_index(path, dead)

    def hinted(df):
        return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()

    small = TI._index_table(spark, path, "doclens", TI.index_meta(path))
    assert hinted(small)
    meta = TI.index_meta(path)
    meta["tombstones"] = TI.TOMB_BROADCAST_MAX + 1
    _write_sidecar(path, TI._META, meta)
    big = TI._index_table(spark, path, "doclens", TI.index_meta(path))
    assert not hinted(big)
    key = lambda df: sorted(r["doc_id"] for r in df.collect())
    assert key(big) == key(small)


def test_text_batch_append_mid_stream_rebases_future_epochs(
    spark, docs, tmp_path
):
    """ADVICE r8 (medium), textindex side: sink → epoch 0 → batch
    append → delete → epoch 1 must not kill epoch 1's postings."""
    even = docs.where(F.col("doc_id") % 2 == 0)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    e0 = odd.where(F.col("doc_id") % 3 == 0)
    ap = odd.where(F.col("doc_id") % 3 == 1)
    e1 = odd.where(F.col("doc_id") % 3 == 2)
    path = str(tmp_path / "tix")
    TI.build_text_index(even, path, n_buckets=8)
    sink = TI.text_index_stream_sink(path)
    sink(e0, 0)
    TI.append_to_text_index(path, ap)
    dead_ids = [r["doc_id"] for r in e0.select("doc_id").limit(3).collect()]
    TI.delete_from_text_index(path, dead_ids)
    sink(e1, 1)  # lands AFTER the delete — must survive it
    live = {
        r["doc_id"]
        for r in TI._index_table(
            spark, path, "doclens", TI.index_meta(path)
        ).collect()
    }
    e1_ids = {r["doc_id"] for r in e1.select("doc_id").collect()}
    ap_ids = {r["doc_id"] for r in ap.select("doc_id").collect()}
    assert e1_ids <= live
    assert ap_ids <= live
    assert not (set(dead_ids) & live)


def test_text_upsert_sink_cdc_batches(spark, docs, tmp_path):
    """text_index_upsert_sink: streamed text changes upsert — the new
    postings win, BM25 stats track the updated corpus, replay
    converges."""
    path = str(tmp_path / "tix")
    TI.build_text_index(docs, path)
    sink = TI.text_index_upsert_sink(path)
    b1 = docs.where(F.col("doc_id") % 7 == 3).select(
        "doc_id", F.lit("first replacement vocabulary").alias("text")
    )
    b2 = docs.where(F.col("doc_id") % 14 == 3).select(
        "doc_id", F.lit("second replacement vocabulary").alias("text")
    )
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # replay converges
    first = {r["doc_id"] for r in TI.keyword_search(
        spark, path, ["first"]).collect()}
    second = {r["doc_id"] for r in TI.keyword_search(
        spark, path, ["second"]).collect()}
    b1_ids = {r["doc_id"] for r in b1.collect()}
    b2_ids = {r["doc_id"] for r in b2.collect()}
    assert second == b2_ids
    assert first == b1_ids - b2_ids  # overwritten docs left "first"
    n, _ = TI._live_stats(spark, path, TI.index_meta(path))
    assert n == docs.count()
