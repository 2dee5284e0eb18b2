"""Persisted inverted text index + BM25 ranked retrieval.

The retrieval half of a training-data pipeline (dedup finds copies;
retrieval finds RELEVANT documents — contamination probes, targeted
curation, eval-set mining).  The reference's write discipline applies
(derived artifacts live next to the data as tables, layout.cc:726-934);
the index layout is the classic inverted file realized as Spark-native
storage, the ``annindex`` philosophy applied to text:

* **postings** = ``(term, doc_id, tf)`` parquet PARTITIONED BY a
  portable md5 term-bucket (``tb``) and sorted by term within
  partitions.  A query for K terms prunes to ≤K bucket directories at
  the STORAGE layer (``PartitionFilters`` in the scan), and the
  within-partition term sort keeps parquet row-group min/max skipping
  effective inside each bucket — two pruning levels, zero shuffle at
  query time beyond the per-doc score aggregation.
* **doclens** = ``(doc_id, dl)`` — qualifying-token counts, the BM25
  length normalizer.
* **sidecar** records ``n_docs`` and ``sum_dl`` as EXACT integers
  (avgdl is derived as one double division in the scoring expression,
  so both engines compute the identical value), the tokenizer params,
  and the build source's freshness signal.

Tokenization is the repo's portable convention (``text.tfidf_top_terms``):
``split(lower(text), '[^a-z]+')``, empty and short tokens dropped — an
expression any SQL engine reproduces verbatim, which is what makes the
BM25 oracle a full value match rather than a rows-only check.

Scoring: Robertson/Lucene BM25,
``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``,
``tfn = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.
Per-document summation over matched terms accumulates INTEGER
MICRO-UNITS (``cast(round(contrib*1e6) as bigint)``) so the only fp
ops are per-term and one final division — association-order-immune
(the tick-indicator discipline), bit-identical across engines and
partition layouts.

At 100 TB: the postings build is one tokenize + one (term, doc)
aggregation — the exact shape of the word-count canon, partial
map-side combine does the heavy lifting; query cost is bounded by the
probed buckets' bytes, never the corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

_TERM_RE = re.compile(r"^[a-z]+$")


def _check_terms(terms) -> list[str]:
    """The tokenizer only ever produces ``[a-z]+`` tokens, so any other
    query term CANNOT match — fail loudly instead of returning silent
    empties (a user passing 'Merge' or 'naïve' wants to know)."""
    bad = [t for t in terms if not _TERM_RE.match(t or "")]
    if bad:
        raise ValueError(
            f"query terms must match [a-z]+ (the index tokenizer's "
            f"alphabet): {bad!r}"
        )
    return list(terms)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.ledger import _read_sidecar, _write_sidecar
from .similarity import _input_freshness

_META = "text_index.json"
# bump when the on-disk layout or tokenizer expressions change (the
# annindex.FORMAT contract): older-code indexes rebuild, never misread.
# 2: every table row carries a ``__gen`` write-generation column and
#    tombstones carry ``__upto`` — point-in-time deletes (the
#    annindex FORMAT 2 discipline) enabling document UPSERT.
# 3: a ``termstats`` table (per-term ``(df, cf)``, bucket-partitioned)
#    rides every write batch, so BM25's per-term document frequencies
#    read from a ≤|terms|-row pruned sidecar scan instead of
#    re-aggregating the pruned postings per query (optimization r14).
# 4: deletes append NEGATIVE per-term ``(df, cf)`` delta rows to the
#    sidecar (one live-postings semi-join at delete time, bracketed by
#    a ``deleting`` intent marker), so a TOMBSTONED index still
#    answers df from the sidecar — moving the per-query dfreq
#    re-aggregation to write time (deletes are rare, queries are not).
FORMAT = 4


def index_meta(path: str) -> dict:
    return _read_sidecar(path, _META)


def is_stale(path: str, docs: DataFrame) -> bool:
    """True when no index exists at ``path`` or its recorded source
    freshness no longer matches ``docs`` (the annindex contract)."""
    try:
        meta = index_meta(path)
    except (OSError, ValueError):
        return True
    if meta.get("folding"):  # interrupted compaction: rebuild
        return True
    if meta.get("upserting"):  # interrupted upsert: docs deleted, not re-added
        return True
    if meta.get("deleting"):  # interrupted delete: sidecar delta vs
        return True  # tombstones ambiguous — rebuild, never misread
    if meta.get("format") != FORMAT:  # layout from another code version
        return True
    return meta.get("freshness") != list(_input_freshness(docs))


def _check_not_folding(meta: dict, path: str) -> None:
    """An interrupted compaction (crash inside its swap window) leaves
    the ``folding`` intent marker set — tables may be partially
    swapped, so reads could double-count or skew BM25 stats.  Refuse
    loudly; ``is_stale`` reports True while the marker is set, so
    staleness-guarded callers rebuild automatically."""
    if meta.get("folding"):
        raise RuntimeError(
            f"text index at {path} has an interrupted compaction — "
            f"rebuild it (is_stale() returns True while this marker "
            f"is set)"
        )


#: tombstone-doc count above which the anti-join drops its broadcast
#: hint and lets AQE choose (the annindex.TOMB_BROADCAST_MAX mirror)
TOMB_BROADCAST_MAX = 10_000_000


def _check_not_upserting(meta: dict, path: str) -> None:
    """An upsert that crashed between its tombstone write and its
    re-append leaves the incoming docs DELETED — convergent on replay,
    but a read in between would silently miss live documents.  Queries
    refuse while the ``upserting`` intent marker is set; replaying the
    upsert (or a rebuild — ``is_stale`` reports True) clears it."""
    if meta.get("upserting"):
        raise RuntimeError(
            f"text index at {path} has an interrupted upsert — replay "
            f"the upsert or rebuild (is_stale() returns True while "
            f"this marker is set)"
        )


def _check_not_deleting(meta: dict, path: str) -> None:
    """A delete that crashed between its sidecar delta append and its
    tombstone/meta commit leaves the per-term stats and the tombstone
    set INCONSISTENT (the delta may or may not be on disk, and a
    replayed delete would double-subtract).  Queries and further
    writes refuse while the ``deleting`` intent marker is set;
    ``is_stale`` reports True so staleness-guarded callers rebuild."""
    if meta.get("deleting"):
        raise RuntimeError(
            f"text index at {path} has an interrupted delete — "
            f"rebuild it (is_stale() returns True while this marker "
            f"is set)"
        )


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the bucket expression — md5 family, so any
    engine (and plain Python) lands each term in the same directory."""
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


def _term_bucket_col(term, n_buckets: int):
    c = F.col(term) if isinstance(term, str) else term
    return (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).cast("int")


def _tokens(docs: DataFrame, text_col: str, id_col: str, min_len: int):
    """(doc_id, term) qualifying tokens — the portable tokenizer the
    oracle replays: split(lower(text), '[^a-z]+'), len >= min_len."""
    return (
        docs.select(F.col(id_col), F.lower(F.col(text_col)).alias("__t"))
        .select(
            F.col(id_col),
            F.explode(F.split("__t", "[^a-z]+")).alias("term"),
        )
        .where((F.col("term") != "") & (F.length("term") >= min_len))
    )


def _derive_tables(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    min_len: int,
    n_buckets: int,
    positions: bool,
    gen: int = 0,
) -> dict:
    """Every index table derived from ``docs`` —
    ``{name: (df, partition_cols)}`` — shared by build, batch append,
    and the streaming sink so all three write byte-identical layouts.
    Frames are repartitioned by bucket and term-sorted within
    partitions (the row-group-skipping discipline)."""
    out = {}
    toks = _tokens(docs, text_col, id_col, min_len)
    pcore = (
        toks.groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("tb", _term_bucket_col("term", n_buckets))
    )
    postings = pcore.repartition("tb").sortWithinPartitions("term", id_col)
    out["postings"] = (postings, ["tb"])
    # per-term stats sidecar (FORMAT 3): df = distinct docs, cf = total
    # occurrences, per write batch.  Postings rows are distinct
    # (term, doc) by construction, so count(1) IS countDistinct(doc).
    # Rows are ADDITIVE deltas: append/stream batches hold disjoint
    # NEW doc ids by contract, so summing df across write batches
    # reproduces the exact corpus-wide document frequency.
    termstats = (
        pcore.groupBy("term", "tb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
        .repartition("tb")
        .sortWithinPartitions("term")
    )
    out["termstats"] = (termstats, ["tb"])
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    out["doclens"] = (dl, [])
    if positions:
        raw = docs.select(
            F.col(id_col), F.lower(F.col(text_col)).alias("__t")
        ).select(
            F.col(id_col),
            F.posexplode(F.split("__t", "[^a-z]+")).alias("pos", "term"),
        ).where(F.col("term") != "")
        pos_post = (
            raw.groupBy("term", id_col)
            .agg(F.array_sort(F.collect_list("pos")).alias("positions"))
            .withColumn("tb", _term_bucket_col("term", n_buckets))
            .repartition("tb")
            .sortWithinPartitions("term", id_col)
        )
        out["positions"] = (pos_post, ["tb"])
    # write-generation stamp (constant per write batch): what lets a
    # point-in-time tombstone kill the old version of an upserted doc
    # while its re-derived rows survive at the next generation
    return {
        name: (df.withColumn("__gen", F.lit(int(gen)).cast("long")), pcols)
        for name, (df, pcols) in out.items()
    }


def build_text_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 3,
    n_buckets: int = 32,
    positions: bool = True,
) -> dict:
    """Build the inverted index: tokenize, aggregate ``(term, doc)``
    frequencies (one shuffle with map-side combine — word-count shape),
    land postings partitioned by term bucket and term-sorted within
    partitions, plus the doc-length table and the stats sidecar.

    With ``positions`` (default), also land a POSITIONAL postings table
    ``(term, doc_id, positions)`` over ALL non-empty tokens (no
    ``min_len`` — phrase adjacency needs the short words too), same
    bucket partitioning: the phrase-query index.  Positions are
    0-based offsets in the token stream, sorted, unique per
    ``(doc, term)``."""
    from .annindex import _clear_derived

    # sidecar removed first, stale stream/ + staging dirs next: a
    # rebuild must never union a previous life's deltas back in, and a
    # crash mid-build must fail loudly (no sidecar), not read-wrong.
    # Shared discipline with the ANN builds (ADVICE r7 #2).
    _clear_derived(path, _META)
    tables = _derive_tables(
        docs, text_col, id_col, min_len, n_buckets, positions
    )
    schemas = {}
    for name, (df, pcols) in tables.items():
        w = df.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(os.path.join(path, name))
        schemas[name] = df.schema.json()
    spark = docs.sparkSession
    stats = (
        _read(spark, os.path.join(path, "doclens"),
              {"schemas": schemas}, "doclens")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # coalesce: a corpus with ZERO qualifying tokens (all-empty
            # or all-short docs) has an empty doclens -> sum is NULL
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
        )
        .collect()[0]
    )
    meta = {
        "format": FORMAT,
        "kind": "text",
        "text_col": text_col,
        "id_col": id_col,
        "min_len": min_len,
        "n_buckets": n_buckets,
        "has_positions": bool(positions),
        "n_docs": int(stats["n"]),
        "sum_dl": int(stats["s"]),
        "seq": 0,
        "schemas": schemas,
        "freshness": list(_input_freshness(docs)),
    }
    _write_sidecar(path, _META, meta)
    return meta


def _read(spark: SparkSession, p: str, meta: dict | None, name: str):
    """Read one tree of index table ``name`` with the sidecar-recorded
    schema when available: an EMPTY table (a corpus or micro-batch
    with zero qualifying tokens) writes no parquet files, and a
    schema-less read of it fails with UNABLE_TO_INFER_SCHEMA — the
    recorded schema makes empty trees first-class.  Pre-schema
    sidecars fall back to inference (non-empty by construction)."""
    sch = (meta or {}).get("schemas", {}).get(name)
    r = spark.read
    if sch:
        from pyspark.sql.types import StructType

        r = r.schema(StructType.fromJson(json.loads(sch)))
    return r.parquet(p)


def _index_table(
    spark: SparkSession,
    path: str,
    name: str,
    meta: dict | None = None,
    tomb: bool = True,
) -> DataFrame:
    """One index table, base tree ∪ streaming delta tree (if any).
    ``tb`` is a partition column in both trees, so bucket pruning
    reaches each scan independently (the annindex._stored shape).
    ``tomb=False`` skips the tombstone anti-join — required for
    ``termstats``, which has no doc-id column (its delete deltas are
    NEGATIVE rows appended by :func:`delete_from_text_index`, not
    tombstone-filtered)."""
    base = _read(spark, os.path.join(path, name), meta, name)
    spath = os.path.join(path, "stream")
    out = base
    if os.path.isdir(spath):
        epochs = [
            os.path.join(spath, e, name)
            for e in sorted(os.listdir(spath))
            if e.startswith("epoch=")
            and os.path.isdir(os.path.join(spath, e, name))
        ]
        # one read PER epoch root, then union: each root is its own
        # partitioned tree (tb=N subdirs), and Spark refuses a
        # multi-root read over conflicting partition bases — the
        # per-root partition discovery keeps tb a partition column in
        # every branch, so bucket pruning still reaches each scan
        for e in epochs:
            out = out.unionByName(
                _read(spark, e, meta, name).select(*base.columns)
            )
    tpath = os.path.join(path, "tombstones")
    if tomb and os.path.isdir(tpath) and meta is not None:
        # point-in-time kill (the annindex._stored discipline): a row
        # dies only when a tombstone for its doc was written at-or-
        # after the row's generation — an upserted doc's re-derived
        # rows carry a higher __gen and survive.  Broadcast join AFTER
        # bucket pruning: postings/positions scans stay pruned.
        tomb = (
            spark.read.parquet(tpath)
            .groupBy(meta["id_col"])
            .agg(F.max("__upto").alias("__upto"))
        )
        # size-guarded hint (the annindex._stored discipline): above
        # the threshold the join plans unhinted and AQE chooses
        if int(meta.get("tombstones") or 0) <= TOMB_BROADCAST_MAX:
            tomb = F.broadcast(tomb)
        out = (
            out.join(tomb, meta["id_col"], "left")
            .where(
                F.col("__upto").isNull() | (F.col("__gen") > F.col("__upto"))
            )
            .drop("__upto")
        )
    return out.drop("__gen")


def _live_stats(
    spark: SparkSession, path: str, meta: dict
) -> tuple[int, int]:
    """(n_docs, sum_dl) including any streaming delta — the sidecar's
    exact integers plus one tiny aggregation over the delta doclens
    (appends are new documents by contract, so plain addition is
    exact)."""
    n_docs, sum_dl = meta["n_docs"], meta["sum_dl"]
    spath = os.path.join(path, "stream")
    if os.path.isdir(spath):
        delta_dirs = [
            os.path.join(spath, e, "doclens")
            for e in os.listdir(spath)
            if e.startswith("epoch=")
            and os.path.isdir(os.path.join(spath, e, "doclens"))
        ]
        if delta_dirs:
            d0 = _read(spark, delta_dirs[0], meta, "doclens")
            for p_ in delta_dirs[1:]:
                d0 = d0.unionByName(_read(spark, p_, meta, "doclens"))
            row = (
                d0
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
                )
                .collect()[0]
            )
            n_docs += int(row["n"])
            sum_dl += int(row["s"])
    # deletes: the sidecar's exact removed-doc counters (maintained by
    # delete_from_text_index over the LIVE doclens at delete time), so
    # avgdl/idf reflect the surviving corpus exactly
    n_docs -= int(meta.get("tomb_docs", 0))
    sum_dl -= int(meta.get("tomb_dl", 0))
    return n_docs, sum_dl


def delete_from_text_index(path: str, ids) -> dict:
    """Delete documents from the index — tombstone semantics, the
    mirror of :func:`operators.annindex.delete_from_index`: ids land in
    an append-only ``tombstones/`` parquet table; every read
    (:func:`keyword_search` / :func:`bm25_topk` / :func:`phrase_search`)
    anti-joins it after bucket pruning; BM25's corpus stats subtract
    the deleted docs' exact ``(count, Σdl)`` recorded here at delete
    time; :func:`compact_text_index` folds the tombstones into a
    rewritten base and drops them.  A deleted-then-compacted index
    answers bitwise like one built fresh without those docs (same
    integer stats → same avgdl literal → same scores).

    ``ids``: DataFrame whose FIRST column holds doc ids (any name),
    or a Python iterable of ids.  Replayed/unknown ids are no-ops
    (the removed-doc counters only count docs that were live)."""
    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_deleting(meta, path)
    id_col = meta["id_col"]
    if not isinstance(ids, DataFrame):
        vals = list(ids)
        if not vals:
            return meta  # deleting nothing is a no-op
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise TypeError(
                "delete_from_text_index got a plain iterable of ids "
                "but no SparkSession is active — pass a DataFrame"
            )
        ids = spark.createDataFrame([(v,) for v in vals], [id_col])
    from .annindex import _gen_high

    spark = ids.sparkSession
    rows = ids.select(F.col(ids.columns[0]).alias(id_col)).distinct()
    # exact removed-stat delta over the LIVE doclens (prior tombstones
    # already filtered by _index_table, so replays contribute zero)
    gone = (
        _index_table(spark, path, "doclens", meta)
        .join(F.broadcast(rows), id_col, "left_semi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
        )
        .collect()[0]
    )
    upto = _gen_high(path, meta)
    if int(gone["n"]):
        # FORMAT 4: the deleted docs' exact per-term (df, cf) leaves
        # the sidecar as NEGATIVE delta rows, computed from the LIVE
        # postings at delete time (one semi-joined postings pass per
        # delete) — so queries against a tombstoned index still read
        # df from the ≤|terms|-row sidecar instead of re-aggregating
        # the pruned postings per query.  Postings rows are distinct
        # (term, doc), so count(1) IS the per-term doc delta; prior
        # tombstones are already filtered, so replays land here with
        # gone.n == 0 and skip the pass entirely (doclens and postings
        # cover the same doc set: ≥1 qualifying token each).  The
        # ``deleting`` intent marker brackets the delta append + the
        # tombstone/meta commit: a crash inside the window leaves the
        # marker set, queries refuse, is_stale() rebuilds — never a
        # silent double-subtraction on replay.
        meta["deleting"] = True
        _write_sidecar(path, _META, meta)
        (
            _index_table(spark, path, "postings", meta)
            .join(F.broadcast(rows), id_col, "left_semi")
            .groupBy("term")
            .agg(
                (-F.count(F.lit(1))).cast("long").alias("df"),
                (-F.sum("tf")).cast("long").alias("cf"),
            )
            .withColumn("tb", _term_bucket_col("term", meta["n_buckets"]))
            .withColumn("__gen", F.lit(int(upto)).cast("long"))
            .repartition("tb")
            .sortWithinPartitions("term")
            .write.mode("append")
            .partitionBy("tb")
            .parquet(os.path.join(path, "termstats"))
        )
    # point-in-time: kills everything visible NOW, spares later gens
    rows = rows.withColumn("__upto", F.lit(int(upto)).cast("long"))
    tpath = os.path.join(path, "tombstones")
    rows.write.mode("append").parquet(tpath)
    # exact distinct-tombstone count: sizes the anti-join's broadcast
    # decision in _index_table (the annindex sidecar contract)
    meta["tombstones"] = int(
        spark.read.parquet(tpath).select(id_col).distinct().count()
    )
    meta["tomb_docs"] = int(meta.get("tomb_docs", 0)) + int(gone["n"])
    meta["tomb_dl"] = int(meta.get("tomb_dl", 0)) + int(gone["s"])
    # docs whose sidecar delta is recorded — _stats_dfreq serves a
    # tombstoned index only while this tracks tomb_docs exactly
    meta["tomb_stats_docs"] = (
        int(meta.get("tomb_stats_docs", 0)) + int(gone["n"])
    )
    meta.pop("deleting", None)
    _write_sidecar(path, _META, meta)  # commit: marker cleared last
    return meta


def upsert_into_text_index(path: str, docs: DataFrame) -> dict:
    """Update-or-insert documents by id — delete-then-add with write
    generations (the annindex.upsert_into_index mirror, Lucene's
    update-document shape): tombstone the incoming doc ids at the
    current generation (exact ``(count, Σdl)`` of the OLD versions
    leaves the BM25 stats), then append the new texts at the next
    generation (their doclens enter the stats) — so avgdl/idf reflect
    the corpus with the NEW text, and reads return exactly one live
    version per doc.  Ids the index never held are plain inserts.

    Crash between the steps leaves the docs deleted — and DETECTABLE:
    an ``upserting`` intent marker brackets the pair, queries refuse
    while it is set, ``is_stale`` reports True, and re-running the
    upsert converges and clears it (the replayed tombstone kills
    nothing)."""
    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_deleting(meta, path)
    meta["upserting"] = True
    _write_sidecar(path, _META, meta)  # intent marker: delete→append window
    delete_from_text_index(path, docs.select(meta["id_col"]))
    meta = append_to_text_index(path, docs)
    meta["upserts"] = meta.get("upserts", 0) + 1
    meta.pop("upserting", None)
    _write_sidecar(path, _META, meta)  # commit: marker cleared last
    return meta


def _pruned_postings(
    spark: SparkSession, path: str, meta: dict, terms: list[str]
) -> DataFrame:
    """Postings for ``terms`` — bucket partition pruning (≤ |terms|
    directories' bytes move) then the exact term filter (row-group
    min/max skipping inside each bucket via the build-time sort)."""
    buckets = sorted(
        {term_bucket_py(t, meta["n_buckets"]) for t in terms}
    )
    return (
        _index_table(spark, path, "postings", meta)
        .where(F.col("tb").isin(buckets))
        .where(F.col("term").isin(list(terms)))
    )


def keyword_search(
    spark: SparkSession,
    path: str,
    terms: list[str],
    mode: str = "and",
) -> DataFrame:
    """Boolean retrieval over the pruned postings: ``and`` keeps docs
    matching EVERY query term, ``or`` any.  Returns
    ``(doc_id, matched)`` — matched distinct query terms."""
    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    _check_not_deleting(meta, path)
    terms = sorted(set(_check_terms(terms)))
    if mode not in ("and", "or"):
        raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
    hits = (
        _pruned_postings(spark, path, meta, terms)
        .groupBy(meta["id_col"])
        .agg(F.countDistinct("term").cast("long").alias("matched"))
    )
    if mode == "and":
        hits = hits.where(F.col("matched") == len(terms))
    return hits


def phrase_search(
    spark: SparkSession,
    path: str,
    terms: list[str],
) -> DataFrame:
    """Exact phrase retrieval over the positional postings: for the
    phrase ``t0 t1 … tn`` the match set is the chained positional
    intersection ``((pos(t0)+1) ∩ pos(t1)) + 1) ∩ pos(t2) …`` — the
    classic positional-index algorithm, expressed as array Column ops
    (``transform`` + ``array_intersect``) over the ≤|terms|
    bucket-pruned partitions.  Returns ``(doc_id, hits)`` — hits =
    phrase occurrence count (overlapping occurrences counted, start
    positions are distinct by construction).  The n−1 joins on doc_id
    touch only the pruned term rows, never the corpus."""
    if not terms:
        raise ValueError("empty phrase")
    terms = _check_terms(terms)
    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    _check_not_deleting(meta, path)
    if not meta.get("has_positions"):
        raise ValueError(f"index at {path} was built without positions")
    id_col = meta["id_col"]
    buckets = sorted(
        {term_bucket_py(t, meta["n_buckets"]) for t in terms}
    )
    pos = _index_table(spark, path, "positions", meta).where(
        F.col("tb").isin(buckets)
    )
    cur = None
    for i, t in enumerate(terms):
        p = pos.where(F.col("term") == t).select(
            F.col(id_col), F.col("positions").alias(f"__p{i}")
        )
        cur = p if cur is None else cur.join(p, id_col)
    s = F.col("__p0")
    for i in range(1, len(terms)):
        s = F.array_intersect(
            F.transform(s, lambda x: x + 1), F.col(f"__p{i}")
        )
    return cur.select(
        F.col(id_col), F.size(s).cast("long").alias("hits")
    ).where(F.col("hits") > 0)


def near_search(
    spark: SparkSession,
    path: str,
    term_a: str,
    term_b: str,
    slop: int = 3,
    ordered: bool = False,
) -> DataFrame:
    """Proximity retrieval (NEAR/k) over the SAME positional postings
    exact phrase uses (VERDICT r7 next #6): docs where ``term_a`` and
    ``term_b`` occur within ``slop`` token positions.  ``ordered=False``
    (NEAR semantics) counts pairs with ``|pb − pa| ≤ slop``;
    ``ordered=True`` (a BEFORE b, the k-slop phrase relaxation) counts
    ``1 ≤ pb − pa ≤ slop``.  Returns ``(doc_id, hits)`` — hits = the
    qualifying position-pair count.

    Plan shape mirrors :func:`phrase_search`: ≤2 bucket-pruned
    partition reads, one doc_id equi-join of the two term rows, then
    the pair count as a pure array fold (``aggregate`` over
    ``filter``) — whole-stage codegen, positions never explode into
    rows, the corpus is never touched."""
    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    _check_not_deleting(meta, path)
    if not meta.get("has_positions"):
        raise ValueError(f"index at {path} was built without positions")
    a, b = _check_terms([term_a, term_b])
    if a == b:
        raise ValueError("near_search needs two distinct terms")
    if int(slop) < 1:
        raise ValueError(f"slop must be >= 1, got {slop}")
    id_col = meta["id_col"]
    buckets = sorted(
        {term_bucket_py(t, meta["n_buckets"]) for t in (a, b)}
    )
    pos = _index_table(spark, path, "positions", meta).where(
        F.col("tb").isin(buckets)
    )
    pa = pos.where(F.col("term") == a).select(
        F.col(id_col), F.col("positions").alias("__pa")
    )
    pb = pos.where(F.col("term") == b).select(
        F.col(id_col), F.col("positions").alias("__pb")
    )
    s = F.lit(int(slop))
    if ordered:
        cond = lambda x, y: (y - x >= 1) & (y - x <= s)  # noqa: E731
    else:
        cond = lambda x, y: F.abs(y - x) <= s  # noqa: E731
    hits = F.aggregate(
        F.col("__pa"),
        F.lit(0),
        lambda acc, x: acc
        + F.size(F.filter(F.col("__pb"), lambda y: cond(x, y))),
    )
    return (
        pa.join(pb, id_col)
        .select(F.col(id_col), hits.cast("long").alias("hits"))
        .where(F.col("hits") > 0)
    )


def _stats_dfreq(
    spark: SparkSession, path: str, meta: dict, terms: list[str]
) -> DataFrame | None:
    """Exact per-term document frequencies from the ``termstats``
    sidecar (FORMAT 3) — a ≤|terms|-row bucket-pruned scan instead of
    re-aggregating the pruned postings per query.  Returns ``None``
    when the sidecar cannot answer exactly and the caller must fall
    back to the postings aggregation:

    * tombstoned docs whose per-term delta is NOT on the sidecar
      (pre-FORMAT-4 deletes; FORMAT-4 deletes append negative delta
      rows at delete time, so their indexes stay sidecar-answerable);
    * a pre-FORMAT-3 tree or a stream epoch missing the table (same-
      version writers always land it; this is the fail-safe).
    """
    if int(meta.get("format") or 0) < 3:
        # a FORMAT-2 tree that later writes appended a partial
        # termstats delta must never be read as the whole sidecar
        return None
    tomb_n = int(meta.get("tombstones") or 0)
    if int(meta.get("tomb_docs", 0)) or tomb_n:
        if int(meta.get("format") or 0) < 4 or (
            int(meta.get("tomb_docs", 0))
            != int(meta.get("tomb_stats_docs", -1))
        ):
            return None
    if not os.path.isdir(os.path.join(path, "termstats")):
        return None
    spath = os.path.join(path, "stream")
    epochs = []
    if os.path.isdir(spath):
        for e in sorted(os.listdir(spath)):
            ed = os.path.join(spath, e)
            if not (e.startswith("epoch=") and os.path.isdir(ed)):
                continue
            if os.path.isdir(os.path.join(ed, "postings")) and not (
                os.path.isdir(os.path.join(ed, "termstats"))
            ):
                return None  # epoch predates the sidecar: fall back
            epochs.append(e)
    buckets = sorted(
        {term_bucket_py(t, meta["n_buckets"]) for t in terms}
    )
    stats = (
        _index_table(spark, path, "termstats", meta, tomb=False)
        .where(F.col("tb").isin(buckets))
        .where(F.col("term").isin(list(terms)))
    )
    if epochs or meta.get("appends") or tomb_n:
        # multiple write batches may each carry a (term, df) delta
        # row; delete deltas are NEGATIVE, and a term whose live df
        # sums to zero must vanish exactly as it vanishes from the
        # postings aggregation (no live postings -> no dfreq row)
        return (
            stats.groupBy("term")
            .agg(F.sum("df").cast("long").alias("dfreq"))
            .where(F.col("dfreq") > 0)
        )
    # single-generation tree: exactly one row per term — no aggregation
    return stats.select("term", F.col("df").alias("dfreq"))


def bm25_topk(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k over the persisted index: probe the ≤|terms| pruned
    buckets, derive per-term df from the pruned slice (exact — the
    slice holds every posting for the term), score each (doc, term)
    contribution, and sum per doc in integer micro-units (association-
    order-immune).  Final rank is a TakeOrdered prefix + row_number
    over ≤k rows — bounded, never a corpus-sized window."""
    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    _check_not_deleting(meta, path)
    id_col = meta["id_col"]
    terms = sorted(set(_check_terms(terms)))
    n_docs, sum_dl = _live_stats(spark, path, meta)
    post = _pruned_postings(spark, path, meta, terms)
    # per-term df from the termstats sidecar when it can answer
    # exactly (same long values as the aggregation — postings rows are
    # distinct (term, doc), deltas additive); postings re-aggregation
    # only as the tombstone/legacy fallback
    dfreq = _stats_dfreq(spark, path, meta, terms)
    if dfreq is None:
        dfreq = post.groupBy("term").agg(
            F.countDistinct(id_col).alias("dfreq")
        )
    dl = _index_table(spark, path, "doclens", meta)
    # ONE double division of the sidecar's exact integers, performed at
    # plan-build time so the oracle interpolates the identical literal.
    # An empty index (zero qualifying tokens anywhere) has no postings,
    # so the result is empty regardless — any placeholder avgdl works.
    avgdl = F.lit(float(sum_dl) / float(n_docs) if n_docs else 1.0)
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("dfreq") + 0.5)
        / (F.col("dfreq") + 0.5)
    )
    tfn = (F.col("tf") * (1.0 + k1)) / (
        F.col("tf") + k1 * (F.lit(1.0) - b + b * F.col("dl") / avgdl)
    )
    contrib = (idf * tfn * 1000000.0).cast("double")
    scored = (
        post.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .select(
            id_col,
            F.round(contrib).cast("long").alias("__c"),
        )
        .groupBy(id_col)
        .agg(
            (F.sum("__c") / F.lit(1000000.0)).alias("__s"),
            F.count(F.lit(1)).cast("long").alias("matched"),
        )
        .select(
            id_col, F.round(F.col("__s"), 6).alias("score"), "matched"
        )
    )
    top = scored.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    )


def append_to_text_index(path: str, docs: DataFrame) -> dict:
    """Incrementally add NEW documents to an existing index — the
    tick-log append discipline: postings/doclens/positions rows for
    new doc ids are disjoint from the stored ones, so plain parquet
    appends inside the same layout ARE the merge (no learned fits to
    freeze — unlike the ANN indexes, an appended text index equals a
    full rebuild EXACTLY, which is what its oracle row proves).  The
    sidecar's exact-integer stats advance by the appended doclens'
    count/sum; lineage is recorded per append.

    Contract: ``docs`` are new documents (re-appending an existing
    doc id would double its postings — the corpus is append-only,
    the reference's tick-log model)."""
    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_deleting(meta, path)
    from .annindex import _gen_high

    gen = _gen_high(path, meta) + 1
    tables = _derive_tables(
        docs,
        meta["text_col"],
        meta["id_col"],
        meta["min_len"],
        meta["n_buckets"],
        meta.get("has_positions", False),
        gen=gen,
    )
    for name, (df, pcols) in tables.items():
        w = df.write.mode("append")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(os.path.join(path, name))
    spark = docs.sparkSession
    row = (
        tables["doclens"][0]
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
        )
        .collect()[0]
    )
    meta["n_docs"] += int(row["n"])
    meta["sum_dl"] += int(row["s"])
    meta["appends"] = meta.get("appends", []) + [
        {
            "docs": int(row["n"]),
            "freshness": list(_input_freshness(docs)),
        }
    ]
    meta["seq"] = gen
    if meta.get("stream_base") is not None:
        # re-base an active stream sink past this batch write (the
        # annindex.append_to_index discipline): the sink reads
        # stream_base per epoch, so every future epoch mints
        # (gen+1)+epoch_id > gen — no future stream row can carry a
        # generation <= an __upto issued after this append
        meta["stream_base"] = gen + 1
    _write_sidecar(path, _META, meta)
    return meta


def text_index_stream_sink(path: str):
    """Streaming text-index maintenance: a fanout-compatible
    foreachBatch sink that derives postings/doclens/positions for each
    micro-batch of new documents and lands them under the DELTA tree
    ``stream/epoch=<id>/<table>/`` — epoch-directory overwrite absorbs
    crash replay (the parquet_epoch_sink discipline).  The sidecar is
    untouched per epoch (lock-free); query-time stats add one tiny
    aggregation over the delta doclens.  Fold with
    :func:`compact_text_index`."""
    from .annindex import _gen_high

    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    _check_not_deleting(meta, path)
    base = _gen_high(path, meta) + 1
    meta["stream_base"] = base
    _write_sidecar(path, _META, meta)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        live = index_meta(path)  # re-based by any interleaved append
        b = int(live.get("stream_base") or base)
        tables = _derive_tables(
            batch,
            meta["text_col"],
            meta["id_col"],
            meta["min_len"],
            meta["n_buckets"],
            meta.get("has_positions", False),
            gen=b + int(epoch_id),
        )
        edir = os.path.join(path, "stream", f"epoch={int(epoch_id)}")
        for name, (df, pcols) in tables.items():
            w = df.write.mode("overwrite")
            if pcols:
                w = w.partitionBy(*pcols)
            w.parquet(os.path.join(edir, name))

    return sink


def text_index_upsert_sink(path: str):
    """CDC text-index maintenance (the annindex.index_upsert_sink
    mirror): each micro-batch of (id, text) rows UPSERTS — re-derived
    postings outrank the old generation, BM25 stats swap old doclens
    for new.  For append-only document feeds use
    :func:`text_index_stream_sink` (cheaper per batch).  NOT gated on
    the ``upserting`` marker: a stream restart's replayed epoch is the
    recovery that clears it (the annindex.index_upsert_sink note)."""
    meta = index_meta(path)
    _check_not_folding(meta, path)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.limit(1).count() == 0:
            return
        upsert_into_text_index(path, batch)

    return sink


def compact_text_index(spark: SparkSession, path: str) -> dict:
    """Fold the streaming delta tree into the base tables, refresh the
    sidecar's exact stats from the compacted doclens, drop the delta
    tree.  Queries before/after return identical rows.

    Crash discipline (shared with annindex.compact_index): every
    folded table is fully written to a staging dir BEFORE the
    ``folding`` intent marker is committed; the marker brackets only
    the tight metadata window (renames + tree removals).  A crash
    inside it leaves the marker set — readers refuse (a partially
    swapped index could double-count or skew stats) and ``is_stale``
    reports True so guarded callers rebuild — fail-loud, never
    fail-wrong."""
    import shutil

    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    _check_not_deleting(meta, path)
    spath = os.path.join(path, "stream")
    tomb = os.path.join(path, "tombstones")
    if not os.path.isdir(spath) and not os.path.isdir(tomb):
        return meta
    names = ["postings", "doclens"] + (
        ["positions"] if meta.get("has_positions") else []
    )
    for name in names:  # heavy phase: all staging dirs written first
        # _index_table already excludes tombstoned docs, so the folded
        # rewrite IS the delete fold too
        merged = _index_table(spark, path, name, meta).withColumn(
            "__gen", F.lit(0).cast("long")
        )
        w = merged.write.mode("overwrite")
        if name != "doclens":
            w = w.partitionBy("tb")
        w.parquet(os.path.join(path, name) + ".compacting")
    # termstats re-aggregates from the FOLDED postings staging (never a
    # union of the delta rows: the folded tree is the surviving corpus,
    # so its per-term aggregate is the exact df/cf) — this also
    # refreshes the sidecar past any tombstoned docs
    staged_post = _read(
        spark,
        os.path.join(path, "postings") + ".compacting",
        meta,
        "postings",
    )
    (
        staged_post.groupBy("term", "tb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
        .withColumn("__gen", F.lit(0).cast("long"))
        .repartition("tb")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("tb")
        .parquet(os.path.join(path, "termstats") + ".compacting")
    )
    names = names + ["termstats"]
    meta["folding"] = True
    _write_sidecar(path, _META, meta)  # intent marker: metadata window begins
    for name in names:
        bpath = os.path.join(path, name)
        if os.path.isdir(bpath):
            os.rename(bpath, bpath + ".old")
        os.rename(bpath + ".compacting", bpath)
    shutil.rmtree(spath, ignore_errors=True)
    shutil.rmtree(tomb, ignore_errors=True)
    for name in names:
        shutil.rmtree(os.path.join(path, name) + ".old", ignore_errors=True)
    meta.pop("folding", None)
    meta.pop("tombstones", None)
    meta.pop("tomb_docs", None)
    meta.pop("tomb_dl", None)
    meta.pop("tomb_stats_docs", None)
    meta.pop("stream_base", None)
    meta["seq"] = 0
    stats = (
        spark.read.parquet(os.path.join(path, "doclens"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
        )
        .collect()[0]
    )
    meta["n_docs"] = int(stats["n"])
    meta["sum_dl"] = int(stats["s"])
    meta["compactions"] = meta.get("compactions", 0) + 1
    _write_sidecar(path, _META, meta)
    return meta
