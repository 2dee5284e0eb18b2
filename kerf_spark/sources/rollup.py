"""Materialized incremental rollups: continuous aggregates on disk.

The reference's tick-DB discipline appends time-ordered rows and reads
bar queries over them (the mmap'd-table path, file.cc + the xbar verb's
bucketing role in SURVEY §3.3); every production time-series store
pairs that with a *continuous aggregate* — the hypertable-rollup shape:
a persisted bars table that refreshes INCREMENTALLY on append, so a
"5-minute bars over 100 TB of ticks" query reads the rollup (GB) and a
refresh after an append aggregates the new tail only (MB), never the
corpus.

Design (Spark-native LSM, the same base+delta+epoch discipline as
``operators.annindex`` / ``operators.textindex``):

* The rollup stores MERGEABLE PARTIALS per ``(keys…, bucket)``:
  ``cnt`` + per value column ``min/max/sum`` + a non-null value count
  (the exact ``avg`` denominator) + ``open/close`` carried
  as ``(ts, value)`` pairs so merge = lexicographic min/max.  Any two
  partial rows for the same bucket merge associatively — the property
  that makes the refresh a bounded job instead of a rescan.
* Layout: ``path/bars/epoch=N/part_ns=P/*.parquet``.  ``part_ns`` is a
  coarse time partition (default 1 day) derived from the bucket, so an
  epoch touches only the partitions its increment's time span covers.
  Epoch 0 is the initial build; each refresh writes one epoch holding
  the MERGED state of the touched partitions.  A partition's current
  state lives in the highest epoch that lists it (resolution is sidecar
  metadata — no filesystem scan).
* Refresh reads ``source WHERE ts >= watermark`` — a pushed-down range
  predicate, so with time-ordered appends (the tick contract) parquet
  row-group min/max skip everything but the new tail.  Late rows behind
  the watermark are skipped by refresh and fold in through
  :func:`backfill_rollup` (a Workspace-attached rollup routes an
  append's stragglers there automatically).
* Crash safety (sidecar swapped in LAST, replays overwrite their
  epoch), width promotion and compaction are the epoch-ledger protocol
  shared with the enrichment views (``sources.ledger``).

Exactness: ``cnt``/``min``/``max``/``open``/``close`` and integer
``sum`` are associativity-immune — incremental refresh is bitwise equal
to a full rebuild.  Double ``sum`` partials carry the usual fp
association caveat (same as any distributed sum); keep money in int
cents if you need bit-stable totals (the engine-wide discipline).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import ArgsError
from ..functions.temporal import DAY, xbar
from . import ledger as L
from .ledger import cast_to, promote_schema, promote_type  # noqa: F401

_META = "rollup.json"
#: bump when the on-disk layout or partial-aggregation expressions
#: change: readers refuse a different format loudly instead of
#: misreading it.
#: 2: partials carry a per-value NON-NULL count ``{v}_cnt`` so the
#:    finalized ``{v}_avg`` divides by the values that actually entered
#:    the sum — ``cnt`` counts rows, and min/max/sum skip nulls, so a
#:    null-bearing value column used to bias the average low.
FORMAT = 2


def rollup_meta(path: str) -> dict:
    """The rollup sidecar (spec, watermark, epoch ledger)."""
    return _LEDGER.meta(path)


# ---------------------------------------------------------------- partials
def _partials(df: DataFrame, meta: dict) -> DataFrame:
    """Aggregate raw rows to one MERGEABLE partial row per
    ``(keys…, bucket_ns)``.  open/close ride as ``(ts, value)`` structs
    so the merge step is a plain lexicographic min/max — ties on the
    timestamp break by value, deterministically on any layout."""
    keys, values = meta["keys"], meta["values"]
    tns = L._tns(meta)
    sel = df.select(
        *[F.col(k) for k in keys],
        xbar(tns, int(meta["width_ns"])).alias("bucket_ns"),
        tns.alias("__tns"),
        *[F.col(v) for v in values],
    )
    aggs = [F.count(F.lit(1)).alias("cnt")]
    for v in values:
        aggs += [
            F.min(v).alias(f"{v}_min"),
            F.max(v).alias(f"{v}_max"),
            F.sum(v).alias(f"{v}_sum"),
            # non-null count: the avg denominator (sum/min/max skip
            # nulls; cnt counts rows — dividing sum by cnt biases the
            # average low on null-bearing value columns)
            F.count(v).alias(f"{v}_cnt"),
            F.min(F.struct(F.col("__tns").alias("t"), F.col(v).alias("v"))).alias(
                f"{v}_open"
            ),
            F.max(F.struct(F.col("__tns").alias("t"), F.col(v).alias("v"))).alias(
                f"{v}_close"
            ),
        ]
    h = meta.get("hist")
    if h:
        # the sketches.hist_build bins as ONE array<long> per bucket —
        # the fifth mergeable summary, embedded in the rollup so per-bar
        # quantiles never re-scan ticks.  Fixed [lo, hi) equi-width
        # bins, out-of-range clamps to the edge bins, nulls drop (every
        # when() is false for a null value).
        lo, w, n = float(h["lo"]), _hist_w(h), int(h["n_bins"])
        b = F.least(
            F.greatest(F.floor((F.col(h["col"]) - lo) / w), F.lit(0)),
            F.lit(n - 1),
        ).cast("int")
        aggs.append(
            F.array(*[
                F.sum(
                    F.when(b == i, F.lit(1)).otherwise(F.lit(0))
                ).cast("long")
                for i in range(n)
            ]).alias("__hist")
        )
    return sel.groupBy(*keys, "bucket_ns").agg(*aggs)


def _hist_w(h: dict) -> float:
    return (float(h["hi"]) - float(h["lo"])) / int(h["n_bins"])


def _merge(parts: DataFrame, meta: dict) -> DataFrame:
    """Fold partial rows with identical ``(keys…, bucket_ns)`` — the
    associative merge that makes refresh incremental."""
    keys, values = meta["keys"], meta["values"]
    aggs = [F.sum("cnt").alias("cnt")]
    for v in values:
        aggs += [
            F.min(f"{v}_min").alias(f"{v}_min"),
            F.max(f"{v}_max").alias(f"{v}_max"),
            F.sum(f"{v}_sum").alias(f"{v}_sum"),
            F.sum(f"{v}_cnt").alias(f"{v}_cnt"),
            F.min(f"{v}_open").alias(f"{v}_open"),
            F.max(f"{v}_close").alias(f"{v}_close"),
        ]
    h = meta.get("hist")
    if h:
        n = int(h["n_bins"])
        # elementwise vector add over the (bounded) partials per bucket
        # — integer adds commute, so the fold order never matters
        aggs.append(
            F.aggregate(
                F.collect_list("__hist"),
                F.array_repeat(F.lit(0).cast("long"), n),
                lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
            ).alias("__hist")
        )
    return parts.groupBy(*keys, "bucket_ns").agg(*aggs)


def _with_part(parts: DataFrame, meta: dict) -> DataFrame:
    # part_ns is DERIVED from bucket_ns, so leaf-dir reads (which drop
    # the hive column) can always reconstruct it
    return parts.withColumn(
        "part_ns", xbar(F.col("bucket_ns"), int(meta["part_width_ns"]))
    )


def _derive(spark: SparkSession, path: str, rows: DataFrame, meta: dict):
    return _with_part(_partials(rows, meta), meta)


def _merge_touched(
    spark: SparkSession, path: str, meta: dict, inc: DataFrame,
    target: T.StructType, scratch: str,
) -> DataFrame:
    """The epoch's content: the MERGED state of every partition the
    increment touches.  The increment's partials are staged once; the
    touched-partition list is bounded by its time span (appends are a
    tail), so only those partitions' prior state is read."""
    inc.write.mode("overwrite").parquet(scratch)
    inc_stored = spark.read.parquet(scratch)
    touched = sorted(
        r["part_ns"] for r in inc_stored.select("part_ns").distinct().collect()
    )
    res = L._resolution(meta)
    prior = [(res[p], p) for p in touched if p in res]
    merged = cast_to(inc_stored.drop("part_ns"), target)
    if prior:
        merged = _merge(
            merged.unionByName(_LEDGER.read(spark, path, meta, pairs=prior)),
            meta,
        )
    return _with_part(cast_to(merged, target), meta)


_LEDGER = L.Ledger(
    kind="rollup", verb="rollup", sidecar=_META, tree="bars",
    schema_key="partials_schema", format=FORMAT,
    derive=_derive, merge=_merge_touched,
)


# ------------------------------------------------------------ create/read
def create_rollup(
    source: DataFrame,
    path: str,
    *,
    time_col: str,
    keys: list[str],
    values: list[str],
    width_ns: int,
    part_width_ns: int = DAY,
    hist: dict | None = None,
) -> dict:
    """Build the rollup from scratch (epoch 0 = full partial aggregate).

    ``time_col`` may be a Spark timestamp (converted to epoch-ns) or an
    epoch-ns long.  ``width_ns`` is the bucket (e.g. ``span_ns(5,'m')``),
    ``part_width_ns`` the coarse storage partition (default 1 day) —
    choose it so one partition's bars fit an executor comfortably and an
    append's time span touches few partitions.

    ``hist={"col": v, "lo": a, "hi": b, "n_bins": n}`` embeds a
    fixed-boundary equi-width histogram (the ``sketches.hist_build``
    summary) as one ``array<long>`` per bar — constant-size, mergeable
    by elementwise add, so :func:`rollup_quantile` answers per-bar
    p50/p99 without ever re-scanning ticks.  ``col`` must be one of
    ``values``."""
    if hist is not None:
        missing = {"col", "lo", "hi", "n_bins"} - set(hist)
        if missing:
            raise ArgsError(f"hist spec missing {sorted(missing)}")
        if hist["col"] not in values:
            raise ArgsError(
                f"hist col {hist['col']!r} must be one of values={values}"
            )
        if int(hist["n_bins"]) <= 0 or float(hist["hi"]) <= float(hist["lo"]):
            raise ArgsError("hist needs n_bins > 0 and hi > lo")
    if width_ns <= 0 or part_width_ns <= 0:
        raise ArgsError("width_ns and part_width_ns must be positive")
    if part_width_ns % width_ns != 0:
        raise ArgsError(
            f"part_width_ns ({part_width_ns}) must be a multiple of "
            f"width_ns ({width_ns}) so no bucket straddles partitions"
        )
    if not keys and not values:
        raise ArgsError("need at least one key or value column")
    L._reset(path)
    meta = {
        "format": FORMAT,
        "kind": "rollup",
        "time_col": time_col,
        "time_kind": L._time_kind(source, time_col),
        "keys": list(keys),
        "values": list(values),
        "width_ns": int(width_ns),
        "part_width_ns": int(part_width_ns),
        "hist": (
            {
                "col": hist["col"],
                "lo": float(hist["lo"]),
                "hi": float(hist["hi"]),
                "n_bins": int(hist["n_bins"]),
            }
            if hist is not None
            else None
        ),
        "watermark_ns": None,
        "epochs": [],
    }
    return _LEDGER.create(path, meta, source)


def refresh_rollup(spark: SparkSession, path: str, source: DataFrame) -> dict:
    """Fold everything at/after the watermark into the rollup.

    Cost shape: one pushed-down tail scan of the source + a merge over
    the TOUCHED partitions only (increment span / part_width of the
    rollup, not the rollup).  Replay-idempotent: the epoch number and
    its content are deterministic functions of (source, watermark), and
    the sidecar — the only thing readers trust — swaps in last."""
    return _LEDGER.fold(spark, path, source)


def read_rollup(
    spark: SparkSession,
    path: str,
    lo_ns: int | None = None,
    hi_ns: int | None = None,
    finalize: bool = True,
) -> DataFrame:
    """The current bars.  ``lo_ns``/``hi_ns`` bound the read at the
    STORAGE layer — only partitions overlapping the range are opened
    (driver-side leaf selection over sidecar metadata), then row-group
    min/max on ``bucket_ns`` skip within them.

    ``finalize=True`` unwraps the open/close pairs and adds ``{v}_avg``;
    ``finalize=False`` returns raw partials (what :func:`_merge` eats —
    the mergeable form, e.g. for cross-rollup unions)."""
    meta = rollup_meta(path)
    bars = _LEDGER.read(spark, path, meta, lo_ns, hi_ns)
    if lo_ns is not None:
        bars = bars.where(F.col("bucket_ns") >= F.lit(int(lo_ns)))
    if hi_ns is not None:
        bars = bars.where(F.col("bucket_ns") <= F.lit(int(hi_ns)))
    if not finalize:
        return bars
    cols = [*(F.col(k) for k in meta["keys"]), F.col("bucket_ns"), F.col("cnt")]
    for v in meta["values"]:
        cols += [
            F.col(f"{v}_min"),
            F.col(f"{v}_max"),
            F.col(f"{v}_sum"),
            (F.col(f"{v}_sum") / F.col(f"{v}_cnt")).alias(f"{v}_avg"),
            F.col(f"{v}_open.v").alias(f"{v}_open"),
            F.col(f"{v}_close.v").alias(f"{v}_close"),
        ]
    return bars.select(*cols)


def rollup_quantile(
    spark: SparkSession,
    path: str,
    q: float | list[float],
    lo_ns: int | None = None,
    hi_ns: int | None = None,
    out: str | list[str] = "quantile",
) -> DataFrame:
    """Per-bar quantile(s) off the embedded histogram — the
    ``sketches.hist_quantile`` estimate (rank location + linear
    interpolation, error bounded by the bin width) computed as ONE
    array fold per bar PER quantile: no window, no shuffle beyond the
    pruned bars read itself.  Deterministic: the estimate is a pure
    function of the (exact, integer) bin counts, reproduced
    bit-for-bit by a SQL oracle that replays the same arithmetic.

    ``q`` may be a list (e.g. ``[0.5, 0.95, 0.99]`` with matching
    ``out`` names) — every quantile reads the bars ONCE."""
    meta = rollup_meta(path)
    h = meta.get("hist")
    if not h:
        raise ArgsError(
            f"rollup at {path} carries no histogram — rebuild with "
            f"create_rollup(..., hist={{...}})"
        )
    qs = list(q) if isinstance(q, (list, tuple)) else [q]
    outs = list(out) if isinstance(out, (list, tuple)) else [out]
    if len(qs) != len(outs):
        raise ArgsError(
            f"{len(qs)} quantiles need {len(qs)} output names, "
            f"got {len(outs)}"
        )
    for one in qs:
        if not (0.0 < one <= 1.0):
            raise ArgsError(f"quantile must be in (0, 1], got {one}")
    lo, w, n = float(h["lo"]), _hist_w(h), int(h["n_bins"])
    bars = read_rollup(spark, path, lo_ns, hi_ns, finalize=False)
    npts = F.aggregate(
        F.col("__hist"), F.lit(0).cast("long"), lambda a, x: a + x
    )
    # indexed fold: carry (cum, est); the first bin whose cumulative
    # count reaches the rank sets the estimate — same pick rule and
    # interpolation as sketches.hist_quantile, windowless
    zipped = F.arrays_zip(
        F.col("__hist"),
        F.sequence(F.lit(0), F.lit(n - 1)).cast("array<long>"),
    )

    def fold_for(one_q):
        r = F.greatest(
            F.lit(1).cast("long"), F.ceil(F.lit(one_q) * F.col("__n"))
        )
        return F.aggregate(
            zipped,
            F.struct(
                F.lit(0).cast("long").alias("cum"),
                F.lit(None).cast("double").alias("est"),
            ),
            lambda acc, x: F.struct(
                (acc["cum"] + x["__hist"]).alias("cum"),
                F.coalesce(
                    acc["est"],
                    F.when(
                        (acc["cum"] + x["__hist"] >= r) & (x["__hist"] > 0),
                        F.lit(lo)
                        + F.lit(w)
                        * (x["1"] + (r - acc["cum"]) / x["__hist"]),
                    ),
                ).alias("est"),
            ),
            lambda acc: acc["est"],
        )

    return (
        bars.withColumn("__n", npts)
        .where(F.col("__n") > 0)
        .select(
            *meta["keys"], "bucket_ns",
            F.col("__n").alias("n"),
            *[fold_for(one).alias(name) for one, name in zip(qs, outs)],
        )
    )


def backfill_rollup(
    spark: SparkSession, path: str, late_rows: DataFrame
) -> dict:
    """Fold LATE rows — rows behind the watermark that
    :func:`refresh_rollup` would skip — into their buckets.

    Same epoch mechanics as a refresh (merge into touched partitions,
    sidecar commit last) but with no watermark filter and no watermark
    move: the caller asserts these rows were never folded before (a
    re-delivered row double-counts — at 100 TB, dedup belongs to the
    feed, e.g. ``dropDuplicatesWithinWatermark`` upstream).  Rows
    at/after the watermark are REFUSED (they belong to refresh; letting
    them in here would double-count them on the next refresh)."""
    return _LEDGER.fold(spark, path, late_rows, backfill=True)


def rollup_stream_sink(spark: SparkSession, path: str):
    """Streaming rollup maintenance: a fanout-compatible foreachBatch
    sink that folds each micro-batch of raw rows into the rollup via
    :func:`refresh_rollup`.  The watermark filter makes crash-replayed
    epochs no-ops for TIME-ORDERED feeds (re-delivered rows sit behind
    the watermark — the tick-append contract this module documents);
    each non-empty batch lands as one epoch in the ledger, so run
    :func:`compact_rollup` on a schedule to keep the chain short."""
    return _LEDGER.sink(spark, path)


def drop_rollup_range(spark: SparkSession, path: str, before_ns: int) -> dict:
    """Retention: drop every storage partition strictly OLDER than
    ``before_ns`` (bars with ``part_ns + part_width <= before_ns``) —
    the 100 TB lifecycle move (age out cold bars without touching the
    live tail).  Metadata-first commit: the sidecar's epoch ledger
    stops listing the dropped partitions (readers go blind to them
    atomically), then the leaf directories are removed best-effort (a
    crash mid-delete leaves unreferenced dirs that the next
    :func:`compact_rollup` sweep ignores and whose space a re-run
    reclaims).  The watermark is untouched: refresh keeps appending at
    the tail."""
    meta = rollup_meta(path)
    pw = int(meta["part_width_ns"])
    cut = int(before_ns)
    dropped: list[int] = []
    doomed: list[str] = []
    for e in meta["epochs"]:
        keep = []
        for p in e["parts"]:
            if int(p) + pw <= cut:
                dropped.append(int(p))
                doomed.append(_LEDGER.leaf(path, int(e["epoch"]), int(p)))
            else:
                keep.append(p)
        e["parts"] = keep
    if not dropped:
        return {"parts_dropped": 0}
    # commit point: readers stop seeing them
    L._write_sidecar(path, _META, meta)
    for d in doomed:
        shutil.rmtree(d, ignore_errors=True)
    return {"parts_dropped": len(set(dropped))}


def compact_rollup(spark: SparkSession, path: str) -> dict:
    """Fold the epoch chain into a fresh single-epoch base.

    Reads the RESOLVED state (no merge needed — resolution already
    dedups partitions), rewrites it as epoch 0 through a staging dir,
    swaps atomically, drops the old chain.  Run it when the epoch
    ledger grows long (each refresh adds one)."""
    return _LEDGER.compact(spark, path)
