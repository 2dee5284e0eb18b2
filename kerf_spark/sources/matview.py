"""Incremental materialized ENRICHMENT views: denormalize at ingest.

The rollup (``sources.rollup``) maintains the aggregation side of a
tick store incrementally; this module maintains the JOIN side — the
"enrich every fact row with its dimension attributes once, at ingest"
pattern every 100 TB pipeline runs (trades ⋈ instrument master,
documents ⋈ source metadata, lineitems ⋈ part catalog).  Re-joining at
query time pays the dimension broadcast on every query; the
materialized view pays it once per increment and every downstream read
is a plain pruned scan.

Design (the epoch-ledger protocol of ``sources.ledger``, shared with
the rollup, minus the merge — an enrichment view is APPEND-ONLY because
each epoch's fact rows are disjoint by the watermark, so epochs union
instead of superseding):

* ``create_enrich_view`` snapshots the DIMENSION inside the view
  (``dim/`` parquet — the view is self-contained; enrichment uses the
  dim AS OF creation, the slowly-changing-dimension type-0 contract,
  and a changed dim is a deliberate rebuild), left-joins the fact's
  current contents, and lands ``rows/epoch=0/part_ns=P/`` partitioned
  by a coarse bucket of the fact's time column.
* ``refresh_enrich_view`` reads the fact tail behind the watermark
  (raw-column pushed-down predicate — the ledger's ``_increment``),
  joins it against the BROADCAST stored dim, and appends one new epoch.
  Epochs are disjoint row sets, so the read is a union of every
  epoch's selected partitions; replays overwrite their own epoch dir
  (deterministic), and the sidecar — committed last — is the only
  thing readers trust.
* ``read_enrich_view`` selects leaf dirs at the driver from the
  sidecar ledger (storage-level time-range pruning, the rollup's
  read shape), ``compact_enrich_view`` folds the epoch chain into a
  fresh epoch 0 (small-files maintenance).

Join semantics: LEFT join on the declared keys — fact rows with no
dimension match keep null attributes (they are data, not errors, at
ingest time).  Exactness: the join adds no arithmetic, so incremental
== full rebuild row-for-row.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import ArgsError
from ..functions.temporal import DAY, xbar
from . import ledger as L

_META = "matview.json"
#: bump when the on-disk layout changes: readers refuse loudly
FORMAT = 1


def matview_meta(path: str) -> dict:
    """The view sidecar (spec, watermark, epoch ledger)."""
    return _LEDGER.meta(path)


def _enrich(fact: DataFrame, dim: DataFrame, meta: dict) -> DataFrame:
    """One increment's enrichment: left join against the broadcast
    dimension snapshot, time bucket derived for the partition key.
    part_ns rides as a DATA column too (leaf-dir reads drop the hive
    column and here the bucket is not derivable from the projected
    output)."""
    on = meta["on"]
    dimj = F.broadcast(dim) if meta.get("broadcast_dim", True) else dim
    out = fact.join(dimj, on, "left")
    part = xbar(L._tns(meta), int(meta["part_width_ns"]))
    cols = meta["columns"]
    return out.select(*[F.col(c) for c in cols], part.alias("part_ns"))


def _derive(spark: SparkSession, path: str, rows: DataFrame, meta: dict):
    return _enrich(rows, spark.read.parquet(os.path.join(path, "dim")), meta)


_LEDGER = L.Ledger(
    kind="matview", verb="enrich_view", sidecar=_META, tree="rows",
    schema_key="rows_schema", format=FORMAT, derive=_derive,
)


def create_enrich_view(
    fact: DataFrame,
    dim: DataFrame,
    path: str,
    *,
    on: list[str],
    time_col: str,
    columns: list[str] | None = None,
    part_width_ns: int = 30 * DAY,
    broadcast_dim: bool = True,
) -> dict:
    """Build the enrichment view: snapshot ``dim``, left-join the
    fact's current contents, land the result partitioned by a coarse
    time bucket.  ``columns`` projects the stored output (default:
    every fact column plus every non-key dim column); the join keys
    must be in it or in ``on``.

    ``broadcast_dim`` (default) forces the broadcast join — right for
    the instrument-master-sized dims this pattern exists for.  Set it
    False for a dimension too big to broadcast: the join plans
    unhinted and AQE picks the strategy (shuffled hash / sort-merge);
    the increment side is still only the watermark tail."""
    if not on:
        raise ArgsError("need at least one join key")
    if time_col not in fact.columns:
        raise ArgsError(f"time_col {time_col!r} not in fact columns")
    if columns is None:
        columns = list(fact.columns) + [
            c for c in dim.columns if c not in on
        ]
    missing = [c for c in on if c not in fact.columns or c not in dim.columns]
    if missing:
        raise ArgsError(f"join keys missing from fact or dim: {missing}")
    L._reset(path)  # build hygiene: never union a prior life
    dim.write.mode("overwrite").parquet(os.path.join(path, "dim"))
    meta = {
        "format": FORMAT,
        "kind": "matview",
        "on": list(on),
        "time_col": time_col,
        "time_kind": L._time_kind(fact, time_col),
        "columns": list(columns),
        "part_width_ns": int(part_width_ns),
        "broadcast_dim": bool(broadcast_dim),
        "watermark_ns": None,
        "epochs": [],
    }
    return _LEDGER.create(path, meta, fact)


def refresh_enrich_view(spark: SparkSession, path: str, fact: DataFrame) -> dict:
    """Enrich everything at/after the watermark and append it as a new
    epoch.  Cost shape: one pushed-down tail scan + one broadcast join
    over the increment — never the view, never the history.  Replay-
    idempotent (deterministic epoch content, sidecar committed last)."""
    return _LEDGER.fold(spark, path, fact)


def read_enrich_view(
    spark: SparkSession,
    path: str,
    lo_ns: int | None = None,
    hi_ns: int | None = None,
) -> DataFrame:
    """The enriched rows.  ``lo_ns``/``hi_ns`` bound the read at the
    STORAGE layer: leaf dirs are selected at the driver from the
    sidecar ledger (epochs are disjoint row sets, so every epoch's
    overlapping partitions union in)."""
    meta = matview_meta(path)
    rows = _LEDGER.read(spark, path, meta, lo_ns, hi_ns)
    if (lo_ns is not None or hi_ns is not None) and meta[
        "time_col"
    ] in rows.columns:
        # row-level trim inside the boundary partitions — only when
        # the view stored its time column; otherwise the read is
        # partition-granular (the leaf selection above), documented
        tns = L._tns(meta)
        if lo_ns is not None:
            rows = rows.where(tns >= F.lit(int(lo_ns)))
        if hi_ns is not None:
            rows = rows.where(tns <= F.lit(int(hi_ns)))
    return rows


def backfill_enrich_view(
    spark: SparkSession, path: str, late_rows: DataFrame
) -> dict:
    """Enrich LATE fact rows — rows behind the watermark that
    :func:`refresh_enrich_view` would skip — and append them as a new
    epoch (the rollup's ``backfill_rollup`` mirror).  The watermark
    does not move; rows at/after it are REFUSED (they belong to
    refresh — enriching them here would duplicate them on the next
    refresh).  The caller asserts these rows were never enriched
    before: epochs stay disjoint row sets, which is what makes the
    read a plain union."""
    return _LEDGER.fold(spark, path, late_rows, backfill=True)


def matview_stream_sink(spark: SparkSession, path: str):
    """Streaming view maintenance: a fanout-compatible foreachBatch
    sink folding each micro-batch of fact rows through
    :func:`refresh_enrich_view`.  The watermark filter makes crash-
    replayed epochs no-ops for TIME-ORDERED feeds (the
    rollup_stream_sink contract); compact on a schedule to keep the
    epoch chain short."""
    return _LEDGER.sink(spark, path)


def compact_enrich_view(spark: SparkSession, path: str) -> dict:
    """Fold the epoch chain into a fresh single epoch — small-files
    maintenance after many refreshes.  Staging + atomic swap, sidecar
    committed last (the rollup's crash discipline).

    PARTITION-GRANULAR: each epoch's leafs are re-read with hive
    partition discovery (``part_ns`` comes back as the directory
    name), so rows land under the SAME ``part_ns`` they were written
    with — the time bucket is never re-derived from a time column.
    That makes compaction work for views whose ``columns`` projection
    omits ``time_col`` (ADVICE r8: re-deriving ``part_ns`` via
    ``_tns`` raised an unresolved-column AnalysisException on them,
    breaking the documented compact-on-a-schedule maintenance path)."""
    return _LEDGER.compact(spark, path)
