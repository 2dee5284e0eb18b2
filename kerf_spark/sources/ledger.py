"""The epoch ledger: the storage protocol of incremental derived tables.

Rollups (``sources.rollup``) and enrichment views (``sources.matview``)
are two instances of one protocol — the reference's tick-append
discipline with promote-on-append widening (layout.cc:726-934).  This
internal module owns it; the two public modules keep what the artifact
means (partials and their merge, the dim snapshot and its join).

* A JSON sidecar holds the spec, the watermark and the epoch ledger.
  It swaps in atomically and LAST on every mutation: readers trust only
  the epochs it lists, so a half-written epoch is invisible and a
  replay (which overwrites its epoch dir) idempotent.  The index
  sidecars use the same atomic read/write.
* Data lives under ``path/<tree>/epoch=N/part_ns=P``; each ledger entry
  records its epoch's parts, watermark and write schema.  Old epochs
  never rewrite: reads widen them to the current schema.
* Refresh folds the tail at/after the watermark and moves it; backfill
  folds late rows, refuses any at/after it and leaves it in place.
  A row with a NULL time has no partition: create and backfill refuse
  it before writing anything, and refresh drops it, because a NULL
  time fails the watermark filter.
  Epochs SUPERSEDE per partition when the kind has a ``merge`` hook
  (rollups) and are disjoint row sets that union otherwise (views).

Listing cost: Spark lists a read's input paths with a parallel-listing
job once they exceed ``spark.sql.sources.parallelPartitionDiscovery
.threshold`` (32), so a read over more than 32 leafs — or over an epoch
dir with more than 32 ``part_ns`` subdirs — runs one Spark job while
its plan is built.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import ArgsError
from ..functions.temporal import ts_to_ns


# ----------------------------------------------------------------- sidecar
def _write_sidecar(path: str, name: str, meta: dict) -> None:
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, name + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    # atomic swap: readers see the old complete sidecar or the new one
    os.replace(tmp, os.path.join(path, name))


def _read_sidecar(path: str, name: str) -> dict:
    with open(os.path.join(path, name)) as fh:
        return json.load(fh)


# ------------------------------------------------------------- time column
def _tns(meta: dict):
    c = F.col(meta["time_col"])
    return ts_to_ns(c) if meta["time_kind"] == "timestamp" else c.cast("long")


def _time_kind(df: DataFrame, time_col: str) -> str:
    dt = df.schema[time_col].dataType
    ts = (T.TimestampType, T.TimestampNTZType)
    return "timestamp" if isinstance(dt, ts) else "ns"


def _stats(df: DataFrame, meta: dict):
    """One job: row count ``n``, non-NULL time count ``nt`` and max
    epoch-ns ``mx`` of ``df``."""
    t = _tns(meta)
    return df.agg(
        F.count(F.lit(1)).alias("n"), F.count(t).alias("nt"),
        F.max(t).alias("mx"),
    ).head()


def _null_times(stats, kind: str, meta: dict) -> ArgsError:
    """The refusal of rows with a NULL time: such a row has no
    ``part_ns``, and Spark would write it under
    ``part_ns=__HIVE_DEFAULT_PARTITION__``, outside the ledger."""
    return ArgsError(
        f"{kind} source has {stats['n'] - stats['nt']} rows with a NULL "
        f"{meta['time_col']!r} — a row with no time has no partition; "
        f"filter or fill them first"
    )


def _increment(source: DataFrame, meta: dict) -> DataFrame:
    """The refresh's tail scan: everything at/after the watermark.

    The predicate is a plain range comparison on the time column (for
    timestamp sources, on the reconstructed timestamp bound — not on a
    derived expression), so it PUSHES DOWN to the parquet scan and
    row-group min/max skip the already-folded history — the property
    that makes a refresh cost O(increment), plan-asserted in tests."""
    w = int(meta["watermark_ns"])
    tc = meta["time_col"]
    if meta["time_kind"] == "timestamp":
        # compare the RAW column against a literal of ITS OWN type:
        # parquet pushes attribute-vs-literal range predicates, while
        # the old unix_micros(col)*1000 >= w form wrapped the column in
        # a function and scanned everything.  Ceil-to-µs keeps the ns
        # semantics exact (ts_ns is µs*1000 at this kind, so
        # ts_ns >= w  <=>  ts_us >= ceil(w/1000)); the cast to the
        # column's exact type (TIMESTAMP vs TIMESTAMP_NTZ) is on the
        # LITERAL side and lossless under the engine's fixed UTC.
        bound_us = -((-w) // 1000)
        dt = source.schema[tc].dataType.simpleString()
        return source.where(
            F.col(tc) >= F.timestamp_micros(F.lit(int(bound_us))).cast(dt)
        )
    return source.where(F.col(tc).cast("long") >= F.lit(w))


# ------------------------------------------------------ schema promotion
def promote_type(a: T.DataType, b: T.DataType) -> T.DataType:
    """Widest-wins promotion over the kerf numeric ladder, recursing
    through structs/arrays — the reference's promote-on-append width
    discipline (layout.cc:726-934) applied to DERIVED artifacts: a
    source that widened between create and refresh (e.g. a Workspace
    table whose minimal-width smallint outgrew into bigint) widens the
    artifact's schema instead of corrupting its reads."""
    if a == b:
        return a
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        if [f.name for f in a.fields] != [f.name for f in b.fields]:
            raise ArgsError(
                f"cannot promote structs with different fields: "
                f"{a.simpleString()} vs {b.simpleString()}"
            )
        return _promote_fields(a, b)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(
            promote_type(a.elementType, b.elementType), True
        )
    from .catalog import _promote

    # _promote raises loudly on an impossible promotion
    return _SIMPLE[_promote(a.simpleString(), b.simpleString())]


_SIMPLE = {
    "tinyint": T.ByteType(), "smallint": T.ShortType(),
    "int": T.IntegerType(), "bigint": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(),
    "string": T.StringType(),
}


def promote_schema(a: T.StructType, b: T.StructType) -> T.StructType:
    if [f.name for f in a.fields] != [f.name for f in b.fields]:
        raise ArgsError(
            f"schema drift beyond width promotion: "
            f"{[f.name for f in a.fields]} vs {[f.name for f in b.fields]}"
        )
    return _promote_fields(a, b)


def _promote_fields(a: T.StructType, b: T.StructType) -> T.StructType:
    return T.StructType([
        T.StructField(fa.name, promote_type(fa.dataType, fb.dataType), True)
        for fa, fb in zip(a.fields, b.fields)
    ])


def cast_to(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Align ``df``'s columns to ``schema`` (widening casts only, by
    construction of :func:`promote_schema`)."""
    if df.schema == schema:
        return df
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def _with_part_field(schema: T.StructType) -> T.StructType:
    part = T.StructField("part_ns", T.LongType())
    return T.StructType(list(schema.fields) + [part])


# ------------------------------------------------------------------ layout
def _parts(epoch_dir: str) -> list[int]:
    """The ``part_ns`` values a partitioned write left in ``epoch_dir``."""
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(epoch_dir)
        if d.startswith("part_ns=")
    )


def _resolution(meta: dict) -> dict[int, int]:
    """part_ns -> epoch holding its current state (last writer wins)."""
    res: dict[int, int] = {}
    for e in meta["epochs"]:
        for p in e["parts"]:
            res[int(p)] = int(e["epoch"])
    return res


@dataclass(frozen=True)
class Ledger:
    """One artifact kind's instance of the protocol.

    ``derive(spark, path, rows, meta)`` turns source rows into the
    stored frame, ``part_ns`` column included.  ``merge(spark, path,
    meta, inc, target, scratch)`` is set for SUPERSEDING epochs: it
    returns the merged state of every part the (widened) increment
    touches, and may stage data under ``scratch``; ``None`` means
    epochs are disjoint row sets that union."""

    kind: str  # "rollup" / "matview": names the artifact in refusals
    verb: str  # names refresh_<verb> / backfill_<verb> in refusals
    sidecar: str
    tree: str
    schema_key: str
    format: int
    derive: Callable
    merge: Callable | None = None

    def meta(self, path: str) -> dict:
        meta = _read_sidecar(path, self.sidecar)
        if meta.get("format") != self.format:
            raise ArgsError(
                f"{self.kind} at {path} has format {meta.get('format')}, "
                f"this code reads format {self.format} — rebuild it"
            )
        if meta.get("folding"):
            # a compaction died inside its swap window: the tree may
            # be mid-rename (missing leafs) — fail loud, rebuild (the
            # annindex._check_not_folding discipline)
            raise ArgsError(
                f"{self.kind} at {path} has an interrupted compaction — "
                f"rebuild it"
            )
        return meta

    def leaf(self, path: str, epoch: int, part: int) -> str:
        return os.path.join(self._epoch_dir(path, epoch), f"part_ns={part}")

    def _epoch_dir(self, path: str, epoch: int) -> str:
        return os.path.join(path, self.tree, f"epoch={epoch}")

    # ------------------------------------------------------------ writes
    def create(self, path: str, meta: dict, source: DataFrame) -> dict:
        """Epoch 0 over ``source``'s current contents.  The caller reset
        ``path`` (:func:`_reset`) and filled ``meta`` with the spec."""
        stats = _stats(source, meta)
        if stats["nt"] < stats["n"]:
            _reset(path)  # the caller's staging (a view's dim) goes too
            raise _null_times(stats, self.kind, meta)
        frame = self.derive(source.sparkSession, path, source, meta)
        meta[self.schema_key] = frame.drop("part_ns").schema.jsonValue()
        if stats["n"] == 0:
            # empty corpora are first-class: no epoch dir (empty
            # partitioned writes leave schema-less trees), schema lives
            # in the sidecar
            meta["watermark_ns"] = 0
            _write_sidecar(path, self.sidecar, meta)
            return meta
        self._append_epoch(path, meta, frame, int(stats["mx"]) + 1)
        return meta

    def fold(
        self, spark: SparkSession, path: str, rows: DataFrame,
        backfill: bool = False,
    ) -> dict:
        """Refresh (fold ``rows`` at/after the watermark, move it) or
        backfill (fold LATE ``rows``, refuse any at/after it, leave it)
        as one new epoch, the sidecar committed last."""
        meta = self.meta(path)
        if meta["watermark_ns"] is None:
            raise ArgsError(f"{self.kind} at {path} was never created")
        w = int(meta["watermark_ns"])
        if not backfill:
            rows = _increment(rows, meta)
        stats = _stats(rows, meta)  # refresh: NULL times fail _increment
        if backfill and stats["nt"] < stats["n"]:
            raise _null_times(stats, self.kind, meta)
        if stats["n"] == 0:
            return {"rows": 0, "parts": []} if backfill else {
                "rows": 0, "parts": [], "watermark_ns": w,
            }
        if backfill and int(stats["mx"]) >= w:
            raise ArgsError(
                f"backfill_{self.verb} got rows at/after the watermark "
                f"({w}) — those belong to refresh_{self.verb} (folding "
                f"them here would double-count them on the next refresh)"
            )
        frame = self.derive(spark, path, rows, meta)
        # width promotion: a source that widened since create widens the
        # artifact schema; old epochs stay narrow on disk and widen at read
        target = promote_schema(
            T.StructType.fromJson(meta[self.schema_key]),
            frame.drop("part_ns").schema,
        )
        meta[self.schema_key] = target.jsonValue()
        part = frame.schema["part_ns"]
        frame = cast_to(frame, T.StructType(list(target.fields) + [part]))
        if self.merge is not None:
            scratch = self._epoch_dir(path, len(meta["epochs"])) + ".inc"
            frame = self.merge(spark, path, meta, frame, target, scratch)
        w_new = w if backfill else int(stats["mx"]) + 1
        parts = self._append_epoch(path, meta, frame, w_new, backfill)
        out = {"rows": int(stats["n"]), "parts": parts}
        if not backfill:
            out["watermark_ns"] = w_new
        return out

    def _append_epoch(
        self, path: str, meta: dict, frame: DataFrame, watermark: int,
        backfill: bool = False,
    ) -> list[int]:
        """The one epoch writer: write ``frame`` partitioned by
        ``part_ns`` as the next epoch (``overwrite`` — a replay
        recomputes the same epoch deterministically), list its parts,
        append the ledger entry, swap the sidecar in LAST."""
        epoch = len(meta["epochs"])
        epoch_dir = self._epoch_dir(path, epoch)
        frame.write.mode("overwrite").partitionBy("part_ns").parquet(epoch_dir)
        shutil.rmtree(epoch_dir + ".inc", ignore_errors=True)  # merge scratch
        parts = _parts(epoch_dir)
        entry = {"epoch": epoch, "watermark_ns": watermark, "parts": parts}
        if backfill:
            entry["backfill"] = True
        entry["schema"] = meta[self.schema_key]
        meta["epochs"].append(entry)
        meta["watermark_ns"] = watermark
        _write_sidecar(path, self.sidecar, meta)  # commit point
        return parts

    def sink(self, spark: SparkSession, path: str):
        """A fanout-compatible foreachBatch sink refreshing the artifact
        with each micro-batch."""
        self.meta(path)  # fail fast if the artifact was never created

        def sink(batch: DataFrame, epoch_id: int) -> None:
            self.fold(spark, path, batch)

        return sink

    def compact(self, spark: SparkSession, path: str) -> dict:
        """Fold the epoch chain into a fresh epoch 0: read the current
        state with each leaf's ``part_ns`` from its directory name (so no
        bucket is re-derived), write it to a staging tree, swap it in
        under the ``folding`` marker, commit the sidecar last."""
        meta = self.meta(path)
        staging = os.path.join(path, self.tree + ".compacting")
        shutil.rmtree(staging, ignore_errors=True)
        parts: list[int] = []
        if meta["epochs"]:
            frame = self.read(spark, path, meta, with_part=True)
            frame.write.mode("overwrite").partitionBy("part_ns").parquet(
                os.path.join(staging, "epoch=0")
            )
            parts = _parts(os.path.join(staging, "epoch=0"))
        # intent marker brackets ONLY the tight rename window: a crash
        # inside it leaves the marker set and every reader refuses (the
        # tree may be mid-swap) instead of answering from half a tree
        meta["folding"] = True
        _write_sidecar(path, self.sidecar, meta)
        old = os.path.join(path, self.tree)
        trash = old + ".old"
        shutil.rmtree(trash, ignore_errors=True)
        if os.path.isdir(old):
            os.replace(old, trash)
        if meta["epochs"]:
            os.replace(staging, old)
        meta.pop("folding", None)
        meta["epochs"] = (
            [{"epoch": 0, "watermark_ns": meta["watermark_ns"], "parts": parts,
              "schema": meta[self.schema_key]}]
            if parts
            else []
        )
        _write_sidecar(path, self.sidecar, meta)  # commit point
        shutil.rmtree(trash, ignore_errors=True)
        return {"epochs_folded": True, "parts": len(parts)}

    # ------------------------------------------------------------- reads
    def read(
        self, spark: SparkSession, path: str, meta: dict,
        lo_ns: int | None = None, hi_ns: int | None = None,
        pairs=None, with_part: bool = False,
    ) -> DataFrame:
        """The stored rows of the current state's partitions overlapping
        ``[lo_ns, hi_ns]`` — leafs selected from the sidecar ledger, no
        filesystem scan — or of the given ``(epoch, part)``
        ``pairs``.  Each epoch reads with ITS recorded schema (epochs
        written before a width promotion are narrower) and widens to the
        current one: old epochs never rewrite, reads widen.
        ``with_part`` adds ``part_ns`` from the leaf directory names."""
        if pairs is None:
            if self.merge is not None:  # a part's last epoch holds it
                pairs = [(e, p) for p, e in sorted(_resolution(meta).items())]
            else:  # disjoint epochs union
                pairs = [
                    (int(e["epoch"]), int(p))
                    for e in meta["epochs"]
                    for p in e["parts"]
                ]
            pw = int(meta["part_width_ns"])
            pairs = [
                (e, p)
                for e, p in pairs
                if (lo_ns is None or p + pw > lo_ns)
                and (hi_ns is None or p <= hi_ns)
            ]
        by_epoch: dict[int, list[int]] = {}
        for e, pt in pairs:
            by_epoch.setdefault(int(e), []).append(int(pt))
        esch = {
            int(en["epoch"]): en.get("schema") or meta[self.schema_key]
            for en in meta["epochs"]
        }
        target = T.StructType.fromJson(meta[self.schema_key])
        if with_part:
            target = _with_part_field(target)
        out = None
        for e, ps in sorted(by_epoch.items()):
            sch = T.StructType.fromJson(esch[e])
            r = spark.read
            if with_part:
                sch = _with_part_field(sch)
                r = r.option("basePath", self._epoch_dir(path, e))
            df = cast_to(
                r.schema(sch).parquet(*[self.leaf(path, e, pt) for pt in ps]),
                target,
            )
            out = df if out is None else out.unionByName(df)
        return spark.createDataFrame([], target) if out is None else out


def _reset(path: str) -> None:
    """Clear any previous life of the artifact at ``path`` (sidecar and
    trees together), the build-hygiene discipline shared with
    annindex._clear_derived."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
