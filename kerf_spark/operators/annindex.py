"""Persistent ANN indexes: build once on disk, query many times.

The reference keeps derived artifacts next to the data (the workspace /
Kerf-Tree write discipline, file.cc + layout.cc:726-934), and every
production vector system persists its index for the same reason — at
100 TB the IVF/PQ build is a batch job you run once, not a per-query
cost.  The in-process ``_fit_memo`` (similarity.py) already amortizes
centroid/codebook fits within a session; this module makes the whole
index artifact durable and cross-process:

* **IVF index** = the corpus rewritten as parquet PARTITIONED BY its
  cell assignment (hive layout ``cell=N/``) + centroids in a JSON
  sidecar.  A probe of ``nprobe`` cells becomes a ``cell IN (...)``
  filter on the partition column, so pruning happens at the STORAGE
  layer (``PartitionFilters`` in the scan — plan-asserted in tests):
  an ``n_cells``-way index reads ~``nprobe/n_cells`` of the bytes.
  This is the Spark-native shape of FAISS's inverted lists.
* **PQ index** = the encoded codes table (``m`` small ints per row) +
  codebooks in the sidecar.  The encode pass — the expensive per-row
  argmin over codebook literals — runs once at build; queries scan
  only the narrow codes (``similarity.adc_topk``).
* **IVF-PQ index** = the composed layout: ONE cell-partitioned table
  carrying raw vectors + codes; partition pruning is the nprobe,
  column pruning keeps the ADC scan at the codes.
* **Maintenance** = FAISS-``add`` semantics with frozen quantizers:
  batch appends land inside the stored layout (:func:`append_to_index`);
  streaming micro-batches land in a DELTA tree ``stream/epoch=N/`` via
  an idempotent foreachBatch sink (:func:`index_stream_sink`); queries
  read base ∪ delta with pruning intact; :func:`compact_index` folds
  deltas back into the base — the LSM base+delta+compaction shape.

Results are bitwise-identical to the unindexed operators: fits use the
same deterministic recipes (``fit_centroids`` / ``pq_fit`` are
md5-sample-ordered and seeded), parquet round-trips floats and ints
exactly, JSON sidecars round-trip doubles via ``repr`` (shortest
form re-reads to the same bits), and scoring/ranking reuse the exact
same Column expressions (``cell_d2s`` / ``probe_cells`` /
``adc_topk`` / ``two_phase_topk``).  The driver-oracle rows for the
indexed paths therefore share the unindexed rows' DuckDB SQL.

Staleness: the sidecar records the source's file-listing freshness
signal (``similarity._input_freshness``: sorted file list + sizes +
mtimes); :func:`is_stale` compares against the live source so callers
rebuild when the data moved under the path — the same contract as the
in-process memo, made durable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Window

from ..sources.ledger import _read_sidecar, _write_sidecar
from .similarity import (
    _c,
    _input_freshness,
    _pq_sub_d2s,
    _probe_local_df,
    _query_vec_local_df,
    adc_topk,
    argmin_cell,
    array_lit,
    cell_d2s,
    cosine,
    fit_centroids,
    pq_encode,
    pq_fit,
    probe_cells,
    query_stage_local,
    two_phase_topk,
)

_META = "ann_index.json"
# bump when the on-disk layout or assignment expressions change: a
# sidecar with a different format is_stale, so persisted indexes built
# by older code rebuild instead of being misread.
# 2: stored rows carry a ``__gen`` write-generation column and
#    tombstones carry ``__upto`` — point-in-time deletes (the Lucene
#    segment-generation discipline), which is what makes UPSERT
#    (delete-then-add of the same id) possible without resurrecting or
#    re-killing the new version.
FORMAT = 2


def index_meta(path: str) -> dict:
    """The index sidecar (kind, params, fits, row count, freshness)."""
    return _read_sidecar(path, _META)


def _clear_derived(path: str, meta_name: str = _META) -> None:
    """Reset ``path`` for a fresh build (shared with textindex).

    Removes the sidecar FIRST — so a crash mid-build leaves an index
    that fails LOUDLY (``index_meta`` raises, ``is_stale`` → True)
    instead of an old sidecar describing trees that no longer match —
    then every leftover derived artifact from the previous index life:
    the streaming delta tree ``stream/`` and any ``*.compacting`` /
    ``*.old`` compaction staging dirs.  Without this, a rebuild after
    streaming silently unions STALE deltas back in (duplicate rows;
    and after a source-change rebuild the delta cells were assigned
    with the OLD quantizer but probed with the NEW sidecar's — wrong
    neighbors).  ADVICE r7 #2."""
    import shutil

    if not os.path.isdir(path):
        return
    for name in list(os.listdir(path)):
        p = os.path.join(path, name)
        if name in (meta_name, meta_name + ".tmp"):
            try:
                os.remove(p)
            except OSError:
                pass
        elif (
            name in ("stream", "tombstones")
            or name.endswith(".compacting")
            or name.endswith(".old")
        ):
            shutil.rmtree(p, ignore_errors=True)


def _read(
    spark: SparkSession,
    p: str,
    schema_json: str | None,
    with_epoch: bool = False,
) -> DataFrame:
    """Read one index tree with the sidecar-recorded schema when
    available: a delta tree whose every epoch was an EMPTY micro-batch
    contains no parquet data files at all (empty partitioned writes
    emit nothing), and a schema-less read of it fails with
    UNABLE_TO_INFER_SCHEMA — the recorded schema makes empty trees
    first-class (the textindex ``_read`` discipline; ADVICE r7 #3).
    ``with_epoch`` appends the delta tree's ``epoch=N`` partition
    column to the schema.  Pre-schema sidecars fall back to inference
    (non-empty by construction)."""
    r = spark.read
    if schema_json:
        from pyspark.sql.types import LongType, StructType

        st = StructType.fromJson(json.loads(schema_json))
        if with_epoch:
            st = st.add("epoch", LongType())
        r = r.schema(st)
    return r.parquet(p)


def is_stale(path: str, corpus: DataFrame) -> bool:
    """True when no index exists at ``path`` or its recorded source
    freshness no longer matches ``corpus`` — rebuild then.  A corpus
    whose freshness signal is unavailable (non-file store) compares
    as the empty signal, i.e. an existing index is trusted: the
    documented degrade, same as the in-process memo."""
    try:
        meta = index_meta(path)
    except (OSError, ValueError):
        return True
    if meta.get("folding"):  # interrupted compaction: rebuild
        return True
    if meta.get("upserting"):  # interrupted upsert: ids deleted, not re-added
        return True
    if meta.get("format") != FORMAT:  # layout from another code version
        return True
    return meta.get("freshness") != list(_input_freshness(corpus))


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> dict:
    """Build the IVF index: fit centroids (same deterministic recipe as
    ``ivf_topk``), assign every vector's cell JVM-side, and rewrite the
    corpus as parquet partitioned by ``cell``.  One full scan + one
    write — the 100 TB batch-build shape (cell count bounds the file
    fan-out; rows within a cell stay together for the probe scan)."""
    _clear_derived(path)
    cents = fit_centroids(corpus, n_cells, iters, vec_col, id_col, seed)
    cents_lit = array_lit([[float(x) for x in c] for c in cents])
    assigned = corpus.select(
        _c(id_col).alias(id_col),
        _c(vec_col).alias(vec_col),
        cell_d2s(_c(vec_col), cents_lit).alias("__d2s"),
    ).select(
        id_col, vec_col, argmin_cell("__d2s").alias("cell"),
        F.lit(0).cast("long").alias("__gen"),
    )
    cpath = os.path.join(path, "corpus")
    schema_json = assigned.schema.json()
    assigned.write.mode("overwrite").partitionBy("cell").parquet(cpath)
    spark = corpus.sparkSession
    # parquet count() is footer metadata only — no data scan
    n_rows = _read(spark, cpath, schema_json).count()
    meta = {
        "format": FORMAT,
        "kind": "ivf",
        "n_cells": n_cells,
        "iters": iters,
        "seed": seed,
        "vec_col": vec_col,
        "id_col": id_col,
        "centroids": [[float(x) for x in c] for c in cents],
        "rows": n_rows,
        "seq": 0,
        "tomb_killed": 0,
        "schema": schema_json,
        "freshness": list(_input_freshness(corpus)),
    }
    _write_sidecar(path, _META, meta)
    return meta


def ivf_topk_indexed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k over the persisted index: per-query probe cells come
    from the sidecar centroids (same ``probe_cells`` expression as the
    unindexed operator), and the corpus scan filters ``cell IN (union
    of probed cells)`` — a PARTITION-PRUNED read (``PartitionFilters``
    in the plan), so only the probed directories' bytes move.

    The union-of-probes collect is driver-bounded at ``n_cells`` ints
    (queries are broadcast-small by the cosine_topk precondition).
    Rows are bitwise-equal to ``ivf_topk`` with the same params: the
    pre-filter only removes cells no query probes, which the join on
    ``cell`` would drop anyway."""
    meta = index_meta(path)
    if meta.get("kind") != "ivf":
        raise ValueError(f"not an IVF index at {path}: {meta.get('kind')}")
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    cents = meta["centroids"]
    cents_lit = array_lit(cents)
    # driver-local probe stage when |Q| is broadcast-small: ONE tiny
    # local relation AND the probed-cell union computed without a
    # Spark job (see similarity.query_stage_local); Column path +
    # distinct-collect kept for oversized/NULL query sets
    local = query_stage_local(
        queries, vec_col, id_col,
        centroids=[[float(x) for x in cv] for cv in cents],
        nprobe=nprobe,
    )
    if local is not None:
        ids, vecs, _, qprobes, _ = local
        q = _probe_local_df(
            queries, vec_col, id_col, ids, vecs, qprobes, vec_name="__qv"
        )
        probed = sorted({c for p in qprobes if p for c in p})
    else:
        q = queries.select(
            _c(id_col).alias("query_id"),
            _c(vec_col).alias("__qv"),
            cell_d2s(_c(vec_col), cents_lit).alias("__d2s"),
        ).select(
            "query_id",
            "__qv",
            F.explode(probe_cells("__d2s", len(cents), nprobe)).alias("cell"),
        )
        probed = sorted(
            r["cell"] for r in q.select("cell").distinct().collect()
        )
    stored, live_rows = _stored(spark, path, meta)
    c = stored.where(F.col("cell").isin(probed)).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        "cell",
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .select(
            "query_id", "neighbor_id", cosine("__qv", "__cv").alias("cosine")
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    order = [F.col("cosine").desc_nulls_last(), F.col("neighbor_id").asc()]
    return two_phase_topk(
        scored, order, k, per_query_rows=live_rows
    ).select("query_id", "neighbor_id", "cosine", "rank")


def build_pq_index(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> dict:
    """Build the PQ index: fit codebooks (same deterministic recipe as
    ``pq_topk``), encode every vector once, persist the codes table —
    the 4-32x-smaller artifact queries scan instead of the embedding
    lake.  One full scan + one narrow write."""
    _clear_derived(path)
    books = pq_fit(corpus, m, k, iters, dim, vec_col, id_col, seed)
    enc = pq_encode(corpus, books, vec_col, id_col).select(
        _c(id_col).alias("neighbor_id"), "codes",
        F.lit(0).cast("long").alias("__gen"),
    )
    cpath = os.path.join(path, "codes")
    schema_json = enc.schema.json()
    enc.write.mode("overwrite").parquet(cpath)
    spark = corpus.sparkSession
    n_rows = _read(spark, cpath, schema_json).count()
    meta = {
        "format": FORMAT,
        "kind": "pq",
        "m": m,
        "k": k,
        "iters": iters,
        "dim": dim,
        "seed": seed,
        "vec_col": vec_col,
        "id_col": id_col,
        "codebooks": books,
        "rows": n_rows,
        "seq": 0,
        "tomb_killed": 0,
        "schema": schema_json,
        "freshness": list(_input_freshness(corpus)),
    }
    _write_sidecar(path, _META, meta)
    return meta


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 8,
    m: int = 8,
    n_codewords: int = 16,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> dict:
    """Build the composed IVF-PQ index (FAISS's IVFPQ architecture,
    Jégou et al. 2011 §V, done as a table layout): ONE parquet table
    partitioned by coarse cell whose rows carry ``(id, raw vector,
    m PQ codes)``.  Partition pruning is the nprobe; column pruning
    keeps the ADC scan at the codes only (parquet never reads the
    vector pages for it); the exact re-rank reads vector pages for the
    probed cells only.  Fits use the same deterministic recipes as
    ``ivfpq_topk``, so the indexed query is bitwise-equal to the
    unindexed operator and shares its DuckDB oracle."""
    _clear_derived(path)
    cents = fit_centroids(corpus, n_cells, iters, vec_col, id_col, seed)
    books = pq_fit(corpus, m, n_codewords, iters, dim, vec_col, id_col, seed)
    cents_lit = array_lit([[float(x) for x in c] for c in cents])
    assigned = _ivfpq_assign(
        corpus, cents_lit, books, dim // m, vec_col, id_col
    ).withColumn("__gen", F.lit(0).cast("long"))
    cpath = os.path.join(path, "corpus")
    schema_json = assigned.schema.json()
    assigned.write.mode("overwrite").partitionBy("cell").parquet(cpath)
    spark = corpus.sparkSession
    n_rows = _read(spark, cpath, schema_json).count()
    meta = {
        "format": FORMAT,
        "kind": "ivfpq",
        "n_cells": n_cells,
        "m": m,
        "n_codewords": n_codewords,
        "iters": iters,
        "dim": dim,
        "seed": seed,
        "vec_col": vec_col,
        "id_col": id_col,
        "centroids": [[float(x) for x in c] for c in cents],
        "codebooks": books,
        "rows": n_rows,
        "seq": 0,
        "tomb_killed": 0,
        "schema": schema_json,
        "freshness": list(_input_freshness(corpus)),
    }
    _write_sidecar(path, _META, meta)
    return meta


def _ivfpq_assign(
    rows: DataFrame,
    cents_lit,
    books: list[list[list[float]]],
    sub: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """(id, vector, codes, cell) for every input row — the build/append
    projection.  Distance arrays are staged through a projection
    boundary so each row evaluates the HOF aggregates exactly once (the
    ivf_topk discipline); arithmetic is the exact ``ivfpq_topk`` stage-1
    expressions, so stored assignments match the unindexed operator
    bit-for-bit."""
    m = len(books)
    emb = F.transform(_c(vec_col), lambda x: x.cast("double"))
    s1 = rows.select(
        _c(id_col).alias(id_col),
        _c(vec_col).alias(vec_col),
        cell_d2s(emb, cents_lit).alias("__d2s"),
        *[
            _pq_sub_d2s(emb, j, sub, array_lit(books[j])).alias(f"__pqd{j}")
            for j in range(m)
        ],
    )
    return s1.select(
        id_col,
        vec_col,
        F.array(
            *[argmin_cell(f"__pqd{j}") for j in range(m)]
        ).alias("codes"),
        argmin_cell("__d2s").alias("cell"),
    )


def ivfpq_topk_indexed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    cand: int = 50,
) -> DataFrame:
    """IVF-PQ top-k over the persisted index: probe cells from sidecar
    centroids -> PARTITION-PRUNED scan of the probed cells -> ADC over
    the codes column only (parquet column pruning keeps vector pages
    unread) -> cand survivors via two-phase top-k -> exact cosine
    re-rank reading vector pages from the same pruned scan.  Rows are
    bitwise-equal to ``similarity.ivfpq_topk`` with the same params:
    identical fits (same deterministic recipes), identical stage
    arithmetic (shared Column builders), and the cell pre-filter only
    removes rows the probe equi-join would drop anyway."""
    meta = index_meta(path)
    if meta.get("kind") != "ivfpq":
        raise ValueError(
            f"not an IVF-PQ index at {path}: {meta.get('kind')}"
        )
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    cents, books = meta["centroids"], meta["codebooks"]
    m, sub = meta["m"], meta["dim"] // meta["m"]
    cents_lit = array_lit(cents)
    emb = F.transform(_c(vec_col), lambda x: x.cast("double"))

    # driver-local probe+LUT stage when |Q| is broadcast-small: ONE
    # tiny local relation AND the probed-cell union computed without a
    # Spark job (see similarity.query_stage_local); Column path +
    # distinct-collect kept for oversized/NULL query sets
    local = query_stage_local(
        queries, vec_col, id_col,
        centroids=[[float(x) for x in cv] for cv in cents],
        codebooks=books, nprobe=nprobe,
    )
    if local is not None:
        ids, vecs, _, qprobes, qluts = local
        q = _probe_local_df(
            queries, vec_col, id_col, ids, vecs, qprobes, luts=qluts
        )
        qs = _query_vec_local_df(queries, id_col, ids, vecs, "__emb")
        probed = sorted({c for p in qprobes if p for c in p})
    else:
        qs = queries.select(
            _c(id_col).alias("query_id"), emb.alias("__emb")
        )
        qd = qs.select(
            "query_id",
            cell_d2s(F.col("__emb"), cents_lit).alias("__d2s"),
            *[
                _pq_sub_d2s(
                    F.col("__emb"), j, sub, array_lit(books[j])
                ).alias(f"__lut{j}")
                for j in range(m)
            ],
        )
        q = qd.select(
            "query_id",
            F.explode(probe_cells("__d2s", len(cents), nprobe)).alias("cell"),
            *[F.col(f"__lut{j}") for j in range(m)],
        )
        probed = sorted(
            r["cell"] for r in q.select("cell").distinct().collect()
        )

    live, live_rows = _stored(spark, path, meta)
    stored = live.where(F.col("cell").isin(probed))
    staged = stored.select(
        F.col(id_col).alias("neighbor_id"), "codes", "cell"
    )
    joined = staged.join(F.broadcast(q), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    adc = F.element_at(F.col("__lut0"), F.element_at(F.col("codes"), 1) + 1)
    for j in range(1, m):
        adc = adc + F.element_at(
            F.col(f"__lut{j}"), F.element_at(F.col("codes"), j + 1) + 1
        )
    scored = joined.select("query_id", "neighbor_id", adc.alias("adc"))
    cands = two_phase_topk(
        scored,
        [F.col("adc").asc(), F.col("neighbor_id").asc()],
        cand,
        per_query_rows=live_rows,
    ).select("query_id", "neighbor_id")
    # exact re-rank: neighbor vectors come from the SAME pruned scan
    # (every candidate lives in a probed cell), so vector pages are
    # read for probed partitions only — never the whole lake
    nvecs = stored.select(
        F.col(id_col).alias("neighbor_id"), emb.alias("__nv")
    )
    rescored = (
        cands.join(nvecs, "neighbor_id")
        .join(F.broadcast(qs.withColumnRenamed("__emb", "__qv")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("__qv", "__nv"), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _assign_rows(meta: dict, rows: DataFrame) -> tuple[DataFrame, list]:
    """Assign ``rows`` into ``meta``'s index layout with the sidecar's
    FROZEN fits: ``(assigned_df, partition_cols)``.  Shared by the
    batch append and the streaming sink so both write byte-identical
    layouts."""
    kind = meta.get("kind")
    vec_col, id_col = meta["vec_col"], meta["id_col"]
    sch = meta.get("schema")
    if sch:
        # align incoming columns to the STORED widths (the Workspace
        # promote-on-append discipline, inverted: the index schema is
        # frozen at build, so incoming wider types — e.g. a CDC feed
        # whose transform widened float embeddings to double — cast
        # down; without this the appended parquet files disagree with
        # the recorded read schema and every later scan fails with
        # PARQUET_COLUMN_DATA_TYPE_MISMATCH)
        from pyspark.sql.types import StructType

        stored = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(sch)).fields
        }
        rows = rows.select(
            *[
                F.col(c).cast(stored[c]).alias(c) if c in stored else F.col(c)
                for c in rows.columns
            ]
        )
    if kind == "ivf":
        cents_lit = array_lit(meta["centroids"])
        assigned = rows.select(
            _c(id_col).alias(id_col),
            _c(vec_col).alias(vec_col),
            cell_d2s(_c(vec_col), cents_lit).alias("__d2s"),
        ).select(id_col, vec_col, argmin_cell("__d2s").alias("cell"))
        return assigned, ["cell"]
    if kind == "ivfpq":
        cents_lit = array_lit(meta["centroids"])
        assigned = _ivfpq_assign(
            rows, cents_lit, meta["codebooks"],
            meta["dim"] // meta["m"], vec_col, id_col,
        )
        return assigned, ["cell"]
    if kind == "pq":
        enc = pq_encode(rows, meta["codebooks"], vec_col, id_col).select(
            _c(id_col).alias("neighbor_id"), "codes"
        )
        return enc, []
    raise ValueError(f"unknown index kind: {kind}")


def _base_dir(meta: dict) -> str:
    return "codes" if meta.get("kind") == "pq" else "corpus"


def append_to_index(path: str, rows: DataFrame) -> dict:
    """Incrementally add ``rows`` to an existing index — FAISS ``add``
    semantics: the quantizers (centroids/codebooks) stay FROZEN at
    build time, new vectors are assigned with the sidecar's fits and
    appended into the stored layout (new parquet files inside the
    cell=N directories for ivf/ivfpq, new files in the codes table for
    pq).  No rebuild, no reshuffle of existing data — the 100 TB
    index-maintenance shape (a rebuild is a deliberate batch job;
    drift is visible as ``rows`` vs ``appends`` in the sidecar).

    ``is_stale`` keeps comparing against the ORIGINAL build source
    only; each append is recorded in ``meta['appends']`` with its own
    freshness signal so the full lineage is auditable."""
    meta = index_meta(path)
    _check_not_folding(meta, path)
    gen = _gen_high(path, meta) + 1
    assigned, pcols = _assign_rows(meta, rows)
    assigned = assigned.withColumn("__gen", F.lit(gen).cast("long"))
    cpath = os.path.join(path, _base_dir(meta))
    w = assigned.write.mode("append")
    if pcols:
        w = w.partitionBy(*pcols)
    w.parquet(cpath)
    n_rows = _read(rows.sparkSession, cpath, meta.get("schema")).count()
    appended = n_rows - meta["rows"]
    meta["appends"] = meta.get("appends", []) + [
        {"rows": appended, "freshness": list(_input_freshness(rows))}
    ]
    meta["rows"] = n_rows
    meta["seq"] = gen
    if meta.get("stream_base") is not None:
        # RE-BASE an active stream sink past this batch write: the sink
        # reads stream_base from the sidecar per epoch, so every FUTURE
        # epoch mints (gen+1)+epoch_id > gen — no future stream row can
        # carry a generation <= an __upto issued after this append (the
        # lost-new-version interleaving: sink → epoch 0 → batch append
        # → delete → epoch 1).  Batch writes and a live sink still
        # serialize at micro-batch granularity — a write racing INSIDE
        # one epoch's landing is outside the lock-free contract.
        meta["stream_base"] = gen + 1
    _write_sidecar(path, _META, meta)
    return meta


def _gen_high(path: str, meta: dict) -> int:
    """The highest write-generation currently visible: the sidecar's
    ``seq`` (batch appends) folded with any streaming delta epochs on
    disk (delta rows carry ``stream_base + epoch`` — the sink can't
    bump the sidecar per epoch, it is lock-free by design, so the gen
    order is recovered here from the epoch directory names).  Bounded:
    one directory listing."""
    g = int(meta.get("seq", 0))
    sb = meta.get("stream_base")
    if sb is not None:
        spath = os.path.join(path, "stream")
        if os.path.isdir(spath):
            eps = [
                int(d.split("=", 1)[1])
                for d in os.listdir(spath)
                if d.startswith("epoch=")
            ]
            if eps:
                g = max(g, int(sb) + max(eps))
    return g


def _tomb_id(meta: dict) -> str:
    """The stored table's id column name (pq stores ``neighbor_id``)."""
    return "neighbor_id" if meta.get("kind") == "pq" else meta["id_col"]


def delete_from_index(path: str, ids) -> dict:
    """Delete vectors from the index — the FAISS ``remove_ids``
    analogue, done LSM-style with TOMBSTONES: the ids land in an
    append-only ``tombstones/`` parquet table, every query anti-joins
    it (broadcast — the tombstone set is small relative to the corpus
    by the time-between-compactions contract), and
    :func:`compact_index` folds them in by rewriting the base without
    the dead rows and dropping the tombstone table.  At 100 TB with
    retention policies this is the only shape that works: a delete
    never rewrites the base (that is compaction's batch job), and
    reads stay pruned — the anti-join runs AFTER partition pruning.

    ``ids``: a DataFrame whose FIRST column holds the ids to delete
    (any column name; it is aligned to the stored id column), or a
    plain Python iterable of ids (textindex parity).
    Deleting an id twice, or an id the index never held, is a no-op
    at read time; the sidecar's ``tomb_killed`` counter is the EXACT
    number of stored rows each delete killed (measured over the live
    view, so replays contribute zero) — the live-row arithmetic that
    sizes the top-k strategy stays exact.

    Tombstones are POINT-IN-TIME: each carries ``__upto`` = the
    highest write-generation visible at delete time, and reads kill a
    row only when its ``__gen <= __upto``.  A later re-add of the same
    id (``upsert_into_index``) gets a higher generation and survives —
    the Lucene segment-generation discipline."""
    meta = index_meta(path)
    _check_not_folding(meta, path)
    idname = _tomb_id(meta)
    if not isinstance(ids, DataFrame):
        vals = list(ids)
        if not vals:
            return meta  # deleting nothing is a no-op
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise TypeError(
                "delete_from_index got a plain iterable of ids but no "
                "SparkSession is active — pass a DataFrame"
            )
        ids = spark.createDataFrame([(v,) for v in vals], [idname])
    upto = _gen_high(path, meta)
    spark = ids.sparkSession
    # exact killed-count over the LIVE view (prior tombstones already
    # filtered by _stored, so replayed ids contribute zero)
    live, _ = _stored(spark, path, meta)
    killed = live.join(
        F.broadcast(ids.select(F.col(ids.columns[0]).alias(idname))),
        idname,
        "left_semi",
    ).count()
    rows = ids.select(
        F.col(ids.columns[0]).alias(idname),
        F.lit(upto).cast("long").alias("__upto"),
    )
    tpath = os.path.join(path, "tombstones")
    # unpartitioned append: even an empty batch writes a schema-bearing
    # footer, so the tombstone tree always self-describes
    rows.write.mode("append").parquet(tpath)
    n = (
        spark.read.parquet(tpath)
        .select(idname).distinct().count()
    )
    meta["tombstones"] = int(n)
    meta["tomb_killed"] = int(meta.get("tomb_killed", 0)) + int(killed)
    _write_sidecar(path, _META, meta)
    return meta


def upsert_into_index(path: str, rows: DataFrame) -> dict:
    """Update-or-insert vectors by id — delete-then-add, the only
    upsert shape a write-once format supports (FAISS has no update
    either; Lucene does exactly this with generations): tombstone the
    incoming ids at the current generation, then append ``rows`` at
    the next one, so the new versions survive the tombstone and the
    old versions die.  Ids the index never held are plain inserts (the
    tombstone is a no-op for them).

    Crash between the two steps leaves the ids deleted but not
    re-added — and DETECTABLE: an ``upserting`` intent marker brackets
    the pair, queries refuse while it is set (the ``folding``
    discipline), ``is_stale`` reports True so guarded callers rebuild,
    and re-running the upsert converges and clears it (the replayed
    tombstone kills nothing — the old versions are already dead)."""
    meta = index_meta(path)
    _check_not_folding(meta, path)
    idname = _tomb_id(meta)
    meta["upserting"] = True
    _write_sidecar(path, _META, meta)  # intent marker: delete→append window
    delete_from_index(path, rows.select(_c(meta["id_col"]).alias(idname)))
    meta = append_to_index(path, rows)
    meta["upserts"] = meta.get("upserts", 0) + 1
    meta.pop("upserting", None)
    _write_sidecar(path, _META, meta)  # commit: marker cleared last
    return meta


def index_stream_sink(path: str):
    """Streaming index maintenance: a fanout-compatible foreachBatch
    sink that assigns each micro-batch with the sidecar's FROZEN fits
    and lands it in the index's DELTA tree ``stream/epoch=<id>/`` —
    the LSM shape (base + deltas, folded by :func:`compact_index`).
    Epoch-directory overwrite makes crash-replay idempotent, the
    ``parquet_epoch_sink`` discipline: a replayed epoch rewrites its
    own directory, so exactly-once per epoch with zero sink-side
    state.  The sidecar is NOT touched per epoch (lock-free under
    concurrent readers); the delta tree is self-describing and its
    row count is footer metadata at query time.

    Write generations: sink creation records ``stream_base`` in the
    sidecar once; each epoch's rows carry ``__gen = stream_base +
    epoch`` — monotone across epochs without per-epoch sidecar WRITES,
    and :func:`_gen_high` recovers the order for later appends and
    point-in-time deletes from the epoch directory names.  The sink
    READS ``stream_base`` per epoch (one tiny JSON read, still
    lock-free): a batch append issued mid-stream re-bases it past its
    own generation, so epochs landing after the append outrank it —
    and outrank any ``__upto`` a delete issued in between."""
    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    base = _gen_high(path, meta) + 1
    meta["stream_base"] = base
    _write_sidecar(path, _META, meta)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        live = index_meta(path)  # re-based by any interleaved append
        b = int(live.get("stream_base") or base)
        assigned, pcols = _assign_rows(meta, batch)
        assigned = assigned.withColumn(
            "__gen", F.lit(b + int(epoch_id)).cast("long")
        )
        w = assigned.write.mode("overwrite")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(os.path.join(path, "stream", f"epoch={int(epoch_id)}"))

    return sink


def index_upsert_sink(path: str):
    """CDC index maintenance: a fanout-compatible foreachBatch sink
    that UPSERTS each micro-batch by id — the change-data-capture
    shape (changed entities stream in; the latest version wins via the
    write-generation machinery).  Trade-off vs :func:`index_stream_sink`:
    the upsert path does a sidecar read-modify-write, a tombstone
    write, and an exact-count pass PER BATCH — correct-over-cheap, the
    right sink for low-rate change feeds; append-only tick feeds
    belong on the delta-tree sink.  Crash replay converges: a replayed
    epoch's tombstones kill nothing (the old versions are already
    dead) and its re-append restores the same rows.

    Deliberately NOT gated on the ``upserting`` intent marker: after a
    crash inside an upsert, restarting the stream replays the failed
    epoch, and that replay IS the recovery that clears the marker —
    refusing here would wedge the pipeline (queries still refuse until
    the replay lands)."""
    meta = index_meta(path)
    _check_not_folding(meta, path)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.limit(1).count() == 0:
            return  # an empty micro-batch must not bump generations
        upsert_into_index(path, batch)

    return sink


def _footer_rows(tree: str) -> int:
    """Total rows under a parquet tree from file FOOTERS only — the
    same number a count() job returns (parquet metadata is
    authoritative), without running a Spark job."""
    import pyarrow.parquet as pq

    total = 0
    for d, _, fs in os.walk(tree):
        for f in fs:
            if f.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return total


def _stored(
    spark: SparkSession, path: str, meta: dict
) -> tuple[DataFrame, int | None]:
    """The live index contents: base tree ∪ delta tree (if any), plus
    the live row count (sidecar base rows + delta footer count).  The
    union preserves partition pruning — ``cell`` is a partition column
    in BOTH trees, so a probe filter prunes each scan independently.
    Both trees read with the sidecar-recorded schema so empty trees
    (e.g. a delta whose every micro-batch was empty) are first-class."""
    sch = meta.get("schema")
    base = _read(spark, os.path.join(path, _base_dir(meta)), sch)
    spath = os.path.join(path, "stream")
    out, live = base, meta.get("rows")
    if os.path.isdir(spath):
        delta = _read(spark, spath, sch, with_epoch=True).drop("epoch")
        if live is not None:
            # delta rows from the parquet FOOTERS (authoritative row
            # counts, a driver-side metadata read) — the delta.count()
            # Spark job this replaces ran on EVERY index read
            # construction (optimization r13)
            live = live + _footer_rows(spath)
        out = base.unionByName(delta.select(*base.columns))
    tpath = os.path.join(path, "tombstones")
    if os.path.isdir(tpath):
        idname = _tomb_id(meta)
        # point-in-time kill: a row dies only when some tombstone for
        # its id was written at-or-after the row's generation —
        # max(__upto) per id carries every delete, and an upserted
        # row's higher __gen survives.  Broadcast left join AFTER
        # partition pruning: the probe still reads only probed cells.
        # The broadcast hint is SIZE-GUARDED by the sidecar's exact
        # distinct-tombstone count: a retention sweep that tombstones
        # an unbounded id set between compactions must not be forced
        # into executor memory — above the threshold the join plans
        # unhinted and AQE picks the strategy.
        tomb = (
            spark.read.parquet(tpath)
            .groupBy(idname)
            .agg(F.max("__upto").alias("__upto"))
        )
        if int(meta.get("tombstones") or 0) <= TOMB_BROADCAST_MAX:
            tomb = F.broadcast(tomb)
        out = (
            out.join(tomb, idname, "left")
            .where(F.col("__upto").isNull() | (F.col("__gen") > F.col("__upto")))
            .drop("__upto")
        )
        if live is not None:
            live = max(live - int(meta.get("tomb_killed", 0)), 0)
    return out.drop("__gen"), live


#: tombstone-id count above which the anti-join drops its broadcast
#: hint and lets AQE choose (shuffled hash / sort-merge) — ~10M ids is
#: the point where a forced broadcast starts threatening executor
#: memory at typical id widths
TOMB_BROADCAST_MAX = 10_000_000


def _check_not_upserting(meta: dict, path: str) -> None:
    """An upsert that crashed between its tombstone write and its
    re-append leaves the incoming ids DELETED — convergent on replay,
    but a read in between would silently miss live entities.  The
    ``upserting`` intent marker makes that window detectable: queries
    refuse while it is set; replaying the upsert (or a rebuild — the
    marker makes ``is_stale`` report True) clears it."""
    if meta.get("upserting"):
        raise RuntimeError(
            f"index at {path} has an interrupted upsert — replay the "
            f"upsert or rebuild (is_stale() returns True while this "
            f"marker is set)"
        )


def _check_not_folding(meta: dict, path: str) -> None:
    """An interrupted compaction (crash inside its swap window) leaves
    the ``folding`` intent marker set — base and delta trees may then
    OVERLAP, so any read could double-count.  Refuse loudly; the
    recovery is a rebuild (``is_stale`` reports True while the marker
    is set, so staleness-guarded callers rebuild automatically)."""
    if meta.get("folding"):
        raise RuntimeError(
            f"index at {path} has an interrupted compaction — rebuild "
            f"it (is_stale() returns True while this marker is set)"
        )


def compact_index(spark: SparkSession, path: str) -> dict:
    """Fold the streaming delta tree into the base — the LSM
    compaction: read base ∪ deltas, rewrite the base layout into a
    staging directory, swap it in, drop the delta tree, and record the
    compaction in the sidecar.  Queries before/after return identical
    rows; after, the probe scan is one pruned tree again.

    Crash discipline: the heavy work (the folded rewrite) happens
    BEFORE a ``folding`` intent marker is committed to the sidecar;
    the marker brackets only the tight metadata window (two renames +
    two tree removals).  A crash inside that window leaves the marker
    set, every reader refuses (base/delta could overlap = silent
    double-count), and ``is_stale`` reports True so guarded callers
    rebuild — fail-loud, never fail-wrong."""
    import shutil

    meta = index_meta(path)
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    spath = os.path.join(path, "stream")
    tpath = os.path.join(path, "tombstones")
    if not os.path.isdir(spath) and not os.path.isdir(tpath):
        return meta
    bpath = os.path.join(path, _base_dir(meta))
    # _stored already excludes tombstoned ids, so the folded rewrite IS
    # the delete fold: dead rows leave the base, tombstones drop after
    # the folded base restarts the generation clock at 0 (every
    # surviving row is equally "current" after the fold)
    merged, _ = _stored(spark, path, meta)
    merged = merged.withColumn("__gen", F.lit(0).cast("long"))
    tmp = bpath + ".compacting"
    w = merged.write.mode("overwrite")
    if meta.get("kind") != "pq":
        w = w.partitionBy("cell")
    w.parquet(tmp)
    n_rows = _read(spark, tmp, meta.get("schema")).count()
    meta["folding"] = True
    _write_sidecar(path, _META, meta)  # intent marker: metadata window begins
    old = bpath + ".old"
    os.rename(bpath, old)
    os.rename(tmp, bpath)
    shutil.rmtree(spath, ignore_errors=True)
    shutil.rmtree(tpath, ignore_errors=True)
    shutil.rmtree(old)
    meta.pop("folding", None)
    meta.pop("tombstones", None)
    meta.pop("stream_base", None)
    meta["rows"] = n_rows
    meta["seq"] = 0
    meta["tomb_killed"] = 0
    meta["compactions"] = meta.get("compactions", 0) + 1
    _write_sidecar(path, _META, meta)  # commit: marker cleared last
    return meta


def pq_topk_indexed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """ADC top-k over the persisted codes table — ``similarity.
    adc_topk`` with the encode pass already paid at build time.  The
    scan is the narrow codes parquet; LUTs are Column math over the
    broadcast query set.  Rows are bitwise-equal to ``pq_topk`` with
    the same params (same codebooks, same codes, same arithmetic)."""
    meta = index_meta(path)
    if meta.get("kind") != "pq":
        raise ValueError(f"not a PQ index at {path}: {meta.get('kind')}")
    _check_not_folding(meta, path)
    _check_not_upserting(meta, path)
    enc, live_rows = _stored(spark, path, meta)
    return adc_topk(
        enc,
        queries,
        meta["codebooks"],
        k,
        per_query_rows=live_rows,
        vec_col=meta["vec_col"],
        id_col=meta["id_col"],
    )
