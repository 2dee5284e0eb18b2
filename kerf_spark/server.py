"""IPC: remote kerf execution over TCP — the reference's client/server
surface (bus.h:7-251 TRANSMITTER/EMITTER; enums.h:278 MESSAGE "use
network order"; bus.h:117 "sending kerf tree over network").

The reference ships binary slabs in network byte order; the Spark-first
re-expression keeps the TRANSPORT trivial and engine-portable — one
newline-delimited JSON request/response pair per round trip, the same
wire discipline the feed handler's ``parse_feed_lines`` decodes — and
keeps the HEAVY data where it belongs: results are bounded previews
(``limit`` rows, default 1000); a client that wants a full table either
pulls it as ONE binary Arrow IPC stream frame on the same socket
(``arrow: true`` — bit-exact, driver-bounded at ``ARROW_MAX_ROWS``,
the public re-expression of the reference's network-order MESSAGE
slabs) or asks the server to ``save`` it into the Workspace and reads
the parquet side-channel (executor-parallel, unbounded), exactly how a
kerf client would mmap the server's folio rather than pull it through
the socket.

Protocol (one JSON object per line, UTF-8):

    -> {"src": "a: 1 + 1; a * 21", "limit": 100}
    <- {"ok": true, "kind": "scalar", "value": 42}

    -> {"src": "select count(*) as n from region"}
    <- {"ok": true, "kind": "table", "columns": ["n"], "rows": [[5]],
        "more": false}

    -> {"src": "1 + no_such"}
    <- {"ok": false, "kind": "Reference error",
        "message": "undefined name: no_such"}

    -> {"src": "select * from region", "save": "/data/out"}
    <- {"ok": true, "kind": "saved", "path": "/data/out",
        "columns": ["r_regionkey", ...]}   # full table via parquet,
                                           # rows never on the socket

    -> {"src": "select * from region", "arrow": true}
    <- {"ok": true, "kind": "arrow", "nbytes": N, "rows": R,
        "columns": [...]}\\n<N raw bytes>  # full table as one Arrow
                                           # IPC stream frame on the
                                           # SAME socket (pyarrow.ipc)
                                           # — bit-exact, no filesystem

    -> {"src": "select count(*) as n from up",
        "upload": {"name": "up", "nbytes": N}}<N raw bytes>
    <- {"ok": true, "kind": "table", ...}  # the REVERSE Arrow frame:
                                           # the payload registers as
                                           # session temp view "up"
                                           # before src runs — the
                                           # binary wire goes BOTH ways

    -> {"src": "select * from t where ...",
        "ship": {"to": [host, port], "name": "part"}}
    <- {"ok": true, "kind": "shipped", "rows": R, "chunks": C,
        "names": ["part_c0", ...]}         # MEMBER→MEMBER push: this
                                           # server uploads the result
                                           # straight to a peer server
                                           # (chunked under the Arrow
                                           # bounds) — the reshard
                                           # exchange plane; a "peers"
                                           # list + "bucket_col" fans
                                           # one result out to many

    -> {"src": "null", "unpublish": "part_c0"}   # or "prefix*"
    <- {"ok": true, "kind": "unpublished", "names": [...]}

    -> {"src": "select count(*) as n from r",
        "register": {"name": "r", "path": "/shared/dir"}}
    <- {"ok": true, "kind": "table", ...}  # the parquet side-channel's
                                           # READ half: an on-disk
                                           # parquet dir registers as a
                                           # session view before src
                                           # runs (save_root-confined,
                                           # like save) — the
                                           # parquet-mode reshard's
                                           # receive plane; "save" also
                                           # accepts {"path",
                                           # "partition_by"} for the
                                           # send plane

Each CONNECTION is a session: one persistent interpreter environment
(variables, lambdas, temp views live across requests), all sessions
sharing one SparkSession — the reference's one-process-many-consoles
shape (main.cc:83-97 libevent loop).

TRUST MODEL — same as the reference's port (main.cc): the protocol has
NO authentication, and executing kerf source is by design arbitrary
computation with the server's filesystem permissions.  Expose the port
ONLY to trusted clients (the default bind is loopback); anything wider
belongs behind an authenticating proxy / network policy.  The ``save``
side channel additionally writes parquet to a client-supplied path with
overwrite semantics — pass ``save_root`` to :class:`KerfServer` to
confine those writes to one workspace directory (recommended whenever
the bind is not loopback)."""

from __future__ import annotations

import json
import os
import re
import socket
import socketserver
import threading
from typing import Any

from .errors import KerfErrorValue

#: default result-preview bound; protects the wire, not the engine
DEFAULT_LIMIT = 1000

#: hard ceiling on a client-requested preview — a single request can
#: never turn into an unbounded driver collect; full tables go through
#: the Workspace parquet side-channel, as the module doc prescribes
MAX_LIMIT = 100_000

#: row ceiling for the Arrow IPC result plane: the stream frame is
#: built driver-side (df.toArrow()), so it must stay driver-bounded —
#: beyond this the parquet side-channel (executor-parallel, unbounded)
#: is the right plane and the server says so in a typed error.  The
#: reference's binary MESSAGE slabs (enums.h:278) are likewise a
#: materialize-then-send wire plane.
ARROW_MAX_ROWS = 1_000_000

#: byte ceiling for a client->server Arrow upload frame: the payload
#: materializes on the server driver before registration, so it must
#: stay driver-bounded — bigger tables belong on the parquet
#: side-channel (write once, every session reads it pruned)
ARROW_MAX_UPLOAD_BYTES = 1 << 30

#: row ceiling for ONE member→member ship (the reshard exchange's
#: per-(shipper, receiver) bucket): the bucket materializes on the
#: SHIPPER's driver before chunking — ~1/N² of the folio per pair
#: under even hashing — so this bound trips only on extreme skew,
#: where the parquet side-channel (save + member-local read) is the
#: honest plane and the error says so
SHIP_MAX_ROWS = 10_000_000

#: target staged bytes per checkpoint block of a reshard receiver: a
#: member's block count is its staged Arrow bytes over this
_RESHARD_PART_BYTES = 64 << 20


def _json_cell(v: Any) -> Any:
    import datetime
    import decimal

    import numpy as np

    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, decimal.Decimal):
        return str(v)  # exact digits; the client re-parses as it likes
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        return repr(v)  # JSON has no nan/inf; ship the kerf literal text
    if hasattr(v, "asDict"):  # pyspark Row (struct cell) — MUST come
        # before the tuple branch: Row subclasses tuple, and shipping
        # it positionally would drop the field names
        return {k: _json_cell(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_cell(x) for k, x in v.items()}
    if not isinstance(v, (int, float, str, bool, type(None))):
        return str(v)  # lambdas etc.: text beats a serialization fault
    return v


def encode_result(v: Any, limit: int = DEFAULT_LIMIT) -> dict:
    """Value -> response object.  Tables ship a bounded preview
    (``limit`` rows + a ``more`` flag from a limit+1 fetch); vectors/
    maps/scalars ship inline; error VALUES ship as data (ok stays
    true — a captured error is a first-class result, only a RAISED
    error fails the request)."""
    import numpy as np

    try:
        from pyspark.sql import DataFrame
    except Exception:  # pragma: no cover - pyspark always present here
        DataFrame = ()  # type: ignore[assignment]

    if isinstance(v, _Saved):
        return dict(v)  # side-channel ack, already response-shaped
    if isinstance(v, DataFrame):
        rows = v.limit(limit + 1).collect()
        more = len(rows) > limit
        rows = rows[:limit]
        return {
            "ok": True,
            "kind": "table",
            "columns": v.columns,
            "rows": [[_json_cell(r[c]) for c in v.columns] for r in rows],
            "more": more,
        }
    if isinstance(v, KerfErrorValue):
        return {
            "ok": True,
            "kind": "error_value",
            "error_kind": v.kind,
            "message": v.message,
        }
    if isinstance(v, np.ndarray):
        return {
            "ok": True,
            "kind": "vector",
            "value": [_json_cell(x) for x in v.tolist()],
        }
    if isinstance(v, dict):
        return {
            "ok": True,
            "kind": "map",
            "value": {str(k): _json_cell(x) for k, x in v.items()},
        }
    if v is None:
        return {"ok": True, "kind": "null", "value": None}
    return {"ok": True, "kind": "scalar", "value": _json_cell(v)}


class _Saved(dict):
    """Marker: a save-side-channel acknowledgement, pre-encoded."""


def _check_save_root(path: str, save_root: str | None, what: str) -> None:
    """Confine a client-supplied filesystem path to ``save_root``
    (after symlink/.. resolution) — the module-doc TRUST MODEL."""
    import os

    from .errors import KerfTypeError

    if save_root is not None:
        root = os.path.realpath(save_root)
        target = os.path.realpath(path)
        if os.path.commonpath([root, target]) != root:
            raise KerfTypeError(
                f"{what} target {path!r} is outside the server's "
                f"save_root {save_root!r}"
            )


def _save_result(v: Any, spec, save_root: str | None) -> "_Saved":
    """The full-table side channel the module doc prescribes: instead
    of a bounded preview, write the request's table result to parquet
    at ``path`` (executor-parallel — the rows never transit the socket
    or the driver) and acknowledge with the path.  Non-table results
    refuse: the inline planes already carry them whole.  ``spec`` is
    the path string, or ``{"path": p, "partition_by": [cols]}`` for a
    directory-partitioned write (the parquet-mode reshard ships
    per-receiver buckets as partition directories the receivers read
    partition-pruned).  With a configured ``save_root``, targets
    outside it (after symlink/.. resolution) refuse — the
    overwrite-anywhere hazard is confined to one workspace directory
    (module-doc TRUST MODEL)."""
    from pyspark.sql import DataFrame

    from .errors import KerfTypeError

    if not isinstance(v, DataFrame):
        raise KerfTypeError(
            f"save needs a table result, got {type(v).__name__}"
        )
    part: list[str] = []
    if isinstance(spec, dict):
        path = str(spec.get("path", ""))
        part = [str(c) for c in (spec.get("partition_by") or [])]
    else:
        path = str(spec)
    if not path:
        raise KerfTypeError("save needs a target path")
    _check_save_root(path, save_root, "save")
    w = v.write.mode("overwrite")
    if part:
        w = w.partitionBy(*part)
    w.parquet(path)
    return _Saved(
        {"ok": True, "kind": "saved", "path": path, "columns": v.columns}
    )


def _arrow_frame(v: Any, _memo: list | None = None) -> tuple[dict, bytes]:
    """The binary wire plane (reference MESSAGE slabs, enums.h:278
    "use network order"; bus.h:117 "sending kerf tree over network" —
    re-expressed as the PUBLIC Arrow IPC stream format): serialize a
    table result to one Arrow stream and return ``(header, payload)``.
    The header's ``nbytes`` length-prefixes the raw bytes that follow
    it on the socket, so the line protocol stays line-parseable.

    Bit-exactness is Arrow's own contract: Spark collects the result
    AS Arrow (``df.toArrow``, the same Arrow data path Pandas UDFs
    ride), and the IPC writer round-trips buffers verbatim — floats,
    ns timestamps, decimals, nested arrays all survive untouched.
    Driver-bounded by ``ARROW_MAX_ROWS``; larger results belong to the
    parquet side-channel (executor-parallel) and the error says so."""
    import pyarrow as pa

    from pyspark.sql import DataFrame

    from .errors import KerfTypeError

    if not isinstance(v, DataFrame):
        raise KerfTypeError(
            f"arrow needs a table result, got {type(v).__name__}"
        )
    # ``_memo`` (the handler's plan-cache entry) memoizes the bounded
    # .limit() twin: .limit() builds a NEW DataFrame each call, which
    # would re-plan even when ``v`` itself came from the plan cache
    if _memo is not None and _memo[1] is not None:
        lim = _memo[1]
    else:
        lim = v.limit(ARROW_MAX_ROWS + 1)
        if _memo is not None:
            _memo[1] = lim
    tbl = lim.toArrow()
    if tbl.num_rows > ARROW_MAX_ROWS:
        raise KerfTypeError(
            f"arrow result exceeds {ARROW_MAX_ROWS} rows — use the "
            f"save side-channel (parquet, executor-parallel) for "
            f"unbounded results"
        )
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    payload = sink.getvalue().to_pybytes()
    header = {
        "ok": True,
        "kind": "arrow",
        "nbytes": len(payload),
        "rows": tbl.num_rows,
        "columns": tbl.schema.names,
    }
    return header, payload


def _ship_chunks(tbl, name: str, host, port, timeout: float, per: int):
    """Push one Arrow table to one peer as published chunk tables
    ``<name>_c<k>`` (chunk 0 always ships, possibly empty, so the
    receiver holds the schema).  Returns the published names."""
    names: list[str] = []
    with KerfClient(host, int(port), timeout=timeout) as cli:
        offs = list(range(0, tbl.num_rows, per)) or [0]
        for k, off in enumerate(offs):
            chunk = tbl.slice(off, per)
            nm = f"{name}_c{k}"
            r = cli.execute(
                f"select * from {nm}", upload=(nm, chunk), publish=nm
            )
            if not r.get("ok"):
                raise RuntimeError(
                    f"ship chunk {nm} to {host}:{port} refused: "
                    f"{r.get('kind')}: {r.get('message')}"
                )
            names.append(nm)
    return names


def _ship_result(
    v: Any, spec: dict, session=None, server=None
) -> "_Saved":
    """MEMBER→MEMBER push plane (r12 verdict next #1): serialize the
    request's table result and upload it DIRECTLY to peer servers as
    published chunk tables — the shipper acts as a client of the
    receivers, so the bytes never transit the coordinating client
    (the reference's folio-of-remote-tables story,
    presented.h:427-430, is peer-to-peer by construction).

    Two shapes:

    * ``{"to": [host, port], "name": n}`` — ship the whole result to
      one peer as ``n_c<k>`` chunks;
    * ``{"peers": [[h,p] | null, ...], "bucket_col": c, "name": n}``
      — ONE local evaluation fans out to every peer: rows route by
      the integer column ``c`` (null peers skip — the shipper's own
      bucket, unless ``keep`` names it), each peer j receiving
      ``n_b<j>_c<k>`` chunks, pushed
      concurrently.  This is the reshard's exchange: one Spark job
      per shipper, N-1 direct pushes.

    The result is chunked under the Arrow frame bounds (each chunk
    ≤ ``ARROW_MAX_ROWS`` rows and ~half ``ARROW_MAX_UPLOAD_BYTES``),
    so a bucket larger than one frame still ships.  Each chunk
    publishes on its receiver as a SERVER table, visible to
    connections opened later (the reshard's stage phase).  Returns
    an acknowledgement with the published names (``names`` for the
    single-peer shape, ``names_by_peer`` keyed by bucket index for
    the fan-out shape)."""
    import concurrent.futures as _fut

    import pyarrow.compute as pc

    from pyspark.sql import DataFrame

    from .errors import KerfTypeError

    if not isinstance(v, DataFrame):
        raise KerfTypeError(
            f"ship needs a table result, got {type(v).__name__}"
        )
    name = str(spec.get("name", ""))
    if not re.fullmatch(r"[A-Za-z_]\w*", name):
        raise ValueError(f"ship name {name!r} is not a valid name")
    tbl = v.limit(SHIP_MAX_ROWS + 1).toArrow()
    if tbl.num_rows > SHIP_MAX_ROWS:
        raise KerfTypeError(
            f"ship result exceeds {SHIP_MAX_ROWS} rows — this bucket "
            f"is skewed beyond the wire plane; use the parquet "
            f"side-channel (save + member-local read)"
        )
    per = int(spec.get("chunk_rows") or ARROW_MAX_ROWS)
    per = max(1, min(per, ARROW_MAX_ROWS))
    if tbl.num_rows:
        bpr = max(1, tbl.nbytes // tbl.num_rows)
        per = max(1, min(per, (ARROW_MAX_UPLOAD_BYTES // 2) // bpr))
    timeout = float(spec.get("timeout") or 240.0)
    peers = spec.get("peers")
    if peers is None:
        try:
            host, port = spec["to"]
        except (KeyError, TypeError, ValueError):
            raise ValueError(
                "ship needs {'to': [host, port]} or {'peers': [...]}"
            ) from None
        names = _ship_chunks(tbl, name, host, port, timeout, per)
        return _Saved(
            {
                "ok": True,
                "kind": "shipped",
                "to": f"{host}:{port}",
                "rows": tbl.num_rows,
                "chunks": len(names),
                "names": names,
            }
        )
    bcol = str(spec.get("bucket_col", ""))
    if bcol not in tbl.schema.names:
        raise ValueError(
            f"ship bucket_col {bcol!r} is not in the result columns"
        )
    col = tbl.column(bcol)
    data = tbl.drop_columns([bcol])

    def push(j_peer):
        j, peer = j_peer
        part = data.filter(pc.equal(col, j))
        names = _ship_chunks(
            part, f"{name}_b{j}", peer[0], peer[1], timeout, per
        )
        return j, names, part.num_rows, part.nbytes

    # ``keep``: the shipper's OWN bucket publishes IN-PROCESS as the
    # same ``<name>_b<j>_c<k>`` chunk tables a peer would receive —
    # zero socket bytes for rows that are not moving, and the ship
    # response's ``total`` (the collected row count of the WHOLE
    # evaluated result, pre-split) gives the reshard's conservation
    # check an actual-rows "before" without a second source scan.
    keep = spec.get("keep")

    def publish_local(j):
        part = data.filter(pc.equal(col, j))
        names = []
        offs = list(range(0, part.num_rows, per)) or [0]
        for k, off in enumerate(offs):
            chunk = part.slice(off, per)
            nm = f"{name}_b{j}_c{k}"
            df = session.createDataFrame(chunk)
            df.createOrReplaceGlobalTempView(
                f"__kerf_srv_{server.view_token}_{nm}"
            )
            server.tables[nm] = df
            names.append(nm)
        return j, names, part.num_rows, part.nbytes

    targets = [
        (j, peer) for j, peer in enumerate(peers) if peer is not None
    ]
    by_peer: dict[str, list[str]] = {}
    rows_by_peer: dict[str, int] = {}
    bytes_by_peer: dict[str, int] = {}
    sent = 0
    kept = 0
    chunks = 0
    if targets:
        with _fut.ThreadPoolExecutor(max_workers=len(targets)) as pool:
            for j, names, rows, nbytes in pool.map(push, targets):
                by_peer[str(j)] = names
                rows_by_peer[str(j)] = rows
                bytes_by_peer[str(j)] = nbytes
                sent += rows
                chunks += len(names)
    if keep is not None and session is not None and server is not None:
        j, names, kept, kbytes = publish_local(int(keep))
        by_peer[str(j)] = names
        rows_by_peer[str(j)] = kept
        bytes_by_peer[str(j)] = kbytes
        chunks += len(names)
    return _Saved(
        {
            "ok": True,
            "kind": "shipped",
            "rows": sent,
            "kept": kept,
            "total": tbl.num_rows,
            "chunks": chunks,
            "names_by_peer": by_peer,
            "rows_by_peer": rows_by_peer,
            "bytes_by_peer": bytes_by_peer,
        }
    )


def encode_error(exc: BaseException) -> dict:
    """Raised exception -> taxonomy-kinded failure response
    (jump.h:144-198 display names via KerfErrorValue.from_exception,
    which already special-cases KerfError kinds)."""
    ev = KerfErrorValue.from_exception(exc)
    return {"ok": False, "kind": ev.kind, "message": ev.message}


# plan-cache gates: only a single pure SELECT statement caches, and
# never one naming a non-deterministic function (a reused optimized
# plan would freeze now()/rand() at first-plan time)
_PLAN_CACHEABLE = re.compile(r"(?is)^\s*select\b")
_PLAN_NONDET = re.compile(
    r"(?i)\b(now|current_timestamp|current_date|current_timezone|"
    r"rand|randn|random|uuid|shuffle|monotonically_increasing_id)"
    r"\s*\("
)


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:  # one thread per connection
        from pyspark.sql import DataFrame

        from .plans.kerf_lang import Env, Interp, split_statements

        server = self.server  # _Srv carrying spark + tables
        # ISOLATED session per connection: newSession() shares the
        # SparkContext/cached data but has its OWN temp-view catalog,
        # so one client's `region: select …` cannot clobber another's
        # view of the base tables.  Base tables reach each session
        # through global-temp views registered once by KerfServer.
        session = server.spark.newSession()
        interp = Interp(session)
        env = Env()
        gdb = server.spark.conf.get(
            "spark.sql.globalTempDatabase", "global_temp"
        )
        # bounded previews/Arrow frames run limit+collect; Spark's
        # incremental limit ladder (1 partition, then 4, then 20 — one
        # JOB per round) costs ~3 scheduler round trips per statement
        # on small results, so start wider: one job covering up to
        # this many partitions (driver rows stay bounded by
        # limit × initialNumPartitions).  Parameterized on KerfServer
        # for clusters where a first-round full-width take is too wide.
        try:
            session.conf.set(
                "spark.sql.limit.initialNumPartitions",
                str(getattr(server, "limit_initial_partitions", 64)),
            )
        except Exception:  # noqa: BLE001 — older Spark without the conf
            pass

        # LAZY per-request view sync: a server table's local view is
        # (re)created only when a request's src actually NAMES it and
        # the backing DataFrame changed since this connection last
        # derived it.  Two wins over the old sync-everything-at-connect
        # shape: a fresh connection no longer pays one catalog round
        # trip per server table before its first statement, and tables
        # published after the connection opened (the reshard flip, a
        # sibling's publish, the ship plane's chunk tables) become
        # visible to the NEXT request that mentions them — which is
        # what makes connection POOLING on the client side safe.
        # ``synced`` maps name -> id(df) so a REPUBLISH under the same
        # name recreates the view; the no-change case costs a token
        # scan and dict lookups, zero JVM calls.  The name match is
        # textual (identifier tokens of src, case-insensitive — SQL
        # identifiers are), so a table can only be reached by naming
        # it, which every statement plane here does.  A concurrent
        # UNPUBLISH may drop a captured name's global view before its
        # CREATE runs (the reshard cleanup races) — skip it rather
        # than kill the connection.
        synced: dict[str, int] = {}

        def _sync_views(src: str) -> tuple:
            toks = {
                t.lower() for t in re.findall(r"[A-Za-z_]\w*", src)
            }
            for name in list(server.tables):
                if name.lower() not in toks:
                    continue
                df = server.tables.get(name)
                if df is None or synced.get(name) == id(df):
                    continue
                try:
                    session.sql(
                        f"CREATE OR REPLACE TEMPORARY VIEW `{name}` AS "
                        f"SELECT * FROM {gdb}."
                        f"`__kerf_srv_{server.view_token}_{name}`"
                    )
                    env.set_local(name, session.table(name))
                    synced[name] = id(df)
                except Exception:  # noqa: BLE001 — TOCTOU with unpublish
                    continue
            # view-epoch signature for the plan cache: which backing
            # DataFrame each server table NAMED by src resolved to
            return tuple(
                sorted(
                    (n, synced.get(n, -1))
                    for n in list(server.tables)
                    if n.lower() in toks
                )
            )

        # PREPARED-STATEMENT PLAN CACHE (optimization r13, guide §1 —
        # "re-planning identical statements is pure driver work"): a
        # repeated single pure-SELECT request on this connection reuses
        # the analyzed/optimized/codegen'd DataFrame instead of paying
        # parse+optimize+codegen again (~0.2 s per statement measured;
        # the job itself re-executes from the member tables every time
        # — this caches the PLAN, never results).  Keyed by the exact
        # src, a connection epoch (bumped by ANY request that can
        # rebind a name the SQL rewriter inlines: uploads, registers,
        # publishes, unpublishes, and every non-SELECT statement), and
        # the server-table view signature from _sync_views (a sibling's
        # republish changes the backing id -> new key).  Statements
        # naming non-deterministic functions never cache (a reused
        # optimized plan would freeze now()/rand()).  The second slot
        # memoizes the Arrow reply's bounded .limit() twin so the wire
        # plane rides the same cached physical plan.
        from collections import OrderedDict

        plan_cache: OrderedDict[tuple, list] = OrderedDict()
        conn_epoch = 0

        while True:
            line = self.rfile.readline()
            if not line:
                return
            try:
                req = json.loads(line)
                view_sig = _sync_views(str(req.get("src", "")))
                src = req.get("src", "")
                limit = max(
                    1, min(int(req.get("limit", DEFAULT_LIMIT)), MAX_LIMIT)
                )
                up = req.get("upload")
                if up is not None:
                    # client->server binary wire (the reverse Arrow
                    # frame, closing enums.h:278's loop): a length-
                    # prefixed Arrow IPC stream follows the request
                    # line; it registers as a session-local temp view
                    # + env binding, so `src` (this request or later
                    # ones on this connection) queries it by name.
                    # The payload is drained BEFORE any validation
                    # error can answer, keeping the line protocol in
                    # sync.
                    # validate the FRAMING fields before touching the
                    # socket: a malformed/negative nbytes must never
                    # reach rfile.read (a negative count reads to EOF
                    # and wedges the handler thread), and with no
                    # trustworthy byte count there is nothing to drain
                    # — the connection is unsalvageable, so refuse and
                    # let the client reconnect
                    try:
                        n = int(up["nbytes"])
                    except (KeyError, TypeError, ValueError):
                        raise ValueError(
                            "arrow upload needs an integer 'nbytes' "
                            "field (protocol error — reconnect)"
                        ) from None
                    if n < 0:
                        raise ValueError(
                            f"arrow upload nbytes {n} is negative "
                            f"(protocol error — reconnect)"
                        )
                    name = str(up.get("name", ""))
                    if n > ARROW_MAX_UPLOAD_BYTES:
                        # drain the oversized frame in chunks so the
                        # line protocol stays in sync, THEN refuse
                        left = n
                        while left > 0:
                            c = self.rfile.read(min(left, 1 << 20))
                            if not c:
                                break
                            left -= len(c)
                        raise ValueError(
                            f"arrow upload of {n} bytes exceeds "
                            f"{ARROW_MAX_UPLOAD_BYTES} — use the "
                            f"parquet side-channel for big tables"
                        )
                    raw = self.rfile.read(n)
                    if len(raw) < n:
                        raise ConnectionError(
                            "client closed mid arrow upload frame"
                        )
                    if not re.fullmatch(r"[A-Za-z_]\w*", name):
                        raise ValueError(
                            f"upload name {name!r} is not a valid "
                            f"view name"
                        )
                    import pyarrow as pa

                    with pa.ipc.open_stream(pa.py_buffer(raw)) as r:
                        tbl = r.read_all()
                    # Spark 4 builds a DataFrame from Arrow directly —
                    # the same Arrow path the result plane rides, so
                    # the round trip is bit-exact
                    df = session.createDataFrame(tbl)
                    df.createOrReplaceTempView(name)
                    env.set_local(name, session.table(name))
                reg = req.get("register")
                if reg is not None:
                    # the parquet side-channel's READ half (the save
                    # plane writes it): register an on-disk parquet
                    # directory as a session view BEFORE src runs —
                    # confined by save_root like save itself.  The
                    # parquet-mode reshard receivers read their
                    # partition-pruned buckets through this.
                    rname = str(reg.get("name", ""))
                    rpath = str(reg.get("path", ""))
                    if not re.fullmatch(r"[A-Za-z_]\w*", rname):
                        raise ValueError(
                            f"register name {rname!r} is not a valid "
                            f"view name"
                        )
                    _check_save_root(
                        rpath, server.save_root, "register"
                    )
                    rdf = session.read.parquet(rpath)
                    rdf.createOrReplaceTempView(rname)
                    env.set_local(rname, session.table(rname))
                stmts = split_statements(src)
                rebinders = any(
                    req.get(k) is not None
                    for k in ("upload", "register", "publish", "unpublish")
                )
                cacheable = (
                    not rebinders
                    and req.get("ship") is None
                    and req.get("save") is None
                    and len(stmts) == 1
                    and _PLAN_CACHEABLE.match(stmts[0]) is not None
                    and _PLAN_NONDET.search(stmts[0]) is None
                )
                cache_entry = None
                if cacheable:
                    ckey = (stmts[0], conn_epoch, view_sig)
                    cache_entry = plan_cache.get(ckey)
                    if cache_entry is not None:
                        plan_cache.move_to_end(ckey)
                if cache_entry is not None:
                    ret = cache_entry[0]
                else:
                    ret = None
                    for stmt in stmts:
                        ret = interp.exec_stmt(stmt, env)
                    if cacheable and isinstance(ret, DataFrame):
                        cache_entry = [ret, None]
                        plan_cache[ckey] = cache_entry
                        while len(plan_cache) > 64:
                            plan_cache.popitem(last=False)
                if not cacheable:
                    # a non-SELECT statement (assignment, def, DDL) or
                    # a name-rebinding plane may change what an
                    # identical later statement means — invalidate
                    conn_epoch += 1
                ship = req.get("ship")
                if ship is not None:
                    # member→member push: this server uploads the
                    # result straight to a peer (the reshard exchange
                    # plane) — the requesting client gets only an
                    # acknowledgement with the published chunk names
                    ret = _ship_result(
                        ret, ship, session=session, server=server
                    )
                save = req.get("save")
                if save is not None:
                    ret = _save_result(
                        ret,
                        save if isinstance(save, dict) else str(save),
                        server.save_root,
                    )
                pub = req.get("publish")
                if pub is not None:
                    # promote the request's table result to a SERVER
                    # table: a global-temp view every NEW connection
                    # derives its local view from (exactly how the
                    # constructor-supplied tables reach sessions) —
                    # the folio_reshard exchange publishes each
                    # member's resharded table through this.  Uploaded
                    # Arrow frames resolve to LocalRelations at view
                    # creation, so the published plan is self-
                    # contained; existing connections keep their view
                    # set (documented — reconnect to see new tables).
                    from pyspark.sql import DataFrame as _DF

                    from .errors import KerfTypeError

                    if not isinstance(ret, _DF):
                        raise KerfTypeError(
                            f"publish needs a table result, got "
                            f"{type(ret).__name__}"
                        )
                    if isinstance(pub, dict):
                        name = str(pub.get("name", ""))
                        materialize = bool(pub.get("materialize"))
                        ncoalesce = pub.get("coalesce")
                        want_count = bool(pub.get("count"))
                    else:
                        name = str(pub)
                        materialize = False
                        ncoalesce = None
                        want_count = False
                    if not re.fullmatch(r"[A-Za-z_]\w*", name):
                        raise ValueError(
                            f"publish name {name!r} is not a valid "
                            f"table name"
                        )
                    if materialize:
                        # plans built from uploaded Arrow frames are
                        # LocalRelations: every later statement over
                        # the published table re-ships those rows
                        # driver->executor inside the job (measured
                        # ~0.3-0.5 s per statement on a reshard
                        # shard).  A lazy local checkpoint turns the
                        # plan into executor-resident blocks on first
                        # use; every subsequent statement scans the
                        # blocks.  Lazy so the publish itself stays
                        # metadata-only; MEMORY_AND_DISK so big
                        # shards spill instead of OOM (persist= is
                        # the disk-backed alternative).
                        # ``coalesce``: a union of uploaded chunk
                        # frames carries leaf-default partitions PER
                        # CHUNK (measured 96 for a 3-member shard) —
                        # every later scan schedules that many tiny
                        # tasks (a 3-member join measured 6x slower
                        # than the same data at 4 partitions).  The
                        # coordinator sizes the block count from the
                        # ACTUAL shipped bytes (scale-adaptive, guide
                        # §2.2 "fewer, larger partitions"); coalesce
                        # is a narrow merge, no shuffle.
                        if ncoalesce:
                            ret = ret.coalesce(max(1, int(ncoalesce)))
                        ret = ret.localCheckpoint(eager=False)
                    ret.createOrReplaceGlobalTempView(
                        f"__kerf_srv_{server.view_token}_{name}"
                    )
                    server.tables[name] = ret
                    # the PUBLISHING connection sees its own table
                    # immediately (other existing connections still
                    # reconnect, as documented) — the reshard's
                    # stage→persist sequence rides one connection
                    ret.createOrReplaceTempView(name)
                    env.set_local(name, session.table(name))
                    payload = {
                        "ok": True,
                        "kind": "published",
                        "name": name,
                        "columns": ret.columns,
                    }
                    if want_count:
                        # {"count": true} fuses the published table's
                        # row count into THIS response (one statement
                        # round instead of a follow-up count query —
                        # the reshard stage+conservation-count shape);
                        # on a materialize publish the count action is
                        # also what materializes the lazy checkpoint
                        payload["rows"] = int(ret.count())
                    ret = _Saved(payload)
                unpub = req.get("unpublish")
                if unpub is not None:
                    # retire SERVER tables (the publish plane's
                    # inverse): exact name, or `prefix*` to drop every
                    # matching table — the reshard cleanup path.  The
                    # published views' plans inline their sources
                    # (LocalRelations / analyzed children), so
                    # dropping an intermediate never breaks a table
                    # published FROM it.
                    pats = (
                        [str(p) for p in unpub]
                        if isinstance(unpub, (list, tuple))
                        else [str(unpub)]
                    )
                    victims = []
                    for pat in pats:
                        if pat.endswith("*"):
                            pre = pat[:-1]
                            if not re.fullmatch(r"[A-Za-z_]\w*", pre):
                                raise ValueError(
                                    f"unpublish prefix {pat!r} is invalid"
                                )
                            victims += [
                                t for t in list(server.tables)
                                if t.startswith(pre)
                            ]
                        else:
                            if not re.fullmatch(r"[A-Za-z_]\w*", pat):
                                raise ValueError(
                                    f"unpublish name {pat!r} is invalid"
                                )
                            if pat in server.tables:
                                victims.append(pat)
                    victims = sorted(set(victims))
                    for t in victims:
                        server.tables.pop(t, None)
                        session.catalog.dropGlobalTempView(
                            f"__kerf_srv_{server.view_token}_{t}"
                        )
                    ret = _Saved(
                        {
                            "ok": True,
                            "kind": "unpublished",
                            "names": sorted(victims),
                        }
                    )
                # serialize INSIDE the boundary: a cell json can't
                # carry must answer with a kinded error, not a dead
                # connection.  The arrow frame builds its whole binary
                # payload here too, so a mid-serialize failure still
                # answers with one clean error line.
                blob = b""
                if req.get("arrow"):
                    header, blob = _arrow_frame(ret, _memo=cache_entry)
                    payload = json.dumps(header, separators=(",", ":"))
                else:
                    payload = json.dumps(
                        encode_result(ret, limit=limit),
                        separators=(",", ":"),
                    )
            except Exception as exc:  # noqa: BLE001 - wire boundary
                blob = b""
                payload = json.dumps(
                    encode_error(exc), separators=(",", ":")
                )
            self.wfile.write(payload.encode() + b"\n")
            if blob:
                self.wfile.write(blob)
            self.wfile.flush()


class KerfServer:
    """Threaded TCP kerf server: ``serve()`` in the foreground or
    ``start()`` on a daemon thread.  Each CONNECTION gets an isolated
    ``spark.newSession()`` (own temp-view catalog, shared context and
    caches); ``tables`` reach every connection through server-unique
    global-temp views from which each session derives a LOCAL view —
    so clients may freely shadow table names without touching each
    other, and two servers on one SparkSession cannot cross-wire."""

    def __init__(
        self,
        spark,
        host: str = "127.0.0.1",
        port: int = 0,
        tables: dict | None = None,
        save_root: str | None = None,
        limit_initial_partitions: int = 64,
    ):
        import logging
        import uuid

        # failures answer on the wire with their taxonomy kind; the
        # Python-side structured ERROR blob per analysis failure is
        # noise in a server log serving interactive clients
        logging.getLogger("SQLQueryContextLogger").setLevel(
            logging.CRITICAL
        )
        self.spark = spark
        self.tables = dict(tables or {})
        self.save_root = save_root
        # server-unique namespace token: a second KerfServer with the
        # same table name on this SparkSession must not overwrite ours
        self.view_token = uuid.uuid4().hex[:8]
        for name, df in self.tables.items():
            # global-temp: the one cross-session namespace, so every
            # per-connection session can derive its own LOCAL view
            df.createOrReplaceGlobalTempView(
                f"__kerf_srv_{self.view_token}_{name}"
            )

        class _Srv(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._srv = _Srv((host, port), _Handler)
        # hand the handler its context through the server object
        self._srv.spark = spark  # type: ignore[attr-defined]
        self._srv.tables = self.tables  # type: ignore[attr-defined]
        self._srv.view_token = self.view_token  # type: ignore[attr-defined]
        self._srv.save_root = save_root  # type: ignore[attr-defined]
        # first-round width of the bounded-fetch limit ladder (see
        # _Handler): one job over up to this many partitions instead of
        # Spark's 1 -> 4 -> 20 job-per-round escalation; driver rows
        # stay bounded by limit × this.  Tune down for clusters with
        # very wide tables where even round one should stay narrow.
        self._srv.limit_initial_partitions = (  # type: ignore[attr-defined]
            int(limit_initial_partitions)
        )
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        return self._srv.server_address  # type: ignore[return-value]

    def start(self) -> "KerfServer":
        self._thread = threading.Thread(
            target=self._srv.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def serve(self) -> None:  # pragma: no cover - interactive entry
        self._srv.serve_forever()

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        # drop this server's global-temp views: they would otherwise
        # shadow the namespace for the SparkSession's whole lifetime
        for name in self.tables:
            try:
                self.spark.catalog.dropGlobalTempView(
                    f"__kerf_srv_{self.view_token}_{name}"
                )
            except Exception:
                pass


class KerfClient:
    """Line-protocol client.  One instance = one server-side session
    (its interpreter env persists until close)."""

    def __init__(self, host: str, port: int, timeout: float = 60.0):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._file = self._sock.makefile("rwb")

    def execute(
        self,
        src: str,
        limit: int = DEFAULT_LIMIT,
        save: "str | dict | None" = None,
        arrow: bool = False,
        upload: tuple[str, "object"] | None = None,
        publish: "str | dict | None" = None,
        ship: dict | None = None,
        unpublish: "str | list[str] | None" = None,
        register: dict | None = None,
    ) -> dict:
        """One request/response round trip.  With ``arrow=True`` a
        table result arrives as a length-prefixed Arrow IPC stream on
        the same socket and the returned dict carries it parsed under
        ``"table"`` (a ``pyarrow.Table`` — bit-exact, no filesystem).
        With ``upload=(name, table)`` a ``pyarrow.Table`` (or anything
        with ``toArrow``/``to_arrow``) ships TO the server as the same
        length-prefixed Arrow frame and registers as temp view
        ``name`` in this connection's session before ``src`` runs —
        the reverse binary wire (enums.h:278)."""
        req_obj: dict = {"src": src, "limit": limit}
        blob = b""
        if upload is not None:
            import pyarrow as pa

            name, tbl = upload
            if hasattr(tbl, "toArrow"):
                tbl = tbl.toArrow()
            elif hasattr(tbl, "to_arrow"):
                tbl = tbl.to_arrow()
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, tbl.schema) as w:
                w.write_table(tbl)
            blob = sink.getvalue().to_pybytes()
            req_obj["upload"] = {"name": str(name), "nbytes": len(blob)}
        if save is not None:
            req_obj["save"] = save
        if publish is not None:
            req_obj["publish"] = publish
        if ship is not None:
            req_obj["ship"] = ship
        if unpublish is not None:
            req_obj["unpublish"] = unpublish
        if register is not None:
            req_obj["register"] = register
        if arrow:
            req_obj["arrow"] = True
        req = json.dumps(req_obj)
        self._file.write(req.encode() + b"\n")
        if blob:
            self._file.write(blob)
        self._file.flush()
        line = self._file.readline()
        if not line:
            raise ConnectionError("kerf server closed the connection")
        resp = json.loads(line)
        if resp.get("kind") == "arrow":
            import pyarrow as pa

            n = int(resp["nbytes"])
            buf = bytearray()
            while len(buf) < n:
                chunk = self._file.read(n - len(buf))
                if not chunk:
                    raise ConnectionError(
                        "kerf server closed mid arrow frame"
                    )
                buf.extend(chunk)
            with pa.ipc.open_stream(pa.py_buffer(bytes(buf))) as r:
                resp["table"] = r.read_all()
        return resp

    def close(self) -> None:
        try:
            self._file.close()
        finally:
            self._sock.close()

    def __enter__(self) -> "KerfClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


#: idle pooled connections per (host, port) — see pooled_client
_CLIENT_POOL: dict[tuple[str, int], list[KerfClient]] = {}
_CLIENT_POOL_LOCK = threading.Lock()
#: bound per address so a burst of concurrent gathers cannot park an
#: unbounded number of sockets (each holds a server thread + session)
_CLIENT_POOL_MAX = 8


def pooled_client(host: str, port: int, timeout: float = 60.0):
    """Context manager yielding a REUSED KerfClient to ``(host,
    port)`` when one is idle, else a fresh connection; on clean exit
    the connection returns to the pool, on error it is closed (its
    wire state is unknown mid-frame).  Motivation: every connection
    costs the server a ``newSession()`` + one temp view per table
    (~0.15 s of driver catalog work), paid by EVERY folio statement
    when each gather dials fresh sockets.  Reuse is correct because
    the server re-syncs its table views per REQUEST (tables published
    before a request — e.g. by a reshard flip — are visible to pooled
    connections), and per-connection temp names have replace
    semantics.  The requested ``timeout`` is applied to the reused
    socket on acquisition."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        key = (host, int(port))
        cli = None
        with _CLIENT_POOL_LOCK:
            lst = _CLIENT_POOL.get(key)
            if lst:
                cli = lst.pop()
        if cli is None:
            cli = KerfClient(host, int(port), timeout=timeout)
        else:
            try:
                cli._sock.settimeout(timeout)
            except OSError:
                cli = KerfClient(host, int(port), timeout=timeout)
        try:
            yield cli
        except BaseException:
            try:
                cli.close()
            except Exception:  # noqa: BLE001 — already failing
                pass
            raise
        else:
            with _CLIENT_POOL_LOCK:
                lst = _CLIENT_POOL.setdefault(key, [])
                if len(lst) < _CLIENT_POOL_MAX:
                    lst.append(cli)
                    cli = None
            if cli is not None:
                cli.close()

    return _cm()


# ------------------------------------------------- distributed folio
def _gather_frames(
    addrs: list[tuple[str, int]], src: str, timeout: float
) -> list[tuple[tuple[str, int], "object"]]:
    """Run ``src`` on every member concurrently (one thread per
    socket-obj, presented.h:430) and return ``[(addr, pyarrow.Table)]``
    — members compute their partials in parallel; the gather is
    bounded by the largest single frame, not the sum of member compute
    times.  Fail-loud: any member error (or a non-table result) raises
    with the member address; a partial gather never silently unions."""
    import concurrent.futures as _fut

    if not addrs:
        raise ValueError("folio gather needs at least one server address")

    def fetch(addr):
        host, port = addr
        with pooled_client(host, int(port), timeout=timeout) as cli:
            resp = cli.execute(src, arrow=True)
        if not resp.get("ok"):
            raise RuntimeError(
                f"folio member {host}:{port} failed: "
                f"{resp.get('kind')}: {resp.get('message')}"
            )
        if resp.get("kind") != "arrow":
            raise TypeError(
                f"folio member {host}:{port} returned "
                f"{resp.get('kind')!r}, not a table"
            )
        return addr, resp["table"]

    with _fut.ThreadPoolExecutor(max_workers=len(addrs)) as pool:
        return list(pool.map(fetch, addrs))


def folio_remote(
    spark,
    addrs: list[tuple[str, int]],
    src: str,
    tag_col: str | None = None,
    timeout: float = 120.0,
):
    """Scatter-gather over N kerf servers — the reference's declared
    multi-node story: "a list of A_SOCKET_MAPPED_OBJ inside a FOLIO
    that points to remote tables and then you can execute queries
    remotely ... one thread per socket-obj" (presented.h:427-430;
    DISTRIBUTED_ARRAY_FOLIO / REPLICATED_SOCKET_THINGS,
    enums.h:263-264).  "A folio of tables should behave like a table"
    (presented.h:409) — across processes:

    * ``src`` (one kerf statement block) runs on EVERY server
      CONCURRENTLY, one thread per socket, exactly as the reference
      remarks;
    * each member's table result comes back as one binary Arrow IPC
      frame (bit-exact, the server's MESSAGE plane);
    * the frames union by name into ONE DataFrame.

    The scale discipline is the classic scatter-gather split: ship an
    ALGEBRAIC partial per member (counts, sums, min/max, top-k
    prefixes — each member's answer is Arrow-frame-sized), gather, and
    re-aggregate the partials locally; never pull raw members through
    the socket (that is what each member's own parquet storage is
    for).  ``tag_col`` adds the member's "host:port" as a column —
    provenance for debugging skewed members.

    Fail-loud: any member error (or a non-table result) raises with
    the member address; a partial gather never silently unions.
    """
    parts = _gather_frames(addrs, src, timeout)
    return _frames_to_df(spark, parts, tag_col)


def _frames_to_df(spark, parts, tag_col: str | None = None):
    """ONE local relation from the concatenated member frames (member
    order preserved — identical rows to the old per-member
    createDataFrame + unionByName chain, without N driver round
    trips and an N-leg Union plan); the member tag rides the Arrow
    table as a constant column."""
    import pyarrow as pa

    tbls = []
    for (host, port), tbl in parts:
        if tag_col is not None:
            tbl = tbl.append_column(
                tag_col,
                pa.array([f"{host}:{port}"] * tbl.num_rows, pa.string()),
            )
        if tbls and tbl.column_names != tbls[0].column_names:
            # unionByName semantics: align by name (same column set,
            # possibly different order) before the concat
            tbl = tbl.select(tbls[0].column_names)
        tbls.append(tbl)
    return spark.createDataFrame(pa.concat_tables(tbls))


def _split_order_limit(text: str):
    """``(head, order_tail, limit_n)`` — the STATEMENT-level ``order
    by`` / ``limit`` split off ``text`` at paren depth 0 outside
    string literals (an OVER clause's or subquery's internal ordering
    is depth-nested and stays put).  Member-side global ordering
    cannot survive a union, so the folio surfaces ship ``head`` and
    re-apply the tail to the merged result."""
    from .plans.kerfsql import _mask_quoted

    mask = _mask_quoted(text)
    ship, order_tail, limit_n = text, None, None
    depth0 = [
        m
        for m in re.finditer(r"(?is)\border\s+by\b", mask)
        if mask.count("(", 0, m.start())
        == mask.count(")", 0, m.start())
    ]
    if depth0:
        m = depth0[-1]
        ship = text[: m.start()].strip()
        order_tail = text[m.end():].strip()
        lm = re.search(r"(?is)\blimit\s+(\d+)\s*$", order_tail)
        if lm:
            limit_n = int(lm.group(1))
            order_tail = order_tail[: lm.start()].strip()
    else:
        sm = _mask_quoted(ship)
        lm = re.search(r"(?is)\blimit\s+(\d+)\s*$", sm)
        if lm and sm.count("(", 0, lm.start()) == sm.count(
            ")", 0, lm.start()
        ):
            limit_n = int(lm.group(1))
            ship = ship[: lm.start()].strip()
    return ship, order_tail, limit_n


def _ord_cols(tail: str):
    """Statement-tail ``order by`` items -> Column sort expressions
    (asc/desc + nulls first/last), for re-applying a stripped global
    ordering to the merged union."""
    from pyspark.sql import functions as F

    from .plans.kerfsql import _split_top

    out = []
    for item in _split_top(tail):
        it = item.strip()
        nulls = None
        m_ = re.search(r"(?is)\s+nulls\s+(first|last)\s*$", it)
        if m_:
            nulls = m_.group(1).lower()
            it = it[: m_.start()].strip()
        desc = False
        m_ = re.search(r"(?is)\s+(asc|desc)\s*$", it)
        if m_:
            desc = m_.group(1).lower() == "desc"
            it = it[: m_.start()].strip()
        c = F.expr(it)
        if desc:
            c = (
                c.desc_nulls_first()
                if nulls == "first"
                else c.desc()
            )
        else:
            c = c.asc_nulls_last() if nulls == "last" else c.asc()
        out.append(c)
    return out


def _apply_order_limit(out, order_tail, limit_n):
    """Re-apply a stripped statement-level ordering to the merged
    union — refusing (typed) when it names a column the members did
    not return, since SQL resolves a statement-level ORDER BY against
    the INPUT but the union only has the output columns."""
    from .errors import ArgsError
    from .plans.kerfsql import _split_top

    if order_tail:
        for item in _split_top(order_tail):
            it = re.sub(
                r"(?is)\s+(asc|desc|nulls\s+(?:first|last))\s*$",
                "",
                item.strip(),
            ).strip()
            it = re.sub(r"(?is)\s+(asc|desc)\s*$", "", it).strip()
            if re.fullmatch(r"[A-Za-z_]\w*", it) and it not in (
                out.columns
            ):
                raise ArgsError(
                    f"the statement-level order by names {it!r}, "
                    f"which is not among the result columns "
                    f"{out.columns} — the merged union can only "
                    f"sort on what the members returned; select "
                    f"{it!r} too, or drop the final ordering"
                )
        out = out.orderBy(*_ord_cols(order_tail))
    if limit_n is not None:
        out = out.limit(limit_n)
    return out


def _over_spans(mask: str) -> list[tuple[int, int]]:
    """(start, end) spans of the INNER text of every ``OVER ( ... )``
    clause in ``mask`` (a quote-blanked copy from ``_mask_quoted``, so
    a literal ``'over ('`` never matches) — paren-depth matched, so
    nested calls inside the window spec stay inside their span."""
    spans = []
    for m in re.finditer(r"(?is)\bover\s*\(", mask):
        depth, i = 1, m.end()
        while i < len(mask) and depth:
            if mask[i] == "(":
                depth += 1
            elif mask[i] == ")":
                depth -= 1
            i += 1
        if depth:
            raise ValueError(
                "unbalanced parentheses in OVER clause"
            )
        spans.append((m.end(), i - 1))
    return spans


def folio_window(
    spark,
    addrs: list[tuple[str, int]],
    q: str,
    shard_key: str,
    timeout: float = 120.0,
    tag_col: str | None = None,
    publish: str | None = None,
    persist: str | None = None,
    check: bool = True,
):
    """Member-complete WINDOW ANALYTICS over a folio sharded by
    ``shard_key`` — the ordered half of "a folio of tables should
    behave like a table" (presented.h:409; the folio aggregates ride
    :func:`folio_select`, row gathers :func:`folio_remote`).  The
    canonical tick shapes — ``mavg(5, price)`` per symbol, running
    sums, deltas, lag/lead, ranks — are WINDOW functions: when every
    window partitions by the key the folio is sharded on, each
    member's frames are COMPLETE (all rows of any partition live on
    exactly one member), so the whole computation is embarrassingly
    parallel with ZERO cross-member data movement — the shuffle the
    sharding already paid for is reused, exactly the plan a
    1000-executor cluster wants.

    The guard IS the feature (the same silent-wrongness class as
    folio_select's fact-to-fact join refusal): ``folio_remote`` would
    happily run a mis-partitioned window statement and return frames
    missing every other member's rows.  Here every ``OVER`` clause of
    the statement (kerf ordered verbs expand to OVER first, via the
    same ``translate`` the members run) must name ``shard_key`` bare
    in its PARTITION BY — no PARTITION BY (a global window) or a
    partition list without the shard key refuses with a typed error
    naming the offending clause and the fix (add the key, or
    :func:`folio_reshard` the folio onto the window key first).
    Joins refuse toward folio_reshard + member_local_joins.

    A top-level ``order by`` / ``limit`` is stripped from the member
    statement and re-applied to the merged result (member-side global
    ordering cannot survive a union; sorting |result| rows locally is
    the driver-bounded final, same class as folio_select's).

    ``check=True`` (default) additionally verifies the folio really
    IS sharded by ``shard_key``: gather mode checks the gathered
    frames' key sets pairwise-disjoint driver-side (zero extra member
    compute or wire); publish mode pre-gathers each member's distinct
    keys (wire O(distinct keys), one extra member pass) BEFORE any
    member publishes, so a mis-sharded folio publishes NOTHING.  Two
    members sharing a key — including NULL, whose rows form one SQL
    window partition — fail loud naming the key and both members.

    ``publish="name"`` is the scale path: each member keeps its
    windowed shard as a server table (nothing gathered — wire carries
    row COUNTS only), ready for folio_select / further folio_window
    passes; gather mode unions the member frames under the Arrow
    bounds (``ARROW_MAX_ROWS`` fail-loud), with ``tag_col`` adding
    member provenance.  ``persist="/dir"`` (with publish) saves each
    member's windowed shard to ``<dir>/<name>_m<j>`` parquet and
    publishes FROM the persisted copy — disk-backed, survives member
    restarts, same durability contract as folio_reshard's persist.
    """
    import concurrent.futures as _fut

    from .errors import ArgsError
    from .plans.kerfsql import _mask_quoted, _split_top, translate

    if not re.fullmatch(r"[A-Za-z_]\w*", shard_key):
        raise ArgsError(
            f"folio_window shard_key {shard_key!r} is not a bare "
            f"column name"
        )
    if re.search(r"(?is)\b(asof|window)\s+join\b", _mask_quoted(q)):
        raise ArgsError(
            "folio_window does not take asof/window joins — use "
            "folio_asof, which verifies BOTH sides are co-sharded "
            "on the equi keys before running the join member-side "
            "(folio_reshard makes them co-sharded on demand)"
        )
    ansi = translate(q)
    mask = _mask_quoted(ansi)
    if re.search(r"(?is)\bjoin\b", mask):
        raise ArgsError(
            "folio_window: the statement joins tables — a join "
            "between two member-sharded tables cannot run member-side "
            "(each member would join only its own shard).  Co-shard "
            "both tables on the join key (folio_reshard) and run the "
            "join via folio_select(..., member_local_joins=True) or "
            "folio_remote."
        )
    spans = _over_spans(mask)
    if not spans:
        raise ArgsError(
            "folio_window found no window function (no OVER clause, "
            "and no kerf ordered verb that expands to one) — use "
            "folio_select for aggregates or folio_remote for row "
            "gathers"
        )
    for s, e in spans:
        body = " ".join(ansi[s:e].split())
        bm = _mask_quoted(body)
        pm = re.search(r"(?is)\bpartition\s+by\s+", bm)
        if not pm:
            raise ArgsError(
                f"window 'over ({body})' has no PARTITION BY — a "
                f"global window frame spans every member's rows, "
                f"which no single member can see; partition by the "
                f"shard key {shard_key!r}, or gather the rows with "
                f"folio_remote and window locally"
            )
        tail = body[pm.end():]
        tm = re.search(
            r"(?is)\b(order\s+by|rows|range|groups)\b",
            _mask_quoted(tail),
        )
        plist = tail[: tm.start()] if tm else tail
        cols = {
            c.strip().strip("`").lower() for c in _split_top(plist)
        }
        if shard_key.lower() not in cols:
            raise ArgsError(
                f"window 'over ({body})' partitions by "
                f"{sorted(cols)}, which does not include the shard "
                f"key {shard_key!r} — its frames would need rows "
                f"from other members and a member-side run is "
                f"silently wrong.  Add {shard_key!r} to PARTITION "
                f"BY, or folio_reshard the folio onto the window "
                f"key first."
            )
    # ---- strip the statement-level ordering for the merged final ----
    ship, order_tail, limit_n = _split_order_limit(ansi)

    # ---- publish mode: member-side shards, nothing gathered ---------
    if persist is not None and publish is None:
        raise ArgsError(
            "persist= needs publish= — the persisted parquet backs "
            "the published member table; for a local copy of a "
            "gathered result just save the returned DataFrame"
        )
    if publish is not None:
        if not re.fullmatch(r"[A-Za-z_]\w*", publish):
            raise ArgsError(
                f"publish name {publish!r} is not a valid table name"
            )
        if order_tail is not None or limit_n is not None:
            raise ArgsError(
                "folio_window(publish=...) keeps member-side shards "
                "— a statement-level order by / limit has no meaning "
                "across them; drop it, or gather instead"
            )
        if check:
            # disjointness FIRST, so a mis-sharded folio publishes
            # NOTHING on any member (two-phase, like the reshard).
            # For the common single-table shape the probe scans the
            # BASE table's keys directly (no second window pass);
            # anything fancier probes the statement's own output
            # keys through a subquery (correct always, 2x compute).
            from .plans.kerfsql import _split_clause

            head_, where_ = _split_clause(ship, "where")
            _, tbl_ = _split_clause(head_, "from")
            grouped_ = re.search(
                r"(?is)\b(group\s+by|having|qualify|distinct)\b",
                _mask_quoted(ship),
            )
            if (
                grouped_ is None
                and tbl_ is not None
                and re.fullmatch(r"[A-Za-z_]\w*", tbl_.strip())
            ):
                src_ = tbl_.strip() + (
                    f" where {where_}" if where_ else ""
                )
                probe = (
                    f"select {shard_key} as __k from {src_} "
                    f"group by {shard_key}"
                )
            else:
                probe = (
                    f"select {shard_key} as __k from ({ship}) "
                    f"group by {shard_key}"
                )
            key_parts = _gather_frames(addrs, probe, timeout)
            _check_disjoint_keys(key_parts, "__k", shard_key)

        return _publish_members(
            addrs, ship, publish, timeout, persist=persist
        )

    # ---- gather mode: union member frames, re-apply the ordering ----
    parts = _gather_frames(addrs, ship, timeout)
    if check:
        _check_disjoint_keys(parts, shard_key, shard_key)
    return _apply_order_limit(
        _frames_to_df(spark, parts, tag_col), order_tail, limit_n
    )


def _publish_members(
    addrs,
    ship: str,
    publish: str,
    timeout: float,
    persist: str | None = None,
) -> dict:
    """Run ``ship`` on every member and publish each member's result
    server-side under ``publish`` — nothing gathered, the wire
    carries row COUNTS only.  With ``persist="/dir"`` each member
    first SAVES its result to ``<dir>/<publish>_m<j>`` parquet
    (executor-parallel, confined by the member's ``save_root``) and
    the publish reads from the persisted copy — the published table
    is disk-backed and survives a member restart (reload with
    ``KerfServer(spark, tables={publish:
    spark.read.parquet(path)})``), the same durability contract
    folio_reshard's ``persist=`` gives the exchange.  Fail-loud per
    member."""
    import concurrent.futures as _fut

    def pub(j_addr):
        j, addr = j_addr
        host, port = addr
        path = None
        with KerfClient(host, int(port), timeout=timeout) as cli:
            if persist is not None:
                path = f"{persist.rstrip('/')}/{publish}_m{j}"
                r = cli.execute(ship, save={"path": path})
                if not r.get("ok"):
                    raise RuntimeError(
                        f"folio member {host}:{port} persist "
                        f"failed: {r.get('kind')}: "
                        f"{r.get('message')}"
                    )
                # publish FROM the persisted copy, so the published
                # plan is disk-backed and the in-memory intermediate
                # is disposable
                r = cli.execute(
                    "__fp_reload",
                    register={"name": "__fp_reload", "path": path},
                    publish=publish,
                )
            else:
                r = cli.execute(ship, publish=publish)
            if not r.get("ok"):
                raise RuntimeError(
                    f"folio member {host}:{port} publish failed: "
                    f"{r.get('kind')}: {r.get('message')}"
                )
            rc = cli.execute(
                f"select count(*) as __c from {publish}",
                arrow=True,
            )
            rows = rc["table"].column("__c")[0].as_py()
        return f"{host}:{port}", (int(rows), path)

    with _fut.ThreadPoolExecutor(max_workers=len(addrs)) as pool:
        got = dict(pool.map(pub, enumerate(addrs)))
    out = {
        "ok": True,
        "published": publish,
        "rows": sum(r for r, _ in got.values()),
        "rows_by_member": {k: r for k, (r, _) in got.items()},
    }
    if persist is not None:
        out["persisted"] = [p for _, p in got.values()]
    return out


def folio_asof(
    spark,
    addrs: list[tuple[str, int]],
    q: str,
    timeout: float = 120.0,
    tag_col: str | None = None,
    publish: str | None = None,
    persist: str | None = None,
    check: bool = True,
):
    """Distributed AS-OF / WINDOW JOIN over a CO-SHARDED folio — the
    temporal join at folio scale (presented.h:427-430's folio of
    remote tables + the kdb/kerf aj convention: the LAST on-column is
    the ordering key, the rest are equi keys).  When BOTH tables'
    rows for every equi key live on the same member, each member's
    ``from t asof join q on keys..., ts`` is COMPLETE member-locally
    — zero cross-member movement, each member running the same
    union-tag single-shuffle asof plan (operators/asof.py) the local
    rows use.

    The guard is the surface (same class as folio_window's): a bare
    ``folio_remote`` would happily ship a mis-sharded temporal join
    and silently drop every cross-member match.  Here the statement
    must be the kerf-SQL asof/window-join shape with at least one
    equi key (a pure temporal as-of has no sharding key — no member
    can see all rows; gather with folio_remote and join locally), no
    other joins, and ``check=True`` (default) verifies the
    CO-SHARDING: each member's distinct equi-key sets for BOTH tables
    gather (wire O(distinct keys)), and any key with rows on two
    members — either side, either table — fails loud naming the key
    and both members, pointing at :func:`folio_reshard`.  NULL equi
    keys are exempt (SQL equality never matches them).

    A statement-level ``order by`` / ``limit`` re-applies to the
    merged union; ``publish=`` keeps each member's joined result
    server-side (wire = row counts — the scale path, ready for
    folio_select over the joined shards), and ``persist="/dir"``
    makes the published shards disk-backed parquet that survives
    member restarts."""
    from .errors import ArgsError
    from .plans.kerfsql import _mask_quoted

    mask = _mask_quoted(q)
    m = re.search(
        r"(?is)\bfrom\s+(\w+)\s+(asof|window)\s+join\s+(\w+)\s+on"
        r"\s+([\w\s,]+?)(?=\s+(?:within|where|order|limit)\b|\s*$)",
        mask,
    )
    if not m:
        raise ArgsError(
            "folio_asof needs the kerf-SQL temporal-join shape: "
            "'select ... from <t> asof join <q> on <keys..., tscol>' "
            "or 'from <t> window join <q> on <keys..., tscol> within "
            "<lo> <hi>'"
        )
    lt, rt = m.group(1), m.group(3)
    keys = [k.strip() for k in m.group(4).split(",") if k.strip()]
    equi = keys[:-1]
    if len(addrs) > 1 and not equi:
        raise ArgsError(
            "folio_asof: the join names only the ordering column "
            f"({keys[0]!r}) — with no equi key there is nothing the "
            "folio can be co-sharded on, and no member sees all "
            "rows.  Gather both tables with folio_remote and join "
            "locally, or add the sharding key to the on-list."
        )
    extra = [
        j
        for j in re.finditer(r"(?is)\bjoin\b", mask)
        if not (m.start() <= j.start() < m.end())
    ]
    if extra:
        raise ArgsError(
            "folio_asof takes exactly ONE temporal join — further "
            "joins cannot be proven member-complete here; run them "
            "on the merged result, or co-shard and use "
            "folio_select(member_local_joins=True)"
        )
    def _run_guard() -> None:
        cols = ", ".join(equi)
        seen: dict = {}
        # ONE gather round for both tables' key sets (side-tagged
        # union — one member job and one wire frame instead of two
        # serialized rounds); detection semantics unchanged: any
        # non-NULL key with rows on two members, either side, either
        # table, fails loud
        sides = {0: ("left", lt), 1: ("right", rt)}
        parts = _gather_frames(
            addrs,
            f"select {cols}, 0 as __side from {lt} group by {cols}"
            f" union all "
            f"select {cols}, 1 as __side from {rt} group by {cols}",
            timeout,
        )
        for (host, port), tbl in parts:
            me = f"{host}:{port}"
            vecs = [tbl.column(c).to_pylist() for c in equi]
            tags = tbl.column("__side").to_pylist()
            for tup in zip(*vecs, tags):
                *key, tag = tup
                key = tuple(key)
                if any(v is None for v in key):
                    continue  # NULL equi keys never match
                other = seen.setdefault(key, me)
                if other != me:
                    side, table = sides[int(tag)]
                    raise ArgsError(
                        f"folio is not co-sharded on "
                        f"({cols}): key {key!r} has rows on "
                        f"both {other} and {me} (detected on "
                        f"the {side} table {table!r}) — a "
                        f"member-side temporal join would drop "
                        f"its cross-member matches.  "
                        f"folio_reshard BOTH tables onto the "
                        f"equi key first (or pass check=False "
                        f"if the overlap is intended)."
                    )

    ship, order_tail, limit_n = _split_order_limit(q)
    if persist is not None and publish is None:
        raise ArgsError(
            "persist= needs publish= — the persisted parquet backs "
            "the published member table; for a local copy of a "
            "gathered result just save the returned DataFrame"
        )
    if publish is not None:
        if not re.fullmatch(r"[A-Za-z_]\w*", publish):
            raise ArgsError(
                f"publish name {publish!r} is not a valid table name"
            )
        if order_tail is not None or limit_n is not None:
            raise ArgsError(
                "folio_asof(publish=...) keeps member-side shards — "
                "a statement-level order by / limit has no meaning "
                "across them; drop it, or gather instead"
            )
        # publish flips member state: the guard must pass FIRST
        if check and equi:
            _run_guard()
        return _publish_members(
            addrs, ship, publish, timeout, persist=persist
        )
    if check and equi:
        # gather path: the guard round and the join gather OVERLAP
        # (guide §2.6 — independent member jobs back-fill each other;
        # the pool hands concurrent rounds separate connections).
        # Read-only member statements make this safe: on a guard
        # failure the joined frames are discarded and the guard's
        # ArgsError surfaces exactly as before — it is checked first,
        # whatever order the rounds finish in.
        import concurrent.futures as _fut

        with _fut.ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(_gather_frames, addrs, ship, timeout)
            try:
                _run_guard()
            except BaseException:
                fut.cancel()
                raise
            parts = fut.result()
    else:
        parts = _gather_frames(addrs, ship, timeout)
    return _apply_order_limit(
        _frames_to_df(spark, parts, tag_col), order_tail, limit_n
    )


def folio_topk(
    spark,
    addrs: list[tuple[str, int]],
    q: str,
    timeout: float = 120.0,
    tag_col: str | None = None,
):
    """Distributed TOP-K rows over a folio — the scatter-gather twin
    of the local TakeOrderedAndProject (SURVEY §2.6): ``select ...
    from t order by x desc limit k`` ships to every member AS IS —
    unlike folio_window's stripped ordering, the member-side
    order+limit here is the POINT: each member's local top-k bounds
    the wire to |members|·k rows (any global top-k row is necessarily
    in its own member's top-k, so the union provably contains the
    answer) — then the final re-sorts the gathered union and takes k
    once more.  No sharding assumption at all: correct on ANY member
    layout, the one folio surface that needs no co-sharding guard.

    Requires the statement-level ``order by`` AND ``limit`` (without
    both there is no top-k to bound the wire — use folio_remote for
    plain gathers); refuses joins like the other folio surfaces.
    ``tag_col`` adds member provenance to the merged rows."""
    from .errors import ArgsError
    from .plans.kerfsql import _mask_quoted

    mask = _mask_quoted(q)
    if re.search(r"(?is)\b(asof|window)\s+join\b", mask):
        raise ArgsError(
            "folio_topk does not take asof/window joins — use "
            "folio_asof for the temporal join, then top-k the "
            "merged result"
        )
    if re.search(r"(?is)\bjoin\b", mask):
        raise ArgsError(
            "folio_topk: the statement joins tables — a join "
            "between two member-sharded tables cannot run "
            "member-side; co-shard (folio_reshard) and use "
            "folio_select(member_local_joins=True), or gather via "
            "folio_remote"
        )
    _, order_tail, limit_n = _split_order_limit(q)
    if order_tail is None or limit_n is None:
        raise ArgsError(
            "folio_topk needs BOTH a statement-level order by and a "
            "limit — member-local top-k is what bounds the wire to "
            "|members|*k rows; for unbounded gathers use folio_remote"
        )
    parts = _gather_frames(addrs, q, timeout)
    return _apply_order_limit(
        _frames_to_df(spark, parts, tag_col), order_tail, limit_n
    )


def _check_disjoint_keys(
    parts, col: str, shard_key: str
) -> None:
    """Every member's set of ``col`` values must be pairwise disjoint
    — the precise precondition for member-complete windows (checked
    POST-filter: a window select preserves its input rows 1:1, so the
    result's keys are the windowed rows' keys).  NULL counts as a key:
    SQL puts all NULL-key rows in ONE window partition, so NULLs on
    two members are cross-member frames too."""
    import pyarrow.compute as pc

    from .errors import ArgsError

    seen: dict = {}
    _null = object()
    for (host, port), tbl in parts:
        if col not in tbl.schema.names:
            raise ArgsError(
                f"folio_window check needs the shard key "
                f"{shard_key!r} among the result columns (member "
                f"{host}:{port} returned {tbl.schema.names}) — "
                f"select it, or pass check=False"
            )
        me = f"{host}:{port}"
        for v in pc.unique(tbl.column(col)).to_pylist():
            k = _null if v is None else v
            other = seen.setdefault(k, me)
            if other != me:
                raise ArgsError(
                    f"folio is not sharded by {shard_key!r}: value "
                    f"{'NULL' if k is _null else v!r} has rows on "
                    f"both {other} and {me} — their window frames "
                    f"span members.  folio_reshard the table onto "
                    f"{shard_key!r} first (or pass check=False if "
                    f"the overlap is intended)."
                )


def _reshard_cleanup(
    addrs, out_name: str, stage: str, timeout: float, drop_stage: bool
) -> None:
    """Best-effort retirement of the exchange's intermediate server
    tables (received chunks, and optionally the staged relation) on
    every member — a dead member simply restarts clean, since all the
    intermediates are in-memory relations."""
    import concurrent.futures as _fut

    def clean(addr):
        try:
            with KerfClient(*addr, timeout=timeout) as cli:
                cli.execute("null", unpublish=f"__rs_{out_name}_f*")
                if drop_stage:
                    cli.execute("null", unpublish=stage)
        except Exception:  # noqa: BLE001 — cleanup never masks
            pass

    with _fut.ThreadPoolExecutor(max_workers=len(addrs)) as pool:
        list(pool.map(clean, addrs))


def folio_reshard(
    addrs: list[tuple[str, int]],
    table: str,
    key: str,
    out_name: str,
    timeout: float = 240.0,
    check: bool = True,
    persist: str | None = None,
    chunk_rows: int | None = None,
    cleanup: bool = True,
    via: str = "arrow",
    shared_dir: str | None = None,
) -> dict:
    """RESHARD a member-sharded folio table onto a named key — the
    exchange that makes any fact-to-fact folio join co-shardable on
    demand (r11 verdict next #5; DISTRIBUTED_ARRAY_FOLIO enums.h:263 +
    folio-of-remote-tables presented.h:427-430 at full strength).
    Every member hash-buckets its shard by ``pmod(hash(key), N)``
    (Spark's Murmur3 — one deterministic function evaluated member-
    side, so all members agree); member i keeps bucket i and SHIPS
    bucket j DIRECTLY to member j (r12 verdict next #1: the ``ship``
    plane — each member acts as a client of its peers), so the moved
    bytes go shipper→receiver over N·(N-1) concurrent peer
    connections and the coordinator's wire carries only ADDRESSES
    and acknowledgements: O(N²) tiny JSON lines, zero data rows, and
    O(1) coordinator memory regardless of table size.

    TWO-PHASE PUBLISH (r12 verdict next #2): received chunks land as
    ``__rs_<out>_f<i>_c<k>`` server tables; every member then STAGES
    ``__rs_stage_<out>`` = kept bucket ∪ received chunks — nothing
    user-visible yet; the row-conservation check runs against the
    STAGED relations; only then does the FLIP publish ``out_name``
    on every member.  A failure anywhere before the flip (a ship
    crash, a dead member, a failed check) leaves ``out_name``
    unpublished on EVERY member — never partially visible — and the
    intermediates are retired best-effort.  The flip itself is
    post-validation metadata (one publish per member, idempotent —
    re-running the whole reshard converges).

    Scale shape: this IS the shuffle — each member ships (N-1)/N of
    its rows exactly once; each (shipper, receiver) bucket chunks
    under the Arrow frame bounds (``_ship_result``), so buckets
    larger than one frame still move, and only a bucket beyond
    ``SHIP_MAX_ROWS`` (extreme skew) is refused toward the parquet
    side-channel.  ``persist="/dir"`` additionally saves each
    member's staged shard to ``<dir>/<out_name>_m<j>`` (parquet,
    executor-parallel, confined by the member's ``save_root``)
    before the flip — the exchange then survives member restarts:
    reload with ``KerfServer(spark, tables={out_name:
    spark.read.parquet(path)})``.  After the exchange, a join
    between two tables resharded on the same key is COMPLETE
    member-side — ``folio_select(..., member_local_joins=True)``
    runs it without a gather.  Returns ``{"rows": total, "moved":
    shipped_rows, "persisted": [paths]}``.

    ``via="parquet"`` (with ``shared_dir=``) is the SHARED-STORAGE
    exchange for members that mount one filesystem/object store:
    each member writes its outgoing set as bucket-PARTITIONED parquet
    under ``shared_dir`` (executor-parallel, zero bytes on any socket
    or driver — no ship-size bound at all), and each receiver stages
    kept ∪ partition-pruned reads of its own bucket directories (the
    ``register`` protocol plane).  The published table then reads
    from ``shared_dir``, which must outlive it — or pass ``persist=``
    too, in which case the flip publishes from the persisted copy and
    the exchange files are disposable.  ``moved`` derives from the
    conservation counts (before − Σ kept) in this mode.
    """
    import concurrent.futures as _fut

    n = len(addrs)
    if n < 1:
        raise ValueError("folio_reshard needs at least one member")
    if not re.fullmatch(r"[A-Za-z_]\w*", out_name):
        raise ValueError(f"out_name {out_name!r} is not a valid name")
    bucket = f"pmod(hash({key}), {n})"
    stage = f"__rs_stage_{out_name}"
    if via not in ("arrow", "parquet"):
        raise ValueError(
            f"folio_reshard via must be 'arrow' or 'parquet', "
            f"got {via!r}"
        )
    if via == "parquet" and not shared_dir:
        raise ValueError(
            "folio_reshard via='parquet' needs shared_dir — a "
            "filesystem path every member can read and write"
        )
    shared = (shared_dir or "").rstrip("/")

    # ---- phase 1: member→member SHIP (the map + exchange) — one
    # request per shipper: member i evaluates its ENTIRE shard in ONE
    # Spark job (bucket-tagged, no filter — the source is scanned
    # exactly once for the whole exchange), splits it per bucket in
    # Arrow, pushes each outgoing bucket straight to its peer
    # concurrently, and publishes its OWN bucket in-process
    # (``keep``) as the same chunk tables.  The response's ``total``
    # — the collected row count of the whole shard, measured on the
    # actual Arrow rows BEFORE the split — is the conservation
    # check's "before", so no later round re-scans the source.
    def ship(i):
        peers = [
            [addrs[j][0], int(addrs[j][1])] if j != i else None
            for j in range(n)
        ]
        with KerfClient(*addrs[i], timeout=timeout) as cli:
            r = cli.execute(
                f"select *, {bucket} as __rs_bucket from {table}",
                ship={
                    "peers": peers,
                    "bucket_col": "__rs_bucket",
                    "name": f"__rs_{out_name}_f{i}",
                    "chunk_rows": chunk_rows,
                    "timeout": timeout,
                    "keep": i,
                },
            )
        if not r.get("ok"):
            raise RuntimeError(
                f"folio_reshard ship from {addrs[i]} failed: "
                f"{r.get('kind')}: {r.get('message')}"
            )
        return (
            r.get("names_by_peer") or {},
            int(r.get("rows") or 0),
            int(r.get("total") or 0),
            r.get("bytes_by_peer") or {},
        )

    # ---- phase 1p (via='parquet' — the SHARED-FILESYSTEM exchange,
    # the plane to run when members mount one storage layer): member i
    # writes its ENTIRE outgoing set as bucket-PARTITIONED parquet
    # under shared_dir — executor-parallel, zero bytes on any socket
    # or driver — and each receiver later reads ONLY its partition
    # directory (partition-pruned scan).  This is the exchange shape a
    # 100× folio runs: both halves scale with executors, not with any
    # single process.
    def ship_parquet(i):
        with KerfClient(*addrs[i], timeout=timeout) as cli:
            r = cli.execute(
                f"select *, {bucket} as __rs_bucket from {table} "
                f"where {bucket} != {i}",
                save={
                    "path": f"{shared}/__rs_{out_name}_f{i}",
                    "partition_by": ["__rs_bucket"],
                },
            )
        if not r.get("ok"):
            raise RuntimeError(
                f"folio_reshard parquet ship from {addrs[i]} failed: "
                f"{r.get('kind')}: {r.get('message')}"
            )
        return [c for c in r.get("columns", []) if c != "__rs_bucket"]

    received: dict[int, list[str]] = {j: [] for j in range(n)}
    moved = None if via == "parquet" else 0
    totals = 0
    saved: dict[int, str] = {}
    total = None
    cols: list[str] = []
    # one held connection per member carries stage → staged-count →
    # persist → flip: statements after the first skip the connect +
    # session round, and the stage/check phases need no cross-member
    # barrier between them (each member's counts are its own; only
    # the flip waits on the GLOBAL conservation verdict)
    clients: dict[int, KerfClient] = {}

    def _close_clients():
        for cli in clients.values():
            try:
                cli.close()
            except Exception:  # noqa: BLE001 — already failing
                pass
        clients.clear()

    # staged bytes per member (actual Arrow bytes, summed over
    # shippers) size each member's checkpoint block count — guide
    # §2.2: partitions in the ~100 MB range, derived from real data
    # size, never a constant tuned for one scale
    staged_bytes: dict[int, int] = {j: 0 for j in range(n)}
    try:
        if n > 1 and via == "arrow":
            with _fut.ThreadPoolExecutor(max_workers=n) as pool:
                for by_peer, rows, tot, bts in pool.map(ship, range(n)):
                    for j, names in by_peer.items():
                        received[int(j)].extend(names)
                    for j, b in bts.items():
                        staged_bytes[int(j)] += int(b)
                    moved += rows
                    totals += tot
        elif n > 1:
            with _fut.ThreadPoolExecutor(max_workers=n) as pool:
                for c in pool.map(ship_parquet, range(n)):
                    cols = c or cols

        # ---- phase 2+3: STAGE ∪-of-chunks on every member (a server
        # table under the staging name — not user-visible) and, on
        # the SAME connection, the member's STAGED count — the
        # conservation check's "after" (its "before" came from the
        # ship totals, actual Arrow rows; parquet mode still recounts
        # the source, its exchange carries no row counts).  persist=
        # rides the same connection after the count.
        def stage_member(j):
            cli = KerfClient(*addrs[j], timeout=timeout)
            clients[j] = cli
            if via == "parquet" and n > 1:
                collist = ", ".join(cols)
                src = (
                    f"select {collist} from {table} "
                    f"where {bucket} = {j}"
                )
                for i in range(n):
                    if i == j:
                        continue
                    nm = f"__rs_in{i}"
                    r = cli.execute(
                        "null",
                        register={
                            "name": nm,
                            "path": f"{shared}/__rs_{out_name}_f{i}",
                        },
                    )
                    if not r.get("ok"):
                        raise RuntimeError(
                            f"folio_reshard register on {addrs[j]} "
                            f"failed: {r.get('kind')}: "
                            f"{r.get('message')}"
                        )
                    # partition-pruned read: only bucket j's
                    # directory of shipper i's exchange output
                    src += (
                        f" union all select {collist} from {nm} "
                        f"where __rs_bucket = {j}"
                    )
            elif n > 1:
                names = sorted(received[j])
                src = f"select * from {names[0]}"
                for nm in names[1:]:
                    src += f" union all select * from {nm}"
            else:
                src = f"select * from {table} where {bucket} = {j}"
            # materialize: the staged shard unions uploaded Arrow
            # LocalRelations; checkpointing at publish makes the
            # conservation check, the flip, and every later join
            # over the resharded table scan executor-resident
            # blocks instead of re-shipping the uploaded rows
            # per job.  coalesce sizes the blocks from the actual
            # staged bytes (the chunk-per-frame union otherwise
            # carries leaf-default partitions PER CHUNK).
            pub: dict = {"name": stage, "materialize": True}
            arrow_multi = via == "arrow" and n > 1
            if arrow_multi:
                pub["coalesce"] = max(
                    1, -(-staged_bytes[j] // _RESHARD_PART_BYTES)
                )
                # the staged count (the conservation check's "after")
                # rides the publish RESPONSE — one statement round per
                # member instead of a follow-up count query, and the
                # count action doubles as the checkpoint materializer
                if check:
                    pub["count"] = True
            r = cli.execute(src, publish=pub)
            if not r.get("ok"):
                raise RuntimeError(
                    f"folio_reshard stage on {addrs[j]} failed: "
                    f"{r.get('kind')}: {r.get('message')}"
                )
            staged_n = src_n = kept_n = 0
            if check and arrow_multi:
                staged_n = int(r.get("rows") or 0)
            elif check:
                csrc = (
                    f"select 0 as side, count(*) as n from {table}"
                    f" union all"
                    f" select 1 as side, count(*) as n from {stage}"
                )
                if via == "parquet":
                    csrc += (
                        f" union all select 2 as side, count(*) "
                        f"as n from {table} where {bucket} = {j}"
                    )
                r = cli.execute(csrc)
                if not r.get("ok"):
                    raise RuntimeError(
                        f"folio_reshard count on {addrs[j]} failed: "
                        f"{r.get('message')}"
                    )
                rows = {int(x[0]): int(x[1]) for x in r["rows"]}
                src_n, staged_n = rows[0], rows[1]
                kept_n = rows.get(2, 0)
            p = None
            if persist is not None:
                p = f"{persist.rstrip('/')}/{out_name}_m{j}"
                r = cli.execute(f"select * from {stage}", save=p)
                if not r.get("ok"):
                    raise RuntimeError(
                        f"folio_reshard persist on {addrs[j]} "
                        f"failed: {r.get('kind')}: "
                        f"{r.get('message')}"
                    )
            return j, p, staged_n, src_n, kept_n

        with _fut.ThreadPoolExecutor(max_workers=n) as pool:
            staged = list(pool.map(stage_member, range(n)))
        saved = {j: p for j, p, _, _, _ in staged if p}

        # ---- conservation verdict, BEFORE anything becomes
        # user-visible: "before" is the ship phase's collected totals
        # (actual Arrow rows, measured pre-split — a chunk lost,
        # duplicated, or mis-bucketed anywhere after the collect
        # breaks the equation), "after" the staged counts
        if check:
            after = sum(s for _, _, s, _, _ in staged)
            if via == "arrow" and n > 1:
                before = totals
            else:
                before = sum(sn for _, _, _, sn, _ in staged)
            if before != after:
                raise RuntimeError(
                    f"folio_reshard row-conservation check failed: "
                    f"{before} rows in {table!r} across members, "
                    f"{after} staged for {out_name!r} — exchange "
                    f"lost or duplicated rows"
                )
            total = before
            if via == "parquet":
                moved = before - sum(k for _, _, _, _, k in staged)
    except BaseException:
        # nothing flipped: retire chunks + stage so no member ever
        # shows a partially-built out_name (a pre-existing out_name
        # from an earlier exchange is left untouched)
        _close_clients()
        _reshard_cleanup(addrs, out_name, stage, timeout, drop_stage=True)
        raise

    # ---- phase 4: FLIP — publish out_name on every member;
    # post-validation metadata only, riding the held stage
    # connection.  With persist=, the flip publishes FROM the
    # persisted parquet (registering it first), so the published
    # table is disk-backed and independent of both the staged
    # relation and — in parquet mode — the exchange files under
    # shared_dir.  Cleanup rides the same connection (published
    # plans inline their sources — uploaded chunks are
    # LocalRelations, registered paths are stable parquet relations —
    # so retiring the intermediates never breaks out_name).
    def flip(j):
        cli = clients.get(j) or KerfClient(*addrs[j], timeout=timeout)
        # cleanup rides the SAME request as the flip (the unpublish
        # plane accepts a pattern list and runs after publish): one
        # statement round per member instead of three
        unpub = (
            [f"__rs_{out_name}_f*", stage] if cleanup else None
        )
        if j in saved:
            r = cli.execute(
                "select * from __rs_pub",
                register={"name": "__rs_pub", "path": saved[j]},
                publish=out_name,
                unpublish=unpub,
            )
        else:
            r = cli.execute(
                f"select * from {stage}",
                publish=out_name,
                unpublish=unpub,
            )
        if not r.get("ok"):
            raise RuntimeError(
                f"folio_reshard flip on {addrs[j]} failed: "
                f"{r.get('kind')}: {r.get('message')}"
            )

    try:
        with _fut.ThreadPoolExecutor(max_workers=n) as pool:
            list(pool.map(flip, range(n)))
    finally:
        _close_clients()
    return {
        "rows": total,
        "moved": moved,
        "persisted": sorted(saved.values()),
    }


# ------------------------------------------------- folio aggregate split
#: aggregates folio_select can split into member partials + local final
_FOLIO_ALGEBRAIC = ("sum", "count", "min", "max", "avg", "mean")
#: variance family — ALGEBRAIC after all: rebuilds exactly from
#: (sum, sum-of-squares, count) partials; bare names take SQL's
#: sample semantics (stddev == stddev_samp, variance == var_samp)
_FOLIO_VARIANCE = {
    "stddev": "stddev_samp", "stddev_samp": "stddev_samp",
    "stddev_pop": "stddev_pop", "variance": "var_samp",
    "var_samp": "var_samp", "var_pop": "var_pop",
}
#: order statistics + count DISTINCT + mode — holistic, but EXACT
#: over the folio via bounded (group, value) histogram partials (see
#: folio_select); the wire bound is the distinct-value count, guarded
#: by ARROW_MAX_ROWS fail-loud.  mode is histogram-splittable the
#: same way: merge member (group, value, count) histograms, take the
#: max-count value (ties -> SMALLEST value, documented and stable)
_FOLIO_HISTOGRAM = ("median", "percentile", "quantile", "mode")
#: count DISTINCT for UNBOUNDED domains — approximate but mergeable:
#: members ship one datasketches HLL buffer per group (≤ a few KB,
#: independent of cardinality), the final unions and estimates; for
#: small cardinalities the sketch is in sparse mode and the estimate
#: is EXACT
_FOLIO_SKETCH = ("approx_count_distinct",)
#: percentiles for UNBOUNDED domains — the mergeable-KLL complement
#: of the exact histogram split (whose wire bound is the distinct
#: domain): members ship one datasketches KLL buffer per group (few
#: KB regardless of rows or domain), the final merges and queries the
#: quantile (~1% rank error at the default k)
_FOLIO_KLL = ("approx_percentile", "approx_quantile", "approx_median")
#: heavy hitters / mode for UNBOUNDED value domains (r12 verdict next
#: #6) — approximate but mergeable, the Count-Min complement of the
#: exact histogram split (whose wire bound is the distinct-value
#: count): members ship (a) CMS cell partials — ≤ depth×width counted
#: cells per (member, group) REGARDLESS of domain — and (b) their
#: local top-K candidate values; the final cell-sums the sketches
#: across members (CMS merges by cell addition), point-queries every
#: candidate (min over depth — the classic one-sided overestimate),
#: and keeps the top k by estimated count.  A true global heavy
#: hitter is a local heavy hitter on at least one member (pigeonhole
#: with the K' slack), so candidacy holds for genuinely heavy keys;
#: exact ``mode`` stays available for bounded domains via the
#: histogram split.
_FOLIO_CMS = ("approx_mode", "heavy_hitters")
_CMS_DEPTH, _CMS_WIDTH = 4, 2048

#: ordered "arg" aggregates — ALGEBRAIC once an explicit ordering
#: column is named: ``last(x, ord)`` == ``max_by(x, ord)`` splits as
#: member max_by partials + a final max_by over the member partials
#: (the canonical distributed tick query ``select last price by sym``
#: — presented.h:409/420-425: a folio of append-ordered tables should
#: behave like a table; the explicit ordering column is what makes
#: "last" well-defined across members)
_FOLIO_ORDERED = {
    "last": "max_by", "first": "min_by",
    "max_by": "max_by", "min_by": "min_by",
    "arg_max": "max_by", "arg_min": "min_by",
}
#: ordered concatenation — exact over the folio once an explicit
#: ordering column is named: ``string_agg(x, ord)`` ships one
#: (ord, value) struct list per (member, group) and the final sorts
#: the flattened lists before joining with ','.  The wire carries the
#: RESULT's own bytes (string_agg output is O(values) by definition —
#: there is no smaller exact partial), so this is the one aggregate
#: whose frame scales with values, bounded by the Arrow frame guard.
_FOLIO_CONCAT = ("string_agg", "group_concat")
#: genuinely unsupported: order/position-dependent across members
#: (one-arg first/last and friends; the two-arg ordered forms split —
#: see _FOLIO_ORDERED/_FOLIO_CONCAT)
_FOLIO_REFUSED = (
    "first", "last", "first_value", "last_value", "string_agg",
    "group_concat", "collect_list", "collect_set", "arbitrary", "any_value",
)
_FOLIO_AGG_RE = re.compile(r"(?is)^\s*(\w+)\s*\((.*)\)\s*$")


def _folio_parse_select(q: str):
    """Parse the grouped-aggregate select shape folio_select accepts
    (ANSI ``group by`` and kerf ``by`` both), returning
    ``(items, keys, table, where, order, limit)`` where ``items`` is
    ``[(alias, fn, argexpr)]`` for aggregates and ``(alias, None,
    expr)`` for group-key projections."""
    from .errors import ArgsError
    from .plans.kerfsql import (
        _split_clause,
        _split_top,
    )

    q = q.strip().rstrip(";")
    head = q.split(None, 1)[0].lower()
    if head != "select":
        raise ArgsError(
            f"folio_select splits grouped aggregates — got a "
            f"{head!r} statement (run it via folio_remote)"
        )
    body = q[len("select"):].strip()
    body, limit = _split_clause(body, "limit")
    body, order = _split_clause(body, "order\\s+by")
    # having trails group-by, which trails where — strictly last-first
    # (the fuzz suite caught the where/group-by ordering bug once)
    body, having = _split_clause(body, "having")
    body, ansi_by = _split_clause(body, "group\\s+by")
    body, where = _split_clause(body, "where")
    body, table = _split_clause(body, "from")
    if table is None:
        raise ArgsError("folio_select requires a from clause")
    body, by = _split_clause(body, "by")  # kerf `select ... by k from t`
    n_kerf = len(_split_top(by)) if by else 0
    if ansi_by:
        by = ansi_by if not by else f"{by}, {ansi_by}"
    # group keys as (alias, expr) pairs: a plain column keys by its
    # own name; an EXPRESSION key (xbar(ts, w), substr(sym, 1, 1), …)
    # gets a synthetic member-side alias — members compute the bucket,
    # the final merge groups on the alias, and the projection maps it
    # back to the statement's name (distributed time-bucketed bars)
    raw_keys = [k.strip() for k in _split_top(by)] if by else []
    keys = []
    for i, k in enumerate(raw_keys):
        if re.fullmatch(r"[A-Za-z_]\w*", k):
            keys.append((k, k))
        else:
            keys.append((f"__k{i}", k))
    items = []
    for part in _split_top(body):
        m = re.match(r"(?is)^(.*?)\s+as\s+(\w+)\s*$", part)
        km = re.match(r"^\s*([A-Za-z_]\w*)\s*:\s*(.+)$", part, re.DOTALL)
        if m:
            expr, alias = m.group(1).strip(), m.group(2)
        elif km:  # kerf `alias: expr`
            alias, expr = km.group(1), km.group(2).strip()
        else:
            expr, alias = part.strip(), None
        am = _FOLIO_AGG_RE.match(expr)
        fn = am.group(1).lower() if am else None
        if am and fn in _FOLIO_ORDERED:
            pieces = _split_top(am.group(2))
            if len(pieces) == 2:
                if alias is None:
                    raise ArgsError(
                        f"folio_select: aggregate {expr!r} needs an "
                        f"alias (`... as name` / `name: ...`)"
                    )
                items.append(
                    (
                        alias,
                        _FOLIO_ORDERED[fn],
                        pieces[0].strip(),
                        pieces[1].strip(),
                    )
                )
                continue
            if fn not in ("first", "last"):
                raise ArgsError(
                    f"folio_select: {fn} takes (value, ordering) — "
                    f"two arguments"
                )
            # one-arg first/last falls through to the refusal below
        if am and fn in _FOLIO_CONCAT:
            pieces = _split_top(am.group(2))
            if len(pieces) == 2:
                if alias is None:
                    raise ArgsError(
                        f"folio_select: aggregate {expr!r} needs an "
                        f"alias (`... as name` / `name: ...`)"
                    )
                items.append(
                    (
                        alias,
                        "string_agg",
                        pieces[0].strip(),
                        pieces[1].strip(),
                    )
                )
                continue
            # one-arg form falls through to the refusal below
        if am and fn in _FOLIO_REFUSED:
            by_fn = _FOLIO_ORDERED.get(fn)
            if by_fn:
                hint = (
                    f" — name an explicit ordering column instead: "
                    f"{fn}(x, ord) splits exactly as member {by_fn} "
                    f"partials + a final {by_fn}"
                )
            elif fn in _FOLIO_CONCAT:
                hint = (
                    f" — name an explicit ordering column instead: "
                    f"{fn}(x, ord) ships member (ord, value) lists "
                    f"and sorts the flattened merge before joining "
                    f"with ','"
                )
            else:
                hint = " (gather the rows via folio_remote instead)"
            raise ArgsError(
                f"folio_select: {fn} is order/position-dependent "
                f"across members — it cannot be rebuilt from "
                f"partials{hint}"
            )
        if am and fn in (
            _FOLIO_ALGEBRAIC
            + tuple(_FOLIO_VARIANCE)
            + _FOLIO_HISTOGRAM
            + _FOLIO_SKETCH
            + _FOLIO_KLL
            + _FOLIO_CMS
        ):
            arg, param = am.group(2).strip(), None
            dm = re.match(r"(?is)^\s*distinct\b(.*)$", arg)
            if dm:
                # DISTINCT aggregates ride the histogram split: the
                # merged member histograms ARE the distinct domain per
                # group, so count/sum/avg over it are exact; min/max
                # are distinct-insensitive and stay algebraic
                if fn == "count":
                    fn, arg = "count_distinct", dm.group(1).strip()
                elif fn == "sum":
                    fn, arg = "sum_distinct", dm.group(1).strip()
                elif fn in ("avg", "mean"):
                    fn, arg = "avg_distinct", dm.group(1).strip()
                elif fn in ("min", "max"):
                    arg = dm.group(1).strip()  # DISTINCT is a no-op
                else:
                    raise ArgsError(
                        f"folio_select: {fn}(DISTINCT ...) is not "
                        f"supported over a folio"
                    )
            elif fn in ("percentile", "quantile"):
                pieces = _split_top(arg)
                if len(pieces) != 2:
                    raise ArgsError(
                        f"folio_select: {fn} takes (column, fraction)"
                    )
                arg = pieces[0].strip()
                try:
                    param = float(pieces[1])
                except ValueError:
                    raise ArgsError(
                        f"folio_select: {fn} fraction must be a "
                        f"literal number, got {pieces[1]!r}"
                    ) from None
                if not 0.0 <= param <= 1.0:
                    raise ArgsError(
                        f"folio_select: {fn} fraction {param} outside "
                        f"[0, 1]"
                    )
                fn = "percentile"
            elif fn == "median":
                fn, param = "percentile", 0.5
            elif fn == "approx_median":
                fn, param = "kll_percentile", 0.5
            elif fn in ("approx_percentile", "approx_quantile"):
                pieces = _split_top(arg)
                if len(pieces) != 2:
                    raise ArgsError(
                        f"folio_select: {fn} takes (column, fraction)"
                    )
                arg = pieces[0].strip()
                try:
                    param = float(pieces[1])
                except ValueError:
                    raise ArgsError(
                        f"folio_select: {fn} fraction must be a "
                        f"literal number, got {pieces[1]!r}"
                    ) from None
                if not 0.0 <= param <= 1.0:
                    raise ArgsError(
                        f"folio_select: {fn} fraction {param} outside "
                        f"[0, 1]"
                    )
                fn = "kll_percentile"
            elif fn == "approx_mode":
                fn, param = "cms_mode", None
            elif fn == "heavy_hitters":
                pieces = _split_top(arg)
                if len(pieces) != 2:
                    raise ArgsError(
                        f"folio_select: {fn} takes (column, k)"
                    )
                arg = pieces[0].strip()
                try:
                    param = int(pieces[1])
                except ValueError:
                    raise ArgsError(
                        f"folio_select: {fn} k must be a literal "
                        f"integer, got {pieces[1]!r}"
                    ) from None
                if not 1 <= param <= 1000:
                    raise ArgsError(
                        f"folio_select: {fn} k {param} outside "
                        f"[1, 1000]"
                    )
                fn = "cms_topk"
            elif fn in _FOLIO_VARIANCE:
                fn = _FOLIO_VARIANCE[fn]
            if alias is None:
                raise ArgsError(
                    f"folio_select: aggregate {expr!r} needs an alias "
                    f"(`... as name` / `name: ...`)"
                )
            items.append((alias, fn, arg, param))
        else:
            # non-aggregate projection: must be a group key — matched
            # by its member alias (plain column) or its raw expression
            # text (expression key)
            hit = next(
                (ka for ka, ke in keys if expr in (ka, ke)), None
            )
            if hit is None:
                raise ArgsError(
                    f"folio_select: non-aggregate column {expr!r} "
                    f"must appear in the by/group-by clause"
                )
            if hit != expr and alias is None:
                raise ArgsError(
                    f"folio_select: expression group key {expr!r} "
                    f"needs a projection alias (`... as name`)"
                )
            items.append((alias or expr, None, hit, None))
    # kerf `by` keys are output columns, first, as in kerf_sql; ANSI
    # `group by` keys appear only where the select list names them
    projected = {it[2] for it in items if it[1] is None}
    items[:0] = [
        (ka if ka == ke else ke, None, ka, None)
        for ka, ke in keys[:n_kerf]
        if ka not in projected
    ]
    return items, keys, table.strip(), where, having, order, limit


def _folio_cms_frames(
    spark,
    addrs,
    src_rel,
    src_where,
    keys,
    key_names,
    key_sel,
    key_grp,
    cms_items,
    timeout,
):
    """Spark-frame wrapper over :func:`_folio_cms_tables` for the
    Spark final-merge path (the driver-final fast path consumes the
    Arrow tables directly)."""
    return [
        spark.createDataFrame(t)
        for t in _folio_cms_tables(
            addrs, src_rel, src_where, keys, key_names, key_sel,
            key_grp, cms_items, timeout,
        )
    ]


def _folio_cms_tables(
    addrs,
    src_rel,
    src_where,
    keys,
    key_names,
    key_sel,
    key_grp,
    cms_items,
    timeout,
):
    """CMS heavy-hitter finals — ``approx_mode(x)`` / ``heavy_hitters
    (x, k)`` over the folio for UNBOUNDED value domains (r12 verdict
    next #6).  Two concurrent member gathers per distinct argument:

    * CELLS — the Count-Min partial: each value hashes (the md5
      ``_h60`` construction operators/sketches.py:37 uses) into one
      of ``_CMS_WIDTH`` buckets per depth row; the member ships
      per-(group, depth, bucket) counts — ≤ depth×width rows per
      (member, group) REGARDLESS of the domain, the property the
      exact histogram split lacks.  CMS sketches merge across
      members by plain cell addition.
    * CANDIDATES — the member's local top-K′ values by count
      (K′ = 4·k + 8 slack): a global heavy hitter is a local heavy
      hitter on at least one member (pigeonhole over the slack), so
      the union of local candidates covers the global top k.

    The final runs DRIVER-SIDE in pandas over the already-local Arrow
    frames (the same discipline as ``_hist_finals_pandas`` — routing
    a few-thousand-row merge/min/rank through Spark stages costs
    ~0.7 s of pure local stage scheduling): cell-sum the member
    sketches, point-query every candidate (min over depth — the
    classic one-sided overestimate, within εN ≈ e/width of truth
    w.h.p.; the candidates carry their bucket addresses computed
    MEMBER-SIDE by the same Spark expression, so no cast-to-string
    semantics are re-implemented here), rank per group (ties →
    smaller value, stable across engines), and emit the top-1 value
    for ``approx_mode`` / the best-first k-array for
    ``heavy_hitters``.  Returns one typed Spark frame per distinct
    argument (LocalRelation — no further stages)."""
    import concurrent.futures as _fut

    import numpy as np
    import pandas as pd
    import pyarrow as pa

    D, W = _CMS_DEPTH, _CMS_WIDTH
    args = sorted({it[2] for it in cms_items})
    ks = [int(it[3]) for it in cms_items if it[1] == "cms_topk"]
    kprime = 4 * max(ks or [1]) + 8

    def h_expr(val: str, d: str) -> str:
        # _h60(concat(value, '#cms', depth)) % W — bit-identical to
        # operators.sketches._cms_cells, so persisted CMS artifacts
        # and the folio plane agree
        return (
            f"pmod(cast(conv(substring(md5(concat("
            f"cast(({val}) as string), '#cms', cast(({d}) as string)"
            f")), 1, 15), 16, 10) as bigint), {W})"
        )

    gathers = {}
    for arg in args:
        cond = f"({arg}) IS NOT NULL"
        if src_where:
            cond += f" AND ({src_where})"
        cells = "SELECT "
        if keys:
            cells += f"{key_sel}, "
        cells += (
            f"__d, {h_expr(arg, '__d')} AS __b, count(*) AS __n "
            f"FROM {src_rel} CROSS JOIN "
            f"(SELECT explode(sequence(0, {D - 1})) AS __d) __cmsd "
            f"WHERE {cond} GROUP BY "
        )
        cells += ", ".join(
            ([key_grp] if keys else [])
            + ["__d", h_expr(arg, "__d")]
        )
        inner = "SELECT "
        if keys:
            inner += f"{key_sel}, "
        inner += (
            f"({arg}) AS __v, count(*) AS __n FROM {src_rel} "
            f"WHERE {cond} GROUP BY "
        )
        inner += ", ".join(([key_grp] if keys else []) + [f"({arg})"])
        part = (
            f"PARTITION BY {', '.join(key_names)} " if keys else ""
        )
        bcols = ", ".join(
            f"{h_expr('__v', str(d))} AS __b{d}" for d in range(D)
        )
        cand = (
            f"SELECT "
            + (f"{', '.join(key_names)}, " if keys else "")
            + f"__v, {bcols} FROM (SELECT *, row_number() OVER "
            f"({part}ORDER BY __n DESC, __v ASC) AS __r "
            f"FROM ({inner})) WHERE __r <= {kprime}"
        )
        gathers[(arg, "cells")] = cells
        gathers[(arg, "cand")] = cand
    with _fut.ThreadPoolExecutor(max_workers=len(gathers)) as pool:
        got = dict(
            zip(
                gathers,
                pool.map(
                    lambda s: _gather_frames(addrs, s, timeout),
                    gathers.values(),
                ),
            )
        )
    frames = []
    for arg in args:
        cand_schema = got[(arg, "cand")][0][1].schema
        cells_pdf = pd.concat(
            [t.to_pandas() for _, t in got[(arg, "cells")]],
            ignore_index=True,
        )
        merged = cells_pdf.groupby(
            key_names + ["__d", "__b"], dropna=False, as_index=False
        )["__n"].sum()
        cand = pd.concat(
            [t.to_pandas() for _, t in got[(arg, "cand")]],
            ignore_index=True,
        ).drop_duplicates(subset=key_names + ["__v"])
        # point-query: one merge per depth (pandas matches NaN keys,
        # so null group keys line up), min across depths
        for d in range(D):
            sub = merged[merged["__d"] == d][
                key_names + ["__b", "__n"]
            ].rename(columns={"__b": f"__b{d}", "__n": f"__n{d}"})
            cand = cand.merge(
                sub, on=key_names + [f"__b{d}"], how="left"
            )
        ncols = [f"__n{d}" for d in range(D)]
        cand["__est"] = (
            cand[ncols].fillna(0).min(axis=1).astype("int64")
        )
        cand = cand.sort_values(
            key_names + ["__est", "__v"],
            ascending=[True] * len(key_names) + [False, True],
            kind="mergesort",
        )
        if key_names:
            cand["__r"] = (
                cand.groupby(key_names, dropna=False).cumcount() + 1
            )
            heads = cand[cand["__r"] == 1][key_names].reset_index(
                drop=True
            )
        else:
            cand["__r"] = np.arange(1, len(cand) + 1)
            heads = pd.DataFrame(index=[0])
        res = heads.copy()
        arg_items = [it for it in cms_items if it[2] == arg]
        fields = [cand_schema.field(k) for k in key_names]
        vtype = cand_schema.field("__v").type
        for alias, fn, _a2, param in arg_items:
            if fn == "cms_mode":
                top1 = cand[cand["__r"] == 1]
                if key_names:
                    res = res.merge(
                        top1[key_names + ["__v"]].rename(
                            columns={"__v": alias}
                        ),
                        on=key_names,
                        how="left",
                    )
                else:
                    res[alias] = top1["__v"].reset_index(drop=True)
                fields.append(pa.field(alias, vtype))
            else:  # cms_topk
                k = int(param)
                sel = cand[cand["__r"] <= k]
                if key_names:
                    lists = (
                        sel.groupby(key_names, dropna=False)["__v"]
                        .apply(list)
                        .reset_index(name=alias)
                    )
                    res = res.merge(lists, on=key_names, how="left")
                else:
                    res[alias] = [sel["__v"].tolist()]
                fields.append(pa.field(alias, pa.list_(vtype)))
        frames.append(
            pa.Table.from_pandas(
                res, schema=pa.schema(fields), preserve_index=False
            )
        )
    return frames


def _hist_finals_pandas(spark, concat, hist_args, hist_items, key_names):
    """Histogram finals as ONE Spark frame — the Spark-final-merge
    path's wrapper over :func:`_hist_finals_table` (which holds the
    actual pandas math; the driver-final fast path consumes the Arrow
    table directly and never builds this frame)."""
    return spark.createDataFrame(
        _hist_finals_table(concat, hist_args, hist_items, key_names)
    )


def _hist_finals_table(concat, hist_args, hist_items, key_names):
    """Histogram finals (count DISTINCT / percentile_cont) computed
    DRIVER-SIDE over the gathered member frames.  The frames are
    already local Arrow tables — driver-bounded by ``ARROW_MAX_ROWS``
    fail-loud on the server side — so merging member histograms by
    value, accumulating cumulative weights, and interpolating the
    bracketing values is millisecond pandas work; routing the same
    few-thousand-row math through Spark stages costs seconds of pure
    local stage-scheduling overhead.  Semantics mirror the Spark
    fallback exactly: nulls drop (SQL aggregate rules), percentile is
    percentile_cont over the merged weighted histogram (position
    p*(n-1), linear interpolation between the bracketing values —
    float64 throughout, the identical expression the oracle engines
    evaluate), count DISTINCT counts merged distinct values.  Returns
    ONE pyarrow Table carrying every holistic alias, typed explicitly
    (keys keep their member Arrow types; percentiles double; counts
    long)."""
    import functools

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    parts = []
    frame_col = concat.column("__frame")
    for j, arg in enumerate(hist_args):
        arg_items = [it for it in hist_items if it[2] == arg]
        ht = concat.filter(pc.equal(frame_col, j + 1)).select(
            key_names + [f"__h{j}", f"__hc{j}"]
        )
        pdf = ht.to_pandas().rename(
            columns={f"__h{j}": "__hv", f"__hc{j}": "__hc"}
        )
        pdf = pdf[pdf["__hv"].notna()]
        gcols = key_names + ["__hv"]
        merged = pdf.groupby(
            gcols, dropna=False, as_index=False, sort=False
        )["__hc"].sum()
        merged = merged.sort_values(
            gcols, kind="mergesort", ignore_index=True
        )
        if key_names:
            g = merged.groupby(key_names, dropna=False, sort=False)
            merged["__cum"] = g["__hc"].cumsum()
            merged["__n"] = g["__hc"].transform("sum")
        else:
            merged["__cum"] = merged["__hc"].cumsum()
            merged["__n"] = merged["__hc"].sum()
        for alias, fn, _a, pm in arg_items:
            if fn == "count_distinct":
                if key_names:
                    p = (
                        merged.groupby(
                            key_names,
                            dropna=False,
                            as_index=False,
                            sort=False,
                        )
                        .size()
                        .rename(columns={"size": alias})
                    )
                else:
                    p = pd.DataFrame({alias: [len(merged)]})
                parts.append(p)
                continue
            if fn in ("sum_distinct", "avg_distinct"):
                # the merged histogram IS the per-group distinct
                # domain: sum/avg over its values are exact
                red = "sum" if fn == "sum_distinct" else "mean"
                if key_names:
                    p = (
                        merged.groupby(
                            key_names,
                            dropna=False,
                            as_index=False,
                            sort=False,
                        )["__hv"]
                        .agg(red)
                        .rename(columns={"__hv": alias})
                    )
                else:
                    p = pd.DataFrame(
                        {alias: [getattr(merged["__hv"], red)()]}
                    )
                parts.append(p)
                continue
            if fn == "mode":
                # highest merged count wins; ties -> SMALLEST value
                # (merged is sorted by value asc, the stable count-
                # desc sort preserves that within equal counts)
                mo = merged.sort_values(
                    "__hc", ascending=False, kind="mergesort"
                )
                if key_names:
                    mo = mo.sort_values(key_names, kind="mergesort")
                    pick = mo.drop_duplicates(
                        subset=key_names, keep="first"
                    )
                else:
                    pick = mo.head(1)
                parts.append(
                    pick[key_names + ["__hv"]].rename(
                        columns={"__hv": alias}
                    )
                )
                continue
            # percentile_cont: exactly one row per group brackets the
            # floor/ceil positions, selected by the cumulative counts
            pos = float(pm) * (merged["__n"].astype("float64") - 1.0)
            flo, cei = np.floor(pos), np.ceil(pos)
            br = merged["__cum"] - merged["__hc"]
            lo = merged[(br <= flo) & (flo < merged["__cum"])]
            hi = merged[(br <= cei) & (cei < merged["__cum"])]
            lo2 = (
                lo[key_names].copy()
                if key_names
                else pd.DataFrame(index=range(len(lo)))
            )
            lo2["__lo"] = lo["__hv"].astype("float64").to_numpy()
            lo2["__ps"] = (
                float(pm) * (lo["__n"].astype("float64") - 1.0)
            ).to_numpy()
            hi2 = (
                hi[key_names].copy()
                if key_names
                else pd.DataFrame(index=range(len(hi)))
            )
            hi2["__hi"] = hi["__hv"].astype("float64").to_numpy()
            if key_names:
                m = lo2.merge(hi2, on=key_names)
            else:
                m = lo2.reset_index(drop=True).join(
                    hi2.reset_index(drop=True)
                )
            frac = m["__ps"] - np.floor(m["__ps"])
            m[alias] = m["__lo"] + (m["__hi"] - m["__lo"]) * frac
            parts.append(m[key_names + [alias]])
    if key_names:
        res = functools.reduce(
            lambda a, b: a.merge(b, on=key_names, how="outer"), parts
        )
    else:
        res = functools.reduce(
            lambda a, b: a.join(b, how="outer"),
            [p.reset_index(drop=True) for p in parts],
        )
    order = key_names + [it[0] for it in hist_items]
    res = res[order]
    fields = [concat.schema.field(k) for k in key_names]
    for alias, fn, _a, _pm in hist_items:
        if fn == "count_distinct":
            res[alias] = res[alias].astype("Int64")
            fields.append(pa.field(alias, pa.int64()))
        elif fn == "mode":
            # the mode IS a stored value: keep its member Arrow type
            fields.append(
                pa.field(
                    alias,
                    concat.schema.field(
                        f"__h{hist_args.index(_a)}"
                    ).type,
                )
            )
        elif fn == "sum_distinct":
            vt = concat.schema.field(f"__h{hist_args.index(_a)}").type
            if pa.types.is_integer(vt):
                res[alias] = res[alias].astype("Int64")
                fields.append(pa.field(alias, pa.int64()))
            else:
                fields.append(pa.field(alias, pa.float64()))
        else:  # percentile / avg_distinct
            fields.append(pa.field(alias, pa.float64()))
    return pa.Table.from_pandas(
        res, schema=pa.schema(fields), preserve_index=False
    )


def _fast_types_ok(spine, items, key_names):
    """Gate the driver-final fast path on the gathered partial TYPES:
    the Python folds reproduce Spark's final-merge arithmetic only
    for primitive columns (ints/floats fold bit-identically; string/
    binary/date/timestamp compare identically).  Decimals (different
    overflow/scale rules), nested types, and float GROUP KEYS (NaN
    breaks hash-group identity) fall back to the Spark final."""
    import pyarrow as pa

    t = {f.name: f.type for f in spine.schema}

    def prim(ty, num_only=False):
        if ty is None:
            return False
        if pa.types.is_integer(ty) or pa.types.is_floating(ty):
            return True
        if num_only:
            return False
        return (
            pa.types.is_boolean(ty)
            or pa.types.is_string(ty)
            or pa.types.is_large_string(ty)
            or pa.types.is_date(ty)
            or pa.types.is_timestamp(ty)
            or pa.types.is_binary(ty)
        )

    for kn in key_names:
        ty = t.get(kn)
        if ty is None or pa.types.is_floating(ty) or not prim(ty):
            return False
    for i, (alias, fn, arg, param) in enumerate(items):
        if fn == "sum":
            if not prim(t.get(f"__p{i}"), num_only=True):
                return False
        elif fn in ("avg", "mean"):
            if not prim(t.get(f"__p{i}s"), num_only=True):
                return False
        elif fn in ("min", "max"):
            if not prim(t.get(f"__p{i}")):
                return False
        elif fn in ("max_by", "min_by"):
            if not prim(t.get(f"__p{i}v")) or not prim(
                t.get(f"__p{i}o")
            ):
                return False
        elif fn == "string_agg":
            # member partial: list<struct<o, v>> — the Python final
            # reproduces CAST(v AS STRING) only when v IS a string,
            # and the (o, v) sort only for non-float o (NaN ordering)
            ty = t.get(f"__p{i}")
            if ty is None or not pa.types.is_list(ty):
                return False
            sty = ty.value_type
            if not pa.types.is_struct(sty) or sty.num_fields != 2:
                return False
            oty, vty = sty.field(0).type, sty.field(1).type
            if not (
                pa.types.is_string(vty) or pa.types.is_large_string(vty)
            ):
                return False
            if pa.types.is_floating(oty) or not prim(oty):
                return False
    return True


def _folio_driver_final(
    spark,
    spine,
    items,
    key_names,
    hol_tables,
    order,
    limit,
):
    """Final merge computed entirely DRIVER-SIDE — the fast path for
    folio statements whose finals are algebraic (sum/count/min/max/
    avg/max_by/min_by) plus histogram holistics.  ``spine`` is the
    gathered member-partials Arrow table (one row per member×group);
    the fold over it reproduces the Spark final-merge plan BITWISE:
    Spark's hash aggregate over the single-partition local relation
    accumulates each group's partial rows in scan order, so a
    sequential left fold over the same rows in the same (member
    frame) order performs the identical IEEE-754 operation sequence.
    Returning ``createDataFrame(arrow)`` makes the caller's action a
    LocalTableScan — the old shape paid ~0.2-0.4 s of local planning/
    codegen/stage overhead per statement to aggregate <100 rows
    (guide §5: the driver should do almost no data work — and
    scheduling a distributed job over 75 local rows is the mirrored
    mistake)."""
    import math

    import pyarrow as pa

    rows = spine.to_pylist()

    def _is_nan(v):
        return isinstance(v, float) and math.isnan(v)

    def _gt(a, b):
        # Spark ordering: NaN greater than any non-NaN double
        if _is_nan(a):
            return not _is_nan(b)
        if _is_nan(b):
            return False
        return a > b

    groups: dict[tuple, list] = {}
    order_of: list[tuple] = []
    n_it = len(items)
    for r in rows:
        k = tuple(r[kn] for kn in key_names)
        st = groups.get(k)
        if st is None:
            groups[k] = st = [None] * n_it
            order_of.append(k)
        for i, (alias, fn, arg, param) in enumerate(items):
            if fn is None or fn in ("max_by", "min_by"):
                if fn is not None:
                    # strict-improvement update only (ties keep the
                    # earlier row) — Spark's MaxBy/MinBy update rule
                    o = r[f"__p{i}o"]
                    if o is not None:
                        cur = st[i]
                        if cur is None or (
                            _gt(o, cur[1])
                            if fn == "max_by"
                            else _gt(cur[1], o)
                        ):
                            st[i] = (r[f"__p{i}v"], o)
                continue
            if fn == "sum" or fn == "count":
                v = r[f"__p{i}"]
                if v is not None:
                    st[i] = v if st[i] is None else st[i] + v
            elif fn == "min":
                v = r[f"__p{i}"]
                if v is not None and (
                    st[i] is None or _gt(st[i], v)
                ):
                    st[i] = v
            elif fn == "max":
                v = r[f"__p{i}"]
                if v is not None and (
                    st[i] is None or _gt(v, st[i])
                ):
                    st[i] = v
            elif fn in ("avg", "mean"):
                # (Σ member sums, Σ member counts)
                s, c = r[f"__p{i}s"], r[f"__p{i}c"]
                cur = st[i] or (None, 0)
                ns = cur[0]
                if s is not None:
                    ns = s if ns is None else ns + s
                st[i] = (ns, cur[1] + (c or 0))
            elif fn == "string_agg":
                lst = r[f"__p{i}"]
                if lst:
                    st[i] = (
                        list(lst) if st[i] is None else st[i] + list(lst)
                    )
            # histogram holistics: joined from hist_tbl below

    # holistic finals (histogram / CMS) arrive as already-computed
    # Arrow tables keyed on the group: build one lookup per alias
    amap: dict[str, dict] = {}
    atype: dict[str, object] = {}
    for t in hol_tables or []:
        hcols = [c for c in t.column_names if c not in key_names]
        for c in hcols:
            atype[c] = t.schema.field(c).type
            amap[c] = {}
        for hr in t.to_pylist():
            k = tuple(hr[kn] for kn in key_names)
            for c in hcols:
                amap[c][k] = hr[c]

    out_rows = []
    for k in order_of:
        st = groups[k]
        kd = dict(zip(key_names, k))
        od = {}
        for i, (alias, fn, arg, param) in enumerate(items):
            name = alias if alias is not None else arg
            if fn is None:
                od[name] = kd[arg]
            elif fn in ("max_by", "min_by"):
                od[name] = None if st[i] is None else st[i][0]
            elif fn == "count":
                od[name] = int(st[i] or 0)
            elif fn in ("sum", "min", "max"):
                od[name] = st[i]
            elif fn in ("avg", "mean"):
                s, c = st[i] or (None, 0)
                od[name] = (
                    None
                    if s is None or c == 0
                    else float(s) / float(c)
                )
            elif fn == "string_agg":
                # flatten member lists, sort by (o, v) with null o
                # first (Spark struct asc ordering), join with ','
                lst = st[i]
                od[name] = (
                    None
                    if not lst
                    else ",".join(
                        s["v"]
                        for s in sorted(
                            lst,
                            key=lambda s: (
                                s["o"] is not None,
                                s["o"] if s["o"] is not None else 0,
                                s["v"],
                            ),
                        )
                    )
                )
            else:  # histogram holistic: join on the group key
                od[name] = amap.get(alias, {}).get(k)
        out_rows.append(od)

    # ORDER BY over output aliases, Spark null/NaN placement (asc →
    # nulls first, desc → nulls last; NaN above every non-NaN)
    for col, desc in reversed(order or []):
        out_rows.sort(
            key=lambda r: (
                r[col] is not None,
                1 if _is_nan(r[col]) else 0,
                0 if r[col] is None or _is_nan(r[col]) else r[col],
            ),
            reverse=desc,
        )
    if limit:
        out_rows = out_rows[: int(limit)]

    fields = []
    for i, (alias, fn, arg, param) in enumerate(items):
        name = alias if alias is not None else arg
        if fn is None:
            fields.append(pa.field(name, spine.schema.field(arg).type))
        elif fn == "count":
            fields.append(pa.field(name, pa.int64()))
        elif fn in ("sum", "min", "max"):
            fields.append(
                pa.field(name, spine.schema.field(f"__p{i}").type)
            )
        elif fn in ("avg", "mean"):
            fields.append(pa.field(name, pa.float64()))
        elif fn in ("max_by", "min_by"):
            fields.append(
                pa.field(name, spine.schema.field(f"__p{i}v").type)
            )
        elif fn == "string_agg":
            fields.append(pa.field(name, pa.string()))
        else:
            fields.append(pa.field(name, atype[alias]))
    schema = pa.schema(fields)
    cols = {
        f.name: [r[f.name] for r in out_rows] for f in fields
    }
    return spark.createDataFrame(
        pa.Table.from_pydict(cols, schema=schema)
    )


def folio_select(
    spark,
    addrs: list[tuple[str, int]],
    q: str,
    timeout: float = 120.0,
    member_local_joins: bool = False,
):
    """Distributed grouped aggregation over a folio of remote tables —
    "a folio of tables should behave like a table" (presented.h:409)
    for the AGGREGATE case, without the manual-discipline trap:
    ``folio_select(addrs, "select sum(x) as s, avg(y) as a by k from
    t")`` rewrites each ALGEBRAIC aggregate into member partials (one
    grouped query per member, shipped as one Arrow frame each) and a
    local final merge:

    * ``sum``/``min``/``max`` → member same, final sum/min/max;
    * ``count(*)``/``count(e)`` → member count, final SUM of counts;
    * ``avg(e)``/``mean(e)`` → member ``sum(e), count(e)``, final
      ``sum(sums)/sum(counts)`` — exact SQL AVG semantics (the
      non-null count is the denominator), never an average of member
      averages (wrong under skew);

    HOLISTIC aggregates split too, as EXACT bounded histograms:
    ``median(x)`` / ``percentile(x, p)`` / ``count(DISTINCT x)`` each
    gather one (group, value, count) histogram frame per member —
    member histograms merge by value locally, count DISTINCT counts
    the merged values, and percentiles interpolate over the merged
    weighted histogram (percentile_cont semantics, the same rule SQL
    median follows).  The spine and EVERY histogram ride ONE member
    statement (GROUPING SETS: set 0 = the group spine, set j+1 = the
    j-th holistic argument, a grouping() CASE tags each row's frame)
    — one member Spark job and one socket round trip regardless of
    how many holistic aggregates the statement names.  The wire bound
    is the DISTINCT-VALUE count, not the row count — guarded
    fail-loud by ``ARROW_MAX_ROWS``; for
    unbounded domains ``approx_count_distinct(x)`` splits as a
    MERGEABLE HLL SKETCH — members ship one datasketches buffer per
    group (≤ a few KB regardless of cardinality), the final unions
    and estimates (sparse-mode sketches make small cardinalities
    exact); ``approx_median``/``approx_percentile`` likewise ride
    mergeable KLL buffers, and ``approx_mode(x)`` /
    ``heavy_hitters(x, k)`` ride mergeable Count-Min cell partials +
    local top-K′ candidates with a driver-side pandas final
    (``_folio_cms_frames``) — mode/top-k for domains the exact
    histogram cannot carry.  ``stddev``/``variance`` are algebraic via SHIFTED
    moment partials: members ship (count, mean, M2) and the final
    re-centers member means on the group minimum before combining —
    exact algebra with no catastrophic cancellation even when
    |mean| >> stddev (nanosecond stamps, large notionals).  ORDERED
    aggregates with an explicit ordering column — ``last(x, ord)`` /
    ``first(x, ord)`` / ``max_by`` / ``min_by`` / ``arg_max`` /
    ``arg_min`` — split exactly as member max_by/min_by partials + a
    final max_by/min_by (the canonical distributed tick query
    ``select last(price, ts) by sym``); ``mode(x)`` splits via the
    histogram path (ties → smallest value) and ``string_agg(x,
    ord)`` ships sorted (ord, value) lists.  Genuinely
    order-dependent aggregates (one-arg first/last/string_agg,
    collect_list) refuse with a typed error naming the ordered
    form.  ``where`` pushes to the
    members (each filters its own parquet); ``order by``/``limit``
    apply to the merged final (top-k over groups, driver-bounded).
    Joins in the from clause refuse by default (a member-side join
    over two SHARDED tables would drop cross-member matches);
    ``member_local_joins=True`` opts in when every non-fact side is
    replicated on all members.

    Scale shape: the wire carries ONE partial row per (member, group)
    — plus one histogram row per (member, group, distinct value) for
    histogram-split aggregates — never member rows.  The final merge
    is one local groupBy over |members| × |groups| rows.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .errors import ArgsError

    items, keys, table, where, having, order, limit = _folio_parse_select(q)
    if not member_local_joins and (
        re.search(r"(?is)\bjoin\b", table) or "," in table
    ):
        # FACT-TO-FACT guard: a join shipped member-side joins each
        # member's SHARD against its own local tables — correct only
        # when every other side is replicated on all members.  Two
        # member-SHARDED tables joined this way silently drop every
        # cross-member match, so the default refuses.
        raise ArgsError(
            "folio_select: the from clause joins tables — a join "
            "between two member-sharded tables cannot run member-side "
            "(each member would join only its own shard, silently "
            "dropping cross-member matches).  Options: gather rows "
            "via folio_remote and join locally; co-shard both tables "
            "on the join key so the member-side join is complete; or "
            "pass member_local_joins=True when every joined table "
            "besides the sharded fact is replicated on all members "
            "(broadcast dims)."
        )
    if not any(fn for _, fn, _, _ in items):
        raise ArgsError(
            "folio_select needs at least one aggregate — for plain "
            "row gathers use folio_remote, and for per-row ordered "
            "analytics (moving/running aggregates, lag, ranks) use "
            "folio_window, which validates the windows are "
            "member-complete"
        )
    hist_fns = (
        "count_distinct", "percentile", "mode",
        "sum_distinct", "avg_distinct",
    )
    cms_fns = ("cms_mode", "cms_topk")
    var_fns = ("var_pop", "var_samp", "stddev_pop", "stddev_samp")
    # one ANCHOR column per distinct variance argument: a window
    # min(x) the member computes exactly (an actual data value), so
    # the shipped sums are over CENTERED values — small-number space,
    # no precision lost at |mean| >> stddev (see the var branch)
    var_args = sorted({it[2] for it in items if it[1] in var_fns})
    anchor = {arg: f"__va{j}" for j, arg in enumerate(var_args)}
    # ---- driver-final fast path eligibility ---------------------------
    # When every final is algebraic (sum/count/min/max/avg/max_by/
    # min_by) or histogram-holistic, the merge over the gathered
    # member partials runs DRIVER-SIDE (_folio_driver_final) and the
    # statement's result is one LocalTableScan — no local Spark plan
    # to optimize/codegen/schedule per statement.  Sketch merges
    # (KLL/HLL), CMS frames, variance re-centering and string_agg
    # keep the Spark final (JVM sketch functions / window algebra);
    # HAVING and non-trivial ORDER BY expressions likewise.
    _fast_safe = {
        None, "sum", "count", "min", "max", "avg", "mean",
        "max_by", "min_by", "string_agg", "cms_mode", "cms_topk",
    }
    fast = having is None and all(
        fn in _fast_safe or fn in hist_fns
        for _, fn, _, _ in items
    )
    fast_order: list[tuple[str, bool]] = []
    if fast and order:
        from .plans.kerfsql import _split_top as _st0

        out_names = {it[0] for it in items}
        for o in _st0(order):
            m = re.match(
                r"(?is)^\s*([A-Za-z_]\w*)\s*(asc|desc)?\s*$", o
            )
            if not m or m.group(1) not in out_names:
                fast = False
                break
            fast_order.append(
                (m.group(1), (m.group(2) or "asc").lower() == "desc")
            )
    # ---- member query: one partial per aggregate ----------------------
    partials, finals = [], []
    var_items: list[int] = []
    for i, (alias, fn, arg, param) in enumerate(items):
        if fn is None or fn in hist_fns or fn in cms_fns:
            continue
        if fn in ("max_by", "min_by"):
            # ordered "arg" aggregate: member ships (value at extreme
            # ordering, extreme ordering); the final picks the value
            # whose member ordering is the global extreme — exact, one
            # partial row per (member, group), the distributed
            # `select last price by sym` (ties on the ordering column
            # resolve per SQL max_by: nondeterministically — name a
            # unique ordering column for determinism)
            o = "max" if fn == "max_by" else "min"
            partials.append(f"{fn}({arg}, {param}) AS __p{i}v")
            partials.append(f"{o}({param}) AS __p{i}o")
            finals.append(
                F.expr(f"{fn}(__p{i}v, __p{i}o)").alias(alias)
            )
        elif fn == "string_agg":
            # ordered concat: member ships its group's (ord, value)
            # struct list — the RESULT's own bytes, there is no
            # smaller exact partial for a concatenation — and the
            # final sorts the flattened member lists by (ord, value)
            # (deterministic tie-break) before joining with ','.
            # NULL values drop member-side (SQL string_agg rule: the
            # CASE yields NULL for them and collect_list skips NULLs);
            # an all-null group lands NULL, not '' (the size() guard).
            partials.append(
                f"collect_list(CASE WHEN ({arg}) IS NOT NULL THEN "
                f"named_struct('o', ({param}), 'v', ({arg})) END) "
                f"AS __p{i}"
            )
            finals.append(
                F.expr(
                    f"CASE WHEN size(flatten(collect_list(__p{i}))) "
                    f"= 0 THEN NULL ELSE array_join(transform("
                    f"array_sort(flatten(collect_list(__p{i}))), "
                    f"s -> CAST(s.v AS STRING)), ',') END"
                ).alias(alias)
            )
        elif fn == "sum":
            partials.append(f"sum({arg}) AS __p{i}")
            finals.append(F.sum(f"__p{i}").alias(alias))
        elif fn == "count":
            partials.append(f"count({arg}) AS __p{i}")
            finals.append(F.sum(f"__p{i}").cast("long").alias(alias))
        elif fn == "min":
            partials.append(f"min({arg}) AS __p{i}")
            finals.append(F.min(f"__p{i}").alias(alias))
        elif fn == "max":
            partials.append(f"max({arg}) AS __p{i}")
            finals.append(F.max(f"__p{i}").alias(alias))
        elif fn == "kll_percentile":
            # mergeable KLL quantile sketch (datasketches, Spark 4.1):
            # one few-KB buffer per (member, group) REGARDLESS of rows
            # or value domain — the unbounded-domain complement of the
            # exact histogram split (whose wire bound is the distinct
            # count).  ~1% rank error at the default k; the n-guard
            # returns NULL for all-null groups (an empty sketch's
            # quantile is an error, not a value).
            partials.append(
                f"kll_sketch_agg_double(CAST(({arg}) AS DOUBLE)) "
                f"AS __p{i}"
            )
            finals.append(
                F.expr(
                    f"CASE WHEN kll_sketch_get_n_double("
                    f"kll_merge_agg_double(__p{i})) > 0 THEN "
                    f"kll_sketch_get_quantile_double("
                    f"kll_merge_agg_double(__p{i}), "
                    f"CAST({param!r} AS DOUBLE)) END"
                ).alias(alias)
            )
        elif fn == "approx_count_distinct":
            # mergeable HLL: one ≤KB sketch buffer per (member, group)
            # regardless of cardinality — the unbounded-domain path
            # the exact histogram split can't take; sparse-mode
            # sketches make small cardinalities exact
            partials.append(f"hll_sketch_agg({arg}) AS __p{i}")
            finals.append(
                F.coalesce(
                    F.hll_sketch_estimate(F.hll_union_agg(f"__p{i}")),
                    F.lit(0),
                ).cast("long").alias(alias)
            )
        elif fn in var_fns:
            # ANCHORED shifted partials (r10 verdict "what's wrong"
            # #3): the textbook sum/sum-of-squares identity cancels
            # catastrophically when |mean| >> stddev (nanosecond
            # stamps, large notionals).  Each member CENTERS on an
            # exact per-group anchor a_i (a window min over its own
            # rows — an actual data value, no rounding) and ships
            #   (count, a_i, Σ(x−a_i), Σ(x−a_i)²)
            # — sums over SMALL values, computed at full precision.
            # The final re-centers every member on the group-global
            # anchor A = min(a_i) via the exact shift d_i = a_i − A:
            #   S = Σ(s_i + c_i·d_i)        == Σ(x−A)
            #   Q = Σ(q_i + 2·d_i·s_i + c_i·d_i²)  == Σ(x−A)²
            #   SS = Q − S²/N               == Σ(x−μ)²  (exact algebra)
            # Every operand lives in data-RANGE space, never at the
            # raw magnitude, so nothing large nearly-cancels.
            a = anchor[arg]
            partials.append(f"count({arg}) AS __p{i}c")
            partials.append(f"min({a}) AS __p{i}a")
            partials.append(f"sum(({arg}) - {a}) AS __p{i}s")
            partials.append(
                f"sum((({arg}) - {a}) * (({arg}) - {a})) AS __p{i}q"
            )
            var_items.append(i)
            c = F.col(f"__p{i}c").cast("double")
            d = F.col(f"__p{i}d").cast("double")
            s = F.col(f"__p{i}s").cast("double")
            qq = F.col(f"__p{i}q").cast("double")
            n = F.sum(f"__p{i}c").cast("double")
            big_s = F.sum(s + c * d)
            big_q = F.sum(qq + F.lit(2.0) * d * s + c * d * d)
            ss = F.greatest(big_q - big_s * big_s / n, F.lit(0.0))
            den = n if fn.endswith("_pop") else F.when(n > 1, n - 1)
            v = ss / den
            finals.append(
                (F.sqrt(v) if fn.startswith("stddev") else v).alias(alias)
            )
        else:  # avg / mean
            partials.append(f"sum({arg}) AS __p{i}s")
            partials.append(f"count({arg}) AS __p{i}c")
            finals.append(
                (F.sum(f"__p{i}s") / F.sum(f"__p{i}c")).alias(alias)
            )
    key_names = [ka for ka, _ in keys]
    key_sel = ", ".join(
        ka if ka == ke else f"{ke} AS {ka}" for ka, ke in keys
    )
    key_grp = ", ".join(ke for _, ke in keys)
    if not partials:
        # histogram-only statement: a hidden count(*) defines the
        # group spine (dropped at the final projection)
        partials.append("count(*) AS __spine")
        finals.append(F.sum("__spine").alias("__spine"))
    # source relation: variance anchors ride a member-side subquery —
    # one window min per distinct argument, partitioned exactly like
    # the grouping (the anchor is constant per group); the grouped
    # outer pass then sums the centered values
    if var_args:
        over = f"PARTITION BY {key_grp}" if keys else ""
        acols = ", ".join(
            f"min({arg}) OVER ({over}) AS {anchor[arg]}"
            for arg in var_args
        )
        inner = f"SELECT *, {acols} FROM {table}"
        if where:
            inner += f" WHERE {where}"
        src_rel, src_where = f"({inner})", None
    else:
        src_rel, src_where = table, where
    # ---- ONE member round trip (r11 verdict next #1): the partial
    # spine and every histogram frame ride a single GROUPING SETS
    # statement — set 0 is the group spine, set j+1 adds holistic
    # argument j as a grouping column, and a CASE over grouping()
    # tags each output row with its frame.  One gather (one member
    # Spark job, one socket round trip) replaces the old
    # 1 + |histogram args| independent gathers whose fan-out made
    # folio_remote_median the suite's slowest row.  Spine partials
    # are NULL-masked on histogram rows (and vice versa) so the wire
    # still carries exactly the old frames' bytes — a KLL/HLL sketch
    # buffer never rides a histogram row.
    hist_args = sorted({it[2] for it in items if it[1] in hist_fns})
    key_texts = {re.sub(r"\s+", "", ke) for _, ke in keys} | {
        ka for ka, _ in keys
    }
    fused = hist_args and all(
        re.sub(r"\s+", "", a) not in key_texts for a in hist_args
    )
    palias = [p.rsplit(" AS ", 1)[1] for p in partials]
    if fused:
        hv = [f"{arg} AS __h{j}" for j, arg in enumerate(hist_args)]
        hc = [
            f"count({arg}) AS __hc{j}"
            for j, arg in enumerate(hist_args)
        ]
        frame = (
            "CASE "
            + " ".join(
                f"WHEN grouping({arg}) = 0 THEN {j + 1}"
                for j, arg in enumerate(hist_args)
            )
            + " ELSE 0 END AS __frame"
        )
        gsets = ", ".join(
            [f"({key_grp})" if keys else "()"]
            + [
                f"({key_grp}, {arg})" if keys else f"({arg})"
                for arg in hist_args
            ]
        )
        inner_sel = "SELECT "
        if keys:
            inner_sel += f"{key_sel}, "
        inner_sel += ", ".join(hv + hc + partials + [frame])
        inner_sel += f" FROM {src_rel}"
        if src_where:
            inner_sel += f" WHERE {src_where}"
        inner_sel += f" GROUP BY GROUPING SETS ({gsets})"
        outer_cols = (
            list(key_names)
            + [f"__h{j}" for j in range(len(hist_args))]
            + [
                f"CASE WHEN __frame = {j + 1} THEN __hc{j} END"
                f" AS __hc{j}"
                for j in range(len(hist_args))
            ]
            + [
                f"CASE WHEN __frame = 0 THEN {a} END AS {a}"
                for a in palias
            ]
            + ["__frame"]
        )
        member = (
            f"SELECT {', '.join(outer_cols)} FROM ({inner_sel})"
        )
        import pyarrow as pa
        import pyarrow.compute as pc

        frames = _gather_frames(addrs, member, timeout)
        concat = pa.concat_tables([t for _, t in frames])
        spine = concat.filter(
            pc.equal(concat.column("__frame"), 0)
        ).select(key_names + palias)
        if fast and _fast_types_ok(spine, items, key_names):
            hol = [
                _hist_finals_table(
                    concat,
                    hist_args,
                    [it for it in items if it[1] in hist_fns],
                    key_names,
                )
            ]
            cms_fast = [it for it in items if it[1] in cms_fns]
            if cms_fast:
                hol.extend(
                    _folio_cms_tables(
                        addrs, src_rel, src_where, keys, key_names,
                        key_sel, key_grp, cms_fast, timeout,
                    )
                )
            return _folio_driver_final(
                spark, spine, items, key_names, hol, fast_order, limit,
            )
        gathered = spark.createDataFrame(spine)
        # histogram finals run DRIVER-SIDE in pandas: the gathered
        # frames are already local Arrow tables (driver-bounded by
        # ARROW_MAX_ROWS, fail-loud server-side), so the merge /
        # cumulative-weight / interpolation math over them is
        # millisecond pandas work — pushing it back through Spark
        # stages cost folio_remote_median ~1.5 s of pure local
        # stage-scheduling overhead on ~15k histogram rows
        pandas_hol = _hist_finals_pandas(
            spark,
            concat,
            hist_args,
            [it for it in items if it[1] in hist_fns],
            key_names,
        )
        raw_h = {}
    else:
        # spine-only statement — or the degenerate fallback where a
        # histogram argument IS a group key (duplicate grouping sets
        # would make the frame tag ambiguous): concurrent gathers,
        # one per histogram argument, as before the fusion
        member = "SELECT "
        if keys:
            member += f"{key_sel}, "
        member += f"{', '.join(partials)} FROM {src_rel}"
        if src_where:
            member += f" WHERE {src_where}"
        if keys:
            member += f" GROUP BY {key_grp}"
        hqs = {}
        for arg in hist_args:
            hq = "SELECT "
            if keys:
                hq += f"{key_sel}, "
            hq += f"{arg} AS __hv, count({arg}) AS __hc FROM {src_rel}"
            if src_where:
                hq += f" WHERE {src_where}"
            hq += " GROUP BY " + ", ".join(
                [ke for _, ke in keys] + [arg]
            )
            hqs[arg] = hq
        if hqs:
            import concurrent.futures as _fut

            with _fut.ThreadPoolExecutor(
                max_workers=1 + len(hqs)
            ) as pool:
                fut_alg = pool.submit(
                    folio_remote, spark, addrs, member, timeout=timeout
                )
                fut_h = {
                    arg: pool.submit(
                        folio_remote, spark, addrs, hq, timeout=timeout
                    )
                    for arg, hq in hqs.items()
                }
                gathered = fut_alg.result()
                raw_h = {arg: f.result() for arg, f in fut_h.items()}
        else:
            if fast:
                import concurrent.futures as _fut
                import pyarrow as pa

                cms_fast = [it for it in items if it[1] in cms_fns]
                with _fut.ThreadPoolExecutor(max_workers=2) as pool:
                    fut_sp = pool.submit(
                        _gather_frames, addrs, member, timeout
                    )
                    fut_cms = (
                        pool.submit(
                            _folio_cms_tables,
                            addrs, src_rel, src_where, keys,
                            key_names, key_sel, key_grp, cms_fast,
                            timeout,
                        )
                        if cms_fast
                        else None
                    )
                    frames = fut_sp.result()
                    hol = fut_cms.result() if fut_cms else []
                spine = pa.concat_tables([t for _, t in frames])
                if _fast_types_ok(spine, items, key_names):
                    return _folio_driver_final(
                        spark, spine, items, key_names, hol,
                        fast_order, limit,
                    )
                gathered = spark.createDataFrame(spine)
            else:
                gathered = folio_remote(
                    spark, addrs, member, timeout=timeout
                )
            raw_h = {}
        pandas_hol = None
    hists: dict[str, Any] = {}
    for arg, h in raw_h.items():
        # merge member histograms by value; nulls drop (SQL aggregate
        # semantics: COUNT(DISTINCT)/percentile ignore nulls)
        hists[arg] = (
            h.where(F.col("__hv").isNotNull())
            .groupBy(*(key_names + ["__hv"]))
            .agg(F.sum("__hc").alias("__hc"))
        )
    # ---- holistic finals: ONE frame per distinct argument -----------
    # percentile_cont over the merged weighted histogram: the target
    # 0-indexed position p*(n-1) falls between the values covering
    # floor/ceil of it (cumulative counts locate them); linear
    # interpolation between the two — SQL median semantics.  Every
    # aggregate sharing the argument (all its percentiles + its count
    # DISTINCT) collapses into one window pass + ONE grouped
    # aggregation — conditional max() picks the bracketing values, so
    # no per-item filter/join chains multiply local stages (the old
    # per-item plan cost folio_remote_median ~1 s of pure local stage
    # overhead on top of the gather).
    hol_frames = [] if pandas_hol is None else [pandas_hol]
    for arg, h in hists.items():
        arg_items = [
            (al, fn, pm)
            for al, fn, a2, pm in items
            if fn in hist_fns and a2 == arg
        ]
        pct = [(al, pm) for al, fn, pm in arg_items if fn == "percentile"]
        if pct:
            wp = (
                Window.partitionBy(*key_names)
                if keys
                else Window.partitionBy()
            )
            wo = wp.orderBy("__hv").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            hh = h.withColumn("__cum", F.sum("__hc").over(wo)).withColumn(
                "__n", F.sum("__hc").over(wp)
            )
        else:
            hh = h
        aggs = []
        for j, (al, _pm) in enumerate(
            (al, pm) for al, fn, pm in arg_items if fn == "mode"
        ):
            # mode over the merged histogram: min over (-count, value)
            # structs = highest count, ties -> SMALLEST value (stable
            # across engines, works for any orderable value type)
            aggs.append(
                F.min(
                    F.struct(
                        (-F.col("__hc")).alias("nc"),
                        F.col("__hv").alias("v"),
                    )
                ).alias(f"__md{j}")
            )
        for j, (al, pm) in enumerate(pct):
            pos = F.lit(float(pm)) * (F.col("__n") - 1)
            bracket = F.col("__cum") - F.col("__hc")
            aggs.append(
                F.max(
                    F.when(
                        (bracket <= F.floor(pos))
                        & (F.floor(pos) < F.col("__cum")),
                        F.col("__hv").cast("double"),
                    )
                ).alias(f"__lo{j}")
            )
            aggs.append(
                F.max(
                    F.when(
                        (bracket <= F.ceil(pos))
                        & (F.ceil(pos) < F.col("__cum")),
                        F.col("__hv").cast("double"),
                    )
                ).alias(f"__hi{j}")
            )
            aggs.append(F.max(pos).alias(f"__ps{j}"))
        for al, fn, pm in arg_items:
            if fn == "count_distinct":
                aggs.append(F.count(F.lit(1)).cast("long").alias(al))
            elif fn == "sum_distinct":
                aggs.append(F.sum("__hv").alias(al))
            elif fn == "avg_distinct":
                aggs.append(F.avg("__hv").alias(al))
        g = hh.groupBy(*key_names).agg(*aggs) if keys else hh.agg(*aggs)
        sel = list(key_names)
        for j, (al, _pm) in enumerate(
            (al, pm) for al, fn, pm in arg_items if fn == "mode"
        ):
            sel.append(F.col(f"__md{j}").getField("v").alias(al))
        for j, (al, pm) in enumerate(pct):
            ps = F.col(f"__ps{j}")
            sel.append(
                (
                    F.col(f"__lo{j}")
                    + (F.col(f"__hi{j}") - F.col(f"__lo{j}"))
                    * (ps - F.floor(ps))
                ).alias(al)
            )
        for al, fn, pm in arg_items:
            if fn in ("count_distinct", "sum_distinct", "avg_distinct"):
                sel.append(F.col(al))
        hol_frames.append(g.select(*sel))
    # ---- CMS finals: heavy hitters / approx mode for unbounded
    # domains — their own bounded gathers (cells + candidates), one
    # frame per argument, joined like the histogram frames
    cms_items = [it for it in items if it[1] in cms_fns]
    if cms_items:
        hol_frames.extend(
            _folio_cms_frames(
                spark, addrs, src_rel, src_where, keys, key_names,
                key_sel, key_grp, cms_items, timeout,
            )
        )
    # ---- local final merge --------------------------------------------
    if var_items:
        # variance re-centering: d_i = member anchor − group-global
        # anchor (both exact data values), computed over the SMALL
        # gathered frame (one row per member×group) before the merge
        # aggregates consume it
        wall = (
            Window.partitionBy(*key_names)
            if keys
            else Window.partitionBy()
        )
        for i in var_items:
            gathered = gathered.withColumn(
                f"__p{i}d",
                F.col(f"__p{i}a") - F.min(f"__p{i}a").over(wall),
            )
    out = (
        gathered.groupBy(*key_names).agg(*finals)
        if keys
        else gathered.agg(*finals)
    )
    for r in hol_frames:
        # left join: a group whose holistic argument is all-null has
        # no histogram rows — its median/count lands NULL, as SQL does
        out = out.join(r, key_names, "left") if keys else out.crossJoin(r)
    # project in the statement's column order, honoring aliases
    cols = []
    for alias, fn, expr, param in items:
        cols.append(
            F.col(expr).alias(alias) if fn is None else F.col(alias)
        )
    out = out.select(*cols)
    if having:
        # group filter over the MERGED final (the only place it can
        # be correct — a member-side having would filter partials);
        # references resolve against the statement's output ALIASES
        out = out.where(F.expr(having))
    if order:
        from .plans.kerfsql import _split_top as _st

        ocols = []
        for o in _st(order):
            m = re.match(r"(?is)^(.*?)\s+(asc|desc)\s*$", o.strip())
            if m:
                c = F.expr(m.group(1))
                ocols.append(
                    c.desc() if m.group(2).lower() == "desc" else c.asc()
                )
            else:
                ocols.append(F.expr(o.strip()))
        out = out.orderBy(*ocols)
    if limit:
        out = out.limit(int(limit))
    return out
