"""Kerf-SQL front-end: ``select ... by ... from ... where ...`` strings.

The reference lexes the kerf SQL dialect into SQL token groups
(lexer.h:103-104: select/update/insert/upsert/delete, middle tokens
from/group/where/order/limit/on/set/values/asc/desc; parser groups the
region, parser.h:541-567) but never evaluates.  Kerf's dialect differs
from ANSI mainly in clause order and the ``by`` keyword:

    select total: sum(qty) by flag from t where price > 10 limit 5

This translator turns that dialect into a Spark plan: parse clauses ->
resolve the table -> ``spark.sql`` on a rewritten ANSI statement.  The
Python DataFrame API remains the primary surface (SURVEY.md §3.1 —
"the Python API *is* the parse tree"); this exists for parity with the
reference's declared language surface.

Grammar (one statement, case-insensitive keywords):

    select <exprs> [by <exprs>] from <table>
        [where <cond>] [order by <exprs> [asc|desc]] [limit <n>]
    -- <table> passes through verbatim, so ANSI join text works:
    --   select n: count(*) by tier from customer join seg on m = s
    -- plus the kerf/kdb as-of and window joins (LAST on-column =
    -- temporal key), resolved through operators.asof:
    --   select ... from trades asof join quotes on sym, ts
    --   select ... from t window join q on sym, ts within -1h 0s
    -- the as-of join takes what its WHERE allows before the join
    -- (_push_asof_where): left-only deterministic conjuncts filter the
    -- left table, a literal upper bound on the time key also bounds
    -- the right one; the full WHERE still applies to the joined rows
    update <table> set <col>=<expr>[, ...] [where <cond>]
    delete from <table> [where <cond>]

Expressions pass through verbatim to Spark SQL — kerf names like
``avg``/``count``/``first``/``last`` are valid Spark SQL already.
``name: expr`` (kerf aliasing) rewrites to ``expr AS name``.
"""

from __future__ import annotations

import re
from itertools import accumulate

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..errors import ArgsError, LexError, ParseError, ParseIncompleteError, ParseUnmatchedError

_KW = r"(?i)\b{}\b"


def _split_clause(q: str, kw: str) -> tuple[str, str | None]:
    """Split ``q`` at the first ``kw`` that sits at paren depth 0
    OUTSIDE string literals — a keyword nested in a call, subquery,
    or window spec (the ``order by`` inside ``OVER (... ORDER BY
    ...)``, the ``from`` of a scalar subquery) belongs to that nested
    scope, never to this statement level, so explicit ANSI window
    functions pass through ``translate`` intact."""
    mask = _mask_quoted(q)
    for m in re.finditer(_KW.format(kw), mask):
        if mask.count("(", 0, m.start()) == mask.count(
            ")", 0, m.start()
        ):
            return q[: m.start()].strip(), q[m.end():].strip()
    return q, None


def _split_top(exprs: str) -> list[str]:
    """Split on top-level commas only — nested calls keep theirs."""
    parts, depth, cur = [], 0, []
    for ch in exprs:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


_ALIAS_RE = r"^\s*([A-Za-z_]\w*)\s*:\s*(.+)$"


def _rewrite_aliases(exprs: str) -> str:
    """kerf ``name: expr`` -> ``expr AS name`` per comma-group."""
    out = []
    for p in _split_top(exprs):
        m = re.match(_ALIAS_RE, p, re.DOTALL)
        out.append(f"{m.group(2)} AS {m.group(1)}" if m else p)
    return ", ".join(out)


def _strip_aliases(exprs: str) -> str:
    """kerf ``name: expr`` -> ``expr`` — the GROUP BY form (Spark rejects
    ``expr AS name`` inside GROUP BY; the alias lives only in SELECT)."""
    out = []
    for p in _split_top(exprs):
        m = re.match(_ALIAS_RE, p, re.DOTALL)
        out.append(m.group(2) if m else p)
    return ", ".join(out)


# ----------------------------------------------------------- kerf verbs
# The reference's language keywords (lexer.h:103-104) reach kerf-SQL text
# as macros expanded to ANSI window/aggregate expressions BEFORE
# spark.sql parses — everything stays JVM-side Catalyst expressions (no
# UDF registration; a Python UDF here would put the tick hot path on the
# slow lane).  Scalar/aggregate verbs (xbar, wavg, wsum) compose with
# GROUP BY; ordered verbs (deltas, ratios, prev, next, mavg, msum,
# ffill) expand to window functions whose PARTITION BY comes from the
# statement's `by` clause and whose ORDER BY comes from its `order by`
# clause (Spark tables are unordered, so ordered verbs REQUIRE order by
# — kerf's implicit table order has no distributed analogue).  Running
# verbs (sums/maxs/mins) use the unbounded-preceding trail; moving
# verbs (mavg/msum/mmax/mmin/mdev/mcount) an n-row frame.
# SCALE NOTE: an ordered verb with NO `by` clause emits a window with no
# PARTITION BY — semantically the kerf whole-table scan, physically a
# single task.  Fine for a final small frame; for a 100 TB table use
# operators.windows.global_scan (distributed two-phase prefix scan) for
# running verbs, or windows.chunked_moving (borrowed-tail chunking) for
# moving-frame verbs — SQL text cannot express their bucketed plans, so
# the DataFrame API is the scale path for global/low-cardinality scans.
_SPAN_RE = re.compile(r"^\s*'?(\d+(?:\.\d+)?)\s*(ns|us|ms|s|m|h|d)'?\s*$")
_SPAN_NS = {
    "ns": 1, "us": 10**3, "ms": 10**6, "s": 10**9,
    "m": 60 * 10**9, "h": 3600 * 10**9, "d": 86400 * 10**9,
}
_WINDOW_VERBS = ("deltas", "ratios", "mavg", "msum", "ffill", "fills",
                 "prev", "next",
                 "sums", "maxs", "mins", "mmax", "mmin", "mdev", "mcount")
_ALL_VERBS = _WINDOW_VERBS + ("xbar", "wavg", "wsum", "rand_det")

# fby — the kdb tick idiom `agg(x) fby key` in a where clause: compare
# each row against its GROUP's aggregate without collapsing the rows
# (`where price > avg(price) fby sym`).  ANSI forbids window functions
# in WHERE, so each fby becomes a window column on an inlined subquery
# and the predicate references the alias; `* EXCEPT` keeps the helper
# columns out of the output.  One exchange per distinct fby key set —
# the same shuffle the equivalent self-join-with-agg would take, minus
# the join.
_FBY_TOKEN = re.compile(r"(?i)\bfby\b")


def _mask_quoted(s: str) -> str:
    """Same-length copy of ``s`` with the CONTENTS of single-quoted
    literals blanked to spaces (quotes kept, ``''`` escapes stay
    inside the literal), so token scans can never match inside a
    string — ``where note = 'x fby y'`` must not trip the fby
    rewriter.  Positions are preserved, so a match against the mask
    indexes directly into the original."""
    out: list[str] = []
    i, n = 0, len(s)
    inq = False
    while i < n:
        ch = s[i]
        if inq:
            if ch == "'":
                if i + 1 < n and s[i + 1] == "'":
                    out.append("  ")
                    i += 2
                    continue
                inq = False
                out.append("'")
            else:
                out.append(" ")
        else:
            out.append(ch)
            if ch == "'":
                inq = True
        i += 1
    return "".join(out)


def _expand_fby(where: str, table: str) -> tuple[str, str, list[str]]:
    """Rewrite every ``agg(...) fby k`` in ``where``; returns the new
    predicate, the (possibly inlined-subquery) table, and the helper
    aliases to strip from the output.  A balanced-paren scan (not a
    regex) extracts the aggregate call, so arbitrarily nested argument
    expressions (``avg(abs(round(x, 2))) fby sym``) rewrite correctly."""
    wincols: list[str] = []
    out = where
    while True:
        # ALL scanning — the token search, the right-key scan, and the
        # left balanced-paren scan — runs on the quote-masked text, so
        # neither an 'x fby y' literal nor a ')' / '(' inside a string
        # argument (`sum(case when note = ')' then 1 end) fby sym`)
        # can derail the structure.  The mask preserves positions, so
        # every extracted slice comes from the ORIGINAL text.
        masked = _mask_quoted(out)
        m = _FBY_TOKEN.search(masked)
        if m is None:
            break
        # RIGHT of fby: the partition key — a word or a (col, col) list
        mrest = masked[m.end():]
        pad = len(mrest) - len(mrest.lstrip())
        mrest = mrest.lstrip()
        if mrest.startswith("("):
            depth, i = 1, 1
            while i < len(mrest) and depth:
                if mrest[i] == "(":
                    depth += 1
                elif mrest[i] == ")":
                    depth -= 1
                i += 1
            if depth:
                raise ParseUnmatchedError(f"fby: unbalanced key parens: {where!r}")
            key = out[m.end() + pad + 1:m.end() + pad + i - 1].strip()
            key_end = m.end() + pad + i
        else:
            km = re.match(r"\w+", mrest)
            if km is None:
                raise ParseError(f"fby needs a partition key: {where!r}")
            key = out[m.end() + pad:m.end() + pad + km.end()]
            key_end = m.end() + pad + km.end()
        # LEFT of fby: the balanced aggregate call it attaches to
        # (masked whitespace only ever sits BETWEEN kept quote chars,
        # so rstrip lengths agree between masked and original)
        mleft = masked[:m.start()].rstrip()
        if not mleft.endswith(")"):
            raise ParseError(
                f"fby must follow an aggregate call `agg(...)`: {where!r}"
            )
        depth, j = 0, len(mleft) - 1
        while j >= 0:
            if mleft[j] == ")":
                depth += 1
            elif mleft[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        nm = re.search(r"(\w+)\s*$", mleft[:j])
        if depth or nm is None:
            raise ParseError(
                f"fby must follow an aggregate call `agg(...)`: {where!r}"
            )
        call = out[nm.start(1):len(mleft)]
        alias = f"__fby{len(wincols)}"
        wincols.append(f"{call} OVER (PARTITION BY {key}) AS {alias}")
        out = out[:nm.start(1)] + alias + out[key_end:]
    if not wincols:
        return where, table, []
    inner = f"(SELECT *, {', '.join(wincols)} FROM {table})"
    return out, inner, [c.rsplit(" AS ", 1)[1] for c in wincols]


def _int_arg(verb: str, tok: str) -> int:
    """Moving-verb window sizes must be integer literals — a column or
    expression here would silently emit invalid frame SQL."""
    if not re.fullmatch(r"\s*\d+\s*", tok):
        raise ArgsError(
            f"kerf verb {verb}() needs an integer-literal window size, "
            f"got {tok!r}"
        )
    return int(tok)


def _span_to_ns(tok: str) -> int:
    m = _SPAN_RE.match(tok)
    if m:
        return int(float(m.group(1)) * _SPAN_NS[m.group(2)])
    return int(tok.strip())


def _find_call(text: str, names) -> tuple[int, int, str, list[str]] | None:
    """First occurrence of ``name( args )`` with balanced parens ->
    (start, end, name, top-level args)."""
    pat = re.compile(r"\b(" + "|".join(names) + r")\s*\(", re.IGNORECASE)
    m = pat.search(text)
    if not m:
        return None
    depth, i = 1, m.end()
    while i < len(text) and depth:
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise ParseUnmatchedError(f"unbalanced parens in kerf expression: {text!r}")
    args = _split_top(text[m.end(): i - 1])
    return m.start(), i, m.group(1).lower(), args


def _expand_verbs(text: str, part: str | None, order: str | None) -> str:
    """Expand kerf verb macros (innermost-last, repeatedly) to ANSI SQL."""
    while True:
        hit = _find_call(text, _ALL_VERBS)
        if hit is None:
            return text
        s, e, name, a = hit
        if name in _WINDOW_VERBS and not order:
            raise ArgsError(
                f"kerf verb {name}() needs an `order by` clause to define "
                "row order (distributed tables are unordered)"
            )
        pb = f"PARTITION BY {part} " if part else ""
        ob = f"ORDER BY {order}"
        w = f"({pb}{ob})"
        trail = (
            f"({pb}{ob} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
        if name == "xbar":
            x, ns = a[0], _span_to_ns(a[1])
            rep = (
                f"(CAST({x} AS BIGINT) - pmod(CAST({x} AS BIGINT), {ns}))"
            )
        elif name == "rand_det":
            # deterministic md5-counter uniform (functions.scalars
            # .rand_det): layout-invariant where SQL rand() is not.
            # concat (not concat_ws): a NULL key must draw NULL in
            # every plane — concat_ws silently skips NULLs, handing a
            # NULL key a real draw from md5(seed || '#')
            rep = (
                "((cast(conv(substring(md5(concat("
                f"cast({a[0]} as string), '#', "
                f"cast({a[1]} as string))), "
                "1, 8), 16, 10) as double) + 1.0) / 4294967297.0)"
            )
        elif name == "wavg":
            rep = f"(sum(({a[0]}) * ({a[1]})) / sum({a[0]}))"
        elif name == "wsum":
            rep = f"sum(({a[0]}) * ({a[1]}))"
        elif name == "deltas":
            rep = f"(({a[0]}) - lag({a[0]}) OVER {w})"
        elif name == "ratios":
            rep = (
                f"(CASE WHEN lag({a[0]}) OVER {w} = 0 THEN NULL "
                f"ELSE ({a[0]}) / lag({a[0]}) OVER {w} END)"
            )
        elif name == "prev":
            rep = f"lag({a[0]}) OVER {w}"
        elif name == "next":
            rep = f"lead({a[0]}) OVER {w}"
        elif name == "mavg":
            n = _int_arg(name, a[0])
            rep = (
                f"avg({a[1]}) OVER ({pb}{ob} ROWS BETWEEN {n - 1} "
                f"PRECEDING AND CURRENT ROW)"
            )
        elif name == "msum":
            n = _int_arg(name, a[0])
            rep = (
                f"sum({a[1]}) OVER ({pb}{ob} ROWS BETWEEN {n - 1} "
                f"PRECEDING AND CURRENT ROW)"
            )
        elif name in ("ffill", "fills"):  # fills = the kdb spelling
            rep = f"last_value({a[0]}) IGNORE NULLS OVER {trail}"
        elif name == "sums":
            rep = f"sum({a[0]}) OVER {trail}"
        elif name == "maxs":
            rep = f"max({a[0]}) OVER {trail}"
        elif name == "mins":
            rep = f"min({a[0]}) OVER {trail}"
        elif name in ("mmax", "mmin", "mdev", "mcount"):
            n = _int_arg(name, a[0])
            # kdb/q mdev is POPULATION deviation (divisor n), not sample
            fn = {"mmax": "max", "mmin": "min", "mdev": "stddev_pop",
                  "mcount": "count"}[name]
            rep = (
                f"{fn}({a[1]}) OVER ({pb}{ob} ROWS BETWEEN {n - 1} "
                f"PRECEDING AND CURRENT ROW)"
            )
        else:  # pragma: no cover
            raise AssertionError(name)
        text = text[:s] + rep + text[e:]


def _has_window_verb(text: str) -> bool:
    return bool(
        re.search(r"\b(" + "|".join(_WINDOW_VERBS) + r")\s*\(", text, re.I)
    )


def translate(q: str) -> str:
    """kerf-SQL text -> ANSI SQL text (table names kept symbolic)."""
    q = q.strip().rstrip(";")
    head = q.split(None, 1)[0].lower()
    if re.search(r"(?i)\b(asof|window)\s+join\b", q):
        raise ParseError(
            "asof/window join needs catalog access to resolve its "
            "tables — execute through kerf_sql(spark, ...), not "
            "translate()"
        )

    if head == "select":
        body = q[len("select"):].strip()
        body, limit = _split_clause(body, "limit")
        body, order = _split_clause(body, "order\\s+by")
        # QUALIFY (the Snowflake/DuckDB window filter — ANSI forbids
        # window results in WHERE): trails having in statement text
        body, qualify = _split_clause(body, "qualify")
        # having trails where in the statement text, so it splits first
        body, having = _split_clause(body, "having")
        body, where = _split_clause(body, "where")
        body, table = _split_clause(body, "from")
        if table is None:
            raise ParseIncompleteError("kerf-SQL select requires a from clause")
        body, by = _split_clause(body, "by")
        sel = _rewrite_aliases(body) if body else "*"
        part = _strip_aliases(by) if by else None
        order_x = _expand_verbs(order, part, None) if order else None
        table_x = table.strip()
        if where and re.search(r"(?i)\bfby\b", where):
            where, table_x, fby_helpers = _expand_fby(where, table_x)
            if fby_helpers and sel == "*":
                sel = f"* EXCEPT ({', '.join(fby_helpers)})"
        sql = []
        if _has_window_verb(body or ""):
            # ordered-verb select: `by` partitions the windows instead of
            # grouping (the kerf `update deltas price by sym` shape); the
            # statement projects per-row, so no GROUP BY is emitted
            if having:
                raise ParseError(
                    "having requires a grouped select (a `by` clause "
                    "without window verbs)"
                )
            sel = _expand_verbs(sel, part, order_x)
            sql.append(f"SELECT {sel} FROM {table_x}")
            if where:
                sql.append(f"WHERE {_expand_verbs(where, part, order_x)}")
        else:
            sel = _expand_verbs(sel, None, order_x)
            if by:
                group = _expand_verbs(_rewrite_aliases(by), None, None)
                # grouped select: by-columns are part of the output, kerf-style
                sql.append(f"SELECT {group}, {sel} FROM {table_x}")
            else:
                sql.append(f"SELECT {sel} FROM {table_x}")
            if where:
                sql.append(f"WHERE {_expand_verbs(where, None, None)}")
            if by:
                # group by the raw expressions (alias only in the SELECT list)
                sql.append(f"GROUP BY {_expand_verbs(_strip_aliases(by), None, None)}")
                if having:
                    # group filter — Spark resolves output aliases and
                    # aggregate expressions both
                    sql.append(f"HAVING {_expand_verbs(having, None, None)}")
            elif having:
                raise ParseError("having requires a `by` clause")
        core = " ".join(sql)
        if qualify:
            # filter on WINDOW RESULTS: the select (with its window
            # columns) wraps as a subquery and the qualify condition
            # becomes an ordinary WHERE over its output — the same
            # inline-subquery shape the fby rewriter emits.  The
            # condition references window columns BY ALIAS; a window
            # expression inline in qualify would land in WHERE, which
            # ANSI forbids, so it refuses with the fix.
            if re.search(r"(?i)\bover\s*\(", _mask_quoted(qualify)) or (
                _has_window_verb(qualify)
            ):
                raise ParseError(
                    "qualify takes window results by ALIAS — name "
                    "the window expression in the select list "
                    "(e.g. `rn: row_number() over (...)`) and write "
                    "`qualify rn <= k`"
                )
            core = (
                f"SELECT * FROM ({core}) "
                f"WHERE {_expand_verbs(qualify, None, None)}"
            )
        sql = [core]
        if order_x:
            sql.append(f"ORDER BY {order_x}")
        if limit:
            sql.append(f"LIMIT {limit}")
        return " ".join(sql)

    if head == "update":
        m = re.match(
            r"(?is)^update\s+(\w+)\s+set\s+(.*?)(?:\s+where\s+(.*))?$", q
        )
        if not m:
            raise ParseError(f"cannot parse kerf-SQL update: {q!r}")
        table, sets, where = m.group(1), m.group(2), m.group(3)
        assigns = [s.strip() for s in sets.split(",")]
        cols = []
        for a in assigns:
            name, expr = a.split("=", 1)
            name, expr = name.strip(), expr.strip()
            if where:
                cols.append(
                    f"CASE WHEN {where} THEN {expr} ELSE {name} END AS {name}"
                )
            else:
                cols.append(f"{expr} AS {name}")
        changed = {c.rsplit(" AS ", 1)[1] for c in cols}
        keep = f"* EXCEPT ({', '.join(sorted(changed))})"
        return f"SELECT {keep}, {', '.join(cols)} FROM {table}"

    if head == "insert":
        # insert into t values (...), (...)  |  insert into t select ...
        m = re.match(
            r"(?is)^insert\s+into\s+(\w+)\s+(values\s+.*|select\s+.*)$", q
        )
        if not m:
            raise ParseError(f"cannot parse kerf-SQL insert: {q!r}")
        table, body = m.group(1), m.group(2).strip()
        if body.lower().startswith("values"):
            return f"SELECT * FROM {table} UNION ALL SELECT * FROM ({body})"
        return f"SELECT * FROM {table} UNION ALL ({body})"

    if head == "upsert":
        raise ArgsError(
            "kerf-SQL upsert needs the table schema — execute through "
            "kerf_sql(spark, ...), not translate()"
        )

    if head == "delete":
        m = re.match(r"(?is)^delete\s+from\s+(\w+)(?:\s+where\s+(.*))?$", q)
        if not m:
            raise ParseError(f"cannot parse kerf-SQL delete: {q!r}")
        table, where = m.group(1), m.group(2)
        if not where:
            return f"SELECT * FROM {table} WHERE 1=0"
        return f"SELECT * FROM {table} WHERE NOT coalesce({where}, false)"

    raise LexError(f"unsupported kerf-SQL statement: {head}")


_WS_DELETE_IN_RE = re.compile(
    r"(?is)^delete\s+from\s+(\w+)\s+where\s+(\w+)\s+in\s*\((.*)\)\s*$"
)
_WS_DELETE_BETWEEN_RE = re.compile(
    r"(?is)^delete\s+from\s+(\w+)\s+where\s+(\w+)\s+between\s+"
    r"(.+?)\s+and\s+(.+?)\s*$"
)
_WS_UPSERT_RE = re.compile(
    r"(?is)^upsert\s+into\s+(\w+)\s+on\s+([\w\s,]+?)\s+(values\s+.*?)\s*$"
)


def _sql_literal(tok: str):
    """One SQL literal -> Python value (the keyed-probe domain:
    numbers, single-quoted strings, null)."""
    tok = tok.strip()
    if re.fullmatch(r"'(?:[^']|'')*'", tok, re.DOTALL):
        return tok[1:-1].replace("''", "'")
    if re.fullmatch(r"[+-]?\d+", tok):
        return int(tok)
    if re.fullmatch(r"[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?", tok):
        return float(tok)
    if tok.lower() == "null":
        return None
    raise ArgsError(
        f"keyed delete probe must be a literal (number, 'string', "
        f"null), got {tok!r}"
    )


def _ws_view_rewrite(spark, ws, q: str) -> str:
    """Rewrite every ``from``/``join`` table token that names a
    WORKSPACE table into a uniquely-named temp view of its current
    contents — ``kerf_sql(..., workspace=ws)`` then resolves catalog
    tables without the caller registering views (and without ever
    clobbering a session view that shares the name: the view names
    are hashed).  Spans come from the quote-masked text, so a string
    literal can't alias a table."""
    import hashlib

    tables = ws.manifest.get("tables", {})
    masked = _mask_quoted(q)
    spans = [
        (m.start(2), m.end(2), m.group(2))
        for m in re.finditer(r"(?is)\b(from|join)\s+(\w+)", masked)
        if m.group(2) in tables
    ]
    if not spans:
        return q
    views: dict[str, str] = {}
    for name in {s[2] for s in spans}:
        v = (
            "__kf_ws_"
            + hashlib.md5(f"{ws.root}|{name}".encode()).hexdigest()[:10]
        )
        ws.load(name).createOrReplaceTempView(v)
        views[name] = v
    for s, e, name in sorted(spans, reverse=True):
        q = q[:s] + views[name] + q[e:]
    return q


def _resave_like(ws, table: str, meta: dict, df) -> None:
    """Re-save ``df`` as ``table`` PRESERVING the declared layout —
    partitioning, sort, z-order, key + constraints — the full-rewrite
    half of workspace DML (update / arbitrary-predicate delete).
    Reads of the old version stay valid through the publish (pointer
    grace), so ``df`` may lazily read the table it replaces."""
    if meta.get("bucket_by"):
        raise ArgsError(
            f"kerf-SQL DML on bucketed table {table!r}: rewrite via "
            f"save_bucketed"
        )
    key = meta.get("key") or None
    ws.save(
        table,
        df,
        partition_by=meta.get("partition_by") or None,
        sort_by=None if key else (meta.get("sort_by") or None),
        zorder_by=meta.get("zorder_by") or None,
        zorder_partitions=(
            meta.get("zorder_partitions") if meta.get("zorder_by") else None
        ),
        key=key,
        unique=meta.get("unique", True),
        nonnull=meta.get("nonnull", True),
        key_partitions=meta.get("key_partitions"),
        minimize_widths=False,  # keep the stored schema's widths
    )


def _route_workspace_write(spark, ws, q: str, head: str):
    """Route keyed DML text on a Workspace table through the PRUNED
    write paths — ``delete from t where k in (…)`` →
    :meth:`Workspace.delete_keys`, ``… where k between a and b`` →
    :meth:`Workspace.delete_range`, ``upsert into t on k values …`` →
    :meth:`Workspace.upsert` — so SQL users get the O(covering files)
    writes the Python API and script verbs already take (r10 verdict
    next #7).  Returns the post-write table DataFrame, or None when
    the statement is not workspace DML (the caller falls back to the
    view-semantics translate path).  A delete/upsert that NAMES a
    keyed workspace table but doesn't fit a routable shape raises,
    never silently degrades to view semantics."""
    tables = ws.manifest.get("tables", {})

    def _keyed(table: str, what: str) -> list[str]:
        meta = tables.get(table)
        if meta is None:
            raise ArgsError(
                f"kerf-SQL {what}: no table {table!r} in this workspace"
            )
        key = meta.get("key")
        if not key:
            raise ArgsError(
                f"kerf-SQL {what}: workspace table {table!r} declares "
                f"no key — keyed DML routes through the sort index "
                f"(save with key=...)"
            )
        return key

    if head == "delete":
        # the IN/BETWEEN regexes are greedy: a COMPOUND predicate on
        # the leading key (`k between 1 and 5 and g = 3`, `k in
        # (select …)`) lands its trailing tokens inside the bound/
        # probe capture.  When those captures aren't literals, the
        # statement is not key-addressed — fall through to the
        # arbitrary-predicate full rewrite (correct for any
        # predicate) instead of raising a misleading literal error
        # (ADVICE r11 #1).  A clean key-addressed shape on the WRONG
        # column still raises: that is a real refusal to prune, not
        # a parse artifact.
        m = _WS_DELETE_IN_RE.match(q)
        if m:
            table, col, body = m.group(1), m.group(2), m.group(3)
            try:
                probes = [_sql_literal(t) for t in _split_top(body)]
            except ArgsError:
                probes = None  # compound/subquery: full rewrite below
            if probes is not None:
                key = _keyed(table, "delete")
                if col != key[0]:
                    raise ArgsError(
                        f"kerf-SQL delete on workspace table {table!r}: "
                        f"column {col!r} is not the leading key "
                        f"{key[0]!r} — only key-addressed deletes prune"
                    )
                ws.delete_keys(table, probes)
                return ws.load(table)
        m = _WS_DELETE_BETWEEN_RE.match(q)
        if m:
            table, col = m.group(1), m.group(2)
            try:
                bounds = (
                    _sql_literal(m.group(3)),
                    _sql_literal(m.group(4)),
                )
            except ArgsError:
                bounds = None  # compound predicate: full rewrite below
            if bounds is not None:
                key = _keyed(table, "delete")
                if col != key[0]:
                    raise ArgsError(
                        f"kerf-SQL delete on workspace table {table!r}: "
                        f"column {col!r} is not the leading key "
                        f"{key[0]!r} — only key-addressed deletes prune"
                    )
                ws.delete_range(table, bounds[0], bounds[1])
                return ws.load(table)
        m = re.match(r"(?is)^delete\s+from\s+(\w+)\b", q)
        if m and m.group(1) in tables:
            # arbitrary predicate: correct via the FULL staged rewrite
            # (load → anti-filter → re-save in the declared layout) —
            # the key-addressed shapes above stay the pruned fast path
            table = m.group(1)
            meta = tables[table]
            remainder = spark.sql(
                translate(_ws_view_rewrite(spark, ws, q))
            )
            _resave_like(ws, table, meta, remainder)
            return ws.load(table)
        return None
    if head == "update":
        m = re.match(r"(?is)^update\s+(\w+)\b", q)
        if m and m.group(1) in tables:
            table = m.group(1)
            meta = tables[table]
            # translate's update is a SELECT with CASE-guarded
            # assignments; run it over a view of the live table and
            # re-save in the declared layout (key constraints
            # re-enforced by save)
            v = _ws_view_rewrite(spark, ws, f"from {table}").split(
                None, 1
            )[1]
            body = re.sub(
                r"(?is)^update\s+\w+", f"update {v}", q, count=1
            )
            updated = spark.sql(translate(body))
            _resave_like(ws, table, meta, updated)
            return ws.load(table)
        return None
    if head == "insert":
        m = re.match(
            r"(?is)^insert\s+into\s+(\w+)\s+(values\s+.*|select\s+.*)$",
            q,
        )
        if m and m.group(1) in tables:
            table, body = m.group(1), m.group(2).strip()
            meta = tables[table]
            cols = [f["name"] for f in meta["schema"]["fields"]]
            if body.lower().startswith("values"):
                rows = spark.sql(
                    f"SELECT * FROM ({body}) AS __kf_new"
                    f"({', '.join(cols)})"
                )
            else:  # insert-select: the select may read ws tables too
                rows = spark.sql(
                    translate(_ws_view_rewrite(spark, ws, body))
                )
                if len(rows.columns) != len(cols):
                    raise ArgsError(
                        f"kerf-SQL insert into {table!r}: select "
                        f"yields {len(rows.columns)} columns, table "
                        f"has {len(cols)}"
                    )
                rows = rows.toDF(*cols)  # SQL insert maps by POSITION
            ws.append(table, rows)
            return ws.load(table)
        return None
    if head == "upsert":
        m = _WS_UPSERT_RE.match(q)
        if m and m.group(1) in tables:
            table, keys, body = m.group(1), m.group(2), m.group(3)
            keys = [k.strip() for k in keys.split(",")]
            meta = tables[table]
            dkey = meta.get("key")
            if dkey and list(keys) != list(dkey):
                raise ArgsError(
                    f"kerf-SQL upsert on workspace table {table!r}: "
                    f"on-keys {keys} disagree with the declared key "
                    f"{dkey}"
                )
            cols = [f["name"] for f in meta["schema"]["fields"]]
            new_rows = spark.sql(
                f"SELECT * FROM ({body}) AS __kf_new({', '.join(cols)})"
            )
            ws.upsert(table, new_rows, keys)
            return ws.load(table)
        return None
    return None


_NO_PUSH = re.compile(
    r"(?i)\b(?:select|over|fby)\b|\b(?:"
    + "|".join(_ALL_VERBS)
    + r")\s*\("
)
_CONST = (
    r"[-+]?\d+(?:\.\d*)?(?:[eE][-+]?\d+)?[LlSsYyDd]?"
    r"|(?:(?:timestamp|timestamp_ntz|timestamp_ltz|date)\s*)?'[^'\\]*'"
)


def _split_and(where: str) -> list[str]:
    """The top-level AND conjuncts of ``where``.  An AND inside parens,
    a string literal, a backtick-quoted name, a CASE ... END or a
    BETWEEN's bounds stays in its conjunct."""
    mask = re.sub(
        r"`[^`]*`", lambda q: "`" + " " * (len(q.group()) - 2) + "`",
        _mask_quoted(where),
    )
    parts, start, depth, case, between = [], 0, 0, 0, 0
    for m in re.finditer(r"(?i)\b(?:between|and|case|end)\b|[()]", mask):
        tok = m.group().lower()
        if tok in ("(", ")"):
            depth += 1 if tok == "(" else -1
        elif depth:
            continue
        elif tok in ("case", "end"):
            case += 1 if tok == "case" else -1
        elif case:
            continue
        elif tok == "between":
            between += 1
        elif between:
            between -= 1  # the AND of `x between lo and hi`
        else:
            parts.append(where[start:m.start()].strip())
            start = m.end()
    parts.append(where[start:].strip())
    return parts


def _upper_bound(conj: str, on: str) -> tuple[str, str] | None:
    """``(op, X)`` when ``conj`` is ``on < X``, ``on <= X`` or ``on
    between ... and X`` with a literal ``X``."""
    c = conj.strip()
    # drop parens that wrap the whole conjunct (not `(a) or (b)`)
    while c[:1] == "(" and c[-1:] == ")" and 0 not in accumulate(
        (ch == "(") - (ch == ")") for ch in _mask_quoted(c)[:-1]
    ):
        c = c[1:-1].strip()
    name = rf"(?:`{re.escape(on)}`|{re.escape(on)})"
    m = re.fullmatch(rf"(?is){name}\s*(<=|<)\s*({_CONST})", c)
    if m:
        return m.group(1), m.group(2)
    m = re.fullmatch(rf"(?is){name}\s+between\s+.+?\s+and\s+({_CONST})", c)
    return ("<=", m.group(1)) if m else None


def _push_asof_where(
    left: DataFrame, right: DataFrame, keys: list[str], where: str | None
) -> tuple[DataFrame, DataFrame]:
    """Filter the two sides of a kerf-SQL (backward) as-of join on
    ``keys`` (equi keys, then the time key) with what the statement's
    WHERE allows before the join.

    * A top-level AND conjunct that names no right column, is
      deterministic and holds no aggregate, window, kerf verb, ``fby``,
      subquery or ``*`` filters the left table.  A left row's match
      depends only on its own ``by``/``on`` values and the right rows,
      so dropping other left rows changes no match.  A bare name always
      means the left column: colliding right columns come out of the
      join as ``<c>_r``.
    * A pushed ``on < X``, ``on <= X`` or ``on between ... and X`` with
      a literal ``X`` also filters the right table to ``on <op> X or on
      is null`` when both ``on`` types are equal: no kept left row can
      match a later right row.  NULL-``on`` right rows sort first and
      can match, so they stay.
    * A conjunct on a right column never moves: it changes which right
      row is the latest.

    The full WHERE still applies to the joined view; these filters
    only add.  Right columns are told by name, not by trying the
    conjunct on the left table: a failed resolution costs a logged
    Spark error per statement."""
    if not where or re.search(r"\"|--|/\*", _mask_quoted(where)):
        return left, right
    on, lcols = keys[-1], set(left.columns)
    rnames = {
        (c + "_r" if c in lcols else c).lower()
        for c in right.columns
        if c not in keys
    }
    bounds = []
    for conj in _split_and(where):
        mask = _mask_quoted(conj)
        names = {
            (a or b).lower()
            for a, b in re.findall(r"`([^`]*)`|\b([A-Za-z_]\w*)", mask)
        }
        if (
            not conj
            or names & rnames
            or _NO_PUSH.search(mask)
            or re.search(r"[(,.]\s*\*", mask)  # a star names every column
        ):
            continue
        try:
            pushed = left.where(conj)
        except AnalysisException:
            continue  # not a row predicate: the full WHERE reports it
        if pushed._jdf.queryExecution().analyzed().condition().deterministic():
            left = pushed
            bounds.append(_upper_bound(conj, on))
    bounds = [b for b in bounds if b]
    if bounds and dict(left.dtypes).get(on) == dict(right.dtypes).get(on):
        for op, x in bounds:
            right = right.where(f"`{on}` {op} {x} OR `{on}` IS NULL")
    return left, right


def kerf_sql(
    spark: SparkSession, q: str, workspace=None
) -> DataFrame:
    """Execute a kerf-SQL string against registered temp views.

    ``upsert into t on keys values (...)`` (lexer.h:103 declares the
    keyword) resolves here rather than in :func:`translate` because the
    merge needs the target's column names from the catalog: new rows win
    per key, old rows survive only when their key is untouched — the
    kerf keyed-table upsert contract.

    With ``workspace=`` (a :class:`~kerf_spark.sources.catalog
    .Workspace`), kerf-SQL text is a COMPLETE catalog surface:

    * reads — ``from``/``join`` tokens naming workspace tables
      resolve through hashed temp views of their current contents
      (no manual registration; session views with the same name are
      never clobbered);
    * keyed DML routes through the PRUNED write paths:
      ``delete from t where k in (…)`` / ``where k between a and b``
      hit ``delete_keys``/``delete_range`` (O(covering files),
      interior files unlink with zero reads) and ``upsert into t on
      k values …`` hits the key-pruned ``upsert``;
    * arbitrary-predicate ``delete`` and ``update … set … where …``
      run as the FULL staged rewrite (load → transform → re-save in
      the declared layout, key constraints re-enforced) — correct
      always, pruned when key-addressed;
    * ``insert into t values (…)`` / ``insert into t select …``
      append through the catalog (schema promotion, sort-index
      maintenance, monotone fast path).

    Writes MUTATE the workspace and return the post-write table.

    TRANSACTIONS (r11 verdict next #6 — the SQL surface for
    :meth:`Workspace.transaction`, the all-or-nothing discipline
    kerf1's workspace save/load model implies, file.h:34-36): a
    statement BATCH of the form ``begin; <stmt>; ...; commit`` runs
    every body statement inside one workspace transaction — any
    failure rolls back every table the batch touched (and the commit
    publishes all staged versions under ONE manifest epoch, so
    readers see the batch's tables flip together).  A batch ending in
    ``rollback`` instead of ``commit`` undoes the body
    unconditionally (returns None).  Requires ``workspace=``.
    """
    q = q.strip().rstrip(";")
    # the head must survive `begin;delete …` (no space after the
    # separator) — a whitespace split would glue the separator on
    # (ADVICE r12 low), so take the leading word-run directly
    _m = re.match(r"\s*(\w+)", q)
    head = _m.group(1).lower() if _m else ""
    if head == "begin":
        from .kerf_lang import split_statements

        if workspace is None:
            raise ArgsError(
                "kerf-SQL begin/commit needs a workspace= — "
                "transactions are a catalog discipline"
            )
        # ';'-only split: a transaction batch is SQL, where newlines
        # are whitespace — splitting on them would fragment a
        # normally-formatted multi-line statement (ADVICE r12 low)
        parts = [s for s in split_statements(q, seps=";") if s.strip()]
        if parts[0].strip().lower() != "begin":
            raise ParseError(f"malformed transaction batch: {q!r}")
        tail = parts[-1].strip().lower()
        if tail not in ("commit", "rollback"):
            raise ParseIncompleteError(
                "kerf-SQL transaction must end with `commit` or "
                "`rollback`"
            )
        body = parts[1:-1]
        for s in body:
            h = s.strip().split(None, 1)[0].lower()
            if h in ("begin", "commit", "rollback"):
                raise ParseError(
                    f"nested/stray {h!r} inside transaction batch"
                )
        if tail == "rollback":
            class _Rollback(Exception):
                pass

            try:
                with workspace.transaction():
                    for s in body:
                        kerf_sql(spark, s, workspace=workspace)
                    raise _Rollback()
            except _Rollback:
                pass
            return None
        ret = None
        with workspace.transaction():
            for s in body:
                ret = kerf_sql(spark, s, workspace=workspace)
        return ret
    if workspace is not None:
        routed = _route_workspace_write(spark, workspace, q, head)
        if routed is not None:
            return routed
        # reads: every from/join token naming a workspace table
        # resolves through a hashed temp view of its current contents
        # — `select last(price) by sym from ticks` works against the
        # catalog directly, and a session view sharing a table's name
        # is never clobbered
        q = _ws_view_rewrite(spark, workspace, q)

    def _resolve_via_view(joined, prefix, tag_parts, span):
        # deterministic name (md5, not seed-randomized hash()); the
        # view exists only while spark.sql resolves the plan, then
        # drops — no catalog residue per invocation
        import hashlib

        tag = hashlib.md5("|".join(tag_parts).encode()).hexdigest()[:12]
        view = f"__kf_{prefix}_{tag}"
        joined.createOrReplaceTempView(view)
        try:
            return spark.sql(
                translate(q[: span[0]] + f"from {view}" + q[span[1]:])
            )
        finally:
            spark.catalog.dropTempView(view)

    def _signed_span(tok: str) -> int:
        tok = tok.strip()
        neg = tok.startswith("-")
        try:
            ns = _span_to_ns(tok[1:] if neg else tok)
        except ValueError:
            raise ArgsError(
                f"window join span must be an integer or span literal "
                f"('1h', '30s', '250ms'), got {tok!r}"
            ) from None
        return -ns if neg else ns

    m = re.search(
        r"(?is)\bfrom\s+(\w+)\s+asof\s+join\s+(\w+)\s+on\s+"
        r"([\w\s,]+?)(?=\s+(?:where|order|limit)\b|\s*$)",
        q,
    )
    if m and head == "select":
        # kerf/kdb aj convention: the LAST on-column is the ordering
        # (temporal) key, the rest are equi keys.  The as-of resolves
        # through operators.asof.asof_join (union-tag single-shuffle
        # plan — Spark SQL itself has no ASOF JOIN), and the rest of
        # the statement runs against the joined view.
        from ..operators.asof import asof_join

        lt, rt, onlist = m.group(1), m.group(2), m.group(3)
        keys = [k.strip() for k in onlist.split(",") if k.strip()]
        if len(keys) < 1:
            raise ParseError("asof join needs at least an ordering column")
        rest = q[m.end():]
        for kw in ("limit", "order\\s+by", "qualify", "having"):
            rest = _split_clause(rest, kw)[0]
        left, right = _push_asof_where(
            spark.table(lt), spark.table(rt), keys,
            _split_clause(rest, "where")[1],
        )
        joined = asof_join(left, right, on=keys[-1], by=keys[:-1])
        return _resolve_via_view(joined, "asof", [lt, rt, *keys], m.span())

    m = re.search(
        r"(?is)\bfrom\s+(\w+)\s+window\s+join\s+(\w+)\s+on\s+"
        r"([\w\s,]+?)\s+within\s+(-?\S+)\s+(-?[^\s;]+)"
        r"(?=\s+(?:where|order|limit)\b|\s*$)",
        q,
    )
    if m and head == "select":
        # kerf window join (wj): all right rows within [lo, hi] of each
        # left row's time, per equi keys — spans accept kerf span
        # literals ('1h', '30s') with an optional sign.  Resolves
        # through operators.asof.window_join on its bucketed path
        # (equi-join on span buckets + residual, never a nested loop).
        from ..operators.asof import window_join

        lt, rt, onlist = m.group(1), m.group(2), m.group(3)
        lo, hi = _signed_span(m.group(4)), _signed_span(m.group(5))
        if hi < lo:
            raise ArgsError(f"window join bounds out of order: {lo} > {hi}")
        keys = [k.strip() for k in onlist.split(",") if k.strip()]
        joined = window_join(
            spark.table(lt),
            spark.table(rt),
            on=keys[-1],
            lo_ns=lo,
            hi_ns=hi,
            by=keys[:-1],
            bucket_ns=max(hi - lo, 1),
        )
        return _resolve_via_view(
            joined, "wj", [lt, rt, str(lo), str(hi), *keys], m.span()
        )

    if re.search(r"(?i)\b(asof|window)\s+join\b", q) and head == "select":
        # the text names a temporal join but didn't parse — say what
        # the statement needs instead of bouncing the user between
        # translate() and kerf_sql()
        raise ParseError(
            "malformed asof/window join: expected "
            "'from <t> asof join <q> on <keys..., tscol>' or "
            "'from <t> window join <q> on <keys..., tscol> "
            "within <lo> <hi>' (signed span literals)"
        )
    if head == "upsert":
        m = re.match(
            r"(?is)^\s*upsert\s+into\s+(\w+)\s+on\s+([\w\s,]+?)\s+(values\s+.*?)\s*;?\s*$",
            q,
        )
        if not m:
            raise ParseError(f"cannot parse kerf-SQL upsert: {q!r}")
        table, keys, body = m.group(1), m.group(2), m.group(3).strip()
        keys = [k.strip() for k in keys.split(",")]
        cols = spark.table(table).columns
        new_rows = spark.sql(
            f"SELECT * FROM ({body}) AS __kf_new({', '.join(cols)})"
        )
        from ..operators.relational import upsert as upsert_rows

        return upsert_rows(spark.table(table), new_rows, keys)
    return spark.sql(translate(q))
