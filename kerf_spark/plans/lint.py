"""Plan linter: mechanical checks for the scale anti-patterns.

"Measure, don't guess" applied to plan shape: every anti-pattern here
either killed a real query in an earlier round (the 3-task
l_returnflag window behind rolling_window_stats, round 5) or is the
canonical Spark scale failure (cartesian products, row-at-a-time
Python UDFs).  `lint_plan` returns warning tags; the registry-wide
test (tests/test_plans_props.py) runs it over EVERY query with an
explicit allowlist, so a new query reintroducing one of these shapes
fails CI with the tag in the message.

Tags:

- ``cartesian-product``       CartesianProduct in the physical plan.
- ``nested-loop-join``        BroadcastNestedLoopJoin (theta-join fallback).
- ``python-row-udf``          BatchEvalPython — a row-at-a-time Python UDF
                              in the hot path (Arrow paths show as
                              ArrowEvalPython / mapInPandas instead).
- ``global-window``           a Window with an EMPTY partition spec: the
                              whole input funnels through ONE task.  For
                              bounded inputs (a per-bucket totals table,
                              a top-k result) this is fine — allowlist
                              it; for data-sized inputs use
                              windows.global_scan / chunked_moving.
- ``generator-filter-dup``    a Generate (explode) whose inferred filter
                              carries a ``lambdafunction`` body doing
                              per-element ``element_at`` re-indexing:
                              InferFiltersFromGenerate copies the WHOLE
                              interpreted generator expression into a
                              ``size(...) > 0`` filter that pushdown
                              then moves below the exchange onto the
                              scan — the generator body evaluates twice,
                              serially (the r13 leg-6 dsir/bigram
                              pathology: 16.1 s for 5k docs).  Rebuild
                              the generator over ``arrays_zip``/``slice``
                              so the per-element body is cheap.

NOT a tag: ``Exchange SinglePartition``.  It appears in every final
scalar aggregation (only partial-agg states cross it — idiomatic) —
measured over the registry it flags exactly the 1-row-result queries
and nothing else, so it carries no signal the tags above don't.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

#: A Window node in the OPTIMIZED LOGICAL plan prints only its
#: NON-EMPTY argument groups: `Window [exprs], [partitionSpec],
#: [orderSpec]` when both are present, `Window [exprs], [spec]` when
#: one is omitted, `Window [exprs]` when both are.  The one-group-
#: omitted case is ambiguous by position — but an ORDER spec always
#: carries ASC/DESC per column while a partition spec never does, so:
#: two separators -> partitioned; one separator whose group has
#: ASC/DESC -> ordered-but-UNPARTITIONED (global); one separator
#: without -> partitioned-but-unordered (fine); zero separators ->
#: neither (global).
_WINDOW_LINE = re.compile(r"Window \[.*\]$")
_ORDER_DIR = re.compile(r"\b(ASC|DESC)\b")


def _explain(df: DataFrame, mode: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _nodes(plan):
    """Every node of a JVM-side plan tree."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def _generator_filter_dup(df: DataFrame) -> bool:
    """A Filter carries the inferred ``size(<generator input>) > 0``
    wrapper and that input, with the projection aliases it reads
    (``expr AS name#id``) substituted back in the way pushdown inlines
    them, is a lambdafunction body re-indexing with element_at.  Read
    off the JVM plan's own expressions, not its printed form, whose
    lists are cut off past ``spark.sql.debug.maxToStringFields``."""
    defs, gens, conds = {}, [], []
    for node in _nodes(df._jdf.queryExecution().sparkPlan()):
        name = node.nodeName()
        if name == "Project":
            exprs = node.projectList()
            for e in (exprs.apply(i) for i in range(exprs.size())):
                if e.getClass().getSimpleName() == "Alias":
                    defs[e.toAttribute().toString()] = e.child().toString()
        elif name == "Generate":
            gens.append(node.generator().children().apply(0).toString())
        elif name == "Filter":
            conds.append(node.condition().toString())
    token = re.compile(r"\b\w+#\d+L?\b")
    for g in gens:
        for _ in range(len(defs)):
            inlined = token.sub(lambda t: defs.get(t.group(0), t.group(0)), g)
            if inlined == g:
                break
            g = inlined
        # size's second argument is legacySizeOfNull: false under ANSI
        wrapper = re.compile(re.escape(f"size({g}, ") + r"(true|false)\) > 0")
        if (
            "lambdafunction(" in g
            and "element_at(" in g
            and any(wrapper.search(c) for c in conds)
        ):
            return True
    return False


def lint_plan(df: DataFrame) -> list[str]:
    """Return the sorted list of anti-pattern tags present in ``df``'s
    plan (empty list = clean)."""
    phys = _explain(df, "formatted")
    logical = _explain(df, "extended")
    tags = set()
    if "CartesianProduct" in phys:
        tags.add("cartesian-product")
    if "BroadcastNestedLoopJoin" in phys:
        tags.add("nested-loop-join")
    if "BatchEvalPython" in phys:
        tags.add("python-row-udf")
    # the InferFiltersFromGenerate double-eval: a Filter condition
    # carries the inferred ``size(<generator input>) > 0`` wrapper, and
    # that input is a lambdafunction body re-indexing with element_at —
    # the duplicated-interpreted-generator signature (the cheap
    # arrays_zip rebuild still infers a lambdafunction filter, but
    # without the per-element element_at re-indexing; a user's own
    # element_at-lambda predicate wraps something else)
    if "Generate" in phys and _generator_filter_dup(df):
        tags.add("generator-filter-dup")
    # inspect only the optimized-logical section of the extended output
    opt = logical.split("== Optimized Logical Plan ==")[-1]
    opt = opt.split("== Physical Plan ==")[0]
    for line in opt.splitlines():
        m = _WINDOW_LINE.search(line)
        if not m:
            continue
        seps = m.group(0).count("], [")
        if seps == 0:
            tags.add("global-window")
        elif seps == 1:
            last = m.group(0).rsplit("], [", 1)[1]
            if _ORDER_DIR.search(last):
                tags.add("global-window")
    return sorted(tags)
