"""Dump query plans to plans/<tag>/.

Usage: python tools/plan_dump.py [--logical] <tag-dir-suffix> [name ...]
e.g.   python tools/plan_dump.py r13/before rolling_window_stats
       python tools/plan_dump.py --logical asof tests/test_asof_plans.py

A name is a bench query, or a ``.py`` file whose ``PLAN_CASES``
mapping (case name -> callable(spark) -> DataFrame) supplies one plan
per case.  Writes plans/<tag>/<name>.txt (the caller renames to
_before/_after by choosing the tag).

Without ``--logical`` the file holds ``explain('formatted')``.  With it,
the file holds the optimized logical plan with ``#<n>`` expression ids
stripped (:func:`logical_plan`): the form that stays byte-identical
across sessions and core counts, so it can serve as a checked-in golden
and be refreshed by re-running the same command.

Uses the same session bootstrap as bench.py so the plans match what
the bench executes.  Folio/server-backed queries produce the plan of
the final gathered DataFrame — the member-side statements are separate
Spark jobs inside the timed region and are profiled with
``python bench.py --only <query>`` instead.
"""

from __future__ import annotations

import importlib.util
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def logical_plan(df) -> str:
    """``df``'s optimized logical plan, expression ids stripped."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+", "", plan)


def _cases(names: list[str], spark, sf_dir: str) -> list[tuple[str, object]]:
    out = []
    for name in names:
        if name.endswith(".py"):
            spec = importlib.util.spec_from_file_location("_plan_cases", name)
            mod = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(mod)
            out += [(case, fn(spark)) for case, fn in mod.PLAN_CASES.items()]
        else:
            from kerf_spark.queries import _BENCH_ONLY, QUERIES

            fn = QUERIES.get(name) or _BENCH_ONLY[name]
            out.append((name, fn(spark, sf_dir)))
    return out


def main() -> None:
    args = sys.argv[1:]
    logical = "--logical" in args
    if logical:
        args.remove("--logical")
    tag, names = args[0], args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from kerf_spark.session import get_spark

    spark = get_spark(
        "kerf_spark_plan_dump",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    out_dir = os.path.join(
        ROOT, "plans", os.path.dirname(tag) if "/" in tag else tag,
    )
    suffix = os.path.basename(tag) if "/" in tag else ""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in _cases(names, spark, sf_dir):
        if logical:
            plan = logical_plan(df)
        else:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        fname = f"{name}_{suffix}.txt" if suffix else f"{name}.txt"
        with open(os.path.join(out_dir, fname), "w") as fh:
            fh.write(plan)
        print(f"wrote {os.path.join(out_dir, fname)}")
    spark.stop()


if __name__ == "__main__":
    main()
