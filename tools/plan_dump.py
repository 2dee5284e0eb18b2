"""Dump ``explain('formatted')`` for bench queries to plans/<tag>/.

Usage: python tools/plan_dump.py <tag-dir-suffix> [query ...]
e.g.   python tools/plan_dump.py r13/before rolling_window_stats

Writes plans/<tag>/<query>.txt (the caller renames to _before/_after
by choosing the tag).  Uses the same session bootstrap as bench.py so
the plans match what the bench executes.  Folio/server-backed queries
produce the plan of the final gathered DataFrame — the member-side
statements are separate Spark jobs inside the timed region and are
profiled with ``python bench.py --only <query>`` instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from kerf_spark.queries import _BENCH_ONLY, QUERIES
    from kerf_spark.session import get_spark

    spark = get_spark(
        "kerf_spark_plan_dump",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.path.dirname(tag) if "/" in tag else tag,
    )
    suffix = os.path.basename(tag) if "/" in tag else ""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn = QUERIES.get(name) or _BENCH_ONLY[name]
        df = fn(spark, sf_dir)
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
