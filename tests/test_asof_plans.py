"""Plan pin for ``asof_join``: each case's optimized logical plan, with
expression ids stripped, must equal its checked-in golden under
``plans/asof/``.  Refresh the goldens after an intended plan change with

    python tools/plan_dump.py --logical asof tests/test_asof_plans.py

and review the diff."""

import os

import pytest

from kerf_spark.operators.asof import asof_join
from tools.plan_dump import logical_plan

GOLDEN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "asof"
)


def _sides(spark, lkey="STRING", rkey="STRING", rts="BIGINT"):
    # spark.range with fixed splits: a small, fixed input whose plan
    # does not depend on the core count, and that the optimizer cannot
    # fold away the way it folds projections over local rows
    left = spark.range(0, 8, 1, 2).selectExpr(
        f"CAST(id % 3 AS {lkey}) AS sym", "id * 10 AS ts",
        "id AS trade_id", "CAST(id AS DOUBLE) AS px",
    )
    right = spark.range(0, 12, 1, 2).selectExpr(
        f"CAST(id % 3 AS {rkey}) AS sym", f"CAST(id * 7 AS {rts}) AS ts",
        "CAST(id AS DOUBLE) AS bid", "id AS qseq", "CAST(id AS DOUBLE) AS px",
    )
    return left, right


PLAN_CASES = {
    "backward": lambda s: asof_join(*_sides(s), on="ts", by="sym"),
    "forward": lambda s: asof_join(*_sides(s), on="ts", by="sym", direction="forward"),
    "nearest": lambda s: asof_join(*_sides(s), on="ts", by="sym", direction="nearest"),
    "backward_tolerance": lambda s: asof_join(*_sides(s), on="ts", by="sym", tolerance_ns=15),
    "forward_tolerance": lambda s: asof_join(
        *_sides(s), on="ts", by="sym", tolerance_ns=15, direction="forward"
    ),
    "nearest_tolerance": lambda s: asof_join(
        *_sides(s), on="ts", by="sym", tolerance_ns=15, direction="nearest"
    ),
    "tiebreak": lambda s: asof_join(
        *_sides(s), on="ts", by="sym", right_cols=["bid", "qseq"], tiebreak="qseq"
    ),
    "no_by": lambda s: asof_join(*_sides(s), on="ts"),
    "mixed_key_types": lambda s: asof_join(
        *_sides(s, lkey="INT", rkey="BIGINT", rts="DOUBLE"), on="ts", by="sym"
    ),
}


@pytest.mark.parametrize("case", sorted(PLAN_CASES))
def test_asof_plan_matches_golden(spark, case):
    with open(os.path.join(GOLDEN, f"{case}.txt")) as fh:
        want = fh.read()
    assert logical_plan(PLAN_CASES[case](spark)) == want
