"""``tools/sweep_skew.row_status``: the status of one swept op from the
filtered stage rows it ran."""

from __future__ import annotations

import pytest

from tools.sweep_skew import row_status


def _stage(ratio):
    return {"stage": 1, "tasks": 8, "median_ms": 100.0,
            "max_ms": 100.0 * ratio, "ratio": ratio}


MISSING = {"stage": 2, "tasks": 8, "ratio": None, "summary_error": True}


@pytest.mark.parametrize(
    "stages, expect_skew, want",
    [
        # no stage passed the filter: nothing was measured
        ([], False, ("unmeasured", None)),
        ([], True, ("unmeasured", None)),
        # a qualifying stage without a task summary
        ([_stage(1.5), MISSING], False, ("unknown", 1.5)),
        # measured and in bar
        ([_stage(1.5), _stage(7.9)], False, ("ok", 7.9)),
        # above the bar: skewed, even next to a missing summary
        ([_stage(12.0), MISSING], False, ("skewed", 12.0)),
        # an op expected to straggle stays ok above the bar
        ([_stage(12.0)], True, ("ok", 12.0)),
    ],
)
def test_row_status(stages, expect_skew, want):
    assert row_status(stages, 8.0, expect_skew) == want
