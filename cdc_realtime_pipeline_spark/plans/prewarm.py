"""Untimed session-memo prewarm (VERDICT r9 #3).

Session memos (``@memo`` in ``session.py``) are built lazily by their
FIRST consumer, so a timed sweep that runs queries in
registry/alphabetical order silently charges each memo's build cost to
whichever consumer happens to sort first — ``corpus_softdedup_weights``
read 13.5 s in BENCH_r09 because alphabetical order made it the
CC-labels builder, a number that would shift if any earlier-sorting
consumer landed.

``prewarm_memos`` materializes every memo slot explicitly, so callers
(bench.py) can pay the build cost in an untimed pass — the ``_calib()``
discipline applied to memos. Per-query timed lines then measure
steady-state consumption regardless of execution order, and the build
cost is priced separately in the artifact (``memo_prewarm_sec``).

The slot list IS the set of ``@memo`` declarations, read from the
session layer after the query registry has imported every operator
module; declaration order puts each memo after the memos it builds on
(neardup_candidates after neardup_shingles/neardup_docs, opq_adc_all
after opq_xr/opq_bd_all), so each slot's own build cost is visible.

FROZEN as of round 14 (VERDICT r13 #1 accounting contract): the slot
set is the cross-round comparison basis. Adding a slot moves work from
the timed region into the untimed prewarm, which inflates the headline
without removing work — any addition therefore requires a recorded
justification in BENCH_NOTES.md §Round 14 and fails
tests/test_round14_opt.py until the frozen list there is updated in
the same change. bench.py emits ``headline_plus_prewarm_sec`` so the
all-in figure travels on every line.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from cdc_realtime_pipeline_spark.session import MEMO_SLOTS


def _slots():
    # the registry imports every operator module, which runs their
    # @memo declarations
    import cdc_realtime_pipeline_spark.plans.registry  # noqa: F401

    return dict(MEMO_SLOTS)


def prewarm_memos(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Materialize every session memo for ``sf_dir``; returns the
    per-slot build seconds (a slot already warm reads ~0)."""
    out: dict[str, float] = {}
    for slot, fn in _slots().items():
        t0 = time.time()
        value = fn(spark, sf_dir)
        if isinstance(value, DataFrame):  # scalar memos are built by the call
            value.count()
        out[slot] = round(time.time() - t0, 3)
    return out


def known_slots() -> set[str]:
    return set(_slots())
