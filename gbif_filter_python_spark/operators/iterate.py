"""The convergence probe of iterative operators.

An iterative operator truncates its lineage every round with an eager
``localCheckpoint`` and then needs a scalar or two about the round it
just materialized: how many labels changed, how many edges survived,
how much rank sits on dangling nodes. Asking with ``count()``,
``isEmpty()`` or ``agg().collect()`` on the checkpointed frame costs
one more Spark job per round, and at small scale a round is bound by
per-job overhead, not by data. :func:`observed_checkpoint` attaches an
``Observation`` to the frame, so the aggregates ride the checkpoint's
own job.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation


def observed_checkpoint(
    df: DataFrame, *aggs: Column
) -> tuple[DataFrame, dict[str, Any]]:
    """``df`` eagerly local-checkpointed, and the named aggregates
    ``aggs`` over its rows, computed on the checkpoint's job.

    Each call attaches a fresh ``Observation``, so one frame can be
    checkpointed twice. The metrics are those of a global aggregate:
    on a frame with no rows, ``count`` is 0 and ``sum``/``min`` are
    None.
    """
    obs = Observation()
    out = df.observe(obs, *aggs).localCheckpoint(eager=True)
    return out, obs.get
