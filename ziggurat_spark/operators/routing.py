"""Outcome routing — the heart of the reference's dataflow (R1/R2/R5).

The reference's mapper dispatches on the handler's return keyword:
:success / :retry / :skip / :dead-letter / channel-keyword
(mapper.clj:28-69, case at 55-65); a Throwable is treated as :retry.
Retries carry their counter in the message and decrement per hop;
at zero the message moves to the dead set (producer.clj:288-293).

Spark-first re-expression: the handler produces an ``outcome``
column; routing is then N filtered writes of ONE cached micro-batch
(no per-record branching, no Python in the hot path unless the
handler itself is Python). The retry state machine is pure column
math. At scale this is a single pass over the batch plus metadata-
only filters — Catalyst collapses ``filter(outcome = X)`` onto the
cached plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Valid handler outcomes (mapper.clj:55-65). ``:block`` is a TODO in
#: the reference and intentionally unsupported here too.
VALID_OUTCOMES = ("success", "retry", "skip", "dead-letter")


def outcome_expr(value: Column) -> Column:
    """Demo dispatch rule used by fixtures/tests: thresholds on a
    numeric payload. Real routes supply their own handler; this is
    the column-logic shape every handler compiles down to."""
    return (
        F.when(value < 10.0, "retry")
        .when(value < 20.0, "skip")
        .when(value < 30.0, "dead-letter")
        .otherwise("success")
    )


def retry_step_exprs(attempt: Column, max_retries: int) -> tuple[Column, Column]:
    """One hop of the retry state machine (producer.clj:288-293).

    ``attempt`` = retries remaining, where the reference encodes
    "never retried yet" as nil/0-sentinel. Returns
    ``(next_attempt, to_dead_set)``:

    - fresh failure (attempt % cycle == 0 sentinel or NULL) →
      start at ``max_retries`` remaining;
    - otherwise decrement;
    - hitting zero routes to the dead set with the counter reset.
    """
    fresh = attempt.isNull() | (attempt == 0)
    next_attempt = F.when(fresh, F.lit(max_retries)).otherwise(attempt - 1)
    to_dead_set = F.coalesce(attempt == 0, F.lit(False))
    return next_attempt.cast("int"), to_dead_set
