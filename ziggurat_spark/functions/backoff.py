"""Retry backoff math as pure Column expressions.

Re-expresses the reference's delay computation
(messaging/producer.clj:175-224):

- linear: a fixed ``queue-timeout-ms`` per hop (config.clj:40,
  default 5000 ms).
- exponential: ``((2^n) - 1) * timeout_ms`` where
  ``n = max(1, min(25, retry_count) - message_retry_count)`` and 25 is
  ``MAX_EXPONENTIAL_RETRIES`` (producer.clj:20, formula at :204).

Because these are Column expressions (not UDFs) they run inside
whole-stage codegen and work identically in batch and streaming
plans. At 100 TB the backoff computation is free — it never forces a
shuffle or leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_EXPONENTIAL_RETRIES = 25
DEFAULT_QUEUE_TIMEOUT_MS = 5000
DEFAULT_RETRY_COUNT = 5


def backoff_ms_expr(
    message_retry_count: Column,
    retry_count: int = DEFAULT_RETRY_COUNT,
    timeout_ms: int = DEFAULT_QUEUE_TIMEOUT_MS,
    exponential: bool = False,
) -> Column:
    """Backoff in milliseconds given ``message_retry_count`` =
    retries REMAINING for the message (the reference computes
    ``n = min(25, retry-count) - remaining``, producer.clj:204 with
    mapper.clj:18-26's remaining-count payload — so the delay GROWS
    as the countdown runs down; the first hop has remaining =
    max-1 → n=1). Passing consumed-so-far instead would invert the
    schedule."""
    if not exponential:
        return F.lit(float(timeout_ms))
    n = F.greatest(
        F.lit(1),
        F.least(F.lit(MAX_EXPONENTIAL_RETRIES), F.lit(retry_count))
        - message_retry_count,
    )
    return (F.pow(F.lit(2), n) - F.lit(1)) * F.lit(timeout_ms)
