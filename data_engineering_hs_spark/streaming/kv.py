"""Key-value state operators (SURVEY.md §2.1 S26 — Redis analog).

The reference uses Redis for point GET/SET, atomic INCR counters, and
TTL'd keys (lab04-mini-lab-databases/coffee_shop/main.ipynb:50,73-74,
96-106). Engine mapping:

- point lookup → broadcast-join against a dimension (batch), covered
  by operators.relational.broadcast_left_join;
- atomic counters → stateful streaming groupBy count, or, for custom
  TTL semantics, applyInPandasWithState with a processing-time
  timeout (the documented divergence: Redis TTL is wall-clock per
  key; state timeout is per-group and resets on update — see
  SURVEY.md §7 risk register);
- TTL filter (batch) → filter(now < expiry), ttl_filter below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

COUNTER_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("count", T.LongType(), False),
    ]
)
COUNTER_STATE_SCHEMA = T.StructType([T.StructField("count", T.LongType())])


def ttl_filter(df: DataFrame, expiry_col: str) -> DataFrame:
    """Batch TTL: keep unexpired rows (SET ex= analog at read time)."""
    return df.filter(F.col(expiry_col) > F.current_timestamp())


def stateful_counter(
    keyed: DataFrame,
    key_col: str = "key",
    ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming INCR with optional TTL: per-key running count kept in
    state; with ttl_ms set, a key idle past the TTL expires and its
    count resets (Redis `INCR` + `EXPIRE` approximation)."""

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        n = sum(len(pdf) for pdf in pdfs)
        prev = state.get[0] if state.exists else 0
        total = prev + n
        state.update((total,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({"key": [key[0]], "count": [total]})

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy(F.col(key_col).alias("key")).applyInPandasWithState(
        update,
        outputStructType=COUNTER_SCHEMA,
        stateStructType=COUNTER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
