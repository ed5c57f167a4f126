"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.8 Spark mapping): running account balances from the
transaction stream — the kind of per-key state machine the reference
delegates to the warehouse.

State: (balance, n_txns) per account; timeout-based eviction keeps the
state store bounded (the streaming-state-growth risk in SURVEY.md §7)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("account_id", T.LongType(), False),
        T.StructField("balance_delta", T.DoubleType(), True),
        T.StructField("running_balance", T.DoubleType(), True),
        T.StructField("n_txns", T.LongType(), True),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("balance", T.DoubleType(), True),
        T.StructField("n_txns", T.LongType(), True),
    ]
)


STATE_TTL_MS = 24 * 3600 * 1000  # evict accounts idle for a day


def _make_update(ttl_ms):
    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # TTL eviction (SURVEY §7 streaming-state-growth mitigation): an
        # account silent past the timeout drops its state; a later txn
        # restarts the balance from a clean slate (the durable store holds
        # the authoritative history).
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        balance, n = state.get if state.exists else (0.0, 0)
        delta = 0.0
        rows = 0
        for pdf in pdfs:
            if len(pdf):
                sign = (pdf["txn_type"] == "DEPOSIT").map({True: 1.0, False: -1.0})
                delta += float((sign * pdf["amount"]).sum())
                rows += len(pdf)
        balance += delta
        n += rows
        state.update((balance, n))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "account_id": [key[0]],
                "balance_delta": [delta],
                "running_balance": [balance],
                "n_txns": [n],
            }
        )

    return _update


def running_balances(txns: DataFrame, ttl_ms: int | None = STATE_TTL_MS) -> DataFrame:
    """Per-micro-batch running balance per account with processing-time
    state TTL. Input columns: account_id long, txn_type string,
    amount double.

    ``ttl_ms=None`` disables eviction (``NoTimeout``). Production keeps
    the TTL; a ProcessingTimeTimeout query does NOT self-terminate under
    ``trigger(availableNow=True)`` — it stays up waiting to fire
    timeouts — so bounded runs (tests, backfills) pass ``ttl_ms=None``
    or poll-then-``stop()`` the query."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return txns.groupBy("account_id").applyInPandasWithState(
        _make_update(ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
