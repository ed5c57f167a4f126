"""Seeded, linear-time banking CDC event generator for the benchmark.

Emits the same Debezium envelopes, Kafka framing and golden maps
(``expected_current``, ``expected_versions``) as
``sources.fixtures.generate``, with the same edge cases: at-least-once
redelivery, out-of-order transactions, no-op and equal-timestamp
updates, and deletes. Unlike the fixture it interleaves customers,
accounts and transactions per tick, like the reference
``fake_generator.py`` loop, so a stream can drop one tick per file, and
every random choice is O(1) (the fixture copies the account list for
each TRANSFER counterparty, which is quadratic at benchmark scale).

Event time only moves forward across ticks for customers and accounts,
so a change image never lands in a later micro-batch than a newer image
of the same key; transactions are deliberately out of order.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

from realtime_banking_cdc_pipeline_spark.sources.fixtures import (
    BASE_MS,
    TOPIC_PREFIX,
    BankingFixture,
    FixtureEvent,
    _envelope,
)

TICK_MS = 1000
REDELIVER_EVERY = 7  # every 7th lsn is delivered twice, as in the fixture
TXNS_PER_TICK = 10
BALANCE_UPDATES_PER_TICK = 1
DELETE_EVERY = 10  # ticks per customer delete


@dataclass
class CdcLog(BankingFixture):
    """A fixture whose events are cut into ticks: ``ticks[i]`` is the
    end index (exclusive) into ``events`` of tick ``i``."""

    ticks: list[int] = field(default_factory=list)
    deleted: set[int] = field(default_factory=set)

    def tick_events(self, i: int) -> list[FixtureEvent]:
        start = self.ticks[i - 1] if i else 0
        return self.events[start : self.ticks[i]]


def generate(n_ticks: int, seed: int, updates_per_tick: int = 1) -> CdcLog:
    """One new customer (with two accounts) per tick, ``TXNS_PER_TICK``
    transactions over the accounts that exist so far, an update chain
    (email change, no-op, equal-timestamp change) on
    ``updates_per_tick`` live customers every third tick,
    ``BALANCE_UPDATES_PER_TICK`` balance changes and a delete every
    ``DELETE_EVERY`` ticks. ``updates_per_tick`` (at most 40) sets how
    update-heavy the log is."""
    if not 0 <= updates_per_tick <= 40:
        raise ValueError("updates_per_tick must be in [0, 40]")
    rng = random.Random(seed)
    log = CdcLog()
    current = log.expected_current
    versions = log.expected_versions
    lsn = 0
    txn_id = 0
    account_ids: list[int] = []
    live: list[int] = []  # customers that may still change
    live_pos: dict[int, int] = {}

    def emit(table: str, before, after, op: str, ts_ms: int) -> None:
        nonlocal lsn
        lsn += 1
        pk = (after or before)["id"]
        ev = FixtureEvent(
            topic=f"{TOPIC_PREFIX}.{table}",
            key=json.dumps({"id": pk}),
            value=_envelope(table, before, after, op, ts_ms, lsn),
            ts_ms=ts_ms,
        )
        log.events.append(ev)
        if op == "d":
            current[table].pop(pk, None)
        else:
            current[table][pk] = dict(after)
        if lsn % REDELIVER_EVERY == 0:
            log.events.append(ev)

    def retire(cid: int) -> None:
        i = live_pos.pop(cid)
        last = live.pop()
        if last != cid:
            live[i] = last
            live_pos[last] = i

    for tick in range(n_ticks):
        t = BASE_MS + tick * TICK_MS
        cid = tick + 1
        cust = {
            "id": cid,
            "first_name": f"fn{cid}",
            "last_name": f"ln{cid}",
            "email": f"user{cid}@example.com",
            "created_at": t * 1000,  # Debezium epoch-micros
        }
        emit("customers", None, cust, "c", t)
        versions["customers"][cid] = 1
        live_pos[cid] = len(live)
        live.append(cid)
        for a in range(2):
            aid = cid * 10 + a
            account_ids.append(aid)
            emit(
                "accounts",
                None,
                {
                    "id": aid,
                    "customer_id": cid,
                    "account_type": rng.choice(["SAVINGS", "CHECKING"]),
                    "balance": round(rng.uniform(10.0, 1000.0), 2),
                    "currency": "USD",
                    "created_at": (t + 10) * 1000,
                },
                "c",
                t + 10,
            )
            versions["accounts"][aid] = 1

        for _ in range(TXNS_PER_TICK):
            txn_id += 1
            aid = account_ids[rng.randrange(len(account_ids))]
            tt = rng.choice(["DEPOSIT", "WITHDRAWAL", "TRANSFER"])
            related = None
            if tt == "TRANSFER":
                related = aid
                while related == aid:
                    related = account_ids[rng.randrange(len(account_ids))]
            t_created = t + 100 + txn_id % 500
            if txn_id % 11 == 0:  # out of order: event time before prior ticks
                t_created -= 40_000
            emit(
                "transactions",
                None,
                {
                    "id": txn_id,
                    "account_id": aid,
                    "txn_type": tt,
                    "amount": round(rng.uniform(1.01, 1000.0), 2),
                    "related_account_id": related,
                    "status": "COMPLETED",
                    "created_at": t_created * 1000,
                },
                "c",
                t_created,
            )

        for u in range(updates_per_tick if tick % 3 == 2 else 0):
            cid_u = live[rng.randrange(len(live))]
            old = current["customers"][cid_u]
            upd = dict(old, email=f"user{cid_u}+{tick}.{u}@example.com")
            t_u = t + 600 + 2 * u  # chains on one customer stay ordered
            emit("customers", old, upd, "u", t_u)
            versions["customers"][cid_u] += 1
            # no-op update: same check-cols, fresh event (no new version)
            emit("customers", upd, dict(upd), "u", t_u + 1)
            # equal event time, later lsn: tiebreak determinism case
            upd2 = dict(upd, first_name=f"fn{cid_u}x{tick}.{u}")
            emit("customers", upd, upd2, "u", t_u + 1)
            versions["customers"][cid_u] += 1

        for _ in range(BALANCE_UPDATES_PER_TICK):
            aid = account_ids[rng.randrange(len(account_ids))]
            old = current["accounts"][aid]
            upd = dict(old, balance=round(old["balance"] + 50.0, 2))
            emit("accounts", old, upd, "u", t + 700)
            versions["accounts"][aid] += 1

        if tick % DELETE_EVERY == DELETE_EVERY - 1 and len(live) > 1:
            cid_d = live[rng.randrange(len(live))]
            retire(cid_d)
            log.deleted.add(cid_d)
            emit("customers", current["customers"][cid_d], None, "d", t + 900)

        log.ticks.append(len(log.events))
    return log


def frame_line(ev: FixtureEvent, ts_ms: int) -> str:
    """One Kafka-framed JSONL row as ``streaming.ingest`` reads it;
    ``ts_ms`` is the broker append time."""
    return json.dumps({"topic": ev.topic, "key": ev.key, "value": ev.value, "ts": ts_ms})
