"""Outbox pattern: materialize → poll unposted → send → mark posted (T3).

Reference: functions.py:267-272 writes ``messages(replay_number, text_data,
posted=False)``; bot/botrun.py:295-309 polls ``posted IS NOT TRUE``
(null-inclusive — P4), sends to Discord, then flips ``posted = TRUE``.
Delivery is at-least-once (a crash between send and flip re-sends);
the idempotency key is ``replay_number``. All preserved here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def make_outbox(per_key_payload: DataFrame, key: str) -> DataFrame:
    """Outbox rows: key, JSON document of the whole payload row, posted=NULL.

    ``to_json(struct(*))`` is the Spark analog of ROW_TO_JSON
    (functions.py:238-240). ``posted`` starts NULL (not False) to exercise
    the reference's 3-valued-logic poll predicate.
    """
    return per_key_payload.select(
        F.col(key),
        F.to_json(F.struct(*per_key_payload.columns)).alias("text_data"),
        F.lit(None).cast("boolean").alias("posted"),
    )


def unposted(outbox: DataFrame) -> DataFrame:
    """``posted IS NOT TRUE`` — matches FALSE *and* NULL (bot/botrun.py:297).

    NOT ``col != True`` (that drops NULLs under 3-valued logic)."""
    return outbox.filter(~F.coalesce(F.col("posted"), F.lit(False)))


def drain_outbox(
    outbox: DataFrame,
    key: str,
    send: Callable[[list], None] | None = None,
    batch_size: int | None = None,
) -> DataFrame:
    """One drain tick: send unposted rows, return the updated outbox.

    At-least-once, exactly like the reference: ``send`` runs before the
    flag flip, so a failure after send and before the returned DataFrame is
    persisted re-sends. The idempotent flip is a projection that sets
    ``posted`` on the sent keys.
    ``batch_size`` caps rows per tick (the reference drains 1/min)."""
    todo = unposted(outbox)
    if batch_size is not None:
        todo = todo.orderBy(key).limit(batch_size)
    rows = todo.collect()  # the side-effecting sink is inherently driver/worker-side
    if send is not None:
        send(rows)
    sent = F.col(key).isin([r[key] for r in rows])
    return outbox.withColumn("posted", F.when(sent, True).otherwise(F.col("posted")))
