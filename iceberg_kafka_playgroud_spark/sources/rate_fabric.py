"""Synthetic PurchaseEvent fabric (SURVEY §2.1 S5, §2.5 T3-T6).

The reference's publisher derives every field of a PurchaseEvent from
the wall clock with modulo arithmetic (``kafka_publisher.py:303-330``):
``user_id = "user_{ts % 1000}"``, ``amount = (⌊t·100⌋ % 1000)/100``,
``age = 18 + ts % 50``, a constant 4-key metadata map, and a 3-element
array of derived previous amounts.

Here the same derivations are pure Column expressions, so one
definition serves two shapes:

- a deterministic batch frame from ``spark.range`` (tests, oracles),
- a re-mapping of the driver's ``events`` fixture into PurchaseEvent
  shape (the ``purchase_event_fabric`` oracle query).

Everything is built-in expressions — JVM-side, codegen'd, valid at any
scale and in both batch and streaming plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# deterministic stand-ins for the reference's random.choice pools
# (kafka_publisher.py:318-323) — keyed off the event id so values are
# reproducible and the map stays exercised with 4 keys.
_DEVICES = ("mobile", "desktop", "tablet")
_LOCATIONS = ("US", "EU", "APAC")
_PAYMENTS = ("credit", "debit", "paypal")
_CATEGORIES = ("electronics", "books", "clothing")


def _pick(pool: tuple[str, ...], key: Column) -> Column:
    arr = F.array(*[F.lit(x) for x in pool])
    return F.element_at(arr, (key % len(pool) + 1).cast("int"))


def purchase_event_columns(id_col: Column, ts_ms: Column) -> list[Column]:
    """The full PurchaseEvent column set derived from an id + epoch-ms
    timestamp (mirrors generate_message, kafka_publisher.py:303-330)."""
    uid = id_col % 1000
    amount = (F.floor(ts_ms / 10) % 1000).cast("double") / 100.0
    prev = [
        ((F.floor(ts_ms / 10) + F.lit(k)) % 1000).cast("double") / 100.0
        for k in (1, 2, 3)
    ]
    return [
        ts_ms.cast("long").alias("timestamp"),
        F.concat(F.lit("user_"), uid.cast("string")).alias("user_id"),
        F.lit("purchase").alias("action"),
        amount.alias("amount"),
        F.struct(
            F.concat(F.lit("User "), uid.cast("string")).alias("name"),
            (F.lit(18) + id_col % 50).cast("int").alias("age"),
            F.concat(F.lit("user"), uid.cast("string"), F.lit("@example.com")).alias(
                "email"
            ),
        ).alias("user_details"),
        F.create_map(
            F.lit("device"), _pick(_DEVICES, id_col),
            F.lit("location"), _pick(_LOCATIONS, id_col + 1),
            F.lit("payment_method"), _pick(_PAYMENTS, id_col + 2),
            F.lit("category"), _pick(_CATEGORIES, id_col + 3),
        ).alias("purchase_metadata"),
        F.array(*prev).alias("previous_purchases"),
    ]


def purchase_events_batch(
    spark: SparkSession, n: int, start_ms: int = 1_740_787_200_000
) -> DataFrame:
    """Deterministic batch of n PurchaseEvents, 5 s apart (the
    reference's publish cadence, kafka_publisher.py:376). Default epoch
    = 2025-03-01T00:00:00Z per FIXTURES.md."""
    base = spark.range(n)
    ts_ms = (F.lit(start_ms) + F.col("id") * 5000).cast("long")
    return base.select(*purchase_event_columns(F.col("id"), ts_ms))
