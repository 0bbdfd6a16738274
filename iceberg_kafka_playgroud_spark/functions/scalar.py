"""Scalar expression helpers (SURVEY §2.7).

Everything here is a thin composition of built-in ``pyspark.sql.functions``
so it stays JVM-side inside whole-stage codegen — no Python UDFs.

The ``money*`` helpers exist for oracle parity at any scale: summing
IEEE doubles is association-order-dependent, so a 32-partition Spark sum
and a single-threaded DuckDB sum of the same column can differ in the
last few ulps — and differ run-to-run under AQE. Routing money math
through DECIMAL makes the aggregation exact and therefore deterministic
and engine-independent; the final cast back to DOUBLE is then a single
well-defined conversion. At 100 TB this is also the correct posture:
decimal aggregation is codegen'd and exact regardless of partition
count.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Enough integer digits for 100 TB-scale sums, exact at cent precision.
MONEY = "decimal(18,2)"


def money(col: Column | str) -> Column:
    """Exact cent-precision view of a double money column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def strip_confluent_header(value: Column) -> Column:
    """Drop the 5-byte Confluent wire-format prefix (magic byte 0x0 +
    4-byte schema id) from a Kafka message value, leaving the raw Avro
    body for ``from_avro`` (reference serializer: kafka_publisher.py:358-362).

    ``substring`` clamps the length to the input, so Int.MaxValue means
    "through the end" without a second length() scan of the blob.
    """
    return F.substring(value, 6, 2147483647)


def confluent_header(schema_id: Column | int) -> Column:
    """Build the 5-byte Confluent wire-format prefix for a schema id:
    magic byte 0x00 + big-endian int32 schema id (the framing the
    reference's AvroSerializer emits, kafka_publisher.py:144-148,358-362).

    Built as hex→unhex so it stays legal under ANSI mode (which
    forbids a direct int→binary cast): lpad(hex(id), 8) is exactly the
    big-endian 4-byte encoding.
    """
    sid = F.lit(schema_id) if isinstance(schema_id, int) else schema_id
    return F.unhex(F.concat(F.lit("00"), F.lpad(F.hex(sid.cast("int")), 8, "0")))
