"""Event generators — the engine's analog of the reference's custom
``SourceFunction``s (SURVEY §2.1 S4-S7, generators/Shopping.scala &
generators/Gaming.scala).

Two forms:
  * ``*_batch``: deterministic bounded replay (seeded ``rand``, time =
    base + id seconds — mirroring Shopping.scala:61 ``baseInstant.plusSeconds
    (id)``) — used for golden tests and oracle-checkable pipelines.
  * ``*_stream``: Structured Streaming ``rate`` / ``rate-micro-batch``
    source with the same column derivations — the unbounded form
    (rows-per-second ≙ 1000/sleepMillisPerEvent, Shopping.scala:128-137);
    only the shopping-cart domain has one.

Determinism rule: all "randomness" is hash-derived from the row id
(xxhash64-mod), never RNG state — replays are identical across runs,
partitionings, and engines, which is the engine's answer to the
reference's replay-stability invariant (TimeBasedTransformations.scala:52).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Shopping.scala:149 users; :151-153 random sku/quantity/user
CART_USERS = ["Bob", "Alice", "Sam", "Tom", "Diana"]
DEFAULT_BASE_INSTANT = "2024-01-01 00:00:00"


def _pick(id_col: Column, options: list[str], salt: str) -> Column:
    """Deterministic 'random' choice: hash(id, salt) mod len(options)."""
    idx = F.pmod(F.xxhash64(id_col, F.lit(salt)), F.lit(len(options)))
    expr = F.lit(options[0])
    for i, opt in enumerate(options[1:], start=1):
        expr = F.when(idx == i, F.lit(opt)).otherwise(expr)
    return expr


def _cart_columns(id_col: Column, base_instant: str, source_id: str | None, with_removed: bool) -> list[Column]:
    """Column derivations shared by batch & streaming cart generators
    (mirrors ShoppingCartEventsGenerator.generateEvents, Shopping.scala:50-62)."""
    sku_prefix = f"{source_id}_" if source_id else ""
    sku = F.concat(
        F.lit(sku_prefix + "sku-"),
        F.pmod(F.xxhash64(id_col, F.lit("sku")), F.lit(100)).cast("string"),
    )
    event_type = (
        _pick(id_col, ["add", "removed"], "etype") if with_removed else F.lit("add")
    )
    return [
        _pick(id_col, CART_USERS, "user").alias("user_id"),
        sku.alias("sku"),
        F.pmod(F.xxhash64(id_col, F.lit("qty")), F.lit(10)).cast("int").alias("quantity"),
        event_type.alias("event_type"),
        (F.lit(base_instant).cast("timestamp") + F.make_interval(secs=id_col.cast("double"))).alias("time"),
        (F.lit(source_id).cast("string")).alias("source_id"),
    ]


def shopping_cart_events_batch(
    spark: SparkSession,
    n: int,
    base_instant: str = DEFAULT_BASE_INSTANT,
    source_id: str | None = None,
    with_removed: bool = False,
) -> DataFrame:
    """Bounded replay of ShoppingCartEventsGenerator / SingleShoppingCart-
    EventsGenerator (Shopping.scala:32-113): n events, time = base + id s."""
    ids = spark.range(0, n).select(F.col("id"))
    return ids.select(*_cart_columns(F.col("id"), base_instant, source_id, with_removed))


def catalog_events_batch(
    spark: SparkSession, n: int, base_instant: str = DEFAULT_BASE_INSTANT
) -> DataFrame:
    """Bounded replay of CatalogEventsGenerator (Shopping.scala:168-182)."""
    ids = spark.range(0, n)
    return ids.select(
        _pick(F.col("id"), CART_USERS, "user").alias("user_id"),
        F.concat(
            F.lit("product-"),
            F.pmod(F.xxhash64(F.col("id"), F.lit("prod")), F.lit(50)).cast("string"),
        ).alias("product_id"),
        (F.lit(base_instant).cast("timestamp") + F.make_interval(secs=F.col("id").cast("double"))).alias("time"),
    )


def shopping_cart_events_stream(
    spark: SparkSession,
    events_per_second: int = 2,
    base_instant: str = DEFAULT_BASE_INSTANT,
    source_id: str | None = None,
    with_removed: bool = False,
    micro_batch_rows: int | None = None,
) -> DataFrame:
    """Unbounded cart-event stream ≙ SourceFunction with sleep pacing
    (Shopping.scala:128-137): rate source keyed by ``value`` with the SAME
    deterministic column derivations as the batch replay, so
    streaming ≡ batch equivalence is testable row-for-row.

    Event time = base_instant + id seconds (deterministic), NOT the rate
    source's wall-clock timestamp — mirroring the reference, where event
    time is scripted while emission is paced (Shopping.scala:61,134).

    ``micro_batch_rows``: use the ``rate-micro-batch`` source instead —
    exactly N rows per micro-batch, reproducible batch boundaries (the
    deterministic-replay twin of the wall-clock-paced form).
    """
    if micro_batch_rows is not None:
        rate = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", str(micro_batch_rows))
            .load()
        )
    else:
        rate = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", str(events_per_second))
            .load()
        )
    return rate.select(*_cart_columns(F.col("value"), base_instant, source_id, with_removed))


# --- Gaming domain: the scripted 12-event timeline --------------------------

GAMING_SERVER_START = "2022-02-02 00:00:00"

# (offset_seconds, event_type, player) — WindowFunctions.scala:24-37
GAMING_TIMELINE = [
    (2, "PlayerRegistered", "bob"),
    (2, "PlayerOnline", "bob"),
    (3, "PlayerRegistered", "sam"),
    (4, "PlayerOnline", "sam"),
    (4, "PlayerRegistered", "rob"),
    (4, "PlayerRegistered", "alice"),
    (6, "PlayerRegistered", "mary"),
    (6, "PlayerOnline", "mary"),
    (8, "PlayerRegistered", "carl"),
    (10, "PlayerOnline", "rob"),
    (10, "PlayerOnline", "alice"),
    (10, "PlayerOnline", "carl"),
]


def gaming_events(spark: SparkSession) -> DataFrame:
    """The reference's golden fixture: 12 scripted ServerEvents offset from
    serverStartTime (WindowFunctions.scala:21-37; event model
    Gaming.scala:38-52). Player UUIDs replaced by stable nicknames-as-ids
    (UUID→string mapping, SURVEY §1.4)."""
    from apache_flink_essentials_spark.schemas import SERVER_EVENT_SCHEMA
    import datetime

    base = datetime.datetime.fromisoformat(GAMING_SERVER_START)
    rows = [
        (
            base + datetime.timedelta(seconds=off),
            etype,
            f"player-{name}",
            name,
            None,
            None,
            None,
            None,
            None,
        )
        for off, etype, name in GAMING_TIMELINE
    ]
    return spark.createDataFrame(rows, SERVER_EVENT_SCHEMA)
