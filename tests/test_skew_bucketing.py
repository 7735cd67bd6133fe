"""Skew utilities + bucketed-table co-located joins (SCALING.md items)."""

import logging

from pyspark.sql import functions as F

from apache_flink_essentials_spark.operators import skew as SK
from apache_flink_essentials_spark.operators.skew import (
    replicate_join_skewed,
    salted_agg,
)
from apache_flink_essentials_spark.session import GATE_LOG


def test_salted_agg_matches_plain_agg(spark, events):
    plain = {
        (r.event_type): (r.n, round(r.sv, 4))
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
        .collect()
    }
    salted = {
        (r.event_type): (r.n, round(r.sv, 4))
        for r in salted_agg(
            events,
            keys=["event_type"],
            partials={
                "n": ("sum", F.count("*")),
                "sv": ("sum", F.sum("value")),
            },
            salt_from=F.col("event_id"),
            n_salts=8,
        ).collect()
    }
    assert plain == salted


def test_replicate_join_matches_plain_join(spark, events):
    users = events.select("user_id").distinct().withColumn(
        "flag", F.col("user_id") % 2
    )
    plain = sorted(
        (r.event_id, r.flag)
        for r in events.join(users, on="user_id").select("event_id", "flag").collect()
    )
    salted = sorted(
        (r.event_id, r.flag)
        for r in replicate_join_skewed(
            events, users, "user_id", salt_from=F.col("event_id"), n_salts=4
        )
        .select("event_id", "flag")
        .collect()
    )
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark, events):
    # co-located join: both sides bucketed by the join key → SortMergeJoin
    # with ZERO Exchange (the 100 TB co-location story, SCALING.md item 4)
    from apache_flink_essentials_spark.plans import formatted_plan

    import shutil

    spark.sql("DROP TABLE IF EXISTS b_events")
    spark.sql("DROP TABLE IF EXISTS b_users")
    # a previous session's managed-table dirs survive the in-memory catalog
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_events", "b_users"):
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    events.select("event_id", "user_id", "value").write.bucketBy(
        8, "user_id"
    ).sortBy("user_id").mode("overwrite").saveAsTable("b_events")
    events.select("user_id").distinct().write.bucketBy(8, "user_id").sortBy(
        "user_id"
    ).mode("overwrite").saveAsTable("b_users")
    joined = spark.table("b_events").join(
        spark.table("b_users").hint("merge"), on="user_id"
    )
    plan = formatted_plan(joined)
    assert "SortMergeJoin" in plan
    import re

    assert not re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE), plan
    assert joined.count() == events.count()


def test_salted_agg_equals_plain_groupby(spark, events):
    from pyspark.sql import functions as F

    from apache_flink_essentials_spark.operators.skew import salted_agg

    salted = salted_agg(
        events,
        ["event_type"],
        {
            "n": ("sum", F.count(F.lit(1))),
            "mx": ("max", F.max("value")),
        },
        salt_from=F.col("event_id"),
        n_salts=8,
    ).collect()
    plain = (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    )
    assert sorted(map(tuple, salted)) == sorted(map(tuple, plain))


def test_replicate_join_skewed_equals_plain_join(spark, events):
    from pyspark.sql import functions as F

    from apache_flink_essentials_spark.operators.skew import (
        replicate_join_skewed,
    )

    dim = events.select("event_type").distinct().withColumn(
        "type_tag", F.upper(F.col("event_type"))
    )
    rep = replicate_join_skewed(
        events.select("event_id", "event_type"),
        dim,
        "event_type",
        salt_from=F.col("event_id"),
        n_salts=4,
    )
    plain = events.select("event_id", "event_type").join(dim, "event_type")
    assert rep.count() == plain.count()
    a = sorted(map(tuple, rep.select("event_id", "type_tag").collect()))
    b = sorted(map(tuple, plain.select("event_id", "type_tag").collect()))
    assert a == b


def test_hot_bucket_salted_join_evaluates_hot_aggregate_once(
    spark, monkeypatch, caplog
):
    # broadcast branch (more than SALT_MAX_INLINE_HOT hot keys): the hot-key
    # aggregate over `a` runs once, for the gating collect, and the
    # broadcast side ships the collected rows — `a` is read once more,
    # as the join side, never again for the aggregate
    monkeypatch.setattr(SK, "SALT_THRESHOLD", 2)
    monkeypatch.setattr(SK, "SALT_MAX_INLINE_HOT", 1)
    caplog.set_level(logging.INFO, logger=GATE_LOG.name)
    reads = spark.sparkContext.accumulator(0)

    def read(bucket):
        reads.add(1)
        return bucket

    counted = F.udf(read, "long").asNondeterministic()
    rows = [(i, i % 5) for i in range(60)]
    a = spark.createDataFrame(rows, "id_a long, bucket long").select(
        "id_a", counted("bucket").alias("bucket")
    )
    b = spark.createDataFrame(rows, "id_b long, bucket long")
    out = SK.hot_bucket_salted_join(a, b, "bucket")
    assert reads.value == 60
    assert out.count() == 5 * 12 * 12
    assert reads.value == 120
    assert [
        r.getMessage() for r in caplog.records if r.args[0] == "salt_join"
    ] == ["gate salt_join: rows=5 bound=1 path=broadcast"]
