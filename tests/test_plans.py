"""Physical-plan assertions — the 100 TB design contract, checked in CI:
broadcasts where expected, pushdown reaching scans, no Python in hot paths,
bounded exchange counts."""

import __spark_entry__ as E
from apache_flink_essentials_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_pushed_filters,
    uses_broadcast_join,
)
from tests.conftest import SF_SMOKE


def test_q3_broadcasts_customer(spark):
    df = E.queries()["q3_shipping_priority"](spark, SF_SMOKE)
    assert uses_broadcast_join(df)


def test_q5_broadcasts_dimensions(spark):
    df = E.queries()["q5_local_supplier_volume"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3


def test_q1_filter_pushed_to_scan(spark):
    df = E.queries()["q1_pricing_summary"](spark, SF_SMOKE)
    assert has_pushed_filters(df)


def test_q1_single_aggregate_exchange(spark):
    # partial → exchange → final HashAggregate: exactly one shuffle
    df = E.queries()["q1_pricing_summary"](spark, SF_SMOKE)
    assert count_exchanges(df) == 1


def test_tumbling_window_one_exchange(spark):
    df = E.queries()["w1_tumbling_hourly"](spark, SF_SMOKE)
    assert count_exchanges(df) == 1


def test_no_python_udf_in_oracle_queries(spark):
    # design rule: oracle-checked (hot-path) queries stay JVM-side; Python
    # appears only in the explicitly stateful/stubbed operators
    offenders = []
    for name in E.oracle_sql():
        plan = formatted_plan(E.queries()[name](spark, SF_SMOKE))
        if "BatchEvalPython" in plan or "ArrowEvalPython" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_knn_broadcasts_queries(spark):
    df = E.queries()["vec_knn_bruteforce"](spark, SF_SMOKE)
    assert uses_broadcast_join(df)


def test_q1_fully_codegen(spark):
    # the whole q1 pipeline (scan→partial agg→final agg) must run inside
    # whole-stage codegen spans — no interpreted operators in the hot path
    from apache_flink_essentials_spark.plans import codegen_stage_count

    df = E.queries()["q1_pricing_summary"](spark, SF_SMOKE)
    assert codegen_stage_count(df) >= 2


def test_q4_plans_semi_join(spark):
    # EXISTS must become a semi join (no row multiplication from multiple
    # matching lineitems), with the date filter pushed to the orders scan
    df = E.queries()["q4_priority_semijoin"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert has_pushed_filters(df)


def test_q22_plans_anti_join(spark):
    # NOT EXISTS must become an anti join; the recent-orders date filter
    # shrinks the anti side before the join
    df = E.queries()["q22_dormant_customers"](spark, SF_SMOKE)
    assert "LeftAnti" in formatted_plan(df)


def test_q19_disjunction_pushed_to_scans(spark):
    # Catalyst factors the OR-of-conjunctions into per-side pushed filters
    # (brand/size → part scan, quantity → lineitem scan)
    df = E.queries()["q19_disjunctive_predicates"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert plan.count("PushedFilters: [") >= 1 and "Or(" in plan


def test_q7_broadcasts_all_dimensions(spark):
    # supplier, customer, nation ×2 all ride broadcasts: the only shuffle
    # touches the two fact tables
    df = E.queries()["q7_nation_volume"](spark, SF_SMOKE)
    assert formatted_plan(df).count("BroadcastHashJoin") >= 4


def test_text_aggregate_queries_exchange_budget(spark):
    # the derived-count queries must not re-plan their exploded-token
    # subtree per count: windows over one token table plus a broadcast
    # scalar keep each at <= 4 planned exchanges (was 6 and 9)
    from apache_flink_essentials_spark.io import load_table
    from apache_flink_essentials_spark.operators import text as X
    from apache_flink_essentials_spark.plans import count_exchanges

    # budget is defined on a FRESH plan: if an earlier test left a matching
    # relation cached, explain("formatted") embeds the InMemoryRelation's
    # build plan and its exchanges double-count
    spark.catalog.clearCache()
    docs = load_table(spark, "documents", SF_SMOKE)
    assert count_exchanges(X.tfidf_top_terms(docs, k=3)) <= 4
    assert count_exchanges(X.source_term_affinity(docs, k=5)) <= 4


def test_containment_no_cartesian_and_bounded_exchanges(spark):
    # the quadratic step must be a blocked equi-JOIN on block_cols (hash/
    # SMJ), never a cartesian; whole pipeline = one exchange per join side
    from apache_flink_essentials_spark.io import load_table
    from apache_flink_essentials_spark.operators import dedup as D
    from apache_flink_essentials_spark.plans import (
        count_exchanges,
        formatted_plan,
    )

    docs = load_table(spark, "documents", SF_SMOKE)
    df = D.containment_pairs(docs)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert count_exchanges(df) <= 2


# Single-partition WindowExec whitelist: an UNPARTITIONED window funnels
# every row through one task — acceptable ONLY above a row-bounding
# operator (aggregate / limit / top-k below it in the plan: the sort then
# runs over an aggregate-sized relation) or in the explicitly whitelisted
# cases below. A new query that silently adds a global sort over a
# data-sized relation fails this test.
_GLOBAL_WINDOW_WHITELIST = {
    # adaptive single-split path of transform.global_row_number /
    # global_prefix_sum (and the contrastive fingerprint fast path): on a
    # one-split input the plain global window IS the local sort the
    # two-phase form would produce, so these operators deliberately skip
    # the range-partitioned machinery; the smoke fixture is one split.
    # At multi-split scale the same operators plan the distributed form.
    "curation_contrastive_pairs",
    "curation_curriculum_order",
    "curation_quality_calibration",
    "curation_token_budget",
    # reference-semantics sequential constructs — the reference itself
    # pins these at parallelism 1, so a global order is the CONTRACT:
    "j4_connect_ratio",  # MultipleStreams.scala:115-116 running ratio
    "w4_count_window_10",  # GlobalWindows + CountTrigger.of(size)
}


def test_unpartitioned_windows_bounded_or_whitelisted(spark):
    from apache_flink_essentials_spark.plans import unpartitioned_windows

    offenders = {}
    seen_whitelisted = set()
    for name, fn in E.queries().items():
        ws = unpartitioned_windows(fn(spark, SF_SMOKE))
        if not ws:
            continue
        if any(not w["bounded"] for w in ws):
            if name in _GLOBAL_WINDOW_WHITELIST:
                seen_whitelisted.add(name)
            else:
                offenders[name] = ws
    assert not offenders, (
        "unpartitioned windows over unbounded relations (add a bounding "
        f"aggregate/limit or whitelist with justification): {offenders}"
    )
    stale = _GLOBAL_WINDOW_WHITELIST - seen_whitelisted
    assert not stale, f"whitelist entries no longer exercised: {stale}"


def test_walker_catches_pair_fanout_above_aggregate(spark):
    # the r11 Theil-Sen hazard class: an aggregate-BOUNDED relation is
    # re-inflated by a pair θ-join (or explode) BEFORE the global window,
    # so the "HashAggregate below" evidence is void — the walker must
    # report bounded=False. (The old walker called this bounded; the op
    # shipped a potential 38M-row single-task sort at its own parameter
    # bound.)
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from apache_flink_essentials_spark.plans import unpartitioned_windows

    m = spark.range(100).groupBy((F.col("id") % 10).alias("k")).agg(
        F.count("*").alias("n")
    )
    a = m.select(F.col("k").alias("ka"), F.col("n").alias("na"))
    b = m.select(F.col("k").alias("kb"), F.col("n").alias("nb"))
    pairs = a.join(F.broadcast(b), F.col("ka") < F.col("kb"))
    ranked = pairs.withColumn(
        "rk", F.row_number().over(Window.orderBy("ka", "kb"))
    )
    ws = unpartitioned_windows(ranked)
    assert ws and all(not w["bounded"] for w in ws), ws

    # …while the stats-attach shape (window above a join whose build
    # side is a 1-ROW global aggregate) stays bounded: factor is 1
    tot = m.agg(F.sum("n").alias("total"))
    shared = m.crossJoin(F.broadcast(tot)).withColumn(
        "rk", F.row_number().over(Window.orderBy("k"))
    )
    ws2 = unpartitioned_windows(shared)
    assert ws2 and all(w["bounded"] for w in ws2), ws2

    # explode between the aggregate and the window is likewise fanout
    ex = m.select(F.explode(F.sequence(F.lit(0), F.col("n"))).alias("x"))
    ws3 = unpartitioned_windows(
        ex.withColumn("rk", F.row_number().over(Window.orderBy("x")))
    )
    assert ws3 and all(not w["bounded"] for w in ws3), ws3
