"""Round-12 additions: the Theil-Sen single-bin contract and the
tightened global-window walker interplay (fanout-above-aggregate is
covered in test_plans.py::test_walker_catches_pair_fanout_above_aggregate).
"""

import datetime

import pyspark.sql.functions as F  # noqa: F401  (parity with sibling files)


def _mk_events(spark, vals):
    t0 = datetime.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (t0 + datetime.timedelta(hours=i), float(v))
            for i, v in enumerate(vals)
        ],
        "ts timestamp, value double",
    )


def test_theilsen_single_bin_yields_empty(spark):
    # n_pairs == 0 → zero rows, matching the oracle's grouped form
    from apache_flink_essentials_spark.operators import timeseries as TS

    df = _mk_events(spark, [5.0])
    assert TS.theilsen_trend(df, "ts", "value").count() == 0


def test_snapshot_diff_from_events_equals_two_window_form(spark):
    # the single-scan conditional-max_by form must emit exactly what
    # apply_changelog×2 + snapshot_diff emits, including null values,
    # one-sided users, and rows in neither side
    from apache_flink_essentials_spark.operators import cdc as C

    rows = [
        # (user, ts_s, event_id, value): u1 updated, u2 only-old (D),
        # u3 only-new (A), u4 same value (dropped), u5 null-latest (U),
        # u6 in neither side, u7 value→null transition (U)
        (1, 100, 1, 10.0), (1, 200, 3, 20.0),
        (2, 100, 5, 5.0),
        (3, 100, 2, 7.0),
        (4, 100, 7, 9.0), (4, 200, 11, 9.0),
        (5, 100, 13, 1.0), (5, 200, 15, None),
        (6, 100, 6, 4.0),
        (7, 100, 17, 2.0), (7, 200, 21, None),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts_s long, event_id long, value double"
    )
    old_pred = F.col("event_id") % 3 != 0
    new_pred = F.col("event_id") % 2 != 0
    got = C.snapshot_diff_from_events(
        ev, ["user_id"], ["ts_s", "event_id"], "value", old_pred, new_pred
    )
    old_snap = C.apply_changelog(
        ev.filter(old_pred).withColumn("op", F.lit("U")),
        ["user_id"],
        ["ts_s", "event_id"],
    ).select("user_id", "value")
    new_snap = C.apply_changelog(
        ev.filter(new_pred).withColumn("op", F.lit("U")),
        ["user_id"],
        ["ts_s", "event_id"],
    ).select("user_id", "value")
    want = C.snapshot_diff(old_snap, new_snap, ["user_id"], ["value"])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # plan shape: ONE aggregate exchange, no join, no window
    from apache_flink_essentials_spark.plans import formatted_plan

    plan = formatted_plan(got)
    assert "Join" not in plan and "Window" not in plan


def test_posting_join_keeps_per_block_semantics(spark):
    # r11 advisory: an id appearing in TWO blocks must produce per-block
    # pair rows (like the all-pairs form), not merged intersection counts
    from apache_flink_essentials_spark.operators import dedup as D

    rows = [
        (1, "en", "web", "alpha beta gamma"),
        (2, "en", "web", "alpha beta delta"),
        # doc 1 again in a second block with the same partner text
        (1, "en", "book", "alpha beta gamma"),
        (2, "en", "book", "alpha beta delta"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    posting = D.ngram_jaccard_pairs(
        docs, block_cols=["lang", "source"], threshold=0.1
    ).collect()
    allpairs = D.ngram_jaccard_pairs(
        docs, block_cols=["lang", "source"], threshold=0.0
    ).collect()
    # both forms: one (1,2) row PER block, identical jaccards
    assert sorted(map(tuple, posting)) == sorted(map(tuple, allpairs))
    assert len(posting) == 2
    # containment: same per-block contract
    cont = D.containment_pairs(
        docs, block_cols=["lang", "source"], shingle_k=2, threshold=0.1
    ).collect()
    per_pair = [r for r in cont if (r.src_id, r.dst_id) == (1, 2)]
    assert len(per_pair) == 2  # one per block


def test_ngram_max_token_df_underestimates_never_inflates(spark):
    # the df cap drops heavy-hitter tokens from the posting join only:
    # capped jaccard <= exact jaccard pair-for-pair (no false positives),
    # and a pair glued ONLY by a ubiquitous token disappears
    from apache_flink_essentials_spark.operators import dedup as D

    glue = "the " * 1  # token 'the' appears in every doc (df=4 > cap)
    rows = [
        (1, "en", "web", glue + "alpha beta gamma"),
        (2, "en", "web", glue + "alpha beta delta"),
        (3, "en", "web", glue + "zz yy xx"),
        (4, "en", "web", glue + "qq rr ss"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(
            docs, block_cols=["lang", "source"], threshold=0.01
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(
            docs,
            block_cols=["lang", "source"],
            threshold=0.01,
            max_token_df=3,
        ).collect()
    }
    # every capped pair exists in exact with jaccard >= capped
    for k, v in capped.items():
        assert k in exact and exact[k] >= v - 1e-12
    # (1,2) share alpha+beta (df=2 each, kept): still present capped
    assert (1, 2) in capped
    # (3,4) share ONLY 'the' (df=4 > 3, dropped): vanishes under the cap
    assert (3, 4) in exact and (3, 4) not in capped
    # threshold<=0 with a cap is a contract error
    import pytest as _p

    with _p.raises(ValueError):
        D.ngram_jaccard_pairs(docs, threshold=0.0, max_token_df=3)


def test_ngram_best_match_contract(spark):
    # per-doc argmax over the pair relation: O(corpus) output, highest
    # jaccard wins, ties break to the smallest partner id
    from apache_flink_essentials_spark.operators import dedup as D

    rows = [
        (1, "en", "web", "a b c d"),
        (2, "en", "web", "a b c e"),   # j(1,2)=3/5
        (3, "en", "web", "a b c d"),   # j(1,3)=1.0, j(2,3)=3/5
        (4, "en", "web", "zz yy xx"),  # no qualifying partner
        (5, "en", "web", "a b c e"),   # j(2,5)=1.0 and j(3,5)=j(1,5)=3/5
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    )
    got = {
        r["doc_id"]: (r["best_match_id"], round(r["best_jaccard"], 6))
        for r in D.ngram_jaccard_best_match(
            docs, block_cols=["lang", "source"], threshold=0.5
        ).collect()
    }
    assert got[1] == (3, 1.0)
    assert got[3] == (1, 1.0)
    assert got[2] == (5, 1.0)
    assert got[5] == (2, 1.0)
    assert 4 not in got  # below threshold everywhere → absent
    # every doc appears at most once (corpus-bounded contract)
    assert len(got) == 4


def test_knn_topk_stream_duplicate_delivery_safe(spark):
    # an at-least-once source redelivering vectors must not occupy two
    # of the k slots or evict a genuine neighbor (r11 advisory — the
    # HLL/edge-set siblings already carried this contract)
    from apache_flink_essentials_spark.streaming.replay import (
        replay_as_stream,
        run_stream_to_df,
    )
    from apache_flink_essentials_spark.streaming.stateful import (
        knn_topk_stream,
    )

    base = [(i, [float(i), 1.0]) for i in range(1, 7)]
    # redeliver the two best vectors (5, 6) in a later file
    df = spark.createDataFrame(
        base + [(6, [6.0, 1.0]), (5, [5.0, 1.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = run_stream_to_df(
        knn_topk_stream(
            replay_as_stream(df, num_files=4), [(0, [1.0, 0.0])], k=3
        ),
        output_mode="update",
    )
    rows = out.collect()
    # without dedup the redelivery batch emits [6@1, 6@2, 5@3]: vec 6
    # occupies two slots and evicts vec 4. Vec 6 is the global max from
    # the moment it arrives, so ANY rank-2+ row for it is the duplicate
    # signature; likewise vec 5 can never legitimately rank below 2.
    assert not [r for r in rows if r.vec_id == 6 and r.rank != 1]
    assert not [r for r in rows if r.vec_id == 5 and r.rank > 2]
    # the final state (monotone improvement → best emission) is 6, 5, 4
    best = {}
    for r in rows:
        if r.vec_id not in best or r.score > best[r.vec_id]:
            best[r.vec_id] = r.score
    top3 = sorted(best.items(), key=lambda t: (-t[1], t[0]))[:3]
    assert [v for v, _ in top3] == [6, 5, 4]


def test_assign_components_incremental_equals_full_recompute(spark):
    # adversarial shapes: a new edge MERGING two settled clusters, a
    # pure-new cluster, an untouched settled cluster, a settled id with
    # no prior edges, and a new id bridging settled + new
    from apache_flink_essentials_spark.operators import dedup as D

    old_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (30, 31)],
        "id_a long, id_b long",
    )
    new_edges = spark.createDataFrame(
        [
            (3, 10),    # merges cluster {1,2,3} with {10,11}
            (50, 51),   # pure-new cluster
            (52, 20),   # new id joins settled cluster {20,21}
            (52, 53),   # ...and extends it with another new id
            (99, 11),   # settled-but-unclustered? 99 is brand new
        ],
        "id_a long, id_b long",
    )
    settled = D.connected_components(old_edges, "id_a", "id_b")
    got = D.assign_components_incremental(new_edges, settled)
    want = D.connected_components(
        old_edges.unionByName(new_edges), "id_a", "id_b"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # untouched cluster {30,31} passed through unchanged
    rows = {r.node: r.component for r in got.collect()}
    assert rows[30] == 30 and rows[31] == 30
    # merge adopted the global min (1), including for old {10,11} members
    assert rows[10] == 1 and rows[11] == 1 and rows[99] == 1
    # the settled corpus was NOT re-clustered: the CC input is the
    # collapsed batch graph, not corpus-sized
    assert rows[52] == 20 and rows[53] == 20
    assert rows[50] == 50 and rows[51] == 50


def test_assign_components_incremental_non_canonical_input(spark):
    # documented outcome for a table whose reps lack self-rows: one row
    # per id; the touched rep 1 comes back as (1, 1), the untouched rep
    # 20 stays without a row
    from apache_flink_essentials_spark.operators import dedup as D

    settled = spark.createDataFrame(
        [(2, 1), (3, 1), (21, 20)], "node long, component long"
    )
    new_edges = spark.createDataFrame([(3, 10)], "id_a long, id_b long")
    got = sorted(
        map(tuple, D.assign_components_incremental(new_edges, settled).collect())
    )
    assert got == [(1, 1), (2, 1), (3, 1), (10, 1), (21, 20)]


def test_theilsen_two_bins_single_pair(spark):
    from apache_flink_essentials_spark.operators import timeseries as TS

    df = _mk_events(spark, [1.0, 4.0])
    r = TS.theilsen_trend(df, "ts", "value").collect()
    assert len(r) == 1
    assert r[0]["n_pairs"] == 1
    assert abs(r[0]["slope_micro_per_bin"] - 3_000_000.0) < 1e-6


def test_shuffle_audit_reads_real_exchange_metrics(spark):
    # Guards the py4j executed-plan traversal in scripts/profile_query.py
    # (AQE wrappers + QueryStage descent) against Spark upgrades: a
    # grouped aggregate MUST surface a shuffle exchange with non-zero
    # shuffleBytesWritten, and a broadcast join a BroadcastExchange.
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
    )
    from profile_query import collect_exchanges

    df = (
        spark.range(0, 10_000)
        .groupBy((F.col("id") % 97).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    ex = collect_exchanges(plan)
    shuffles = [e for e in ex if e["kind"] == "shuffle"]
    assert shuffles and all(e["bytes"] > 0 and e["records"] > 0 for e in shuffles)

    dim = spark.range(0, 10).withColumnRenamed("id", "k")
    joined = (
        spark.range(0, 1_000)
        .withColumn("k", F.col("id") % 10)
        .join(F.broadcast(dim), "k")
        .agg(F.count("*").alias("n"))
    )
    plan2 = joined._jdf.queryExecution().executedPlan()
    plan2.execute().count()
    kinds = {e["kind"] for e in collect_exchanges(plan2)}
    assert "broadcast" in kinds
