"""Example jobs stay runnable: smoke the round-7 tokenizer workbench
end-to-end against the smallest fixture (the other examples are pinned
piecewise through their operators' own tests and oracle rows)."""


def test_tokenizer_design_example_runs(spark):
    from examples.tokenizer_design import run

    coverage = run(spark, sf_dir="/root/testdata/sf0.001")
    rows = {r.vocab_size: r.coverage for r in coverage.collect()}
    assert rows[5000] == 1.0
    assert all(0 < c <= 1.0 for c in rows.values())


def test_drift_monitoring_example_runs(spark):
    from examples.drift_monitoring import run

    lag = run(spark, sf_dir="/root/testdata/sf0.001")
    rows = lag.collect()
    assert len(rows) >= 1
    assert all(-1.0 <= r.r <= 1.0 for r in rows)


def test_relationship_mining_example_runs(spark):
    from examples.relationship_mining import run

    clusters = run(spark, sf_dir="/root/testdata/sf0.001")
    rows = clusters.collect()
    # cluster sizes are >= 2 (CC only sees matched pairs) and counts > 0
    assert all(r.cluster_size >= 2 and r.n_clusters > 0 for r in rows)


def test_data_contracts_example_runs(spark):
    from examples.data_contracts import run

    ref = run(spark)
    rows = ref.collect()
    # TPC-H fixture is referentially clean: audits must report zeros
    assert len(rows) == 3
    assert all(r.n_orphans == 0 and r.n_null_fk == 0 for r in rows)


def test_incremental_corpus_example_runs(spark):
    from examples.incremental_corpus import run

    report = run(spark, sf_dir="/root/testdata/sf0.001")
    rows = report.collect()
    assert len(rows) >= 1
    # O(corpus): one row per doc at most
    assert len(rows) == len({r.doc_id for r in rows})
    assert all(0.0 <= r.best_jaccard <= 1.0 for r in rows)


def test_ingest_monitoring_example_runs(spark):
    from apache_flink_essentials_spark import load_table
    from apache_flink_essentials_spark.operators.profiling import (
        freshness_audit,
    )
    from examples.ingest_monitoring import run

    sf = "/root/testdata/sf0.001"
    freshness = run(spark, sf_dir=sf)
    want = freshness_audit(
        load_table(spark, "events", sf), "ts", "event_type", window_s=3600
    )
    assert sorted(map(tuple, freshness.collect())) == sorted(
        map(tuple, want.collect())
    )
