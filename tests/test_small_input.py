"""The small-input byte gate ≡ its large path.

Every operator that picks a plan shape by source size asks
`session.small_input`, which compares the plan's local file bytes with
the one `session.SMALL_INPUT_BYTES`. Each test here runs a gated
operator with that bound patched below every input (large path) and
above every input (small path), requires the same rows and schema,
and reads the one decision line each build logs."""

import logging
import re

import pytest
from conftest import SF_SMOKE as SF
from pyspark.sql import functions as F

from apache_flink_essentials_spark import session as S
from apache_flink_essentials_spark.io import load_table
from apache_flink_essentials_spark.operators import curation as CU
from apache_flink_essentials_spark.operators import patterns as PT
from apache_flink_essentials_spark.operators import text as X
from apache_flink_essentials_spark.operators.transform import global_prefix_sum


@pytest.fixture(scope="module")
def split_events(spark, tmp_path_factory):
    # several files: a one-file input takes the prefix sum's single-window
    # plan whatever the byte gate says
    path = str(tmp_path_factory.mktemp("events4") / "events")
    load_table(spark, "events", SF).repartition(4).write.parquet(path)
    return spark.read.parquet(path)


def _docs(spark):
    return load_table(spark, "documents", SF)


GATED = {
    "repetition_stats": lambda spark, ev: X.repetition_stats(_docs(spark)),
    "unigram_logprob": lambda spark, ev: X.unigram_logprob(_docs(spark)),
    "bigram_logprob": lambda spark, ev: X.bigram_logprob(_docs(spark)),
    "kneser_ney_bigrams": lambda spark, ev: X.kneser_ney_bigrams(_docs(spark)),
    "dsir_weights": lambda spark, ev: CU.dsir_weights(
        _docs(spark), F.col("lang") == "en"
    ),
    "perplexity_buckets": lambda spark, ev: CU.perplexity_buckets(
        X.unigram_logprob(_docs(spark))
    ),
    "association_rules": lambda spark, ev: PT.association_rules(
        load_table(spark, "events", SF)
    ),
    "global_prefix_sum": lambda spark, ev: global_prefix_sum(
        ev, ["event_id"], "user_id"
    ),
}


@pytest.mark.parametrize("gate", sorted(GATED))
def test_small_and_large_paths_agree(spark, split_events, monkeypatch, caplog, gate):
    caplog.set_level(logging.INFO, logger=S.GATE_LOG.name)
    out = {}
    for bound, path in ((1 << 62, "small"), (-1, "large")):
        monkeypatch.setattr(S, "SMALL_INPUT_BYTES", bound)
        caplog.clear()
        df = GATED[gate](spark, split_events)
        lines = [r.getMessage() for r in caplog.records if r.args[0] == gate]
        assert len(lines) == 1, lines
        # a checkpointed input (perplexity_buckets over the large
        # unigram_logprob) has no source files: its size is unknown
        assert re.fullmatch(
            rf"gate {gate}: bytes=(\d+|unknown) bound={bound} path={path}",
            lines[0],
        ), lines
        out[path] = (df.schema, sorted(map(tuple, df.collect())))
    assert out["small"] == out["large"]
    assert out["small"][1]


def test_unknown_size_takes_large_path(spark, caplog):
    caplog.set_level(logging.INFO, logger=S.GATE_LOG.name)
    df = spark.range(10).withColumn("v", F.col("id") * 3)
    assert S.small_input("probe", df) is False
    assert [r.getMessage() for r in caplog.records if r.args[0] == "probe"] == [
        f"gate probe: bytes=unknown bound={S.SMALL_INPUT_BYTES} path=large"
    ]
