"""``__spark_entry__._spread`` adds its round-robin exchange only over a
source with fewer splits than the default parallelism."""

from __future__ import annotations

import os

import pytest

from tests.test_entry_contract import SF  # also puts the repo root on sys.path

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="testdata absent")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_spread_exchange_only_below_default_parallelism(spark, tmp_path):
    import __spark_entry__ as E

    n = spark.sparkContext.defaultParallelism
    single = E._table(spark, SF, "documents")
    assert single.rdd.getNumPartitions() < n
    assert "RoundRobinPartitioning" in _plan(E._spread(single))

    single.repartition(n).write.parquet(str(tmp_path / "documents.parquet"))
    multi = E._table(spark, str(tmp_path), "documents")
    assert multi.rdd.getNumPartitions() >= n
    assert "RoundRobinPartitioning" not in _plan(E._spread(multi))
    assert "RoundRobinPartitioning" not in _plan(E.q_dsir_weights(spark, str(tmp_path)))
