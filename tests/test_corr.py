"""Gateway correlation: hand-built edge cases against the oracle, the
kernel's piece split, and the plan shape.

``tests/test_features_parity.py::test_corr_parity`` covers the synthetic
table; the table here places spans, bins and batches on the boundaries
the bucketed plan and the batch kernel have to get right.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features import corr
from proxyfeatureextraction_spark.features.corr import corr_features
from proxyfeatureextraction_spark.features.names import CORR_NAMES
from tests.oracle.ref_corr import corr_by_conn

ATOL = 1e-5

DERIVED = T.StructType(
    [
        T.StructField(S.CONV, T.StringType()),
        T.StructField(S.TURN, T.IntegerType()),
        T.StructField(S.TS, T.TimestampType()),
        T.StructField(S.TS_SEC, T.DoubleType()),
        T.StructField(S.N_CHARS, T.IntegerType()),
    ]
)
GATEWAY = T.StructType(
    [T.StructField(S.TS_SEC, T.DoubleType()), T.StructField(S.N_CHARS, T.IntegerType())]
)


def _edge_tables() -> tuple[pd.DataFrame, pd.DataFrame]:
    """(conversation turns, gateway) with one conversation per edge."""
    rng = np.random.default_rng(5)
    spans = {
        "cross_bucket": 55.0 + np.arange(20) * 0.5,  # 55.0-64.5: buckets 0 and 1
        "three_buckets": 100.0 + np.arange(20) * 7.5,  # 100-242.5: buckets 1-4
        "bin_below_tmin": 300.05 + np.arange(20) * 0.04,  # first bin 300.0 < tmin
        "edge_bins": 460.0 + np.arange(20) * 1.0,  # tmin 460.0, tmax + 1 = 480.0
        "factor_edge": 4.3 + np.arange(20) * 0.1,  # 4.3 bins to 4.3, not 4.2
        "no_gateway": 5000.0 + np.arange(20) * 0.2,  # no gateway bin in the span
        "short": 600.0 + np.arange(19) * 0.1,  # 19 turns: below the gate
    }
    turns = pd.concat(
        [
            pd.DataFrame({"conn": c, "ts_relative": ts, "pkt_len": rng.integers(1, 60, len(ts))})
            for c, ts in spans.items()
        ],
        ignore_index=True,
    )
    noise = np.concatenate(
        [rng.uniform(ts[0] - 2.0, ts[-1] + 0.9, 60) for c, ts in spans.items() if c != "no_gateway"]
    )
    # exact edges: bins at tmin and at tmax + 1 of "edge_bins" (the
    # latter alone in the next bucket) and just outside both, the 4.3
    # edge, and bins on bucket boundaries
    exact = np.array([460.0, 460.05, 459.95, 480.0, 480.05, 480.1, 4.3, 60.0, 120.0])
    gw_ts = np.round(np.concatenate([noise, exact]), 3)
    gateway = pd.DataFrame({"ts_relative": gw_ts, "pkt_len": rng.integers(1, 80, len(gw_ts))})
    return turns, gateway


def _inputs(spark):
    """(derived, gateway) DataFrames of the edge tables, and the oracle."""
    turns, gateway = _edge_tables()
    derived = pd.DataFrame(
        {
            S.CONV: turns["conn"],
            S.TURN: turns.groupby("conn").cumcount().astype("int32"),
            S.TS: pd.Timestamp("2024-01-01") + pd.to_timedelta(turns["ts_relative"], unit="s"),
            S.TS_SEC: turns["ts_relative"].astype(float),
            S.N_CHARS: turns["pkt_len"].astype("int32"),
        }
    )
    gw = pd.DataFrame(
        {S.TS_SEC: gateway["ts_relative"], S.N_CHARS: gateway["pkt_len"].astype("int32")}
    )
    return (
        spark.createDataFrame(derived, schema=DERIVED),
        spark.createDataFrame(gw, schema=GATEWAY),
        corr_by_conn(turns, gateway, pkt_limit=20),
    )


def _compare(out: pd.DataFrame, oracle: pd.DataFrame):
    assert sorted(out[S.CONV]) == sorted(oracle["conn"])
    got = out.set_index(S.CONV).loc[oracle["conn"]]
    np.testing.assert_array_equal(got["corr_count"].to_numpy(), oracle["corr_count"].to_numpy())
    for c in CORR_NAMES[1:]:
        np.testing.assert_allclose(got[c].to_numpy(), oracle[c].to_numpy(), atol=ATOL, err_msg=c)


@pytest.fixture()
def small_batches(spark):
    """Arrow batches of 2 rows: the multi-bucket conversations' rows
    reach the kernel split across batches."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, old)


def test_corr_edge_cases_parity(spark, small_batches):
    derived, gateway, oracle = _inputs(spark)
    out = corr_features(derived, gateway, pkt_limit=20).toPandas()
    _compare(out, oracle)
    assert "short" not in set(out[S.CONV])
    quiet = out.set_index(S.CONV).loc["no_gateway"]
    assert quiet["corr_count"] == 0 and (quiet[CORR_NAMES[1:]] == 0.0).all()
    assert (out.set_index(S.CONV).drop(index="no_gateway")["corr_count"] > 0).all()


def test_corr_kernel_pieces(spark, monkeypatch):
    """Splitting a batch into pieces of a few gateway bins changes no
    statistic."""
    derived, gateway, oracle = _inputs(spark)
    captured = {}
    monkeypatch.setattr(corr, "map_whole_groups", lambda df, *a, **k: captured.setdefault("in", df))
    corr_features(derived, gateway, pkt_limit=20)
    batch = captured["in"].toPandas().sort_values([S.CONV, "_b"]).reset_index(drop=True)
    whole = corr.corr_batch(batch)
    monkeypatch.setattr(corr, "PIECE_BINS", 7)
    pieces = corr.corr_batch(batch)
    pd.testing.assert_frame_equal(whole, pieces)
    _compare(pieces, oracle)


def test_corr_plan_shape(spark, transcripts_df):
    """No full-outer align, exact-percentile aggregate or nested-loop
    join in the executed plan."""
    derived = S.with_derived(transcripts_df)
    df = corr_features(derived, derived.select(S.TS_SEC, S.N_CHARS))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    for op in ("FullOuter", "percentile", "BroadcastNestedLoopJoin"):
        assert op not in plan, op
    assert "MapInPandas" in plan


def test_corr_declare_fires_no_jobs(spark, transcripts_df):
    derived = S.with_derived(transcripts_df)
    gateway = derived.select(S.TS_SEC, S.N_CHARS)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    corr_features(derived, gateway)
    assert set(tracker.getJobIdsForGroup()) == before
