"""Unit tests for the window/ordering/as-of/skew primitives vs pandas."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.operators import asof, grouped, ordering, skew, windows
from proxyfeatureextraction_spark.schema import with_derived


def _canon_pdf(transcripts_pdf):
    return transcripts_pdf.sort_values([S.CONV, S.TURN], kind="stable").reset_index(drop=True)


def test_gated_first_k(spark, transcripts_df, transcripts_pdf):
    out = ordering.gated_first_k(transcripts_df, 20).toPandas()
    pdf = _canon_pdf(transcripts_pdf)
    counts = pdf.groupby(S.CONV).size()
    keep = counts[counts >= 20]
    exp = pdf[pdf[S.CONV].isin(keep.index)].groupby(S.CONV).head(20)
    assert out.groupby(S.CONV).size().to_dict() == exp.groupby(S.CONV).size().to_dict()


def test_min_group_size_and_first_k(spark, transcripts_df, transcripts_pdf):
    """The >= 50-turn gate and the first-50 slice that the Hayes features
    read, both through ``gated_first_k``."""
    out = ordering.gated_first_k(transcripts_df, 50).toPandas()
    pdf = _canon_pdf(transcripts_pdf)
    counts = pdf.groupby(S.CONV).size()
    assert (counts >= 50).any(), "fixture has no conversation with >= 50 turns"
    assert set(out[S.CONV]) == set(counts[counts >= 50].index)
    assert (out.groupby(S.CONV).size() == 50).all()
    exp = pdf[pdf[S.CONV].isin(counts[counts >= 50].index)].groupby(S.CONV).head(50)
    key = [S.CONV, S.TURN]
    got = out.sort_values(key)[key].reset_index(drop=True)
    assert got.equals(exp.sort_values(key)[key].reset_index(drop=True))


def test_lag_backfill_prefix(spark, transcripts_df, transcripts_pdf):
    df = with_derived(transcripts_df)
    df = windows.lag_cols(df, {S.TS_SEC: 1})
    df = windows.prefix_sum(df, S.N_CHARS)
    df = df.withColumn(
        "tool_or_null", F.when(F.col(S.TOOL).isNotNull(), F.col(S.TOOL))
    )
    df = windows.backfill(df, "tool_or_null", out="last_tool")
    out = df.toPandas().sort_values([S.CONV, S.TURN]).reset_index(drop=True)

    pdf = _canon_pdf(transcripts_pdf)
    g = pdf.groupby(S.CONV, sort=False)
    ts0 = pdf.groupby(S.FOLDER)["ts"].transform("min")
    ts_sec = (pdf[S.TS] - ts0).dt.total_seconds()
    exp_lag = ts_sec.groupby(pdf[S.CONV]).shift(1)
    np.testing.assert_allclose(
        out["lag_ts_sec_1"].to_numpy(dtype=float),
        exp_lag.to_numpy(dtype=float),
        atol=1e-9, equal_nan=True,
    )
    exp_cum = pdf[S.TEXT].str.len().groupby(pdf[S.CONV]).cumsum()
    np.testing.assert_allclose(out["cum_n_chars"].to_numpy(float), exp_cum.to_numpy(float))
    exp_ffill = g[S.TOOL].ffill()
    assert out["last_tool"].fillna("∅").tolist() == exp_ffill.fillna("∅").tolist()


def test_sessionize(spark, transcripts_df):
    df = windows.sessionize(with_derived(transcripts_df), gap_seconds=300.0)
    out = df.toPandas().sort_values([S.CONV, S.TURN])
    # session ids start at 0, are non-decreasing, and bump exactly on >300s gaps
    for _, g in out.groupby(S.CONV):
        gaps = g[S.TS_SEC].diff()
        expected = (gaps > 300.0).fillna(False).cumsum()
        assert (g["session_id"].to_numpy() == expected.to_numpy()).all()
    assert out["session_id"].max() > 0  # synth guarantees >300s gaps exist


def test_asof_join_keyed_matches_merge_asof(spark):
    rng = np.random.default_rng(0)
    left = pd.DataFrame(
        {
            "k": np.repeat(["a", "b"], 50),
            "t": np.concatenate([np.sort(rng.uniform(0, 100, 50))] * 2),
        }
    )
    right = pd.DataFrame(
        {
            "k": np.repeat(["a", "b"], 30),
            "t": np.concatenate([np.sort(rng.uniform(0, 100, 30))] * 2),
            "v": rng.normal(size=60),
        }
    )
    ldf, rdf = spark.createDataFrame(left), spark.createDataFrame(right)
    out = (
        asof.asof_join(ldf, rdf, ts_col="t", by=["k"], value_cols=["v"])
        .toPandas()
        .sort_values(["k", "t"])
        .reset_index(drop=True)
    )
    exp = pd.merge_asof(
        left.sort_values("t"), right.sort_values("t"), on="t", by="k", direction="backward"
    ).sort_values(["k", "t"]).reset_index(drop=True)
    np.testing.assert_allclose(out["v_asof"], exp["v"], atol=1e-12, equal_nan=True)


def test_asof_join_global_matches_merge_asof(spark):
    rng = np.random.default_rng(1)
    left = pd.DataFrame({"t": np.sort(rng.uniform(0, 500, 200))})
    right = pd.DataFrame(
        {"t": np.sort(rng.uniform(100, 400, 50)), "v": rng.normal(size=50)}
    )
    out = (
        asof.asof_join_global(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            ts_col="t",
            value_col="v",
            bucket_seconds=30.0,
        )
        .toPandas()
        .sort_values("t")
        .reset_index(drop=True)
    )
    exp = pd.merge_asof(left, right, on="t", direction="backward")
    np.testing.assert_allclose(out["v_asof"], exp["v"], atol=1e-12, equal_nan=True)


def test_interval_join(spark):
    rng = np.random.default_rng(2)
    spans = pd.DataFrame(
        {"sid": range(20), "lo": rng.uniform(0, 900, 20)}
    )
    spans["hi"] = spans["lo"] + rng.uniform(1, 120, 20)
    points = pd.DataFrame({"t": rng.uniform(0, 1000, 500), "x": rng.normal(size=500)})
    out = asof.interval_join(
        spark.createDataFrame(spans),
        spark.createDataFrame(points),
        point_ts="t", span_start="lo", span_end="hi", bucket_seconds=60.0,
    ).toPandas()
    exp_n = sum(
        ((points["t"] >= lo) & (points["t"] <= hi)).sum()
        for lo, hi in zip(spans["lo"], spans["hi"])
    )
    assert len(out) == exp_n
    assert ((out["t"] >= out["lo"]) & (out["t"] <= out["hi"])).all()


def test_salted_stats_salt_invariant(spark, transcripts_df):
    df = with_derived(transcripts_df)
    a = skew.salted_stats(df, S.N_CHARS, salt=1).toPandas().set_index(S.CONV).sort_index()
    b = skew.salted_stats(df, S.N_CHARS, salt=16).toPandas().set_index(S.CONV).sort_index()
    for c in ("count", "sum", "min", "max", "avg", "var_pop", "std_pop"):
        np.testing.assert_allclose(a[c], b[c], rtol=1e-9, err_msg=c)


def test_map_whole_groups_sees_sorted_whole_convs(spark, transcripts_df, transcripts_pdf):
    import pyspark.sql.types as T

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for conv, g in pdf.groupby(S.CONV, sort=False):
            rows.append(
                {
                    S.CONV: conv,
                    "n": len(g),
                    "sorted_ok": bool((g[S.TURN].to_numpy() == np.sort(g[S.TURN])).all()),
                    "contiguous": bool(
                        (np.sort(g[S.TURN].to_numpy()) == np.arange(len(g))).all()
                    ),
                }
            )
        return pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField(S.CONV, T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("sorted_ok", T.BooleanType()),
            T.StructField("contiguous", T.BooleanType()),
        ]
    )
    out = grouped.map_whole_groups(transcripts_df, kernel, schema).toPandas()
    exp = transcripts_pdf.groupby(S.CONV).size()
    # each conversation appears exactly once (never split across batches)
    assert out[S.CONV].is_unique
    assert out.set_index(S.CONV)["n"].to_dict() == exp.to_dict()
    assert out["sorted_ok"].all() and out["contiguous"].all()


def test_map_whole_groups_small_batches(spark, transcripts_df, transcripts_pdf):
    """Force tiny Arrow batches so convs straddle batch boundaries."""
    import pyspark.sql.types as T

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        def kernel(pdf):
            g = pdf.groupby(S.CONV, sort=False).size()
            return g.rename("n").reset_index()

        schema = T.StructType(
            [T.StructField(S.CONV, T.StringType()), T.StructField("n", T.LongType())]
        )
        out = grouped.map_whole_groups(transcripts_df, kernel, schema).toPandas()
        exp = transcripts_pdf.groupby(S.CONV).size()
        assert out[S.CONV].is_unique
        assert out.set_index(S.CONV)["n"].to_dict() == exp.to_dict()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")


def test_asof_tolerance_tracks_value_row_not_feed_liveness(spark):
    """Review regression: a newer right row carrying NULL must not
    refresh the staleness clock of an older value — each value column's
    tolerance is measured against the row that value came from."""
    from proxyfeatureextraction_spark.operators import asof

    left = spark.createDataFrame([("k", 101.0)], "k string, ts double")
    right = spark.createDataFrame(
        [("k", 0.0, 5.0), ("k", 100.0, None)], "k string, ts double, v double"
    )
    out = asof.asof_join(
        left, right, ts_col="ts", by=["k"], value_cols=["v"], tolerance=10.0
    ).collect()[0]
    assert out["v_asof"] is None  # the only in-tolerance row carried NULL

    # without tolerance the backfilled value is still the old 5.0
    out2 = asof.asof_join(
        left, right, ts_col="ts", by=["k"], value_cols=["v"]
    ).collect()[0]
    assert out2["v_asof"] == 5.0


def test_asof_duplicate_ts_ties_resolve_deterministically(spark):
    from proxyfeatureextraction_spark.operators import asof

    left = spark.createDataFrame([("k", 100.0)], "k string, ts double")
    right = spark.createDataFrame(
        [("k", 100.0, 1.0), ("k", 100.0, 2.0)], "k string, ts double, v double"
    )
    vals = {
        asof.asof_join(
            left.repartition(n), right.repartition(5 - n),
            ts_col="ts", by=["k"], value_cols=["v"],
        ).collect()[0]["v_asof"]
        for n in (1, 2, 3)
    }
    assert vals == {2.0}  # greatest value wins the tie, every time


def test_interval_join_rejects_outer_how(spark):
    import pytest as _pytest

    from proxyfeatureextraction_spark.operators import asof

    spans = spark.createDataFrame([(1, 0.0, 10.0)], "sid long, s double, e double")
    points = spark.createDataFrame([(5.0,)], "t double")
    with _pytest.raises(ValueError, match="inner"):
        asof.interval_join(spans, points, "t", "s", "e", how="left")
