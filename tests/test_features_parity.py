"""The fused extract plan vs the reference-validated pandas oracles.

``plans.extract.extract_features`` is the only per-conversation path
for the Hayes, SLT, RTT and host families, so every family is checked
on its output: allclose atol=1e-5 per the reference's own tolerance
(test_corr_extractor.py:158); NaNs compare equal (they are part of the
reference semantics — e.g. std_order_in of a single-role conversation),
and conversations the oracle leaves out must carry NULL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features.corr import corr_features
from proxyfeatureextraction_spark.features.names import HAYES_NAMES, SLT_NAMES
from proxyfeatureextraction_spark.plans.extract import HOST_SLICE_COLS, extract_features
from proxyfeatureextraction_spark.schema import with_derived
from tests.oracle.packet_view import to_packet_view
from tests.oracle.ref_corr import corr_by_conn
from tests.oracle.ref_hayes import hayes_by_conn
from tests.oracle.ref_host import host_by_conn
from tests.oracle.ref_rtt import rtt_by_conn
from tests.oracle.ref_slt import slt_by_conn

ATOL = 1e-5


@pytest.fixture(scope="module")
def derived(spark, transcripts_df):
    d = with_derived(transcripts_df).cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def packets(transcripts_pdf):
    return to_packet_view(transcripts_pdf)


@pytest.fixture(scope="module")
def extracted(derived):
    """``extract_features`` output keyed by conv_id, per ``gw`` flag."""
    return {
        gw: extract_features(derived, gw=gw).toPandas().set_index(S.CONV)
        for gw in (False, True)
    }


def compare(out: pd.DataFrame, oracle_pdf: pd.DataFrame):
    """Every oracle row matches ``out`` (indexed by conv_id) at ATOL;
    conversations of ``out`` the oracle leaves out carry NULL in every
    oracle column."""
    assert len(oracle_pdf), "oracle produced no rows — the check is vacuous"
    oracle = oracle_pdf.rename(columns={"conn": S.CONV}).set_index(S.CONV)
    cols = list(oracle.columns)
    missing = set(cols) - set(out.columns)
    assert not missing, f"spark output missing {missing}"
    absent = set(oracle.index) - set(out.index)
    assert not absent, f"conversations missing from spark output: {sorted(absent)[:5]}"
    for c in cols:
        np.testing.assert_allclose(
            out.loc[oracle.index, c].to_numpy(dtype=float),
            oracle[c].to_numpy(dtype=float),
            atol=ATOL,
            equal_nan=True,
            err_msg=c,
        )
    rest = out.index.difference(oracle.index)
    assert out.loc[rest, cols].isna().all().all(), "conversations outside the oracle carry values"


def host_oracle(packets: pd.DataFrame, gw: bool) -> pd.DataFrame:
    # reference scope = one folder per call; concat per-folder oracles
    return pd.concat(
        [host_by_conn(g, gw=gw) for _, g in packets.groupby("folder_name")],
        ignore_index=True,
    )


def test_hayes_parity(extracted, packets):
    compare(extracted[False], hayes_by_conn(packets, 20))


def test_slt_parity(extracted, packets):
    compare(extracted[False], slt_by_conn(packets, 20))


def test_rtt_parity(extracted, packets):
    compare(extracted[False], rtt_by_conn(packets, 20))


def test_corr_parity(derived, packets):
    gateway = derived.select(S.TS_SEC, S.N_CHARS)
    spark_out = corr_features(derived, gateway, pkt_limit=20).toPandas()
    oracle = corr_by_conn(
        packets, packets[["ts_relative", "pkt_len"]].copy(), pkt_limit=20
    )
    assert set(spark_out[S.CONV]) == set(oracle["conn"])
    compare(spark_out.set_index(S.CONV), oracle)


def test_host_parity(extracted, packets):
    compare(extracted[False], host_oracle(packets, gw=False))


def test_host_parity_gw_true(extracted, packets):
    compare(extracted[True], host_oracle(packets, gw=True))


def _boundary_pdf() -> pd.DataFrame:
    """One conversation per length around K=20 and the 50-row slice."""
    rng = np.random.default_rng(2024)
    rows = []
    for n in (19, 20, 21, 49, 50, 51):
        gaps = rng.uniform(0.1, 5.0, size=n).round(3)
        ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s")
        roles = rng.choice(["user", "assistant", "tool"], size=n)
        lens = rng.integers(0, 40, size=n)
        for i in range(n):
            rows.append(("f0", "proxy", f"len{n}", i, roles[i], "x" * lens[i], None, ts[i]))
    cols = [S.FOLDER, S.SOURCE, S.CONV, S.TURN, S.ROLE, S.TEXT, S.TOOL, S.TS]
    return pd.DataFrame(rows, columns=cols).astype({S.TURN: "int32"})


def test_boundary_lengths_parity(spark):
    """Lengths 19/20/21/49/50/51 against every oracle: below K=20 the
    Hayes, host and RTT columns are NULL while SLT is present."""
    pdf = _boundary_pdf()
    df = spark.createDataFrame(pdf, schema=S.TRANSCRIPT_SCHEMA)
    out = extract_features(with_derived(df)).toPandas().set_index(S.CONV)
    assert sorted(out.index) == sorted(pdf[S.CONV].unique())
    packets = to_packet_view(pdf)
    compare(out, hayes_by_conn(packets, 20))
    compare(out, slt_by_conn(packets, 20))
    compare(out, rtt_by_conn(packets, 20))
    compare(out, host_oracle(packets, gw=False))

    short = out.loc["len19"]
    assert short[[*HAYES_NAMES, *HOST_SLICE_COLS, "duration", "rtt_ratio"]].isna().all()
    assert short[SLT_NAMES].notna().any()
    assert out.drop(index="len19")[HAYES_NAMES].notna().any(axis=1).all()


def test_empty_input(spark, derived):
    empty = derived.limit(0)
    gw = derived.select(S.TS_SEC, S.N_CHARS)
    assert extract_features(empty).count() == 0
    assert extract_features(empty, gw).count() == 0
    assert corr_features(empty, gw).count() == 0


def test_hayes_matrix_kernel_row_order_semantics_nonmonotone_ts():
    """Review regression: the (C, K)-matrix kernel must equal the oracle
    on conversations whose canonical (turn_idx) order is NOT
    time-monotone — the reference diffs direction times in ROW order
    and anchors percentiles at ts.min(); a value-sorting matrix kernel
    silently disagreed on such rows."""
    from proxyfeatureextraction_spark.features.hayes_vec import hayes_matrix_batch
    from tests.oracle.ref_hayes import hayes_features

    rng = np.random.default_rng(7)
    k = 20
    rows = []
    for conv in ("x", "y", "z"):
        ts = np.round(rng.uniform(0, 30, size=k), 3)  # deliberately unsorted
        if conv == "y":
            ts = np.sort(ts)  # one monotone control conversation
        dr = rng.choice([-1, 1], size=k)
        sz = rng.integers(0, 100, size=k)
        for i in range(k):
            rows.append((conv, float(ts[i]), int(dr[i]), int(sz[i])))
    pdf = pd.DataFrame(rows, columns=["conv_id", "ts_sec", "dir", "n_chars"])
    got = hayes_matrix_batch(pdf, k=k, columns=HAYES_NAMES).set_index("conv_id")
    for conv, grp in pdf.groupby("conv_id", sort=False):
        exp = hayes_features(list(grp[["ts_sec", "dir", "n_chars"]].itertuples(index=False)))
        np.testing.assert_allclose(
            got.loc[conv, HAYES_NAMES].to_numpy(dtype=float), np.asarray(exp, dtype=float),
            atol=ATOL, equal_nan=True,
            err_msg=f"matrix kernel diverges from the oracle for {conv}",
        )
