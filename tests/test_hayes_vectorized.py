"""The matrix-vectorized Hayes and SLT kernels equal the independent
per-conversation loops of ``tests/oracle`` on large random corpora
(this covers paths the small fixture may miss)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features.hayes_vec import hayes_matrix_batch
from proxyfeatureextraction_spark.features.names import HAYES_NAMES, SLT_NAMES
from proxyfeatureextraction_spark.features.slt_vec import slt_matrix_batch
from proxyfeatureextraction_spark.synth import synth_transcripts_pdf
from tests.oracle.packet_view import CLIENT_IPS, to_packet_view
from tests.oracle.ref_hayes import hayes_by_conn
from tests.oracle.ref_slt import slt_by_conn

ATOL = 1e-5


def _head20(packets: pd.DataFrame, gated: bool) -> pd.DataFrame:
    """The packet view in the kernels' columns, cut to each
    conversation's first 20 rows (only conversations with ≥20 if
    ``gated``)."""
    pv = pd.DataFrame(
        {
            S.CONV: packets["conn"],
            S.TS_SEC: packets["ts_relative"],
            S.DIR: np.where(packets["src_ip"].isin(CLIENT_IPS), 1, -1),
            S.N_CHARS: packets["pkt_len"],
        }
    )
    if gated:
        pv = pv[pv.groupby(S.CONV)[S.CONV].transform("size") >= 20]
    return pv.groupby(S.CONV).head(20).reset_index(drop=True)


def _assert_matches(got: pd.DataFrame, oracle: pd.DataFrame, names: list[str]):
    got = got.set_index(S.CONV).sort_index()
    oracle = oracle.rename(columns={"conn": S.CONV}).set_index(S.CONV).sort_index()
    assert len(oracle) and list(got.index) == list(oracle.index)
    for c in names:
        np.testing.assert_allclose(
            got[c].astype(float), oracle[c].astype(float), atol=ATOL, equal_nan=True, err_msg=c
        )


def test_matrix_kernel_equals_loop_kernel():
    for seed in (123, 7):
        packets = to_packet_view(synth_transcripts_pdf(n_convs=500, seed=seed))
        got = hayes_matrix_batch(_head20(packets, gated=True), 20, HAYES_NAMES)
        _assert_matches(got, hayes_by_conn(packets, 20), HAYES_NAMES)


def test_slt_matrix_kernel_equals_loop_kernel():
    packets = to_packet_view(synth_transcripts_pdf(n_convs=400, seed=55))
    got = slt_matrix_batch(_head20(packets, gated=False), 20, SLT_NAMES)
    _assert_matches(got, slt_by_conn(packets, 20), SLT_NAMES)


def test_matrix_kernel_empty():
    out = hayes_matrix_batch(
        pd.DataFrame({"conv_id": [], "ts_sec": [], "dir": [], "n_chars": []}),
        20,
        HAYES_NAMES,
    )
    assert out.empty
