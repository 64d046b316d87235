"""Shape of the fused single-shuffle extract plan's full output; its
values are pinned family by family against the oracles in
tests/test_features_parity.py."""

from __future__ import annotations

import pytest

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features.names import HAYES_NAMES, SLT_NAMES
from proxyfeatureextraction_spark.plans.extract import HOST_SLICE_COLS, extract_features
from proxyfeatureextraction_spark.schema import with_derived


@pytest.fixture(scope="module")
def derived(spark, transcripts_df):
    d = with_derived(transcripts_df).cache()
    d.count()
    return d


def test_extract_features_full(derived):
    out = extract_features(derived, gateway=derived.select(S.TS_SEC, S.N_CHARS))
    pdf = out.toPandas()
    assert len(pdf) == pdf[S.CONV].nunique() == derived.select(S.CONV).distinct().count()
    expected = {
        *HAYES_NAMES, *SLT_NAMES, *HOST_SLICE_COLS,
        "duration", "gap_between_conns", "rtt_ratio", "corr_mean",
    }
    assert expected <= set(pdf.columns)
    # every family carries values for some conversation
    for c in ("duration", "gap_between_conns", "rtt_ratio", "corr_mean", HAYES_NAMES[0]):
        assert pdf[c].notna().any(), c
