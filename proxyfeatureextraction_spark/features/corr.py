"""Gateway-correlation features — one aggregate per side, one Arrow kernel.

Reference: ``corr_extractor.py:118-206`` runs a per-connection Python
loop with GPU ops inside. Here no (conversation, gateway bin) table is
ever built; the alignment happens inside a vectorized batch kernel:

1. tumbling 0.1 s bins via the reference's exact float formula
   (``floor(ts·10)/10``) on both sides,
2. gateway: bins summed once, then grouped by range bucket
   (``floor(bin / range_bucket_seconds)``) into one row per bucket
   holding two sorted arrays, bin and ``gw_len`` (≤ 600 entries at
   60 s / 0.1 s),
3. conversations: one ``groupBy(conv)`` over the gated first
   ``pkt_limit`` turns gives the sorted (bin, n_chars) pairs (≤
   ``pkt_limit``), ``tmin`` and ``tmax + 1``; each conversation is
   exploded into the range buckets its span covers and left-joined to
   the gateway bucket rows on the bucket (an equi-join, no
   BroadcastNestedLoopJoin),
4. ``corr_batch`` over whole conversations, ordered by (conv, bucket):
   keep the gateway bins in [tmin, tmax + 1] (inclusive both ends),
   full-outer align them with the conversation's own bins (J2: sum per
   bin, zero-fill), z-score both series (pop std + 1e-9) and reduce the
   product to the 9 statistics (A5, exact numpy median).

Conversations whose gateway slice is empty emit all-zero metrics
(``corr_extractor.py:89-90``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.features.names import CORR_NAMES
from proxyfeatureextraction_spark.operators.grouped import map_whole_groups
from proxyfeatureextraction_spark.operators.ordering import gated_first_k
from proxyfeatureextraction_spark.operators.windows import time_bucket

BIN_SIZE_SECONDS = 0.1
EPS = 1e-9
# gateway bins per kernel piece: bounds the kernel's temporaries (about
# 80 bytes a bin) whatever the Arrow batch holds
PIECE_BINS = 1 << 15

CORR_SCHEMA = T.StructType(
    [T.StructField(S.CONV, T.StringType()), T.StructField(CORR_NAMES[0], T.IntegerType())]
    + [T.StructField(c, T.DoubleType()) for c in CORR_NAMES[1:]]
)


def _flat(cells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Concatenated values of array cells and each cell's length."""
    lens = np.fromiter(map(len, cells), np.int64, len(cells))
    return np.concatenate([*cells, np.empty(0)]), lens


def _stats(conv, tmin, tmax1, gw_bin, gw_len, conv_bin, conv_len) -> np.ndarray:
    """(9, conversations) statistics of whole conversations, one entry
    per (conv, bucket) row in each argument."""
    first = np.r_[True, conv[1:] != conv[:-1]]
    row_conv, starts = np.cumsum(first) - 1, np.flatnonzero(first)
    gb, gn = _flat(gw_bin)
    gseg = np.repeat(row_conv, gn)
    keep = (gb >= np.repeat(tmin, gn)) & (gb <= np.repeat(tmax1, gn))
    cb, cn = _flat(conv_bin[starts])
    # outer align: every (conv, bin) of either side once, summed per bin
    seg = np.r_[gseg[keep], np.repeat(np.arange(len(starts)), cn)]
    bins = np.r_[gb[keep], cb]
    g = np.r_[_flat(gw_len)[0][keep], np.zeros(len(cb))]
    r = np.r_[np.zeros(int(keep.sum())), _flat(conv_len[starts])[0]]
    o = np.lexsort((bins, seg))
    seg, bins = seg[o], bins[o]
    cut = np.flatnonzero(np.r_[True, (seg[1:] != seg[:-1]) | (bins[1:] != bins[:-1])])
    g, r, seg = np.add.reduceat(g[o], cut), np.add.reduceat(r[o], cut), seg[cut]
    # every conversation has bins of its own, so no segment is empty
    s0 = np.flatnonzero(np.r_[True, seg[1:] != seg[:-1]])
    n = np.diff(np.r_[s0, len(seg)])

    def centred(v):
        return v - np.repeat(np.add.reduceat(v, s0) / n, n)

    def zscore(v):
        d = centred(v)
        return d / np.repeat(np.sqrt(np.add.reduceat(d * d, s0) / n) + EPS, n)

    z = zscore(g) * zscore(r)
    zs = z[np.lexsort((z, seg))]
    mn, mx = np.minimum.reduceat(z, s0), np.maximum.reduceat(z, s0)
    var = np.add.reduceat(centred(z) ** 2, s0) / n
    total = np.add.reduceat(z, s0)
    stats = np.array([n, total, total / n, (zs[s0 + (n - 1) // 2] + zs[s0 + n // 2]) / 2,
                      mn, mx, mx - mn, var, np.sqrt(var)])
    # an empty gateway slice gives all-zero metrics
    return stats * (np.bincount(gseg[keep], minlength=len(starts)) > 0)


def corr_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """The 9 statistics of whole conversations, rows ordered by (conv,
    bucket): segment reductions across the conversations of a piece of
    about ``PIECE_BINS`` gateway bins, no per-conversation loop."""
    conv = pdf[S.CONV].to_numpy()
    starts = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]])
    lens = np.fromiter(map(len, pdf["_gbin"]), np.int64, len(pdf))
    piece = (np.cumsum(lens) - lens)[starts] // PIECE_BINS
    cuts = np.r_[starts[np.r_[True, piece[1:] != piece[:-1]]], len(pdf)]
    cols = [conv] + [
        pdf[c].to_numpy() for c in ("_tmin", "_tmax1", "_gbin", "_glen", "_cbin", "_clen")
    ]
    stats = np.hstack([_stats(*(c[a:b] for c in cols)) for a, b in zip(cuts[:-1], cuts[1:])])
    out = pd.DataFrame(stats.T, columns=CORR_NAMES).astype({CORR_NAMES[0]: "int32"})
    out.insert(0, S.CONV, conv[starts])
    return out


def corr_features(
    derived: DataFrame,
    gateway: DataFrame,
    pkt_limit: int = 20,
    bin_size: float = BIN_SIZE_SECONDS,
    range_bucket_seconds: float = 60.0,
) -> DataFrame:
    """``gateway``: un-keyed stream with (ts_sec, n_chars)."""

    def bucket(c):
        return F.floor(F.col(c) / range_bucket_seconds)

    def sorted_pairs(value):
        pairs = F.array_sort(F.collect_list(F.struct("_bin", value)))
        return pairs["_bin"], pairs[value]

    gw_bins = gateway.groupBy(time_bucket(S.TS_SEC, bin_size).alias("_bin")).agg(
        F.sum(F.col(S.N_CHARS).cast("double")).alias("gw_len")
    )
    gbin, glen = sorted_pairs("gw_len")
    gw_buckets = gw_bins.groupBy(bucket("_bin").alias("_b")).agg(
        gbin.alias("_gbin"), glen.alias("_glen")
    )

    cbin, clen = sorted_pairs(S.N_CHARS)
    spans = (
        gated_first_k(derived, pkt_limit)
        .select(
            S.CONV,
            S.TS_SEC,
            time_bucket(S.TS_SEC, bin_size).alias("_bin"),
            F.col(S.N_CHARS).cast("double").alias(S.N_CHARS),
        )
        .groupBy(S.CONV)
        .agg(
            cbin.alias("_cbin"),
            clen.alias("_clen"),
            F.min(S.TS_SEC).alias("_tmin"),
            (F.max(S.TS_SEC) + F.lit(1.0)).alias("_tmax1"),
        )
        .withColumn("_b", F.explode(F.sequence(bucket("_tmin"), bucket("_tmax1"))))
    )
    empty = F.array().cast("array<double>")
    joined = spans.join(gw_buckets, "_b", "left").select(
        S.CONV, "_b", "_tmin", "_tmax1", "_cbin", "_clen",
        F.coalesce("_gbin", empty).alias("_gbin"),
        F.coalesce("_glen", empty).alias("_glen"),
    )
    return map_whole_groups(joined, corr_batch, CORR_SCHEMA, order_cols=("_b",))
