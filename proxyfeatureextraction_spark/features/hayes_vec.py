"""Matrix-vectorized Hayes-150 kernel.

After ``gated_first_k(K)`` every conversation contributes exactly K
rows, so a batch of C conversations reshapes to (C, K) matrices and
every feature block becomes one numpy expression across ALL
conversations — no per-conversation Python loop. The only sequential
dimension left is K (the per-second pointer recurrence iterates K
times over C-vectors).

Semantics are the reference's, quirks included — pinned to the
independent per-conversation oracle ``tests/oracle/ref_hayes.py``
(tests/test_features_parity.py and the random-corpus kernel tests).
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd

HAYES_SIZE = 150


def _row_percentile(sorted_vals: np.ndarray, counts: np.ndarray, q: float) -> np.ndarray:
    """np.percentile('linear') per row; row i uses its first counts[i]
    entries of the ascending-sorted matrix. Empty rows → NaN."""
    cnt = np.maximum(counts, 1)
    idx = (cnt - 1) * (q / 100.0)
    lo = np.floor(idx).astype(np.int64)
    hi = np.ceil(idx).astype(np.int64)
    vlo = np.take_along_axis(sorted_vals, lo[:, None], axis=1)[:, 0]
    vhi = np.take_along_axis(sorted_vals, hi[:, None], axis=1)[:, 0]
    out = vlo + (vhi - vlo) * (idx - lo)
    return np.where(counts >= 1, out, np.nan)


def _delta_stats(d: np.ndarray, counts: np.ndarray):
    """(max, mean, std_pop, p75) per row of a NaN-padded delta matrix."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        mx = np.nanmax(d, axis=1)
        mean = np.nansum(d, axis=1) / np.maximum(counts, 1)
        centered = d - mean[:, None]
        var = np.nansum(centered * centered, axis=1) / np.maximum(counts, 1)
        std = np.sqrt(var)
    p75 = _row_percentile(np.sort(d, axis=1), counts, 75)
    bad = counts < 1
    for arr in (mx, mean, std, p75):
        arr[bad] = np.nan
    return mx, mean, std, p75


def _chunk_pattern(length: int, num: int = 20) -> list[tuple[int, int]]:
    """chunkIt float-stride slice boundaries (hayes:28-35), incl. empty
    slices — exact float accumulation preserved."""
    stride = length / float(num)
    out, pos = [], 0.0
    while pos < length:
        out.append((int(pos), int(pos + stride)))
        pos += stride
    return out


def _alt20(vals: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """sum-per-chunkIt-slice, padded/truncated to 20, grouped by row
    length so each distinct length is one vectorized pass."""
    c_rows = len(vals)
    out = np.zeros((c_rows, 20))
    cs = np.cumsum(np.nan_to_num(vals), axis=1)
    for length in np.unique(counts):
        rows = np.flatnonzero(counts == length)
        if length < 1:
            continue
        pat = _chunk_pattern(int(length))[:20]
        for j, (a, b) in enumerate(pat):
            if b <= a:
                continue
            seg = cs[rows, b - 1] - (cs[rows, a - 1] if a > 0 else 0.0)
            out[rows, j] = seg
    return out


def hayes_matrix_batch(pdf: pd.DataFrame, k: int, columns: list[str]) -> pd.DataFrame:
    conv = pdf["conv_id"].to_numpy()
    n_rows = len(conv)
    if n_rows == 0:
        return pd.DataFrame(columns=["conv_id", *columns])
    c = n_rows // k
    assert c * k == n_rows, "hayes_matrix_batch requires exactly K rows per conv"
    ts = pdf["ts_sec"].to_numpy(dtype=float).reshape(c, k)
    dr = pdf["dir"].to_numpy(dtype=np.int64).reshape(c, k)
    keys = conv[::k]

    mi, mo = dr == -1, dr == 1
    n_in = mi.sum(axis=1)
    n_out = mo.sum(axis=1)

    # direction-masked times compacted in ROW order (stable argsort on
    # the mask; NaN pads move to the tail). np.sort would VALUE-order
    # the timestamps, which equals row order only for monotone rows —
    # the reference (ts[mi] → np.diff) diffs in row order, and the
    # kernel must agree with it on out-of-order timestamps too
    order_in = np.argsort(~mi, axis=1, kind="stable")
    order_out = np.argsort(~mo, axis=1, kind="stable")
    tin = np.take_along_axis(np.where(mi, ts, np.nan), order_in, axis=1)
    tout = np.take_along_axis(np.where(mo, ts, np.nan), order_out, axis=1)

    din = np.diff(tin, axis=1)
    dout = np.diff(tout, axis=1)
    dall = np.diff(ts, axis=1)
    c_in = np.maximum(n_in - 1, 0)
    c_out = np.maximum(n_out - 1, 0)
    c_all = np.full(c, k - 1)

    in_mx, in_mean, in_std, in_p75 = _delta_stats(din, c_in)
    out_mx, out_mean, out_std, out_p75 = _delta_stats(dout, c_out)
    al_mx, al_mean, al_std, al_p75 = _delta_stats(dall, c_all)

    has_in, has_out = c_in >= 1, c_out >= 1
    zi = lambda a: np.where(has_in, a, 0.0)  # noqa: E731
    zo = lambda a: np.where(has_out, a, 0.0)  # noqa: E731
    zt = lambda a: np.where(has_in | has_out, a, 0.0)  # noqa: E731
    inter = np.column_stack(
        [zi(in_mx), zo(out_mx), zt(al_mx), zi(in_mean), zo(out_mean), zt(al_mean),
         zi(in_std), zo(out_std), zt(al_std), zi(in_p75), zo(out_p75), zt(al_p75)]
    )

    # time-percentile block (only its row-sum is emitted — Q1).
    # t0 is the row MIN (reference: ts.min()), equal to ts[:, 0] only
    # for monotone rows; percentiles are order-insensitive, so each rel
    # block is value-sorted before the positional interpolation
    t0 = ts.min(axis=1)
    rel_in = tin - t0[:, None]
    rel_out = tout - t0[:, None]
    rel_all = ts - t0[:, None]
    ts_blocks = []
    for rel, cnt in ((rel_in, n_in), (rel_out, n_out), (rel_all, np.full(c, k))):
        rel_sorted = np.sort(rel, axis=1)  # NaN pads stay at the tail
        for q in (25, 50, 75, 100):
            v = _row_percentile(rel_sorted, cnt, q)
            ts_blocks.append(np.where(cnt >= 1, v, 0.0))
    timestats_sum = np.sum(np.column_stack(ts_blocks), axis=1)

    number_pkts = np.column_stack([n_in, n_out, np.full(c, k)]).astype(float)

    f30, l30 = dr[:, :30], dr[:, -30:]
    thirty = np.column_stack(
        [(f30 == -1).sum(axis=1), (f30 == 1).sum(axis=1),
         (l30 == -1).sum(axis=1), (l30 == 1).sum(axis=1)]
    ).astype(float)

    # outgoing concentration per raw chunk of 20
    conc = np.add.reduceat(mo.astype(float), np.arange(0, k, 20), axis=1)
    nc = conc.shape[1]
    conc_cnt = np.full(c, nc)
    conc_sorted = np.sort(conc, axis=1)
    stdconc = conc.std(axis=1)
    avgconc = conc.mean(axis=1)
    medconc = _row_percentile(conc_sorted, conc_cnt, 50)
    maxconc = conc.max(axis=1)

    # per-second pointer recurrence (Q4), K steps over C-vectors
    b = (ts[:, 0] > 1.0).astype(np.int64)
    buckets = np.empty((c, k), dtype=np.int64)
    buckets[:, 0] = b
    for j in range(1, k):
        b = b + (ts[:, j] > 1.0 + b)
        buckets[:, j] = b
    nb = buckets[:, -1] + 1
    cnts = np.zeros((c, k + 1))
    np.add.at(cnts, (np.repeat(np.arange(c), k), buckets.ravel()), 1.0)
    valid = np.arange(k + 1)[None, :] < nb[:, None]
    cnts_nan = np.where(valid, cnts, np.nan)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        avg_ps = np.nansum(cnts_nan, axis=1) / nb
        cen = cnts_nan - avg_ps[:, None]
        std_ps = np.sqrt(np.nansum(cen * cen, axis=1) / nb)
        min_ps = np.nanmin(cnts_nan, axis=1)
        max_ps = np.nanmax(cnts_nan, axis=1)
    med_ps = _row_percentile(np.sort(cnts_nan, axis=1), nb, 50)

    # ordering stats
    pos = np.arange(k, dtype=float)[None, :]
    pin = np.where(mi, pos, np.nan)
    pout = np.where(mo, pos, np.nan)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        avg_oin = np.where(n_in > 0, np.nanmean(pin, axis=1), 0.0)
        avg_oout = np.where(n_out > 0, np.nanmean(pout, axis=1), 0.0)
        std_oin = np.nanstd(pin, axis=1)  # NaN when empty — reference quirk
        std_oout = np.nanstd(pout, axis=1)

    perc_in = n_in / float(k)
    perc_out = n_out / float(k)

    altconc = _alt20(conc, conc_cnt)
    altsec = _alt20(cnts_nan, nb)

    scalars = np.column_stack(
        [stdconc, avgconc, avg_ps, std_ps, avg_oin, avg_oout, std_oin, std_oout,
         medconc, med_ps, min_ps, max_ps, maxconc, perc_in, perc_out,
         altconc.sum(axis=1), altsec.sum(axis=1), number_pkts.sum(axis=1),
         inter.sum(axis=1), timestats_sum]
    )

    mat = np.zeros((c, HAYES_SIZE))
    blocks = [inter, number_pkts, thirty, scalars, altconc, altsec, conc]
    off = 0
    for blk in blocks:
        width = min(blk.shape[1], HAYES_SIZE - off)
        mat[:, off : off + width] = blk[:, :width]
        off += width
        if off >= HAYES_SIZE:
            break

    out = pd.DataFrame(mat, columns=columns)
    out.insert(0, "conv_id", keys)
    return out
