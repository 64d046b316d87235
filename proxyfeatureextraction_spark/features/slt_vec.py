"""Matrix-vectorized SLT checkpoint kernel.

Unlike Hayes, SLT has no minimum-turn gate, so conversations are
ragged (1..K rows). The batch is scattered into NaN-padded (C, K)
matrices; per-side sequences are materialized with an argsort gather
on within-conv position (rows are canonically ordered), and every
checkpoint statistic is a fixed-width slice reduction — no per-conv
Python loop. Semantics pinned to the independent per-conversation
oracle ``tests/oracle/ref_slt.py`` by tests.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd

CHECKPOINTS = (2, 4, 8, 16, 20)
MAX_SIDE = 20


def _scatter(pdf: pd.DataFrame, k: int):
    conv = pdf["conv_id"].to_numpy()
    change = np.flatnonzero(conv[1:] != conv[:-1]) + 1
    starts = np.concatenate(([0], change))
    lens = np.diff(np.concatenate((starts, [len(conv)])))
    c = len(starts)
    row_of = np.repeat(np.arange(c), lens)
    col_of = np.arange(len(conv)) - np.repeat(starts, lens)
    ts = np.full((c, k), np.nan)
    dr = np.zeros((c, k), dtype=np.int64)
    sz = np.full((c, k), np.nan)
    ts[row_of, col_of] = pdf["ts_sec"].to_numpy(dtype=float)
    dr[row_of, col_of] = pdf["dir"].to_numpy(dtype=np.int64)
    sz[row_of, col_of] = pdf["n_chars"].to_numpy(dtype=float)
    return conv[starts], lens, ts, dr, sz


def _side_arrays(mask: np.ndarray, ts: np.ndarray, sz: np.ndarray, k: int):
    """Gather a side's (ts, bytes) sequences left-aligned, capped at
    MAX_SIDE (slt:254-261 head(20))."""
    pos = np.arange(k)[None, :]
    key = np.where(mask, pos, k + 1)
    order = np.argsort(key, axis=1, kind="stable")
    t = np.take_along_axis(np.where(mask, ts, np.nan), order, axis=1)
    b = np.take_along_axis(np.where(mask, sz, np.nan), order, axis=1)
    n = np.minimum(mask.sum(axis=1), MAX_SIDE)
    # cap: blank out positions beyond MAX_SIDE
    if k > MAX_SIDE:
        t[:, MAX_SIDE:] = np.nan
        b[:, MAX_SIDE:] = np.nan
    return t, b, n


def _stat4_slice(vals: np.ndarray, width: int, ok: np.ndarray):
    """mean/max/min/std_pop over vals[:, :width] for rows where ok."""
    s = vals[:, :width]
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        mean = np.nanmean(s, axis=1)
        mx = np.nanmax(s, axis=1)
        mn = np.nanmin(s, axis=1)
        sd = np.nanstd(s, axis=1)
    out = []
    for a in (mean, mx, mn, sd):
        out.append(np.where(ok, np.nan_to_num(a, nan=0.0), 0.0))
    return out


def slt_matrix_batch(pdf: pd.DataFrame, k: int, columns: list[str]) -> pd.DataFrame:
    if pdf.empty:
        return pd.DataFrame(columns=["conv_id", *columns])
    keys, lens, ts, dr, sz = _scatter(pdf, k)
    c = len(keys)
    valid = ~np.isnan(ts)

    first_dir = dr[:, 0]
    up_mask = (dr == first_dir[:, None]) & valid
    down_mask = (dr != first_dir[:, None]) & valid

    sides = [
        _side_arrays(up_mask, ts, sz, k),
        _side_arrays(down_mask, ts, sz, k),
        _side_arrays(valid, ts, sz, k),
    ]
    cols: list[np.ndarray] = []

    # upstream ratios (6 incl. the REQUIRED_LENGTH pad)
    up_t, up_b, up_n = sides[0]
    dn_t, dn_b, dn_n = sides[1]
    up_cs = np.nancumsum(np.nan_to_num(up_b), axis=1)
    dn_cs = np.nancumsum(np.nan_to_num(dn_b), axis=1)
    for cp in CHECKPOINTS:
        iu = np.minimum(cp, np.maximum(up_n, 1)) - 1
        idn = np.minimum(cp, np.maximum(dn_n, 1)) - 1
        u = np.where(up_n > 0, np.take_along_axis(up_cs, iu[:, None], axis=1)[:, 0], 0.0)
        dwn = np.where(dn_n > 0, np.take_along_axis(dn_cs, idn[:, None], axis=1)[:, 0], 0.0)
        tot = u + dwn
        cols.append(np.where(tot > 0, u / np.where(tot > 0, tot, 1.0), 0.0))
    cols.append(np.zeros(c))

    # timing: stats over np.diff(ts[:cp]) when side length >= cp
    for t, _, n in sides:
        d = np.diff(t, axis=1)
        for cp in CHECKPOINTS:
            cols.extend(_stat4_slice(d, cp - 1, n >= cp))

    # throughput, then rate
    thr_cols, rate_cols = [], []
    for t, b, n in sides:
        cs = np.nancumsum(np.nan_to_num(b), axis=1)
        for cp in CHECKPOINTS:
            ok = n >= cp
            idx = np.minimum(cp, k) - 1
            dt = t[:, idx] - t[:, 0]
            with np.errstate(all="ignore"):
                thr = np.where(ok & (dt > 0), cs[:, idx] / np.where(dt > 0, dt, 1.0), 0.0)
                rate = np.where(ok & (dt > 0), cp / np.where(dt > 0, dt, 1.0), 0.0)
            thr_cols.append(np.nan_to_num(thr, nan=0.0))
            rate_cols.append(np.nan_to_num(rate, nan=0.0))
    cols.extend(thr_cols)
    cols.extend(rate_cols)

    # sizes
    for _, b, n in sides:
        for cp in CHECKPOINTS:
            cols.extend(_stat4_slice(b, cp, n >= cp))

    mat = np.column_stack(cols)[:, :155]  # zip-shift truncation
    out = pd.DataFrame(mat, columns=columns)
    out.insert(0, "conv_id", keys)
    return out
