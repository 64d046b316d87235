"""Canonical ordering and the gated first-K slice.

The reference's operative per-group order is stable row order
(``preprocessing.py:226`` restores it after transforms; SURVEY.md §1.3).
The engine defines ONE canonical order — ``(conv_id, turn_idx, ts)`` —
and every kernel consumes it. The per-turn text-equality-under-stable-
ordering invariant (BASELINE.json) tests exactly this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from proxyfeatureextraction_spark import schema as S

ORDER_COLS = (S.TURN, S.TS)


def conv_window(order_cols=ORDER_COLS) -> Window:
    """W(conv): the canonical per-conversation analytic window."""
    return Window.partitionBy(S.CONV).orderBy(*order_cols)


def canonical(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Hash-partition by conversation and sort within partitions.

    This is the physical layout every grouped kernel relies on: one
    shuffle, then all of a conversation's turns are contiguous and
    ordered inside a partition. ``partitions=None`` defers to
    ``spark.sql.shuffle.partitions`` (AQE may coalesce).
    """
    parts = [partitions] if partitions else []
    return df.repartition(*parts, S.CONV).sortWithinPartitions(S.CONV, *ORDER_COLS)


def gated_first_k(df: DataFrame, k: int) -> DataFrame:
    """≥k gate + first-k slice in canonical order, one window pass
    (P4/P5, ``corr_extractor.py:149-158``). Bounds every downstream
    group to k rows — the primary skew eliminator."""
    w = conv_window()
    out = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(S.CONV))
    )
    return out.filter((F.col("_n") >= k) & (F.col("_rn") <= k)).drop("_rn", "_n")
