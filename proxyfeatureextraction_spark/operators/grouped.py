"""Group-aware Arrow batching: the engine's sanctioned Python escape
hatch for per-conversation kernels.

``df.groupBy(k).applyInPandas(fn)`` pays one Python invocation per
GROUP. At 10^12 turns / ~3×10^10 conversations that per-group overhead
(pandas frame construction, dispatch) dominates. Instead we:

1. ``repartition(conv_id)`` + ``sortWithinPartitions(conv_id, turn_idx,
   ts)`` (one shuffle, canonical order),
2. ``mapInPandas`` over the sorted partition, stitching Arrow batches
   so no conversation is split across kernel calls — one Python
   invocation per ~``maxRecordsPerBatch`` rows, with the kernel free to
   vectorize across MANY whole conversations at once.

Skew note: a single conversation larger than executor memory cannot be
order-preserving-split; upstream gates (`gated_first_k`) bound group size for
every first-K feature family, and `operators.skew` handles the
algebraic whole-trace aggregates.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from proxyfeatureextraction_spark import schema as S
from proxyfeatureextraction_spark.operators.ordering import canonical


def map_whole_groups(
    df: DataFrame,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    out_schema,
    key_col: str = S.CONV,
    partitions: int | None = None,
    order_cols: tuple[str, ...] | None = None,
    pre_ordered: bool = False,
) -> DataFrame:
    """Apply ``kernel(batch_pdf) -> feature_pdf`` over canonical-ordered
    batches that contain only WHOLE groups.

    The kernel receives a pandas frame holding one or more complete
    conversations, already sorted by (conv_id, turn_idx, ts) — or by
    (key, *order_cols) when ``order_cols`` overrides the canonical pair
    (pass ``()`` for order-insensitive kernels) — and returns any
    number of output rows matching ``out_schema``.

    ``pre_ordered=True`` skips the repartition+sort entirely: the caller
    GUARANTEES ``df`` is already hash-clustered by ``key_col`` with each
    group's rows contiguous and in kernel order (true for the output of
    any window over ``conv_window()`` — the window's own exchange+sort
    established exactly that layout). Saves a full shuffle of the input.
    """
    if pre_ordered:
        ordered = df
    elif order_cols is not None:
        parts = [partitions] if partitions else []
        ordered = df.repartition(*parts, key_col).sortWithinPartitions(key_col, *order_cols)
    else:
        ordered = canonical(df, partitions)

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if pdf.empty:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            keys = pdf[key_col].to_numpy()
            last = keys[-1]
            # rows of the final (possibly incomplete) group wait for the
            # next batch; everything before them is complete. Equal keys
            # are contiguous (partition is sorted), so the first index
            # equal to `last` marks the tail group.
            cut = int((keys == last).argmax())
            if cut == 0:
                carry = pdf
                continue
            carry = pdf.iloc[cut:].reset_index(drop=True)
            out = kernel(pdf.iloc[:cut])
            if out is not None and len(out):
                yield out
        if carry is not None and len(carry):
            out = kernel(carry)
            if out is not None and len(out):
                yield out

    return ordered.mapInPandas(runner, schema=out_schema)
