"""Similarity search over embedding columns.

Two paths:

- ``cosine_topk_bruteforce``: exact top-k. The naive plan (cross join +
  per-pair HOF dot product) burns minutes at 5k vectors; instead the
  candidate matrix is broadcast once and each Arrow batch does ONE BLAS
  matmul against it (mapInPandas) — the right brute-force baseline.
  Broadcast bound: n_candidates × dim × 8 bytes must fit an executor
  (~100 MB ≈ 200k × 64-dim). Beyond that, use the LSH path.
- ``cosine_topk_lsh``: random-hyperplane LSH bucketing (deterministic
  PORTABLE planes — affine integer hash mod 1e9+7 mapped to [-1, 1),
  bit-identical in DuckDB SQL, so the full bucket→rerank→merge pipeline
  is oracle-checkable), candidates restricted to same-bucket pairs —
  the scale path; approximate.
- ``cosine_topk_ivf``: inverted-file cell search with deterministic
  sampled centroids and symmetric multi-probe — the second scale path
  (better for clustered corpora; LSH for adversarially uniform ones).
  Both share the per-bucket exact-rerank + global-merge tail.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: plane-hash constants (shared with the DuckDB oracle in __spark_entry__)
PLANE_MOD = 1_000_000_007
PLANE_A = 2_654_435_761 % PLANE_MOD
PLANE_B = 40_503


def portable_planes(n_tables: int, n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes, reproducible in SQL.

    ``value(t, p, d) = 2·h/M − 1`` with ``h = (A·idx + B·(seed+1)) mod M``
    and ``idx = (t·n_planes + p)·dim + d`` — uniform in [-1, 1). Sign-LSH
    only needs a symmetric non-degenerate direction distribution, so the
    uniform cube works in place of Gaussian planes; the payoff is that
    DuckDB can rebuild every plane bit-for-bit with integer arithmetic
    (same trick as operators/dedup.py's portable_word_hash).
    """
    idx = (
        (np.arange(n_tables, dtype=np.int64)[:, None, None] * n_planes
         + np.arange(n_planes, dtype=np.int64)[None, :, None]) * dim
        + np.arange(dim, dtype=np.int64)[None, None, :]
    )
    h = (PLANE_A * idx + PLANE_B * (seed + 1)) % PLANE_MOD
    return 2.0 * h / PLANE_MOD - 1.0

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("neighbor", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
        T.StructField("rk", T.IntegerType()),
    ]
)


def _normalized_matrix(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    ids = pdf["vec_id"].to_numpy()
    m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    return ids, m


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Row-normalize, mapping zero-norm rows to zero rows instead of
    0/0 → NaN (a zero embedding then scores cosine 0 against everything
    rather than NaN — which Spark's desc ordering would rank FIRST)."""
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(norms == 0, 1.0, norms)


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 6,
    max_rows: int | None = 200_000,
    max_cells: int | None = 50_000_000,
) -> DataFrame:
    """Exact cosine top-k of every vector vs the whole table.

    Ties broken on (rounded cosine desc, neighbor id asc) so results are
    deterministic and oracle-comparable.

    BOUNDED BY DESIGN: the candidate matrix is collected to the driver
    and broadcast, so this is the exact baseline, not a scale path.
    Fail-fast guards (``max_rows`` / ``max_cells`` = rows × dim) fire
    BEFORE anything is collected — same pattern as
    ``dedup.jaccard_pairs`` — and route oversized corpora to the
    distributed ANN paths. Pass ``max_rows=None`` to disable (trusted
    inputs).
    """
    spark = embeddings.sparkSession
    base = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    if max_rows is not None:
        stats = base.agg(
            F.count(F.lit(1)).alias("n"), F.max(F.size("embedding")).alias("d")
        ).first()
        n, d = stats["n"] or 0, stats["d"] or 0
        if n > max_rows or (max_cells is not None and n * d > max_cells):
            raise ValueError(
                f"cosine_topk_bruteforce corpus exceeds the exact-baseline "
                f"bound ({n} rows × {d} dim vs max {max_rows} rows / "
                f"{max_cells} cells): the candidate matrix no longer fits a "
                f"driver/executor broadcast. Use cosine_topk_lsh() or "
                f"cosine_topk_ivf() — distributed ANN with exact per-bucket "
                f"re-rank — instead."
            )
    cand_pdf = base.toPandas()
    if cand_pdf.empty:  # same empty contract as the LSH/IVF paths
        return spark.createDataFrame([], TOPK_SCHEMA)
    cand_ids, cand = _normalized_matrix(cand_pdf)
    cand_norm = _unit_rows(cand)
    b_ids = spark.sparkContext.broadcast(cand_ids)
    b_mat = spark.sparkContext.broadcast(cand_norm)

    def run(batches):
        ids_all, mat = b_ids.value, b_mat.value
        for pdf in batches:
            if pdf.empty:
                continue
            q_ids, q = _normalized_matrix(pdf)
            qn = _unit_rows(q)
            sims = qn @ mat.T  # (batch, n_candidates) — one BLAS call
            if round_digits is not None:
                sims = np.round(sims, round_digits)
            out_rows = []
            for row_i in range(sims.shape[0]):
                s = sims[row_i]
                self_mask = ids_all == q_ids[row_i]
                s = np.where(self_mask, -np.inf, s)
                # top-k with (score desc, id asc) tiebreak
                order = np.lexsort((ids_all, -s))[:k]
                out_rows.append(
                    pd.DataFrame(
                        {
                            "vec_id": q_ids[row_i],
                            "neighbor": ids_all[order],
                            "cosine": s[order],
                            "rk": np.arange(1, len(order) + 1, dtype=np.int32),
                        }
                    )
                )
            yield pd.concat(out_rows, ignore_index=True)

    return base.mapInPandas(run, schema=TOPK_SCHEMA)


def cosine_topk_lsh(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 50_000,
    chunk_rows: int = 1_024,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH.

    Each of ``n_tables`` independent signatures buckets the vectors
    (2^n_planes buckets); exact cosine re-ranks within each bucket and
    a global window keeps the best k per vector across tables. Recall
    rises as 1 − (1 − p^planes)^tables; candidate volume scales with
    tables — the standard knob pair. ``max_bucket``/``chunk_rows`` are
    the shared rerank-tail guards (see ``_bucketed_topk``)."""
    base = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    first = base.select(F.size("embedding").alias("d")).first()
    if first is None:
        return base.sparkSession.createDataFrame([], TOPK_SCHEMA)
    planes = portable_planes(n_tables, n_planes, int(first["d"]), seed=seed)

    def bucketize(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, m = _normalized_matrix(pdf)
            frames = []
            for t in range(n_tables):
                bits = (m @ planes[t].T) > 0
                sig = (bits * (1 << np.arange(n_planes))).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids,
                            "bucket": (sig + (t << n_planes)).astype(np.int64),
                            "embedding": pdf["embedding"].to_numpy(),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    bucketed = base.mapInPandas(
        bucketize,
        schema=T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("bucket", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )

    return _bucketed_topk(bucketed, k, max_bucket=max_bucket, chunk_rows=chunk_rows,
                          round_digits=round_digits)


def _bucketed_topk(
    bucketed: DataFrame,
    k: int,
    max_bucket: int | None = 50_000,
    chunk_rows: int = 1_024,
    round_digits: int = 6,
) -> DataFrame:
    """Shared ANN tail: exact-cosine re-rank inside each bucket/cell
    (Arrow grouped-map), then a global per-vector merge of the best k
    across buckets. Per-bucket truncation at k is lossless for the
    final top-k: a neighbor's rank within any bucket is ≤ its rank over
    the union of that vector's candidates (same total order).

    Two scale guards (mirrors dedup's hot-bucket treatment):

    - ``max_bucket``: buckets above this size are DROPPED before the
      grouped-map (counted with one window pass). A bucket holding a
      large fraction of the corpus carries near-zero locality
      information — re-ranking it is O(bucket²) work for candidates
      brute force would find anyway. ``None`` disables.
    - ``chunk_rows``: the per-bucket similarity matrix is computed in
      query-row blocks, so kernel memory is O(chunk_rows × bucket)
      (~0.4 GB at the 50k cap with 1k chunks), never O(bucket²). Same
      outputs — chunking only splits the matmul.
    """

    def rerank(key, pdf: pd.DataFrame) -> pd.DataFrame:
        del key
        if len(pdf) < 2:
            return pd.DataFrame(
                {"vec_id": [], "neighbor": [], "cosine": [], "rk": []}
            ).astype({"vec_id": "int64", "neighbor": "int64", "cosine": "float64", "rk": "int32"})
        ids, m = _normalized_matrix(pdf)
        mn = _unit_rows(m)
        n = len(ids)
        kk = min(k, n - 1)
        out_vec, out_nbr, out_cos = [], [], []
        for i0 in range(0, n, chunk_rows):
            i1 = min(i0 + chunk_rows, n)
            sims = np.round(mn[i0:i1] @ mn.T, round_digits)  # (chunk, n) — bounded
            sims[np.arange(i1 - i0), np.arange(i0, i1)] = -np.inf  # self
            for j in range(i1 - i0):
                order = np.lexsort((ids, -sims[j]))[:kk]
                out_vec.append(np.full(kk, ids[i0 + j]))
                out_nbr.append(ids[order])
                out_cos.append(sims[j][order])
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_vec),
                "neighbor": np.concatenate(out_nbr),
                "cosine": np.concatenate(out_cos),
                "rk": np.tile(np.arange(1, kk + 1, dtype=np.int32), n),
            }
        )

    if max_bucket is not None:
        from proxyfeatureextraction_spark.operators.dedup import _drop_hot_keys

        bucketed = _drop_hot_keys(bucketed, ["bucket"], max_bucket)
    per_bucket = bucketed.groupBy("bucket").applyInPandas(rerank, schema=TOPK_SCHEMA)
    # best k per vector across buckets (dedupe identical pairs first)
    from pyspark.sql import Window

    best = per_bucket.groupBy("vec_id", "neighbor").agg(F.max("cosine").alias("cosine"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("neighbor"))
    return (
        best.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("vec_id", "neighbor", "cosine", F.col("rk").cast("int").alias("rk"))
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column:
    ``q[i] = round(x[i] * 127 / max|x|)``, ``scale = max|x| / 127`` —
    the standard 4× storage cut for a trillion-vector store (float32 →
    int8; dequantize as ``q * scale``). Cosine on dequantized vectors
    tracks full precision closely (top-1 agreement pinned by test);
    re-rank against the full-precision column where exactness matters.

    Pure JVM array HOFs — no Python, no shuffle; fuses into the scan.
    All-zero vectors quantize to all-zero with scale 0. Returns
    ``(vec_id, scale, qvec)`` with ``qvec array<int>`` in [-127, 127]
    (int, not tinyint, for portable cross-engine stringification).
    """
    x = F.col(vec_col)
    mx = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    scale = mx / F.lit(127.0)
    qv = F.when(
        mx > 0,
        F.transform(x, lambda v: F.round(v.cast("double") / scale).cast("int")),
    ).otherwise(F.transform(x, lambda v: F.lit(0)))
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.round(scale, round_digits).alias("scale"),
        qv.alias("qvec"),
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    k: int = 5,
    n_cells: int | None = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 50_000,
    chunk_rows: int = 1_024,
    round_digits: int = 6,
) -> DataFrame:
    """Approximate top-k: IVF (inverted-file) cell search.

    Centroids are a DETERMINISTIC sample — the ``n_cells`` lowest ids
    (k-means init is a random sample; pinning it keeps the whole
    pipeline oracle-checkable in SQL, and k-means refinement iterations
    would just be repeated Spark jobs over the same assignment step at
    deploy time). Every vector joins its ``n_probe`` nearest cells by
    exact cosine-to-centroid (symmetric multi-probe: candidates are
    same-cell co-members), then the shared rerank/merge tail produces
    the best k. The centroid matrix (n_cells × dim) is the only
    broadcast — O(cells), never O(corpus).

    SIZING: the rerank tail costs O(n_probe · n/n_cells) candidates per
    vector — O(n²·n_probe/n_cells) total — so a FIXED cell count makes
    cells O(corpus) and the tail quadratic. ``n_cells=None`` sizes it
    from one cheap count as ``max(16, ceil(√n))``, the classical IVF
    balance point (cells and cell-size both O(√n), total rerank
    O(n^1.5·n_probe)); the ``_bucketed_topk`` hot-bucket cap remains the
    backstop for skewed assignments. Pass an explicit ``n_cells`` to
    pin the layout (the driver gate pins 16 so its oracle is stable)."""
    base = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    if n_cells is None:
        import math

        n_total = base.count()
        # ceil(sqrt(n)) = isqrt(n-1) + 1 for n > 0
        n_cells = max(16, math.isqrt(max(n_total - 1, 0)) + 1)
        n_cells = min(n_cells, max(n_total, 1))
    cent_pdf = (
        base.orderBy("vec_id")
        .limit(n_cells)
        .toPandas()
        .sort_values("vec_id", kind="stable")  # positional index == id order
        .reset_index(drop=True)
    )
    if cent_pdf.empty:
        return base.sparkSession.createDataFrame([], TOPK_SCHEMA)
    _, cmat = _normalized_matrix(cent_pdf)
    cn = _unit_rows(cmat)
    b_cent = base.sparkSession.sparkContext.broadcast(cn)
    probe = min(n_probe, len(cent_pdf))

    def assign(batches):
        cn_ = b_cent.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids, m = _normalized_matrix(pdf)
            qn = _unit_rows(m)
            # rounded before ranking so the SQL oracle's independently
            # computed cosines rank cells identically
            cos = np.round(qn @ cn_.T, round_digits)  # (batch, n_cells)
            # top-P cells, ties to the lower cell id (lexsort tiebreak)
            cells = np.stack(
                [np.lexsort((np.arange(cn_.shape[0]), -cos[i]))[:probe] for i in range(len(ids))]
            )
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, probe),
                    "bucket": cells.reshape(-1).astype(np.int64),
                    "embedding": np.repeat(pdf["embedding"].to_numpy(), probe),
                }
            )

    assigned = base.mapInPandas(
        assign,
        schema=T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("bucket", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    return _bucketed_topk(assigned, k, max_bucket=max_bucket, chunk_rows=chunk_rows,
                          round_digits=round_digits)


def _det_centroid_matrix(base: DataFrame, n_cells: int) -> np.ndarray:
    """Unit-row centroid matrix from the ``n_cells`` lowest-id vectors
    (the deterministic init shared with ``cosine_topk_ivf`` — keeps the
    pipeline oracle-checkable; Lloyd refinement layers on top)."""
    cent_pdf = (
        base.orderBy("vec_id")
        .limit(n_cells)
        .toPandas()
        .sort_values("vec_id", kind="stable")
        .reset_index(drop=True)
    )
    if cent_pdf.empty:
        return np.zeros((0, 0))
    _, cmat = _normalized_matrix(cent_pdf)
    return _unit_rows(cmat)


def _assign_cells(
    base: DataFrame, cn: np.ndarray, round_digits: int
) -> DataFrame:
    """(vec_id, cell, cent_cos, embedding): each vector's single
    nearest centroid by rounded cosine (ties to the lower cell id)."""
    b_cent = base.sparkSession.sparkContext.broadcast(cn)

    def assign(batches):
        cn_ = b_cent.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids, m = _normalized_matrix(pdf)
            qn = _unit_rows(m)
            cos = np.round(qn @ cn_.T, round_digits)
            # argmax returns the LOWEST index among ties — exactly the
            # "max rounded cosine, ties to lowest cell id" rule, without
            # the per-row lexsort loop (O(rows·cells log cells) overhead
            # in the hot path every Lloyd round re-runs)
            cells = np.argmax(cos, axis=1).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cell": cells,
                    "cent_cos": cos[np.arange(len(ids)), cells],
                    "embedding": pdf["embedding"].to_numpy(),
                }
            )

    return base.mapInPandas(
        assign,
        schema=T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("cell", T.LongType()),
                T.StructField("cent_cos", T.DoubleType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )


def semantic_dedup(
    embeddings: DataFrame,
    eps: float = 0.5,
    n_cells: int | None = None,
    iterations: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = 50_000,
    chunk_rows: int = 1_024,
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, then inside each cluster collapse every group of
    ``eps``-similar vectors to ONE survivor — the member LEAST similar
    to its cluster centroid (the paper's keep-rule: prototypical
    near-copies drop, outliers survive), ties to the lower id.

    Returns a total per-vector assignment ``(vec_id, cell, cent_cos,
    cluster_rep, keep, capped)``: ``cluster_rep`` labels the eps-connected
    duplicate group (connected components over within-cell pairs —
    vectors in different cells are never compared, which is exactly
    SemDeDup's clustering approximation), ``keep`` marks survivors.

    Scale shape: centroids are the ``n_cells`` lowest ids (auto-sized
    at √n like the IVF route when ``None``), optionally refined with
    ``iterations`` Lloyd rounds — each round is one distributed
    assign + per-(cell, dim) mean, with only the O(cells × dim)
    centroid matrix ever collected/broadcast.  Pairwise similarity is
    confined to cells (``max_cell`` drops degenerate hot cells — same
    guard as the ANN tail; ``chunk_rows`` bounds kernel memory), the
    duplicate groups collapse through the same connected-components
    ``dedup_clusters`` machinery as the text routes, and the keep-rule
    is one window over ``(cluster_rep)``.  Members of cells larger
    than ``max_cell`` come back ``capped=True, keep=False`` — they
    were never compared, and hot cells hold exactly the
    most-duplicated content, so silently keeping them would invert the
    operator for its heaviest cases; route capped rows through a
    coarser dedup (exact / minhash) instead.  Cosines are rounded to
    ``round_digits`` BEFORE thresholding so the SQL oracle ranks and
    thresholds identically.
    """
    from proxyfeatureextraction_spark.operators.dedup import dedup_clusters

    # explicit None checks: 0 must be rejected, not silently treated as
    # "auto" (the falsy-guard class the round-3 advisor flagged)
    if n_cells is not None and n_cells <= 0:
        raise ValueError("n_cells must be positive (or None for auto-√n)")
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    if n_cells is None:
        import math

        n_total = base.count()
        n_cells = max(16, math.isqrt(max(n_total - 1, 0)) + 1)
        n_cells = min(n_cells, max(n_total, 1))
    cn = _det_centroid_matrix(base, n_cells)
    if cn.size == 0:
        return base.sparkSession.createDataFrame(
            [],
            "vec_id long, cell long, cent_cos double, cluster_rep long, "
            "keep boolean, capped boolean",
        )
    for _ in range(iterations):
        assigned = _assign_cells(base, cn, round_digits)
        means = (
            assigned.select("cell", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cn.copy()  # cells that lose every member keep their centroid
        upd: dict[int, np.ndarray] = {}
        for r in means:
            upd.setdefault(r["cell"], np.zeros(cn.shape[1]))[r["pos"]] = r["m"]
        for cell, v in upd.items():
            new[cell] = v
        cn = _unit_rows(new)
    # materialized: the final assignment feeds THREE consumers (the
    # cell-size guard, the per-cell pair kernel, and the labeled output
    # join) — without it each consumer re-executes the Arrow
    # cosine-assignment kernel over every embedding. The working set is
    # (id, vec, cell), the same materialization the SemDeDup paper's
    # pipeline keeps between its clustering and dedup stages.
    # localCheckpoint, not persist: the returned frame references these
    # blocks, so a persist would pin a CacheManager entry for the
    # session's lifetime (r5 ADVICE #1); checkpoint blocks are released
    # by the ContextCleaner once the result is dropped.
    assigned = _assign_cells(base, cn, round_digits).localCheckpoint(eager=False)

    # cells over max_cell skip pair generation (the O(cell²) kernel
    # would be degenerate there), but their members MUST NOT silently
    # come back keep=True — hot cells hold exactly the most-duplicated
    # content. They are flagged `capped` in the output so callers route
    # them to a coarser pass (exact/minhash dedup) instead of trusting
    # an un-run comparison.
    if max_cell is not None:
        # cell sizes via a map-side-partial AGGREGATE broadcast back —
        # a count window over `cell` would funnel every member of a
        # degenerate hot cell (embeddings included) through one task,
        # i.e. the guard against oversized cells would itself
        # materialize the oversized cell on a single partition. The
        # size table is ≤ n_cells rows, so the join side broadcasts.
        sizes = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("_cell_n"))
        assigned = (
            assigned.join(F.broadcast(sizes), "cell", "left")
            .withColumn("capped", F.col("_cell_n") > max_cell)
            .drop("_cell_n")
        )
    else:
        assigned = assigned.withColumn("capped", F.lit(False))
    cells = assigned.filter(~F.col("capped"))

    pair_schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
    )

    def cell_pairs(key, pdf: pd.DataFrame):
        del key
        if len(pdf) < 2:
            return pd.DataFrame({"a": [], "b": []}).astype({"a": "int64", "b": "int64"})
        ids, m = _normalized_matrix(pdf)
        mn = _unit_rows(m)
        n = len(ids)
        out_a, out_b = [], []
        for i0 in range(0, n, chunk_rows):
            i1 = min(i0 + chunk_rows, n)
            sims = np.round(mn[i0:i1] @ mn.T, round_digits)
            for j in range(i1 - i0):
                hit = np.flatnonzero((sims[j] >= eps) & (ids > ids[i0 + j]))
                if hit.size:
                    out_a.append(np.full(hit.size, ids[i0 + j]))
                    out_b.append(ids[hit])
        if not out_a:
            return pd.DataFrame({"a": [], "b": []}).astype({"a": "int64", "b": "int64"})
        return pd.DataFrame(
            {"a": np.concatenate(out_a), "b": np.concatenate(out_b)}
        )

    edges = cells.select("cell", "vec_id", "embedding").groupBy("cell").applyInPandas(
        cell_pairs, schema=pair_schema
    )
    clusters = dedup_clusters(
        edges, nodes=base.select(F.col("vec_id")), a_col="a", b_col="b",
        id_col="vec_id",
        # each vector lives in exactly one cell, so a pair is emitted by
        # exactly one cell's kernel — the initial edge distinct is skippable
        pairs_distinct=True,
    )
    labeled = assigned.select("vec_id", "cell", "cent_cos", "capped").join(
        clusters, "vec_id"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_rep").orderBy(F.asc("cent_cos"), F.asc("vec_id"))
    return (
        labeled.withColumn("_rk", F.row_number().over(w))
        .withColumn("keep", (F.col("_rk") == 1) & ~F.col("capped"))
        .drop("_rk")
        .select("vec_id", "cell", "cent_cos", "cluster_rep", "keep", "capped")
    )


def kcenter_select(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Greedy k-center (farthest-point-first) coreset selection over an
    embedding column — Gonzalez 1985's 2-approximation to the k-center
    cover, used by Sener & Savarese 2018 ("Active Learning for CNNs: A
    Core-Set Approach") as the diversity-maximizing data-selection
    rule.  The coverage complement to SemDeDup: SemDeDup REMOVES
    redundant points, k-center PICKS the spanning skeleton.

    Returns ``(rank, id, dmin)`` — the selection order and, for each
    pick, the max-min cosine distance at pick time (a monotone
    non-increasing curve callers read to choose k; rank 0 reports the
    2.0 init sentinel).  Selection rule: every row starts at
    ``dmin = 2.0`` (> any cosine distance), each round picks
    ``argmax(dmin, ties → lowest id)`` — so round 0 degenerates to the
    lowest id and no special-casing is needed — then updates
    ``dmin := min(dmin, 1 − ⟨u, u_pick⟩)`` on unit vectors (zero-norm
    rows stay zero vectors: distance 1 to everything).

    Scale shape: the working set is ``(id, unit_vec, dmin)`` —
    persisted; each round is ONE map-side-partial ``max(struct)``
    aggregate returning a single row to the driver (the only data ever
    collected), then a narrow JVM-HOF dot-product update against the
    picked vector's literals.  k rounds = k scans of the cached working
    set; ``localCheckpoint`` every ``checkpoint_every`` rounds truncates
    the accumulating lineage so round N never replays rounds 1..N−1.
    The greedy sequence is inherently sequential (each pick conditions
    on all previous), so k passes is the algorithm's floor — at 100 TB
    you run it on a representative sample or per-shard, which this
    operator leaves to the caller's input.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    nrm = F.sqrt(
        F.aggregate(F.col("_v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cur = (
        df.select(
            F.col(id_col).cast("long").alias("_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
        )
        .withColumn("_nrm", nrm)
        .select(
            "_id",
            F.transform(
                "_v",
                lambda x: x
                / F.when(F.col("_nrm") == 0.0, F.lit(1.0)).otherwise(
                    F.col("_nrm")
                ),
            ).alias("_u"),
            F.lit(2.0).alias("_dmin"),
        )
    )
    cur = cur.persist()
    spark = df.sparkSession
    picks: list[tuple[int, int, float]] = []
    prev = None
    prev_ckpt = ckpt_cur = False
    for i in range(k):
        top = cur.agg(
            F.max(
                F.struct(
                    F.col("_dmin").alias("d"),
                    (-F.col("_id")).alias("nid"),
                    F.col("_u").alias("u"),
                )
            ).alias("s")
        ).head()["s"]
        if top is None:  # fewer than k rows
            break
        picks.append((i, int(-top["nid"]), float(top["d"])))
        pu = F.array(*[F.lit(float(x)) for x in top["u"]])
        dot = F.aggregate(
            F.zip_with(F.col("_u"), pu, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        nxt = cur.filter(F.col("_id") != int(-top["nid"])).withColumn(
            "_dmin", F.least(F.col("_dmin"), F.lit(1.0) - dot)
        )
        ckpt = (i + 1) % checkpoint_every == 0
        nxt = nxt.localCheckpoint(eager=True) if ckpt else nxt.persist()
        # prev's cache is disposable once cur has materialized (the agg
        # above did), EXCEPT when prev is a localCheckpoint — dropping
        # those blocks would make cur unrecoverable under cache eviction
        if prev is not None and not prev_ckpt:
            prev.unpersist()
        prev, prev_ckpt, cur = cur, ckpt_cur, nxt
        ckpt_cur = ckpt
    # the result is a k-row driver-built frame — the working set's
    # storage is no longer referenced by anything returned
    if prev is not None and not prev_ckpt:
        prev.unpersist()
    if not ckpt_cur:
        cur.unpersist()
    return spark.createDataFrame(picks, "rank int, id long, dmin double")


def embedding_pca(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten: bool = False,
    eps: float = 1e-12,
) -> DataFrame:
    """PCA projection of an embedding column to ``k`` dimensions — the
    dimensionality-reduction / whitening preprocessing step embedding
    pipelines run before clustering or ANN (SemDeDup, Abbas et al. 2023,
    applies exactly this before its k-means pass; Jegou et al. 2011 use
    PCA+whitening ahead of product quantization).

    Two-stage scale shape (the classic distributed covariance pattern):

    1. **Partial Gram per Arrow batch** (``mapInPandas``): each batch
       emits ONE row ``(n, Σv, VᵀV)`` — d + d² doubles regardless of
       batch size. The collect moves O(partitions · d²) bytes to the
       driver (64-dim → 33 KB per partition), never row data.
    2. **Driver eigendecomposition** of the d×d covariance (numpy
       ``eigh`` — symmetric, deterministic), components sign-fixed
       (the largest-|loading| coordinate, ties to the lowest index via
       argmax, is made positive) so re-runs and replays agree.
    3. **JVM-side projection**: the k mean-centered dot products run as
       ``zip_with``+``aggregate`` HOFs against the component vectors'
       literals — whole-stage-codegen, no Python in the per-row path.

    ``whiten=True`` scales each output coordinate by ``1/√eigenvalue``
    (unit component variance; ``eps`` floors degenerate directions).
    Returns ``(id_col, pca array<double>)`` plus ``explained`` — the
    per-component explained-variance ratios — attached as a literal
    column (same value every row; drop it if not wanted).

    Float caveat: partial sums are combined in partition order, so the
    covariance (hence components) is deterministic for a fixed input
    partitioning — the same caveat every distributed moment
    aggregation carries; at 100 TB you pin the scan split size.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def partial(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(m)],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).ravel().tolist()],
                }
            )

    base = df.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    parts = base.select("v").mapInPandas(
        partial, schema="n long, s array<double>, g array<double>"
    ).collect()
    if not parts:
        raise ValueError("embedding_pca: empty input")
    n_tot = sum(p["n"] for p in parts)
    d = len(parts[0]["s"])
    if k > d:
        raise ValueError(f"k={k} exceeds embedding dim {d}")
    s = np.zeros(d)
    g = np.zeros((d, d))
    for p in parts:
        s += np.asarray(p["s"])
        g += np.asarray(p["g"]).reshape(d, d)
    mean = s / n_tot
    cov = g / n_tot - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(-evals, kind="stable")[:k]
    w = evecs[:, order].T  # (k, d)
    lam = np.maximum(evals[order], 0.0)
    # sign fix: largest-|loading| coordinate (argmax -> lowest index on
    # ties) made positive, so the projection is replay-stable
    for j in range(k):
        i = int(np.argmax(np.abs(w[j])))
        if w[j, i] < 0:
            w[j] = -w[j]
    total_var = float(np.maximum(evals, 0.0).sum())
    explained = (lam / total_var if total_var > 0 else np.zeros(k)).tolist()
    scale = 1.0 / np.sqrt(np.maximum(lam, eps)) if whiten else np.ones(k)

    mean_lit = F.array(*[F.lit(float(x)) for x in mean])
    centered = F.zip_with("v", mean_lit, lambda a, b: a - b)
    comps = []
    for j in range(k):
        wj = F.array(*[F.lit(float(x)) for x in w[j]])
        dot = F.aggregate(
            F.zip_with(F.col("_c"), wj, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        comps.append((dot * F.lit(float(scale[j]))).alias(f"_p{j}"))
    out = (
        base.withColumn("_c", centered)
        .select("_id", *comps)
        .select(
            F.col("_id").alias(id_col),
            F.array(*[F.col(f"_p{j}") for j in range(k)]).alias("pca"),
            F.array(*[F.lit(float(x)) for x in explained]).alias("explained"),
        )
    )
    return out


def mmr_select(
    df: DataFrame,
    k: int,
    score_col: str,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    checkpoint_every: int = 8,
) -> DataFrame:
    """Greedy Maximal Marginal Relevance selection (Carbonell &
    Goldstein 1998): pick ``k`` items maximizing
    ``λ·relevance − (1−λ)·max_cosine_to_already_selected`` — the
    relevance-aware sibling of ``kcenter_select`` (pure diversity) and
    the standard diversified-retrieval / few-shot-example-selection
    rule.  ``λ=1`` degenerates to top-k by score, ``λ=0`` to a
    farthest-point-style spread.

    Returns ``(rank, id, mmr)`` — selection order and the objective
    value at pick time.  Every row starts at ``smax = 0`` (max cosine
    to the empty selected set), so round 0 falls out of the same
    argmax rule as pure relevance; each round picks
    ``argmax(λ·rel − (1−λ)·smax, ties → lowest id)`` then updates
    ``smax := max(smax, ⟨u, u_pick⟩)`` on unit vectors (zero-norm rows
    stay zero vectors: similarity 0 to everything).

    Scale shape — identical to ``kcenter_select``: persisted
    ``(id, unit_vec, rel, smax)`` working set; each round is ONE
    map-side-partial ``max(struct)`` aggregate returning a single row
    to the driver, then a narrow JVM-HOF dot update against the picked
    vector's literals; ``localCheckpoint`` every ``checkpoint_every``
    rounds truncates lineage.  The greedy sequence is inherently
    sequential — k passes is the algorithm's floor; run it on the
    retrieval candidate set or a per-shard sample, not the raw corpus.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    nrm = F.sqrt(
        F.aggregate(F.col("_v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    cur = (
        df.select(
            F.col(id_col).cast("long").alias("_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
            F.col(score_col).cast("double").alias("_rel"),
        )
        .withColumn("_nrm", nrm)
        .select(
            "_id",
            F.transform(
                "_v",
                lambda x: x
                / F.when(F.col("_nrm") == 0.0, F.lit(1.0)).otherwise(
                    F.col("_nrm")
                ),
            ).alias("_u"),
            "_rel",
            F.lit(0.0).alias("_smax"),
        )
    )
    cur = cur.persist()
    spark = df.sparkSession
    picks: list[tuple[int, int, float]] = []
    prev = None
    prev_ckpt = ckpt_cur = False
    obj = F.lit(lam) * F.col("_rel") - F.lit(1.0 - lam) * F.col("_smax")
    for i in range(k):
        top = cur.agg(
            F.max(
                F.struct(
                    obj.alias("m"),
                    (-F.col("_id")).alias("nid"),
                    F.col("_u").alias("u"),
                )
            ).alias("s")
        ).head()["s"]
        if top is None:  # fewer than k rows
            break
        picks.append((i, int(-top["nid"]), float(top["m"])))
        pu = F.array(*[F.lit(float(x)) for x in top["u"]])
        dot = F.aggregate(
            F.zip_with(F.col("_u"), pu, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        nxt = cur.filter(F.col("_id") != int(-top["nid"])).withColumn(
            "_smax", F.greatest(F.col("_smax"), dot)
        )
        ckpt = (i + 1) % checkpoint_every == 0
        nxt = nxt.localCheckpoint(eager=True) if ckpt else nxt.persist()
        if prev is not None and not prev_ckpt:
            prev.unpersist()
        prev, prev_ckpt, cur = cur, ckpt_cur, nxt
        ckpt_cur = ckpt
    if prev is not None and not prev_ckpt:
        prev.unpersist()
    if not ckpt_cur:
        cur.unpersist()
    return spark.createDataFrame(picks, "rank int, id long, mmr double")
