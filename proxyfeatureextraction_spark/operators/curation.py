"""Corpus-curation operators for training-data pipelines.

Beyond dedup/similarity (operators/dedup.py, operators/similarity.py),
a production pipeline needs the selection layer: deterministic
train/val/test splits, per-group sampling, eval-set decontamination,
and sequence packing. All deterministic (portable polynomial / affine
hashes — no engine RNG), so every operator has a DuckDB oracle in
``__spark_entry__`` — including ``weighted_sample_per_group`` since its
A-ES key moved to the log domain (``ln(u)/w``; the old ``u^(1/w)``
float-pow tie order was not portable across engines).

Scale notes per operator are in the docstrings. The only broadcasts
are the (small) eval-side tables in ``decontaminate`` /
``decontaminate_fuzzy``; nothing here collects to the driver except
``curate_corpus``'s dedup stage when it routes through the guarded
exact-Jaccard baseline (fail-fast bounded; auto-falls back to the LSH
route past the bound).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from proxyfeatureextraction_spark.operators.dedup import (
    HASH_MOD,
    _shingle_col,
    perm_params,
)


# Per-operator hash-domain tags. Every hash-threshold operator folds
# its own tag into the effective perm_params seed, so composing two of
# them at the SAME user seed (the default 0 in particular) draws
# independent hashes: before this, mix_corpus → hash_split at seed 0
# kept only low-hash docs in downsampled groups, and the train/val/test
# thresholds then partitioned those same low hashes — val/test came
# back empty or skewed for exactly the downsampled groups (a silent
# statistical bias in the intended pipeline composition).
_OP_SPACE = 16
OP_SPLIT, OP_SAMPLE, OP_WSAMPLE, OP_MIX, OP_SHARD, OP_PACK = 0, 1, 2, 3, 4, 5
OP_STRAT, OP_EPOCH, OP_CURR = 6, 7, 8

# Knuth's multiplicative constant reduced into the hash field — the
# base of the domain-separation exponentiation below.
_OP_GEN = 2654435761 % HASH_MOD


def op_seed(seed: int, op: int) -> int:
    """Effective perm_params seed for (user seed, operator tag) —
    shared with the DuckDB oracle builder so both engines key the
    identical hash family.

    Not simply ``seed*_OP_SPACE + op``: perm_params' MULTIPLIER is
    linear in (eff+1), and any two affine hashes mod a prime are affine
    functions of each other with ratio (eff2+1)/(eff1+1) — for small
    effective seeds that ratio is a SMALL integer (op 3 vs op 0 at
    seed 0 → exactly 4), so one domain's threshold set {h < t} maps
    into the other as a handful of narrow intervals and threshold
    COMPOSITIONS (mix_corpus → hash_split) go lumpy: val/test can land
    between the intervals and come back empty. Mapping the slot through
    ``g^k mod M`` makes every pairwise multiplier ratio a power of a
    generic field element — order-scrambling, never a small rational —
    which is what makes chained keep/split decisions statistically
    independent."""
    return pow(_OP_GEN, seed * _OP_SPACE + op + 1, HASH_MOD) - 1


def _id_hash(id_col, seed: int = 0, op: int = OP_SPLIT) -> Column:
    """Affine integer hash of a numeric id, mod 1e9+7 — the portable
    (DuckDB-twin) stand-in for xxhash64 in split/sample decisions.
    Non-negative for non-negative ids. The seed enters the MULTIPLIER
    (``perm_params``), not just the offset — an offset-only seed would
    rotate the hash ring, leaving per-group orderings (and hence
    samples) almost identical across seeds. M is prime, so every
    nonzero multiplier is a bijection. The id is reduced mod M BEFORE
    the multiply so the product stays under 2^63 for any int64 id
    (ANSI overflow-safe). ``op`` is the caller's hash-domain tag
    (``OP_SPLIT``/``OP_SAMPLE``/…) folded into the effective seed via
    ``op_seed`` — distinct operators draw independent hashes even at
    the same user seed."""
    a, b = perm_params(op_seed(seed, op))
    return (
        (F.col(id_col).cast("long") % F.lit(HASH_MOD)) * F.lit(a) + F.lit(b)
    ) % F.lit(HASH_MOD)


def split_bounds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(label, upper_bound) thresholds on the id hash for every label
    but the last (which takes the remainder). Shared by ``split_assign``
    and its SQL oracle so both sides use bit-identical float → int
    threshold arithmetic."""
    total = float(sum(weights.values()))
    if total <= 0 or any(w < 0 for w in weights.values()):
        raise ValueError("split weights must be non-negative with a positive sum")
    labels = list(weights)
    cum, out = 0.0, []
    for name in labels[:-1]:
        cum += weights[name] / total
        out.append((name, int(cum * HASH_MOD)))
    return out


def split_assign(
    weights: dict[str, float], id_col: str = "doc_id", seed: int = 0
) -> Column:
    """Deterministic split label from an id hash (no RNG, stable under
    re-runs / reordering / partition changes — unlike
    ``df.randomSplit``, which is seed-AND-partitioning dependent).

    Buckets are integer thresholds ``floor(cum_weight * M)`` on the
    affine id hash, so the exact same arithmetic runs in SQL. Weights
    need not sum to 1; they are normalized. Dict order fixes label
    precedence (insertion order, as in Python 3.7+).
    """
    h = _id_hash(id_col, seed, op=OP_SPLIT)
    expr = None
    for name, bound in split_bounds(weights):
        cond = h < F.lit(bound)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = list(weights)[-1]
    return F.lit(last) if expr is None else expr.otherwise(last)


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Add a deterministic train/val/test ``split`` column.

    Pure narrow projection — no shuffle, no RNG; at 100 TB this fuses
    into whatever scan feeds it. Exactly reproducible across engines,
    cluster sizes and re-runs, which is the property training splits
    actually need (a doc must never migrate between train and eval
    between pipeline runs).
    """
    return df.withColumn(split_col, split_assign(weights, id_col=id_col, seed=seed))


def split_by_cluster(
    df: DataFrame,
    weights: dict[str, float],
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
    split_col: str = "split",
    rep_col: str = "cluster_rep",
    **dedup_kwargs,
) -> DataFrame:
    """Leakage-safe train/val/test split: every member of a near-dup
    cluster gets the SAME label, because the split hash is keyed on the
    cluster representative id instead of the document id.

    Hashing documents independently (``hash_split``) sends ~w_train of
    each near-dup cluster to train and the rest to eval — an eval set
    that overlaps train nearly verbatim.  Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better", §6.2)
    measure exactly this duplication-driven train/test leakage in
    standard corpora; splitting at cluster granularity closes it by
    construction because a cluster is an atom.

    ``clusters`` is a precomputed ``(id_col, rep_col)`` assignment —
    e.g. ``dedup_corpus(df)`` output (extra columns ignored). When
    ``None`` it is computed here via ``dedup_corpus(df, id_col,
    text_col, **dedup_kwargs)``.  The assignment must be TOTAL over
    ``df``'s ids (dedup_corpus's always is): the split join is inner,
    so a doc missing from a user-supplied partial assignment is
    dropped from the output rather than falling back to a singleton —
    pre-fill missing ids with ``rep = own id`` if your assignment is
    partial (r5 advisor note).

    Scale shape: one id-keyed equi-join of the corpus against the
    ids-only cluster table (the exchange carries two longs per doc;
    document text stays put on the df side of a sort-merge join), then
    the same narrow ``split_assign`` projection ``hash_split`` uses —
    no extra aggregate, window, or exchange beyond the clustering
    itself.  Same ``OP_SPLIT`` hash domain as ``hash_split``: a
    singleton cluster (rep == own id) gets exactly the label
    ``hash_split`` would give it at the same seed, so introducing the
    clustering only ever MOVES duplicate members onto their
    representative's label — it never reshuffles the rest of the
    corpus.
    """
    if clusters is None:
        from proxyfeatureextraction_spark.operators.dedup import dedup_corpus

        clusters = dedup_corpus(df, id_col=id_col, text_col=text_col, **dedup_kwargs)
    cl = clusters.select(id_col, rep_col)
    return df.join(cl, id_col).withColumn(
        split_col, split_assign(weights, id_col=rep_col, seed=seed)
    )


def sample_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic uniform sample of ``n`` rows per group.

    Rows are ranked inside each group by the affine id hash (id
    tiebreak) and the first ``n`` kept — i.e. a seeded shuffle-order
    without RNG. One hash-partition exchange on ``group_col``; heavy
    groups cost O(group log group) in the sort, no driver involvement.
    Changing ``seed`` draws an (almost) independent sample.
    """
    w = Window.partitionBy(group_col).orderBy(
        _id_hash(id_col, seed, op=OP_SAMPLE), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement of ``n`` rows
    per group (Efraimidis–Spirakis A-ES): each row gets key
    ``u^(1/w)`` with ``u = (hash(id)+1)/(M+1)`` in (0, 1], and the n
    largest keys win — inclusion probability rises with ``weight_col``
    (e.g. quality score), exactly the A-ES reservoir semantics but
    expressed as one window pass instead of a sequential reservoir.
    RNG-free (portable id hash), so re-runs, reorderings and
    repartitionings draw the same sample; ``seed`` re-keys the draw.

    Rows with null or non-positive weight are EXCLUDED (they'd need
    u^(1/w) with w ≤ 0 — undefined; filter or clamp upstream to give
    them mass). Same scale shape as ``sample_per_group``: one
    hash-partition exchange on ``group_col``.
    """
    u = (_id_hash(id_col, seed, op=OP_WSAMPLE) + 1).cast("double") / float(
        HASH_MOD + 1
    )
    # log-domain A-ES key: ln(u)/w is monotone-equivalent to u^(1/w)
    # (ln increasing, w > 0) but never underflows — u^(1/w) hits double
    # zero for small u with small w (e.g. u=1e-9, w=0.01), collapsing
    # distinct keys into id-order ties; one ln + one divide is also far
    # closer to cross-engine-reproducible than pow (this is what makes
    # the DuckDB driver gate possible)
    key = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(group_col).orderBy(F.desc(key), F.col(id_col))
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def stratified_allocation(counts: dict, n: int) -> dict:
    """Largest-remainder (Hamilton) apportionment of ``n`` sample slots
    across strata, proportional to their ``counts`` — INTEGER arithmetic
    only: ``num = n·c_g``, ``base_g = num // T``, ``rem_g = num % T``,
    then the ``n − Σ base`` largest remainders (ties to the smaller
    stratum key) each get one extra slot. No float quotas anywhere, so
    the DuckDB oracle reproduces the allocation bit-exactly. For
    ``n ≤ T`` every allocation is feasible (``base_g + 1 ≤ c_g``
    whenever the remainder is nonzero, since ``n·c_g/T < c_g``).

    Shared by ``sample_stratified`` and its SQL oracle builder."""
    total = sum(counts.values())
    if total == 0:
        return {g: 0 for g in counts}
    if n > total:
        raise ValueError(f"stratified sample n={n} exceeds corpus size {total}")
    base = {g: (n * c) // total for g, c in counts.items()}
    deficit = n - sum(base.values())
    by_rem = sorted(counts, key=lambda g: (-((n * counts[g]) % total), g))
    for g in by_rem[:deficit]:
        base[g] += 1
    return base


def sample_stratified(
    df: DataFrame,
    group_col: str,
    n: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic proportional stratified sample of ``n`` TOTAL rows:
    each stratum (``group_col`` value) contributes slots proportional to
    its size under largest-remainder apportionment
    (``stratified_allocation``), then rows are drawn inside each stratum
    by the domain-separated affine id hash (``OP_STRAT`` — independent
    of every other hash-threshold operator at the same seed) with id
    tiebreak — a seeded shuffle-order without RNG, stable across
    re-runs, reorderings and repartitionings.

    ``sample_per_group`` answers "n PER group"; this answers "n TOTAL,
    representative of the group distribution" — the audit/eval-subset
    draw (fixed labeling budget, proportional source representation).

    Scale shape: one map-side-partial count aggregate collected to the
    driver (one row per stratum — same pattern as ``mix_corpus``), the
    allocation map shipped back as literals, then the same single
    hash-partition exchange + per-group sort ``sample_per_group`` costs.
    Heavy strata cost O(group log group) in their own sort; no stratum's
    rows ever visit the driver.

    Rows with a NULL stratum are DROPPED (same policy as ``mix_corpus``:
    NULL can't be a ``create_map`` key, and an unnameable stratum has no
    defensible quota) — profile them first if they matter.
    """
    df = df.where(F.col(group_col).isNotNull())
    counts = {
        r["_g"]: r["_n"]
        for r in df.groupBy(F.col(group_col).alias("_g"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    }
    alloc = stratified_allocation(counts, n)
    if not alloc:
        return df.limit(0)
    amap = F.create_map(
        *[F.lit(x) for kv in alloc.items() for x in kv]
    )
    w = Window.partitionBy(group_col).orderBy(
        _id_hash(id_col, seed, op=OP_STRAT), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= amap[F.col(group_col)])
        .drop("_rk")
    )


def epoch_bounds(e: float) -> tuple:
    """(base_epochs, extra-epoch hash threshold) for a fractional epoch
    count ``e``: every doc is repeated ``base = floor(e)`` times and
    gets one extra repeat iff its id hash < ``int((e − base) · M)`` —
    the same float→int threshold arithmetic ``split_bounds`` uses, so
    the SQL oracle reproduces the draw bit-exactly. Shared by
    ``epoch_schedule`` and its oracle builder."""
    if e < 0:
        raise ValueError(f"epoch count must be non-negative, got {e}")
    base = int(e)
    return base, int((float(e) - base) * HASH_MOD)


def epoch_schedule(
    df: DataFrame,
    epochs: dict,
    default: float = 1.0,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Per-source epoch repetition schedule for data-constrained
    training mixes (Muennighoff et al. 2023, "Scaling Data-Constrained
    Language Models": repeating data up to ~4 epochs is near-as-good as
    fresh data, so scarce high-quality sources are repeated while
    abundant ones run under one epoch): each document is emitted
    ``floor(e)`` times, plus once more iff its domain-separated id hash
    (``OP_EPOCH``) clears the fractional-part threshold — so a source
    with ``e = 2.3`` repeats every doc twice and a deterministic ~30%
    of docs a third time, and ``e = 0.4`` subsamples the source to ~40%
    (zero-repeat docs are dropped). Output rows carry ``epoch_col``
    (0-based repeat index); feed through ``shuffle_shards`` for a
    training order.

    Sources absent from ``epochs`` get ``default``. RNG-free: re-runs,
    reorderings and repartitionings emit the identical multiset.

    Scale shape: ZERO exchanges — a literal CASE on ``group_col`` picks
    (base, threshold), one comparison on the id hash, and a
    ``sequence``+``explode`` fuses into the scan. Output size is the
    schedule's token budget (Σ e_s·n_s rows), exactly the explode's
    fan-out — nothing is buffered per group.
    """
    pairs = {g: epoch_bounds(e) for g, e in epochs.items()}
    dbase, dthr = epoch_bounds(default)
    h = _id_hash(id_col, seed, op=OP_EPOCH)
    base_c, thr_c = F.lit(dbase), F.lit(dthr)
    for g, (b, t) in pairs.items():
        cond = F.col(group_col) == g
        base_c = F.when(cond, F.lit(b)).otherwise(base_c)
        thr_c = F.when(cond, F.lit(t)).otherwise(thr_c)
    reps = base_c + F.when(h < thr_c, F.lit(1)).otherwise(F.lit(0))
    seq = F.when(reps > 0, F.sequence(F.lit(0), reps - F.lit(1)))
    return df.withColumn(epoch_col, F.explode(seq))


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic mixture resampling — reshape a corpus's per-group
    shares to the target ``weights`` (e.g. the domain-mixture step of a
    pretraining pipeline: 60% web / 30% code / 10% books) by
    DOWNSAMPLING only: the group whose target-to-current ratio is
    highest is kept whole, every other group keeps
    ``keep_g = (w_g · total / n_g) / max_h(w_h · total / n_h)`` of its
    rows — the largest possible corpus with exactly proportional
    shares (in expectation) and no upsampling/duplication. Groups
    absent from ``weights`` are dropped.

    Row selection is the portable affine id hash (`hash < keep_g · M`)
    — no RNG, stable under re-runs / reordering / partition changes,
    and a doc kept at one mixture stays kept when its group's keep
    fraction only grows. The hash is domain-separated (``OP_MIX``)
    from hash_split/sample/shard, so chaining those operators at the
    same seed draws independent selections. Scale shape: ONE per-group
    count aggregate (filtered to the ≤ len(weights) mixture groups,
    map-side partial) collected to the driver; the keep fractions come
    back as a literal map, so the filter is a narrow projection that
    fuses into the scan — no repeated count subtrees, no join at all.
    Weights need not sum to 1 (only ratios matter — no normalization
    float ops to mismatch an oracle)."""
    if not weights or any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError("mix_corpus weights must be non-negative with a positive sum")
    # weight 0 MEANS "drop this group" — filter those entries up front
    # so a corpus whose every present group has weight 0 yields a
    # well-defined empty result instead of a 0/0 → NULL keep fraction
    # silently dropping all rows (non-ANSI division semantics)
    weights = {k: v for k, v in weights.items() if v > 0}
    counts = {
        r["_g"]: r["_n"]
        for r in (
            df.filter(F.col(group_col).isin(list(weights)))
            .groupBy(F.col(group_col).alias("_g"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
    }
    if not counts:
        return df.filter(F.lit(False))
    # same arithmetic the old in-plan version ran, now once on ≤
    # len(weights) driver-side rows: ratio_g = w_g·total/n_g, keep_g =
    # ratio_g / max ratio (all IEEE doubles, order-independent)
    total = float(sum(counts.values()))
    ratios = {g: float(weights[g]) * total / float(n) for g, n in counts.items()}
    mx = max(ratios.values())
    keep_map = F.create_map(
        *[x for g, r in ratios.items() for x in (F.lit(g), F.lit(r / mx))]
    )
    return (
        df.withColumn("_keep", keep_map[F.col(group_col)])
        .filter(
            F.col("_keep").isNotNull()
            & (
                _id_hash(id_col, seed, op=OP_MIX).cast("double")
                < F.col("_keep") * float(HASH_MOD)
            )
        )
        .drop("_keep")
    )


def domain_temperature(
    df: DataFrame,
    alpha: float = 0.3,
    group_col: str = "source",
) -> DataFrame:
    """Temperature-scaled multinomial domain-sampling weights
    (Conneau et al. 2019, XLM-R §3.1; the same α-sampling used for
    language balancing in mBERT/mT5): ``w_g = p_g^α / Σ_h p_h^α`` where
    ``p_g`` is group ``g``'s share of the corpus.  ``α < 1`` flattens
    the mixture — rare domains are upsampled, dominant ones damped —
    and the output feeds straight into ``mix_corpus`` /
    ``weighted_sample_per_group`` as target weights.

    Output: ``(group_col, n_docs, p, w, boost)`` — ``boost = w / p`` is
    the per-group up/down-sampling factor.  Scale shape: ONE map-side-
    partial per-group count; everything after runs on ≤ |groups| rows
    (one-row total and normalizer frames, broadcast) — the corpus is
    scanned exactly once.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("_tot"))
    pw = counts.crossJoin(F.broadcast(total)).select(
        group_col,
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("_tot")).alias("_p"),
        F.pow(F.col("n_docs").cast("double") / F.col("_tot"), F.lit(alpha)).alias(
            "_pw"
        ),
    )
    norm = pw.agg(F.sum("_pw").alias("_s"))
    return pw.crossJoin(F.broadcast(norm)).select(
        group_col,
        "n_docs",
        F.round("_p", 6).alias("p"),
        F.round(F.col("_pw") / F.col("_s"), 6).alias("w"),
        F.round(F.col("_pw") / F.col("_s") / F.col("_p"), 6).alias("boost"),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Mark training docs that share any word ``n``-gram with an eval
    set — the standard benchmark-decontamination pass (the n-gram
    overlap rule used by GPT-3/PaLM-style dataset reports).

    Returns ``(doc_id, n_hits, contaminated)`` for EVERY train doc:
    ``n_hits`` = number of the doc's distinct n-gram shingles that
    appear anywhere in the eval set; drop rows where ``contaminated``
    to clean the corpus.

    Scale shape: the eval side collapses to its DISTINCT shingle set —
    benchmarks are tiny next to a 100 TB corpus, so that set broadcasts
    (``broadcast_eval=True``) and the whole pass is a map-side
    broadcast join over one corpus scan: zero full-data shuffles. For
    an unusually large eval suite, pass ``broadcast_eval=False`` to
    fall back to a plain shuffle equi-join on the shingle — still fully
    distributed. Shingles shorter than ``n`` words fall back to the
    whole text (same convention as the dedup routes), so short eval
    items still match verbatim copies.
    """
    ev = (
        eval_df.select(
            F.explode(F.array_distinct(_shingle_col(text_col, n))).alias("w")
        ).distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    tr = train.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(_shingle_col(text_col, n))).alias("w"),
    )
    hits = tr.join(ev, "w").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_fuzzy(
    train: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.8,
    n_perm: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: int | None = None,
    broadcast_eval: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """NEAR-duplicate decontamination: flag train docs whose word-set
    (or ``shingle``-gram-set) Jaccard to ANY eval doc is ≥ threshold —
    the fuzzy companion to ``decontaminate``'s exact n-gram rule
    (the MinHash-based decontamination used by Llama-style dataset
    reports, where paraphrased benchmark items must die too).

    Returns ``(doc_id, n_matches, max_jaccard, contaminated)`` for
    every train doc. Candidates come from an ASYMMETRIC band join —
    train band signatures against eval band signatures (never
    train×train) — so work is O(train + eval + collisions), and the
    eval side (bands AND token sets) is broadcast when
    ``broadcast_eval`` (benchmarks are tiny next to a 100 TB corpus):
    the only full-data cost is one minhash aggregation over train.
    Each candidate is then verified EXACTLY with JVM
    ``array_intersect``/``array_union`` — precision exact, recall =
    the LSH knob (1−(1−s^r)^b). Run ``exact_dedup`` upstream as usual;
    exact train×eval copies still match here (identical signatures in
    every band).
    """
    from proxyfeatureextraction_spark.operators.dedup import band_signatures

    tb = band_signatures(
        train, n_perm=n_perm, bands=bands, id_col=id_col, text_col=text_col,
        shingle=shingle,
    )
    eb = band_signatures(
        eval_df, n_perm=n_perm, bands=bands, id_col=id_col, text_col=text_col,
        shingle=shingle,
    ).withColumnRenamed("doc_id", "ev_id")
    if broadcast_eval:
        eb = F.broadcast(eb)
    # AQE coalesces post-shuffle partitions by BYTES, and candidate rows
    # are two longs — a million-pair candidate list coalesces to a
    # single task, serializing the whole array-set verify below on one
    # core (measured 16.7 s of a 19 s call at sf0.1). Re-spread by the
    # pair key (high-cardinality, deterministic) so the verify stage
    # runs at the configured parallelism; the extra exchange moves only
    # candidate ids.
    sc = train.sparkSession.sparkContext
    cands = (
        tb.join(eb, ["band", "sig"]).select("doc_id", "ev_id").distinct()
        # 4×: byte-cheap rows, CPU-heavy verify — finer tasks keep the
        # stage tail short when individual cores stall
        .repartition(4 * sc.defaultParallelism, "doc_id", "ev_id")
    )

    if shingle is None:
        set_col = F.filter(
            F.array_distinct(F.split(F.coalesce(F.col(text_col), F.lit("")), " ")),
            lambda w: F.length(w) > 0,
        )
    else:
        set_col = F.array_distinct(_shingle_col(text_col, shingle))
    tsets = train.select(F.col(id_col).alias("doc_id"), set_col.alias("_wa"))
    esets = eval_df.select(F.col(id_col).alias("ev_id"), set_col.alias("_wb"))
    if broadcast_eval:
        esets = F.broadcast(esets)
    inter = F.size(F.array_intersect("_wa", "_wb"))
    union = F.size(F.array_union("_wa", "_wb"))
    jac_raw = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    hits = (
        cands.join(tsets, "doc_id")
        .join(esets, "ev_id")
        .withColumn("_j", jac_raw)
        .filter(F.col("_j") >= threshold)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.round(F.max("_j"), round_digits).alias("max_jaccard"),
        )
    )
    return (
        train.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
            (F.coalesce("n_matches", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def curate_corpus(
    df: DataFrame,
    eval_df: DataFrame,
    weights: dict[str, float],
    threshold: float = 0.8,
    min_quality: float = 0.0,
    decon_n: int = 8,
    split_seed: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "auto",
    max_iter: int = 30,
) -> DataFrame:
    """The one-call corpus-preparation pipeline — what a training-data
    team actually runs end-to-end: quality filter → near-dup removal →
    benchmark decontamination → train/val/test split. Returns one row
    per input doc: ``(doc_id, quality, reason, keep, split)`` with
    ``reason ∈ {quality, duplicate, contaminated, kept}`` (first
    matching stage wins, in pipeline order) and ``keep = reason ==
    'kept'``.

    Stage order matters and mirrors production practice: quality-fail
    docs never vote in dedup (a junk doc must not become a cluster's
    survivor), and only dedup SURVIVORS are decontaminated (their
    dropped near-twins die anyway — this keeps the decon scan at
    survivor cardinality). The split label is assigned to every doc so
    downstream re-admission (e.g. relaxing ``min_quality``) never
    reshuffles membership.

    Every stage is the already-gated operator (``quality_score``,
    ``dedup_corpus``, ``decontaminate``, ``split_assign``), so the
    whole composition has a DuckDB oracle; scale shape is the union of
    the stages' (the dedup stage dominates).
    """
    from proxyfeatureextraction_spark.functions.text import quality_score
    from proxyfeatureextraction_spark.operators.dedup import dedup_corpus

    qual = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        quality_score("text").alias("quality"),
    )
    good = qual.filter(F.col("quality") >= min_quality)
    assign = dedup_corpus(
        good, threshold=threshold, method=method, max_iter=max_iter
    )
    surv_docs = good.join(
        assign.filter("is_survivor").select("doc_id"), "doc_id"
    ).select("doc_id", "text")
    # alias the eval side too — eval_df arrives with the caller's
    # text_col, not the internal "text" name
    eval_texts = eval_df.select(F.col(text_col).alias("text"))
    dec = decontaminate(surv_docs, eval_texts, n=decon_n, text_col="text")
    return (
        qual.join(assign.select("doc_id", "is_survivor"), "doc_id", "left")
        .join(dec.select("doc_id", "contaminated"), "doc_id", "left")
        .select(
            "doc_id",
            "quality",
            F.when(F.col("quality") < min_quality, "quality")
            .when(~F.coalesce("is_survivor", F.lit(False)), "duplicate")
            .when(F.coalesce("contaminated", F.lit(False)), "contaminated")
            .otherwise("kept")
            .alias("reason"),
        )
        .withColumn("keep", F.col("reason") == "kept")
        .withColumn("split", split_assign(weights, id_col="doc_id", seed=split_seed))
    )


def corpus_report(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    exact: bool = True,
    rsd: float = 0.02,
) -> DataFrame:
    """Per-group corpus audit — the stats pass a pipeline runs before
    and after curation: doc count, distinct-text count, exact-dup
    rate, mean quality score, mean token count, total chars. One
    hash-partition aggregation; every metric is a plain distributed
    agg. Distinct texts are counted over the sha2-256 CONTENT DIGEST,
    so even the exact path's distinct state carries 64-byte keys, never
    document text; ``exact=False`` swaps in ``approx_count_distinct``
    (HyperLogLog++, relative error ``rsd``) — constant per-group state,
    the right call at 100 TB when ±2% is acceptable. The default stays
    exact because the driver oracle compares values."""
    from proxyfeatureextraction_spark.functions.text import quality_score, token_count

    base = df.select(
        F.col(group_col).alias("grp"),
        F.sha2(F.col(text_col), 256).alias("_td"),
        quality_score(text_col).alias("_q"),
        token_count(text_col).cast("long").alias("_nt"),
        F.length(text_col).cast("long").alias("_nc"),
    )
    nd = (
        F.countDistinct("_td") if exact else F.approx_count_distinct("_td", rsd)
    )
    dup = F.round(F.lit(1.0) - nd / F.count(F.lit(1)).cast("double"), 6)
    if not exact:
        # HLL++ can OVERestimate the distinct count, which would push
        # dup_rate slightly negative; the exact path cannot, and stays
        # expression-identical to its oracle
        dup = F.greatest(F.lit(0.0), dup)
    return base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        nd.alias("n_distinct"),
        dup.alias("dup_rate"),
        F.round(F.avg("_q"), 6).alias("avg_quality"),
        F.round(F.avg("_nt"), 6).alias("avg_tokens"),
        F.sum("_nc").alias("total_chars"),
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions: ``(doc_id, status)``
    with ``status ∈ {added, removed, changed, unchanged}`` — the audit
    an incremental pipeline runs between crawls to decide what to
    re-process (only ``added``/``changed`` need re-curation; the
    ``dedup_incremental`` route then handles them against the persisted
    signature stores).

    Scale shape: both sides collapse to ``(doc_id, sha2-256(text))``
    at the scan — the full-outer join exchanges 64-byte digests keyed
    on ``doc_id``, never document text, and each side is one map-side
    projection of its snapshot.  Null text hashes as the empty string
    so a null-vs-empty flap doesn't read as a change.
    """
    o = old.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("_ho"),
    )
    n = new.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("_hn"),
    )
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") == F.col("_hn"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-EVAL-item contamination: for each eval document, the
    fraction of its distinct word ``n``-grams that appear anywhere in
    the training corpus — the graded eval-integrity report published
    alongside GPT-3/PaLM-style dataset cards (``decontaminate`` is the
    train-side boolean twin; this is the eval-side measurement that
    says WHICH benchmark items leak and how badly).

    Returns ``(eval_id, n_grams, n_hit, frac)`` for every eval doc;
    ``frac = n_hit / n_grams`` rounded to 6 digits.

    Scale shape: the eval side's distinct gram universe broadcasts (an
    eval suite is tiny next to a 100 TB corpus); the train scan is
    semi-joined against that broadcast FIRST, so the only train-side
    aggregation — distinct matched grams — runs over rows already
    filtered to the eval universe (bounded by it, map-side partial).
    The per-item tally then joins eval grams to that bounded hit set,
    broadcast again.  One full corpus scan, zero full-data shuffles.
    """
    ev = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(F.array_distinct(_shingle_col(text_col, n))).alias("w"),
    )
    ev_set = F.broadcast(ev.select("w").distinct())
    hit = F.broadcast(
        train.select(
            F.explode(F.array_distinct(_shingle_col(text_col, n))).alias("w")
        )
        .join(ev_set, "w")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_item = (
        ev.join(hit, "w", "left")
        .groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_hit"),
        )
    )
    return (
        eval_df.select(F.col(id_col).alias("eval_id"))
        .join(per_item, "eval_id", "left")
        .select(
            "eval_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.when(
                    F.coalesce("n_grams", F.lit(0)) > 0,
                    F.coalesce("n_hit", F.lit(0))
                    / F.col("n_grams").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("frac"),
        )
    )


def token_histogram(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group token-length histogram on power-of-two bins:
    ``(group_col, bucket, n_docs, tok_sum)`` where ``bucket`` is the
    BIT LENGTH of the whitespace token count (0 tokens → bucket 1,
    1 → 1, 2-3 → 2, 4-7 → 3, …) — the length-distribution audit that
    sizes context windows and spots truncated/concatenated drops.

    The bucket is computed as ``length(conv(n_tok, 10, 2))`` — an
    integer string length, bit-exact across engines, where
    ``floor(log2(...))`` on doubles is one libm ulp away from an
    off-by-one at every power-of-two boundary.  One map-side-partial
    groupBy; output is ≤ |groups| × 64 rows.
    """
    from proxyfeatureextraction_spark.functions.text import token_count

    nt = token_count(text_col).cast("long")
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.length(F.conv(nt.cast("string"), 10, 2)).alias("bucket"),
            nt.alias("_nt"),
        )
        .groupBy("grp", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("tok_sum"),
        )
    )


def profile_numeric(
    df: DataFrame, cols: list[str], round_digits: int = 6
) -> DataFrame:
    """Deequ-style numeric column profile: one output row per column —
    ``(col, n, n_null, n_distinct, vmin, vmax, mean, p25, p50, p75)``
    — the data-quality audit a pipeline runs on every new drop before
    trusting it.

    ONE aggregation pass computes every column's stats simultaneously
    (a single job over the data, not a scan per column); the
    row-per-column layout is a ``stack`` unpivot of the one aggregated
    row, so the reshape costs nothing. Exact percentiles (Spark
    ``percentile`` = linear interpolation = DuckDB ``quantile_cont``,
    the equivalence every percentile gate in this repo already leans
    on); at 100 TB swap in ``approx_percentile`` if the exact
    single-column sort state is not worth it. Cross-engine caveat:
    means over large-magnitude columns (e.g. epoch seconds ~1e9) can
    differ in the last ulp between engines (float-sum ordering) — the
    order statistics are immune."""
    n_all = F.count(F.lit(1))
    aggs = []
    for c in cols:
        aggs += [
            n_all.alias(f"{c}__n"),
            (n_all - F.count(c)).alias(f"{c}__n_null"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            F.round(F.min(c).cast("double"), round_digits).alias(f"{c}__min"),
            F.round(F.max(c).cast("double"), round_digits).alias(f"{c}__max"),
            F.round(F.avg(c), round_digits).alias(f"{c}__mean"),
            F.round(F.expr(f"percentile(`{c}`, 0.25)"), round_digits).alias(f"{c}__p25"),
            F.round(F.expr(f"percentile(`{c}`, 0.5)"), round_digits).alias(f"{c}__p50"),
            F.round(F.expr(f"percentile(`{c}`, 0.75)"), round_digits).alias(f"{c}__p75"),
        ]
    one = df.agg(*aggs)
    fields = ["n", "n_null", "n_distinct", "min", "max", "mean", "p25", "p50", "p75"]
    tuples = ", ".join(
        f"'{c}', " + ", ".join(f"`{c}__{f}`" for f in fields) for c in cols
    )
    out_cols = "(col, n, n_null, n_distinct, vmin, vmax, mean, p25, p50, p75)"
    return one.select(
        F.expr(f"stack({len(cols)}, {tuples}) AS {out_cols}")
    )


PACK_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tok", T.LongType()),
        T.StructField("bin_id", T.LongType()),
        T.StructField("bin_fill", T.LongType()),
    ]
)


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    n_shards: int = 32,
    id_col: str = "doc_id",
    tok_col: str | None = None,
    text_col: str = "text",
    seed: int = 0,
    max_shard_rows: int | None = 5_000_000,
) -> DataFrame:
    """Greedy sequence packing: assign docs to fixed-capacity context
    bins — the batching step before LLM training.

    Docs are sharded by id hash (``n_shards`` independent packing
    streams — packing is embarrassingly parallel across shards, and at
    deploy scale you raise ``n_shards`` so each shard's doc list fits
    one task), ordered by ``doc_id`` within the shard, then packed
    first-fit-sequential: a doc joins the current bin iff
    ``fill + n_tok <= max_tokens``, else it opens a new bin (a doc
    longer than ``max_tokens`` gets a bin alone — the caller truncates
    or splits upstream). The per-shard greedy walk is a data-dependent
    recurrence (bin breaks depend on the running fill), so it runs as
    an Arrow grouped-map with a plain loop over the shard's rows — the
    honest shape; there is no window-function equivalent. Output:
    ``(shard, doc_id, n_tok, bin_id, bin_fill)`` with ``bin_id``
    numbered per shard and ``bin_fill`` the running fill AFTER placing
    the doc.

    Deterministic end-to-end (hash shard + id order), so the DuckDB
    oracle replays the identical walk with a recursive CTE.

    ``max_shard_rows`` is the per-task guard: the grouped-map
    materializes a whole shard in one Arrow batch (3 longs/row, so 5M
    rows ≈ 120 MB — comfortable), and the kernel raises past the bound
    with a pointer to a larger ``n_shards`` rather than letting one
    task swallow an unbounded shard. ``None`` disables.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    tok = (
        # null token counts behave like 0 (same convention as the
        # text_col path, where null text yields 0 tokens) instead of
        # surfacing as a NaN crash deep in the Arrow kernel
        F.coalesce(F.col(tok_col).cast("long"), F.lit(0))
        if tok_col is not None
        else F.size(
            F.filter(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
                lambda w: F.length(w) > 0,
            )
        ).cast("long")
    )
    base = df.select(
        (_id_hash(id_col, seed, op=OP_PACK) % F.lit(n_shards)).cast("int").alias(
            "shard"
        ),
        F.col(id_col).cast("long").alias("doc_id"),
        tok.alias("n_tok"),
    )

    def pack(key, pdf: pd.DataFrame) -> pd.DataFrame:
        del key
        if max_shard_rows is not None and len(pdf) > max_shard_rows:
            raise ValueError(
                f"pack_sequences shard holds {len(pdf)} docs > max_shard_rows "
                f"{max_shard_rows}: raise n_shards (currently {n_shards}) so "
                f"each packing stream fits one task, or raise/disable the bound."
            )
        pdf = pdf.sort_values("doc_id", kind="stable").reset_index(drop=True)
        bins, fills = [], []
        bin_id, fill = 0, 0
        first = True
        for t in pdf["n_tok"].to_numpy():
            t = int(t)
            if first:
                fill = t
                first = False
            elif fill + t <= max_tokens:
                fill += t
            else:
                bin_id += 1
                fill = t
            bins.append(bin_id)
            fills.append(fill)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        pdf["bin_fill"] = pd.Series(fills, dtype="int64")
        return pdf[["shard", "doc_id", "n_tok", "bin_id", "bin_fill"]]

    return base.groupBy("shard").applyInPandas(pack, schema=PACK_SCHEMA)


def clean_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    require_terminal_punct: bool = False,
    line_blocklist: tuple[str, ...] = ("javascript",),
    doc_blocklist: tuple[str, ...] = ("lorem ipsum", "{"),
    min_lines: int = 1,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2 — the
    published boilerplate-stripping recipe): drop lines that are too
    short, lack terminal punctuation (optional — off by default for
    corpora without prose punctuation), or contain a blocklisted
    phrase; flag whole documents containing a doc-level blocklist
    phrase ("lorem ipsum", code-brace spillover).  Returns one row per
    input document:

    - ``text``: the kept lines re-joined with newlines
    - ``n_lines_in`` / ``n_lines_kept``: before/after line counts
    - ``doc_blocked``: doc-level blocklist hit
    - ``keep``: not blocked AND at least ``min_lines`` lines survived
      (C4 drops pages with too few sentences; callers filter on this)

    Everything is a JVM higher-order expression over the split-line
    array — per-row, no shuffle, fuses into the scan.  Matching is
    case-insensitive; null text behaves like empty text.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(
        F.transform(F.split(txt, "\n"), F.trim), lambda l: F.length(l) > 0
    )

    def _line_ok(l: Column) -> Column:
        ok = F.size(F.filter(F.split(l, r"\s+"), lambda w: F.length(w) > 0)) >= F.lit(
            min_words_per_line
        )
        if require_terminal_punct:
            ok = ok & (
                l.endswith(".") | l.endswith("!") | l.endswith("?") | l.endswith('"')
            )
        for phrase in line_blocklist:
            ok = ok & ~F.contains(F.lower(l), F.lit(phrase.lower()))
        return ok

    kept = F.filter(lines, _line_ok)
    blocked = F.lit(False)
    for phrase in doc_blocklist:
        blocked = blocked | F.contains(F.lower(txt), F.lit(phrase.lower()))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.array_join(kept, "\n").alias("text"),
        F.size(lines).alias("n_lines_in"),
        F.size(kept).alias("n_lines_kept"),
        blocked.alias("doc_blocked"),
        (~blocked & (F.size(kept) >= F.lit(min_lines))).alias("keep"),
        # pass-through columns (e.g. the event-time column a streaming
        # caller's watermark rides on — a post-hoc join would be a
        # stream-stream join and need its own watermark)
        *[F.col(c) for c in keep_cols],
    )


def dedup_lines(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide exact line deduplication (the C4 "deduplicate at
    the three-sentence/line granularity" pass): every distinct line
    keeps exactly its FIRST occurrence in ``(doc_id, position)``
    order; later repeats are removed and each document's text is
    re-assembled from its surviving lines.  Returns one row per input
    document: ``(doc_id, text, n_lines, n_lines_kept)`` — docs whose
    every line was seen earlier come back with empty text.

    Scale shape: the first-occurrence choice is a ``min(struct(doc_id,
    pos))`` AGGREGATE over the line digest — ``(xxhash64(line),
    sha2(line, 256))``, the same collision-proof pair the exact-dedup
    family keys on — NOT a window: an aggregate gets a map-side
    partial, so the corpus's hottest line ("All rights reserved",
    cookie banners — billions of occurrences at 100 TB) collapses to
    one candidate per map task before the exchange, where a
    ``row_number`` window would funnel every occurrence of the hot
    digest through a single task with no partial.  The digest exchange
    carries ``(h1, h2, doc_id, pos)`` only — line TEXT never rides a
    digest-keyed shuffle; winners join back to the lines on
    ``(doc_id, pos)``, a unique, uniformly-distributed key (skew-free
    by construction).  The per-doc ``collect_list`` is bounded by
    document size, not corpus size.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.filter(F.split(txt, "\n"), lambda l: F.length(l) > 0)).alias(
            "pos", "line"
        ),
    )
    keyed = lines.select(
        "doc_id",
        "pos",
        F.xxhash64("line").alias("h1"),
        F.sha2("line", 256).alias("h2"),
    )
    winners = (
        keyed.groupBy("h1", "h2")
        .agg(F.min(F.struct("doc_id", "pos")).alias("_fst"))
        .select(F.col("_fst.doc_id").alias("doc_id"), F.col("_fst.pos").alias("pos"))
    )
    kept = lines.join(winners, ["doc_id", "pos"], "leftsemi")
    re_docs = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    base = df.select(
        F.col(id_col).alias("doc_id"), F.size(F.filter(F.split(txt, "\n"), lambda l: F.length(l) > 0)).alias("n_lines")
    )
    return (
        base.join(re_docs, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "n_lines",
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
        )
    )


def chunk_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_words: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping fixed-size word windows —
    the standard context-window chunking pass before tokenization
    (stride < max_words gives the training-time overlap; stride ==
    max_words gives disjoint chunks).  Chunk ``k`` covers words
    ``[k*stride, k*stride + max_words)``; the last chunk may be short;
    the chunk count is the smallest number of windows covering every
    word.  Empty documents produce no chunks.  Returns
    ``(doc_id, chunk_id, text, n_words)``.

    Pure JVM: split → sequence/explode → slice/array_join, no Python,
    no shuffle — the generator fuses into the scan and output
    partitioning follows the input, so downstream tokenization starts
    from well-sized splits without an exchange.
    """
    if stride <= 0 or max_words <= 0:
        raise ValueError("max_words and stride must be positive")
    if stride > max_words:
        # gapped chunking would skip words AND emit phantom chunks with
        # empty text / negative n_words past the last covered word —
        # it contradicts the full-coverage contract above, so refuse
        raise ValueError("stride must be <= max_words (gapless coverage)")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    words = F.filter(F.split(txt, r"\s+"), lambda w: F.length(w) > 0)
    base = df.select(
        F.col(id_col).alias("doc_id"), words.alias("_w"), F.size(words).alias("nw")
    ).filter(F.col("nw") > 0)
    n_chunks = F.when(F.col("nw") <= max_words, F.lit(1).cast("long")).otherwise(
        F.floor((F.col("nw") - max_words + stride - 1) / stride) + 1
    )
    ex = base.select(
        "doc_id",
        "_w",
        "nw",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
    )
    start = (F.col("chunk_id") * stride + 1).cast("int")
    return ex.select(
        "doc_id",
        "chunk_id",
        F.array_join(F.slice("_w", start, max_words), " ").alias("text"),
        F.least(F.lit(max_words).cast("long"), F.col("nw") - F.col("chunk_id") * stride).alias(
            "n_words"
        ),
    )


def _hashed_gram_buckets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ns: tuple[int, ...],
    n_buckets: int,
    portable: bool = True,
) -> DataFrame:
    """(doc_id, bucket) — one row per n-gram OCCURRENCE across all
    ``ns`` sizes.  ``portable=True`` buckets by the polynomial char
    hash (DuckDB-twin exact; what the driver gate uses);
    ``portable=False`` buckets by JVM ``xxhash64`` — ~2x faster since
    it skips the per-char fold, same statistical behavior, for
    production runs that don't need a SQL oracle twin.

    STRICT n-grams: words split on ``\\s+`` and a doc shorter than
    ``n`` words contributes NO n-grams of that size — unlike the dedup
    shingles' whole-text fallback, which would double-count a short
    doc's text once per requested size and skew DSIR's likelihood
    ratio for exactly the docs with the least evidence."""
    from proxyfeatureextraction_spark.operators.dedup import portable_word_hash

    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(txt, r"\s+"), lambda w: F.length(w) > 0)

    def _strict(n: int) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    grams = F.concat(*[_strict(n) for n in ns])
    ex = df.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("g"))
    if portable:
        bucket = portable_word_hash(F.col("g")) % F.lit(n_buckets)
    else:
        bucket = F.pmod(F.xxhash64(F.col("g")), F.lit(n_buckets))
    return ex.select("doc_id", bucket.alias("bucket"))


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    ns: tuple[int, ...] = (1, 2),
    n_buckets: int = 10_000,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed-n-gram bag is under
    the TARGET distribution than under the RAW distribution,

        log w(doc) = sum over gram occurrences of
                     [ln(cnt_t[b] + a) - ln(cnt_r[b] + a)]
                     + G_doc * [ln(T_r + aB) - ln(T_t + aB)]

    — the add-``alpha`` smoothed log-likelihood ratio of two bag-of-
    hashed-ngrams models (unigrams + bigrams by default, ``n_buckets``
    hash buckets), algebraically refactored so every logarithm's
    argument is engine-computed from exact integer counts (no
    driver-side floats enter the data path).  Feed the output to
    ``weighted_sample_per_group`` (A-ES keys on ``exp(log_w)``), or
    rank-and-take directly, to reproduce DSIR's importance resampling.

    Scale shape: both bucket-count tables are bounded by ``n_buckets``
    rows regardless of corpus size, so (same policy as ``mix_corpus``'s
    keep map) they are COLLECTED once and re-broadcast as literal
    frames — otherwise every reference to a count table re-executes
    its whole explode-and-hash subtree, and the expensive gram stream
    runs 3x over raw and 2x over target instead of exactly once each
    plus the final scoring pass.  The only full-data operations are
    one explode and one per-doc aggregation per pass, and the exchange
    carries ``(doc_id, bucket int)``, never gram text.  The totals are
    exact integer sums of the collected counts, so every logarithm's
    argument is still integer-valued and hash-portable.
    Returns ``(doc_id, n_grams, log_importance)`` for every raw doc;
    docs with no grams (empty text) score 0.
    """
    if n_buckets <= 0 or alpha <= 0:
        raise ValueError("n_buckets and alpha must be positive")
    if not ns:
        raise ValueError("ns must name at least one n-gram size")
    spark = raw.sparkSession
    occ_r = _hashed_gram_buckets(raw, text_col, id_col, ns, n_buckets, portable)
    occ_t = _hashed_gram_buckets(target, text_col, id_col, ns, n_buckets, portable)
    rows_r = occ_r.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr")).collect()
    rows_t = occ_t.groupBy("bucket").agg(F.count(F.lit(1)).alias("ct")).collect()
    tr = sum(r["cr"] for r in rows_r)
    tt = sum(r["ct"] for r in rows_t)
    cnt_r = spark.createDataFrame(
        [(r["bucket"], r["cr"]) for r in rows_r], "bucket long, cr long"
    )
    cnt_t = spark.createDataFrame(
        [(r["bucket"], r["ct"]) for r in rows_t], "bucket long, ct long"
    )
    ab = float(alpha) * n_buckets
    scored = (
        occ_r.join(F.broadcast(cnt_t), "bucket", "left")
        .join(F.broadcast(cnt_r), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(
                F.sum(
                    F.log(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(alpha))
                    - F.log(F.coalesce(F.col("cr"), F.lit(0)) + F.lit(alpha))
                )
                + F.count(F.lit(1))
                * (F.log(F.lit(tr) + F.lit(ab)) - F.log(F.lit(tt) + F.lit(ab))),
                6,
            ).alias("log_importance"),
        )
    )
    base = raw.select(F.col(id_col).alias("doc_id"))
    return base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
        F.coalesce("log_importance", F.lit(0.0)).alias("log_importance"),
    )


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global training-order shuffle + shard assignment —
    the RNG-free equivalent of "shuffle the corpus, split into N
    files" that every epoch-0 data loader expects.  Each row lands in
    ``shard = h(id) % n_shards`` and gets a dense ``shard_pos`` by the
    seeded hash order (ties by id), so the full ordering is
    reproducible from ``(seed, n_shards)`` alone, stable under input
    re-partitioning, and re-seedable per epoch (the seed enters the
    hash MULTIPLIER via ``perm_params`` — different seeds give
    genuinely different permutations, not rotations).

    Scale shape: one exchange on ``shard`` and a per-shard sort — the
    exact physical pattern of the eventual sharded write
    (``repartition(n_shards, shard) .sortWithinPartitions``), so the
    plan in front of the sink adds nothing beyond the write itself.
    ``shard_pos`` comes from a window over the shard, which is one
    sorted pass over each (bounded, corpus/n_shards-sized) partition.

    ``id_col`` must be unique: rows sharing an id hash identically, so
    their relative ``shard_pos`` (within the same shard) would be
    arbitrary. Dedup or synthesize a surrogate id first.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    h = _id_hash(id_col, seed, op=OP_SHARD)
    out = df.withColumn("_h", h).withColumn(
        "shard", (F.col("_h") % n_shards).cast("int")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return (
        out.withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .drop("_h")
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = True,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT word n-grams whose earliest corpus occurrence (lowest
    ``doc_id``) is this document.  A near-zero score marks a document
    assembled entirely from text seen earlier in the corpus — the
    document-level memorization proxy behind the dedup thresholds of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better"), usable as a ranking signal where the hard
    dedup passes are too blunt.  Returns one row per input document:
    ``(doc_id, n_grams, n_novel, novelty)`` with ``novelty`` rounded
    to 6 places (oracle float parity); gram-free docs (< ``n`` words)
    come back ``(0, 0, 0.0)``.

    Scale shape — no gram-keyed JOIN anywhere: per-doc dedup happens
    INSIDE the row (``array_distinct`` over the hashed gram array, so
    the explode already emits distinct ``(doc_id, h)`` pairs), and
    "is this doc the first occurrence?" is answered by two
    aggregates, not a join back: ``groupBy(h).agg(min(doc_id))`` is
    map-side partial (the corpus's hottest boilerplate gram collapses
    to one candidate per map task before the exchange), and counting
    each doc's wins is ``groupBy(first_doc).count()`` over that
    already-one-row-per-gram table.  The only join is per-doc totals
    vs per-doc wins on unique ``doc_id`` — uniformly distributed by
    construction.  Exchanges carry ``(h, doc_id)`` longs; gram text
    never shuffles.  64-bit (portable: mod-1e9+7) digests stand in
    for the grams themselves, so hash-colliding gram pairs merge —
    the same documented tradeoff as the rest of the digest-keyed
    family, shared exactly by the DuckDB oracle twin.

    ``portable=True`` hashes grams with the polynomial char fold
    (DuckDB-twin exact; what the driver gate checks);
    ``portable=False`` uses JVM ``xxhash64`` — faster, same
    statistics, for production runs that don't need the SQL oracle.
    """
    from proxyfeatureextraction_spark.operators.dedup import portable_word_hash

    if n <= 0:
        raise ValueError("n must be positive")
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.filter(F.split(txt, r"\s+"), lambda w: F.length(w) > 0)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    if portable:
        hs = F.transform(grams, lambda g: portable_word_hash(g))
    else:
        hs = F.transform(grams, lambda g: F.xxhash64(g))
    dg = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(F.array_distinct(hs)).alias("h"),
    )
    n_tot = dg.groupBy("doc_id").agg(
        F.count("h").alias("n_grams")  # count(col) skips the explode_outer null
    )
    firsts = dg.where(F.col("h").isNotNull()).groupBy("h").agg(
        F.min("doc_id").alias("first_doc")
    )
    n_new = firsts.groupBy("first_doc").count().select(
        F.col("first_doc").alias("doc_id"), F.col("count").alias("n_novel")
    )
    return (
        n_tot.join(n_new, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.when(
                    F.col("n_grams") > 0,
                    F.coalesce("n_novel", F.lit(0)) / F.col("n_grams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("novelty"),
        )
    )


def curriculum_order(
    df: DataFrame,
    score_col: str,
    n_phases: int,
    seed: int = 0,
    id_col: str = "doc_id",
    ascending: bool = True,
    n_buckets: int | None = None,
    rel_err: float = 0.001,
) -> DataFrame:
    """Curriculum ordering for training (Bengio et al. 2009): rank the
    corpus by a difficulty score (ties by id), cut the ranking into
    ``n_phases`` equal NTILE phases (phase 1 = easiest when
    ``ascending``), and give every row its exact global rank, its
    position within the phase, and a domain-separated hash
    ``order_key`` that shuffles WITHIN a phase (so a loader that sorts
    by ``(phase, order_key, doc_id)`` replays easy→hard with
    decorrelated order inside each phase — no extra pass needed).
    Returns ``(doc_id, <score_col>, rank, phase, phase_pos,
    order_key)``; deterministic from ``(seed, n_phases)`` alone.

    Scale shape — exact global rank WITHOUT a single-partition global
    window (the classic `Window.orderBy(score)` trap funnels the whole
    corpus through one task): (1) freeze ``n_buckets`` score
    boundaries via deterministic Greenwald–Khanna ``approxQuantile``
    literals (no RNG, unlike `repartitionByRange`, whose boundary
    RE-SAMPLING between the count pass and the rank pass is not
    guaranteed identical); (2) per-bucket counts (≤ ``n_buckets``
    rows) collect to the driver and become cumulative offset
    literals; (3) rank = offset + row_number windowed WITHIN the
    bucket — partitions are quantile-balanced at ~corpus/n_buckets.
    ``phase`` and ``phase_pos`` are then CLOSED-FORM in (rank, N,
    n_phases) — NTILE's first ``N % k`` tiles carry one extra row —
    so the phase cut adds zero extra exchange or window.  Three
    passes over the two-column ``(id, score)`` projection (quantile
    sketch, bucket counts, rank); text never enters the plan.

    Caveat: boundaries cut on SCORE alone, so probability mass
    concentrated on one exact score value lands in one bucket (ties
    can't be split across buckets without losing the frozen-literal
    determinism). For discrete scores with heavy modes, pre-jitter
    the score deterministically (e.g. ``score + id%1000 * 1e-9``) or
    raise ``n_buckets``.
    """
    if n_phases <= 0:
        raise ValueError("n_phases must be positive")
    slim = df.select(
        F.col(id_col).alias("doc_id"), F.col(score_col).cast("double").alias("_s")
    )
    sc = slim.sparkSession.sparkContext
    p = n_buckets or max(sc.defaultParallelism, 2)
    probs = [i / p for i in range(1, p)]
    bounds = sorted(set(slim.stat.approxQuantile("_s", probs, rel_err)))
    key = F.col("_s") if ascending else -F.col("_s")
    if not ascending:
        bounds = sorted(-b for b in bounds)
    bucket = F.lit(0)
    for b in bounds:  # quantile-balanced; len(bounds) < n_buckets literals
        bucket = bucket + F.when(key > F.lit(b), 1).otherwise(0)
    bk = slim.withColumn("_b", bucket)
    rows = bk.groupBy("_b").count().collect()
    sizes = {r["_b"]: r["count"] for r in rows}
    total = sum(sizes.values())
    off, offsets = 0, {}
    for b in sorted(sizes):
        offsets[b] = off
        off += sizes[b]
    off_col = F.lit(0)
    for b, o in offsets.items():
        off_col = F.when(F.col("_b") == b, F.lit(o)).otherwise(off_col)
    w = Window.partitionBy("_b").orderBy(key.asc(), F.col("doc_id").asc())
    ranked = bk.withColumn("rank", (off_col + F.row_number().over(w)).cast("long"))
    base, rem = divmod(total, n_phases)
    head = rem * (base + 1)  # rows living in the base+1-sized leading tiles
    phase = F.when(
        F.col("rank") <= F.lit(head),
        F.ceil(F.col("rank") / F.lit(max(base + 1, 1))),
    ).otherwise(F.lit(rem) + F.ceil((F.col("rank") - F.lit(head)) / F.lit(max(base, 1))))
    phase_start = F.when(
        F.col("phase") <= F.lit(rem), (F.col("phase") - 1) * F.lit(base + 1)
    ).otherwise(F.lit(head) + (F.col("phase") - 1 - F.lit(rem)) * F.lit(base))
    return (
        ranked.withColumn("phase", phase.cast("int"))
        .withColumn("phase_pos", (F.col("rank") - phase_start).cast("long"))
        .withColumn("order_key", _id_hash("doc_id", seed, op=OP_CURR))
        .select(
            "doc_id",
            F.col("_s").alias(score_col),
            "rank",
            "phase",
            "phase_pos",
            "order_key",
        )
    )


def time_split_purged(
    df: DataFrame,
    ts_col: str,
    n_folds: int,
    embargo: float = 0.0,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Purged walk-forward k-fold assignment with embargo (Lopez de
    Prado 2018, "Advances in Financial Machine Learning" ch. 7 —
    purged k-fold CV): the time axis is cut into ``n_folds`` equal
    ranges; for every (row, fold) pair the row is ``test`` if it lives
    in the fold's range, ``train`` if it sits clear of the range by
    more than ``embargo`` seconds on either side, and ``purged``
    otherwise — the temporal twin of ``split_by_cluster``'s
    leakage-safety rule (a feature window that OVERLAPS the test range
    must reach neither split).  Returns one row per input row per
    fold: ``(fold, role, <keep_cols...>)`` — the ×k fan-out is the
    definition of k-fold, not an implementation artifact.

    Scale shape: one 2-value min/max aggregate collects to the driver
    and becomes range literals; the fold spec is an ``n_folds``-row
    broadcast crossJoin; role is a pure JVM CASE — no shuffle at all
    beyond the tiny broadcast, so the plan fuses into the scan and the
    output can stream straight to a partitioned-by-fold sink.
    Timestamps are compared in epoch seconds (``cast(double)`` =
    DuckDB ``epoch()``), so ``embargo`` is in seconds.
    """
    if n_folds <= 0:
        raise ValueError("n_folds must be positive")
    if embargo < 0:
        raise ValueError("embargo must be >= 0")
    t = F.col(ts_col).cast("double")
    lo, hi = df.select(F.min(t), F.max(t)).first()
    if lo is None:
        raise ValueError(f"{ts_col} has no non-null values")
    width = (hi - lo) / n_folds or 1.0
    spark = df.sparkSession
    folds = spark.createDataFrame(
        [
            (k, lo + k * width, hi + 1.0 if k == n_folds - 1 else lo + (k + 1) * width)
            for k in range(n_folds)
        ],
        "fold int, f_lo double, f_hi double",
    )
    keep = keep_cols or [c for c in df.columns if c != ts_col]
    out = df.crossJoin(F.broadcast(folds))
    in_fold = (t >= F.col("f_lo")) & (t < F.col("f_hi"))
    clear = (t < F.col("f_lo") - F.lit(float(embargo))) | (
        t >= F.col("f_hi") + F.lit(float(embargo))
    )
    role = (
        F.when(in_fold, F.lit("test"))
        .when(clear, F.lit("train"))
        .otherwise(F.lit("purged"))
    )
    return out.select("fold", role.alias("role"), *keep)


def psi_drift(
    df_ref: DataFrame,
    df_cur: DataFrame,
    col: str,
    n_buckets: int = 10,
    eps: float = 1e-6,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution of one numeric column — the standard drift alarm a
    training pipeline runs on every new corpus drop before mixing it
    in (PSI < 0.1 stable / 0.1-0.25 drifting / > 0.25 shifted; the
    credit-scoring heuristic, e.g. Yurdakul 2018).  Equal-width
    buckets over the REFERENCE range (caller-pinnable via ``bounds``);
    out-of-range current values clamp into the edge buckets; nulls are
    excluded (profile them with ``profile_numeric``).  Returns one row
    per bucket: ``(bucket, b_lo, b_hi, n_ref, n_cur, p_ref, p_cur,
    psi)``, all floats rounded to 6; ``sum(psi)`` is the headline
    index.

    Scale shape: bucket bounds are two literals (one 2-value aggregate
    on ref when not caller-supplied — exact min/max, NOT a quantile
    sketch, so the SQL oracle is bit-identical); each side then runs
    one map-side-partial ``groupBy(bucket).count`` whose exchange is
    ≤ ``n_buckets`` rows; the full-outer bucket join is
    ``n_buckets``-sized.  Nothing corpus-sized ever moves.
    """
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    v = F.col(col).cast("double")
    if bounds is None:
        lo, hi = df_ref.select(F.min(v), F.max(v)).first()
        if lo is None:
            raise ValueError(f"{col} has no non-null values in df_ref")
    else:
        lo, hi = float(bounds[0]), float(bounds[1])
    width = (hi - lo) / n_buckets or 1.0

    def _bucketed(d: DataFrame, out: str) -> DataFrame:
        b = F.least(
            F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
            F.lit(n_buckets - 1),
        ).cast("int")
        return (
            d.where(v.isNotNull())
            .groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).alias(out))
        )
    r = _bucketed(df_ref, "n_ref")
    c = _bucketed(df_cur, "n_cur")
    tot_r = F.sum("n_ref").over(Window.partitionBy())  # n_buckets rows: safe
    tot_c = F.sum("n_cur").over(Window.partitionBy())
    j = (
        r.join(c, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    p_ref = F.greatest(F.col("n_ref") / tot_r, F.lit(eps))
    p_cur = F.greatest(F.col("n_cur") / tot_c, F.lit(eps))
    return j.select(
        "bucket",
        F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 6).alias("b_lo"),
        F.round(F.lit(lo) + (F.col("bucket") + 1) * F.lit(width), 6).alias("b_hi"),
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi"),
    )


def robust_scale(
    df: DataFrame,
    cols: list[str],
    round_digits: int = 6,
) -> DataFrame:
    """Median/IQR robust scaling of numeric feature columns —
    ``(v - median) / (p75 - p25)`` per column, the outlier-immune
    standardization (sklearn's RobustScaler semantics) a feature
    table gets before clustering/quantile models; constant-IQR
    columns divide by 1 instead of exploding.  Appends
    ``{col}_scaled`` (rounded to ``round_digits``) for each input
    column; NULL values stay NULL.

    Scale shape: ONE aggregation pass computes every column's
    (median, p25, p75) simultaneously (exact ``percentile`` — the
    same Spark↔DuckDB ``quantile_cont`` equivalence
    ``profile_numeric`` leans on; swap ``approx_percentile`` in at
    the 100 TB point if the sort state bites), the 1-row result
    collects to the driver, and the scaling itself is a narrow
    projection of literals — no join, no second shuffle.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    aggs = []
    for c in cols:
        aggs += [
            F.expr(f"percentile(`{c}`, 0.5)").alias(f"{c}__med"),
            F.expr(f"percentile(`{c}`, 0.25)").alias(f"{c}__p25"),
            F.expr(f"percentile(`{c}`, 0.75)").alias(f"{c}__p75"),
        ]
    stats = df.agg(*aggs).first()
    out = df
    for c in cols:
        med = stats[f"{c}__med"]
        if med is None:
            raise ValueError(f"{c} has no non-null values")
        iqr = stats[f"{c}__p75"] - stats[f"{c}__p25"]
        out = out.withColumn(
            f"{c}_scaled",
            F.round(
                (F.col(c).cast("double") - F.lit(med)) / F.lit(iqr or 1.0),
                round_digits,
            ),
        )
    return out


def rrf_fuse(
    rankings: list[DataFrame],
    k0: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009): combine N
    independent rankings of the same id space into one score,
    ``sum_i 1 / (k0 + rank_i)`` — the standard hybrid-retrieval merge
    (BM25 ⊕ embedding cosine ⊕ recency …) that needs no score
    calibration between systems.  Ids absent from a ranking simply
    contribute nothing for it (the practical top-k-lists case).
    Returns ``(id_col, rrf_score round-6)``; with ``top_k`` the
    result is the k best by ``(score desc, id)``.

    Scale shape: union of the slim ``(id, rank)`` projections → ONE
    map-side-partial sum aggregate keyed on the id; no join grows
    with the number of systems.  ``top_k`` plans as
    TakeOrderedAndProject (per-partition heads + driver merge of k),
    never a global sort; without it the caller orders at the sink.
    The deliberately absent global dense ranking output is the
    single-partition ``Window.orderBy`` trap — use
    ``curriculum_order``'s bucketed exact-rank machinery if a total
    rank column is genuinely needed.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k0 <= 0:
        raise ValueError("k0 must be positive")
    parts = [
        r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(k0) + F.col(rank_col).cast("double"))).alias("_c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    out = u.groupBy(id_col).agg(
        F.round(F.sum("_c"), 6).alias("rrf_score")
    )
    if top_k is not None:
        return out.orderBy(F.col("rrf_score").desc(), F.col(id_col)).limit(top_k)
    return out
