"""Benchmark workloads: ``extract`` and ``curate``. The pit plan has no
workload of its own: its whole plan, layers and checks run in
``extract``'s traced pass, on extract's transcript table.

Each workload owns its input generation (from the run's seed), the
whole-plan call that the timed reps make, a per-rep output digest, the
once-per-run output check, and the layer calls of the traced pass.
The package only ever sees the generated tables.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from perfbench import checks
from proxyfeatureextraction_spark import schema as S

# Input sizes. Every plan here has a large fixed cost (tens of stages,
# iterative contraction rounds), so these keep one rep at a few seconds
# on a 4-core host while the per-row work still shows.
EXTRACT_TURNS = 15_000
CURATE_DOCS = 150
# synth's own default. Each heavy hitter has 300-1500 turns, so at these
# sizes more of them would make the conversation count, and with it the
# rep time, swing from seed to seed.
HEAVY_HITTERS = 3
# Plain conversations have at most 400 turns (synth clips there), so
# > 400 routes heavy hitters and only them.
PIT_HEAVY_THRESHOLD = 400
PIT_BLOCK_ROWS = 100
_MOD = 1_000_000_007


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_parquet(df: DataFrame, path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    df.write.parquet(path)


def _digest(df: DataFrame, key_cols: list[str], exact_sums: list) -> tuple[DataFrame, Observation]:
    """Attach a row count and exact checksums to ``df``'s next action."""
    obs = Observation("rep")
    exprs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64(*key_cols), F.lit(_MOD))).alias("keys"),
    ] + [F.sum(e).alias(f"s{i}") for i, e in enumerate(exact_sums)]
    return df.observe(obs, *exprs), obs


def traced_plan(tracer, name: str, build, sink) -> None:
    """A whole-plan call as two spans: ``<name>.declare`` (building the
    DataFrame, where any job fired is a declare-time job) and ``<name>``
    (writing it)."""
    with tracer.span(f"{name}.declare"):
        df = build()
    with tracer.span(name):
        sink(df)


class Workload:
    name = ""
    plan_name = ""

    def __init__(self, spark, seed: int, work: str, cores: int) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores
        self.input_rows = 0
        self.expected: dict | None = None

    def generate(self) -> None:
        raise NotImplementedError

    def plan(self) -> DataFrame:
        raise NotImplementedError

    def digest_cols(self) -> tuple[list[str], list]:
        raise NotImplementedError

    def rep(self) -> dict:
        """One closed-loop job: declare the whole plan and write it."""
        keys, sums = self.digest_cols()
        df, obs = _digest(self.plan(), keys, sums)
        noop(df)
        return dict(obs.get)

    def collect_checked(self) -> pd.DataFrame:
        """Run the whole plan once, collected, and record the digest every
        rep must then reproduce."""
        keys, sums = self.digest_cols()
        df, obs = _digest(self.plan(), keys, sums)
        out = df.toPandas()
        self.expected = dict(obs.get)
        return out

    def check(self) -> list[str]:
        raise NotImplementedError

    def trace(self, tracer) -> tuple[dict, list[str]]:
        """Traced pass: returns driver-side measurements by span name and
        the failures of any checks it runs."""
        raise NotImplementedError


# --- transcripts (extract, pit) -----------------------------------------

def _transcripts(n_turns: int, seed: int) -> pd.DataFrame:
    """The rows ``synth.synth_bench_parquet`` writes (text of each turn's
    target length; only its length feeds the kernels), cut after the
    last whole conversation within ``n_turns`` so every seed gives
    nearly the same input size."""
    from proxyfeatureextraction_spark.synth import synth_transcripts_pdf

    pdf = synth_transcripts_pdf(
        n_convs=n_turns // 20, seed=seed, heavy_hitters=HEAVY_HITTERS, with_text=False
    )
    ends = np.cumsum(pdf.groupby(S.CONV, sort=False).size().to_numpy())
    pdf = pdf.iloc[: ends[np.searchsorted(ends, n_turns, side="right") - 1]].copy()
    pdf[S.TEXT] = ["x" * n for n in pdf["n_chars_target"]]
    return pdf


def _write_transcripts(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """Parquet files hash-split by conversation, written without Spark
    so set-up time is the generator's and not a Spark job's."""
    cols = [S.FOLDER, S.SOURCE, S.CONV, S.TURN, S.ROLE, S.TEXT, S.TOOL, S.TS]
    out = pdf[cols].assign(**{S.TS: pdf[S.TS].dt.tz_localize("UTC")})
    part = out[S.CONV].str.slice(5).astype(np.int64) % n_files
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i in range(n_files):
        pq.write_table(
            pa.Table.from_pandas(out[part == i], preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )


def derived(spark, path: str, where=None) -> DataFrame:
    from proxyfeatureextraction_spark.schema import with_derived

    raw = spark.read.parquet(path)
    return with_derived(raw if where is None else raw.filter(where))


def pit_plan(d: DataFrame) -> DataFrame:
    from proxyfeatureextraction_spark.plans.pit import pit_features_auto

    return pit_features_auto(
        d, heavy_threshold=PIT_HEAVY_THRESHOLD, block_rows=PIT_BLOCK_ROWS
    )


def pit_check_inputs(spark, in_path: str, out_path: str) -> tuple:
    """The frames ``checks.check_pit`` compares, in its argument order."""
    from proxyfeatureextraction_spark.operators.skew import heavy_hitters
    from proxyfeatureextraction_spark.plans.pit import pit_features

    full = spark.read.parquet(out_path).toPandas()
    plain = pit_features(derived(spark, in_path)).toPandas()
    ts_us = F.unix_micros(S.TS)
    cutoff_us = (
        spark.read.parquet(in_path).select(F.percentile_approx(ts_us, 0.5, 10_000)).first()[0]
    )
    truncated = pit_plan(derived(spark, in_path, ts_us <= F.lit(cutoff_us))).toPandas()
    cutoff = pd.Timestamp(cutoff_us, unit="us")
    routed = {
        r[S.CONV]
        for r in heavy_hitters(derived(spark, in_path), threshold=PIT_HEAVY_THRESHOLD).collect()
    }
    sizes = pq.read_table(in_path, columns=[S.CONV]).column(S.CONV).to_pandas().value_counts()
    over = set(sizes.index[sizes > PIT_HEAVY_THRESHOLD])
    # synth places the heavy hitters right after the six boundary convs
    heavy = {f"conv_{i}" for i in range(6, 6 + HEAVY_HITTERS)}
    return full, plain, truncated, cutoff, routed, over, heavy


def _pit_trace(spark, tracer, in_path: str, out_path: str) -> list[str]:
    """The pit whole plan and its layers, then the pit checks."""
    from proxyfeatureextraction_spark.operators.skew import heavy_hitters
    from proxyfeatureextraction_spark.plans.pit import pit_features, pit_features_blocked

    traced_plan(
        tracer, "plans.pit.pit_features_auto",
        lambda: pit_plan(derived(spark, in_path)),
        lambda df: write_parquet(df, out_path),
    )
    d = derived(spark, in_path).persist()
    noop(d)
    with tracer.span("operators.skew.heavy_hitters"):
        heavy = heavy_hitters(d, threshold=PIT_HEAVY_THRESHOLD).select(S.CONV)
        noop(heavy)
    # the router's two branches, built as pit_features_auto builds them
    normal = d.join(F.broadcast(heavy), S.CONV, "left_anti")
    hot = d.join(F.broadcast(heavy), S.CONV, "left_semi")
    with tracer.span("plans.pit.pit_features"):
        noop(pit_features(normal))
    with tracer.span("plans.pit.pit_features_blocked"):
        noop(pit_features_blocked(hot, block_rows=PIT_BLOCK_ROWS))
    out = pit_plan(d).persist()
    noop(out)
    with tracer.span("io.parquet.write"):
        write_parquet(out, out_path)
    out.unpersist()
    d.unpersist()
    return checks.check_pit(*pit_check_inputs(spark, in_path, out_path))


class Extract(Workload):
    name = "extract"
    plan_name = "plans.extract.extract_features"

    def generate(self) -> None:
        self.path = os.path.join(self.work, "transcripts")
        self.transcripts = _transcripts(EXTRACT_TURNS, self.seed)
        _write_transcripts(self.transcripts, self.path, 2 * self.cores)
        self.input_rows = len(self.transcripts)

    def plan(self) -> DataFrame:
        from proxyfeatureextraction_spark.plans.extract import extract_features

        d = derived(self.spark, self.path)
        return extract_features(d, d.select(S.TS_SEC, S.N_CHARS))

    def digest_cols(self):
        return [S.CONV], [
            F.col("corr_count").cast("long"),
            F.round(F.col("duration") * 1000).cast("long"),
        ]

    def check(self) -> list[str]:
        return checks.check_extract(self.collect_checked(), self.transcripts)

    def trace(self, tracer) -> tuple[dict, list[str]]:
        from proxyfeatureextraction_spark.features.corr import corr_features
        from proxyfeatureextraction_spark.features.hayes_vec import hayes_matrix_batch
        from proxyfeatureextraction_spark.features.names import HAYES_NAMES, SLT_NAMES
        from proxyfeatureextraction_spark.features.slt_vec import slt_matrix_batch
        from proxyfeatureextraction_spark.operators.ordering import gated_first_k
        from proxyfeatureextraction_spark.plans.extract import (
            fused_slice_features,
            host_trace_scalars,
        )
        from proxyfeatureextraction_spark.schema import with_derived

        traced_plan(tracer, self.plan_name, self.plan, noop)
        raw = self.spark.read.parquet(self.path)
        with tracer.span("io.parquet.scan"):
            noop(raw)
        with tracer.span("schema.with_derived"):
            noop(with_derived(raw))
        # later layers read the derived table from memory, so each span
        # holds that layer's own work and not the scan + derive again
        d = derived(self.spark, self.path).persist()
        noop(d)
        gateway = d.select(S.TS_SEC, S.N_CHARS)
        head = (
            gated_first_k(d, 20)
            .select(S.CONV, S.TURN, S.TS, S.TS_SEC, S.DIR, S.N_CHARS)
            .toPandas()
            .sort_values([S.CONV, S.TURN, S.TS], kind="stable")
            .reset_index(drop=True)
        )
        with tracer.span("plans.extract.fused_slice_features"):
            noop(fused_slice_features(d, include_rtt=True))
        rates = {}
        for name, fn in (
            ("features.hayes_vec.hayes_matrix_batch",
             lambda: hayes_matrix_batch(head, k=20, columns=HAYES_NAMES)),
            ("features.slt_vec.slt_matrix_batch",
             lambda: slt_matrix_batch(head, k=20, columns=SLT_NAMES)),
        ):
            with tracer.span(name):
                rates[name] = _driver_rate(fn, len(head))
        with tracer.span("plans.extract.host_trace_scalars"):
            noop(host_trace_scalars(d))
        with tracer.span("features.corr.corr_features"):
            noop(corr_features(d, gateway))
        # a copy of corr's range join, run on its own beside corr
        with tracer.span("operators.asof.interval_join") as sp:
            obs = Observation("ij")
            noop(_corr_interval_join(d, gateway).observe(obs, F.count(F.lit(1)).alias("n")))
            sp.counts["rows_out"] = float(obs.get["n"])
        d.unpersist()
        errors = _pit_trace(self.spark, tracer, self.path, os.path.join(self.work, "pit_out"))
        return rates, errors


def _driver_rate(fn, rows: int, min_s: float = 0.3) -> float:
    """Rows per second of a driver-side kernel: median over repeated
    calls that together take at least ``min_s`` (and at least three)."""
    rates, spent = [], 0.0
    while spent < min_s or len(rates) < 3:
        t = time.perf_counter()
        fn()
        dt = time.perf_counter() - t
        spent += dt
        rates.append(rows / dt)
    return float(np.median(rates))


def _corr_interval_join(d: DataFrame, gateway: DataFrame) -> DataFrame:
    """A copy of the span x gateway-bin range join inside
    ``corr_features`` (gated first-20 spans, 0.1 s bins, 60 s range
    buckets), built here because corr does not expose it."""
    from proxyfeatureextraction_spark.operators.asof import interval_join
    from proxyfeatureextraction_spark.operators.ordering import gated_first_k
    from proxyfeatureextraction_spark.operators.windows import time_bucket

    spans = gated_first_k(d, 20).groupBy(S.CONV).agg(
        F.min(S.TS_SEC).alias("_tmin"), (F.max(S.TS_SEC) + F.lit(1.0)).alias("_tmax1")
    )
    gw_bins = gateway.groupBy(time_bucket(S.TS_SEC, 0.1).alias("_gbin")).agg(
        F.sum(F.col(S.N_CHARS).cast("double")).alias("gw_len")
    )
    return interval_join(
        spans, gw_bins, point_ts="_gbin", span_start="_tmin", span_end="_tmax1",
        bucket_seconds=60.0,
    )


# --- curate --------------------------------------------------------------

_STOPWORDS = ("the", "a", "and", "of", "to", "in")
# Fixed layout, so every seed gives the same near-duplicate graph and
# only the words change: clusters whose documents each replace one word
# of a shared base (any two are near-duplicates at Jaccard 0.8), then
# unrelated documents, every 25th of them too short and stopword-free
# to pass the quality filter, every 10th a verbatim copy of the one
# before.
_CLUSTERS = (30, 20, 10, 10, 5, 5, 5, 5)
_CONTENT_WORDS = 50


def docs_pdf(n_docs: int, seed: int) -> pd.DataFrame:
    """Synthetic corpus for ``curate_corpus``: 50 content words from a
    2,000-word vocabulary plus a stopword after every fifth."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(2000)])

    def fresh() -> list[str]:
        return list(rng.choice(vocab, size=_CONTENT_WORDS, replace=False))

    def render(words: list[str]) -> str:
        toks = []
        for j, w in enumerate(words):
            toks.append(w)
            if j % 5 == 4:
                toks.append(_STOPWORDS[j // 5 % len(_STOPWORDS)])
        return " ".join(toks)

    texts: list[str] = []
    for size in _CLUSTERS:
        base = fresh()
        for _ in range(size):
            words = list(base)
            words[int(rng.integers(len(words)))] = str(rng.choice(vocab))
            texts.append(render(words))
    while len(texts) < n_docs:
        k = len(texts)
        if k % 25 == 0:
            texts.append(" ".join(rng.choice(vocab, size=5)))
        elif k % 10 == 0:
            texts.append(texts[-1])
        else:
            texts.append(render(fresh()))
    texts = texts[:n_docs]
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.where(np.arange(n_docs) % 5 < 2, "en", "fr"),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


class Curate(Workload):
    name = "curate"
    plan_name = "operators.curation.curate_corpus"

    def generate(self) -> None:
        self.path = os.path.join(self.work, "documents")
        self.docs = docs_pdf(CURATE_DOCS, self.seed)
        # about one file per core, so the scan is not a single task
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        for i in range(self.cores):
            pq.write_table(
                pa.Table.from_pandas(self.docs.iloc[i :: self.cores], preserve_index=False),
                os.path.join(self.path, f"part-{i:05d}.parquet"),
            )
        self.input_rows = len(self.docs)

    def plan(self) -> DataFrame:
        from proxyfeatureextraction_spark.operators.curation import curate_corpus

        d = self.spark.read.parquet(self.path)
        return curate_corpus(
            d.filter(F.col("doc_id") % 20 != 0),
            d.filter(F.col("doc_id") % 20 == 0),
            weights={"train": 0.95, "val": 0.05},
            threshold=0.8,
            min_quality=0.8,
            decon_n=8,
            split_seed=7,
        )

    def digest_cols(self):
        return ["doc_id", "reason", "split"], [F.round(F.col("quality") * 1e6).cast("long")]

    def check(self) -> list[str]:
        return checks.check_curate(self.collect_checked(), self.docs)

    def trace(self, tracer) -> tuple[dict, list[str]]:
        from proxyfeatureextraction_spark.functions.text import quality_score
        from proxyfeatureextraction_spark.operators.curation import decontaminate
        from proxyfeatureextraction_spark.operators.dedup import dedup_corpus

        traced_plan(tracer, self.plan_name, self.plan, noop)
        d = self.spark.read.parquet(self.path)
        train = d.filter(F.col("doc_id") % 20 != 0)
        qual = train.select("doc_id", "text", quality_score("text").alias("quality"))
        with tracer.span("functions.text.quality_score"):
            noop(qual)
        # the later stages' inputs, built as curate_corpus builds them
        good = qual.filter(F.col("quality") >= 0.8).persist()
        noop(good)
        with tracer.span("operators.dedup.dedup_corpus"):
            assign = dedup_corpus(good, threshold=0.8, method="auto", max_iter=30)
            noop(assign)
        surv_docs = (
            good.join(assign.filter("is_survivor").select("doc_id"), "doc_id")
            .select("doc_id", "text")
            .persist()
        )
        noop(surv_docs)
        eval_texts = d.filter(F.col("doc_id") % 20 == 0).select("text")
        with tracer.span("operators.curation.decontaminate"):
            noop(decontaminate(surv_docs, eval_texts, n=8, text_col="text"))
        surv_docs.unpersist()
        good.unpersist()
        return {}, []


WORKLOADS = {w.name: w for w in (Extract, Curate)}
