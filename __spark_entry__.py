"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 over the driver's test tables (``events`` plays the
transcript/turn stream: ``user_id → conv_id``, ``event_type → role``,
``value → n_chars``); ``oracle_sql()`` carries the DuckDB-equivalent
ANSI SQL. Column names/aliases match pairwise; floating aggregates are
rounded to 6 dp on BOTH sides so value hashes compare stably.

The engine itself lives in ``proxyfeatureextraction_spark``; these
queries re-express its operators on the shared tables so the driver's
DuckDB differential gate can check them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# events whose type marks a user-initiated ("outgoing") turn
OUT_TYPES = ("click", "purchase", "signup")
_OUT_SQL = "('click','purchase','signup')"

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        # parquet ts is TIMESTAMP_NTZ; session tz is pinned UTC so this
        # cast matches DuckDB's naive epoch_us exactly
        e.withColumn("tsec", F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6))
        .withColumn(
            "dir", F.when(F.col("event_type").isin(*OUT_TYPES), F.lit(1)).otherwise(F.lit(-1))
        )
    )


_EVENTS_CTE = f"""
WITH ev AS (
  SELECT *,
         epoch_us(ts) / 1e6 AS tsec,
         CASE WHEN event_type IN {_OUT_SQL} THEN 1 ELSE -1 END AS dir
  FROM events
)
"""

# word-set Jaccard >= 0.8 pair list — shared between the dedup_jaccard
# gate, the dedup_near_survivors closure, and (over a normalized source
# CTE) the dedup_corpus pipeline oracle
def _jaccard_ctes(src: str = "documents") -> str:
    return _JACCARD_CTES_TPL.format(src=src)


def _normalize_sql(expr: str, mask_digits: bool = False) -> str:
    """DuckDB twin of functions.text.normalize_text (same step order;
    'g' flag — DuckDB replace is first-match by default, Spark's is
    global)."""
    c = rf"regexp_replace(coalesce({expr}, ''), '[\x00-\x1f\x7f]', ' ', 'g')"
    c = rf"regexp_replace({c}, '(https?://|www\.)[^\s]+', '<url>', 'g')"
    c = rf"regexp_replace({c}, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '<email>', 'g')"
    if mask_digits:
        c = rf"regexp_replace({c}, '[0-9]+', '<num>', 'g')"
    return rf"trim(regexp_replace(lower({c}), '\s+', ' ', 'g'))"


_JACCARD_CTES_TPL = """
        w AS (
          SELECT doc_id, w FROM {src},
                 UNNEST(list_distinct(string_split(text, ' '))) AS t(w)
          WHERE length(w) > 0
        ),
        sizes AS (SELECT doc_id, count(*) AS nw FROM w GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ninter
          FROM w a JOIN w b ON a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        jpairs AS (
          SELECT doc_a, doc_b,
                 round(ninter * 1.0 / (sa.nw + sb.nw - ninter), 6) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE ninter * 1.0 / (sa.nw + sb.nw - ninter) >= 0.8
        )
"""


def _w():
    return Window.partitionBy("user_id").orderBy("tsec", "event_id")


def _wcum():
    return _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
_R6 = lambda c, n: F.round(c, 6).alias(n)  # noqa: E731


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the default parallelism when its scan has
    fewer splits: a single-file fixture would otherwise run a per-row
    map side (tokenize, explode, minhash, digest) on one task. A source
    with enough splits is returned as-is — no exchange added."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df if df.rdd.getNumPartitions() >= n else df.repartition(n)


# ---------------------------------------------------------------------------
# queries — events stream (operator inventory SURVEY.md §2)
# ---------------------------------------------------------------------------


def q_gate_counts(spark, sf_dir):
    """P4 min-group-size gate + A1 group size."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _R6(F.sum("value"), "sum_value"))
        .filter(F.col("n_events") >= 20)
    )


def q_first_k(spark, sf_dir):
    """P5 first-K per group (first 20 events per user)."""
    e = _events(spark, sf_dir).withColumn("rn", F.row_number().over(_w()))
    return (
        e.filter(F.col("rn") <= 20)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _R6(F.sum("value"), "sum_value_20"),
            _R6(F.max("tsec"), "last_tsec_20"),
        )
    )


def q_flow_pairs(spark, sf_dir):
    """W10 padded ordered collect: first-20 (value, tsec, dir) triples
    per user, zero-padded to 20 rows (reference
    ``dl_experiments.py:460-481`` tensor build), exploded back to
    scalar rows so the driver gate can hash them. collect_list is
    bounded by the first-K slice — never a whole-group array."""
    k = 20
    e = _events(spark, sf_dir).withColumn("rn", F.row_number().over(_w())).filter(
        F.col("rn") <= k
    )
    triple = F.struct(
        F.col("rn").alias("o"),
        F.array(
            F.round(F.col("value"), 6),
            F.round(F.col("tsec"), 6),
            F.col("dir").cast("double"),
        ).alias("v"),
    )
    conv = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list(triple)).alias("_rows"),
        F.count(F.lit(1)).alias("n_flow"),
    )
    zeros = F.array_repeat(F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0)), k)
    padded = F.slice(F.concat(F.transform("_rows", lambda r: r["v"]), zeros), 1, k)
    return conv.select(
        "user_id", "n_flow", F.posexplode(padded).alias("p", "v")
    ).select(
        "user_id",
        (F.col("p") + 1).alias("pos"),
        F.col("v")[0].alias("f_value"),
        F.col("v")[1].alias("f_tsec"),
        F.col("v")[2].alias("f_dir"),
        "n_flow",
    )


def q_flow_pairs_arrays(spark, sf_dir):
    """W10 at the ARRAY level: same padded first-20 (value, tsec, dir)
    tensor as ``flow_pairs``, but serialized as one canonical string per
    user — each triple's components ×1e6 as integers, ','-joined, rows
    ';'-joined — so the gate hashes the tensor LAYOUT (row order,
    padding, column order) itself, not exploded scalars. Integers render
    identically in both engines, dodging float-formatting drift."""
    k = 20
    e = _events(spark, sf_dir).withColumn("rn", F.row_number().over(_w())).filter(
        F.col("rn") <= k
    )
    triple = F.struct(
        F.col("rn").alias("o"),
        F.array(
            F.round(F.col("value"), 6),
            F.round(F.col("tsec"), 6),
            F.col("dir").cast("double"),
        ).alias("v"),
    )
    conv = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list(triple)).alias("_rows"),
        F.count(F.lit(1)).alias("n_flow"),
    )
    zeros = F.array_repeat(F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0)), k)
    padded = F.slice(F.concat(F.transform("_rows", lambda r: r["v"]), zeros), 1, k)
    tensor = F.concat_ws(
        ";",
        F.transform(
            padded,
            lambda r: F.concat_ws(
                ",", F.transform(r, lambda x: F.round(x * 1e6).cast("long").cast("string"))
            ),
        ),
    )
    return conv.select("user_id", "n_flow", tensor.alias("flow_tensor"))


def q_interarrival(spark, sf_dir):
    """A6 inter-arrival stats over the first 20 turns, per direction.

    Single scan, single shuffle: both delta flavors are window columns
    over the same first-20 slice (the per-dir window's clustering on
    (user_id, dir) is satisfied by the user_id exchange — sort only),
    and one groupBy computes all ten aggregates. Membership matches the
    old per_dir ⋈ total inner join: users with ≥1 same-direction delta.
    """
    e = _events(spark, sf_dir).withColumn("rn", F.row_number().over(_w())).filter("rn <= 20")
    wd = Window.partitionBy("user_id", "dir").orderBy("tsec", "event_id")
    wt = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    d = e.withColumn("delta_dir", F.col("tsec") - F.lag("tsec").over(wd)).withColumn(
        "delta_tot", F.col("tsec") - F.lag("tsec").over(wt)
    )
    return (
        d.groupBy("user_id")
        .agg(
            _R6(F.max(F.when(F.col("dir") == 1, F.col("delta_dir"))), "max_out"),
            _R6(F.avg(F.when(F.col("dir") == 1, F.col("delta_dir"))), "avg_out"),
            _R6(F.stddev_pop(F.when(F.col("dir") == 1, F.col("delta_dir"))), "std_out"),
            _R6(F.max(F.when(F.col("dir") == -1, F.col("delta_dir"))), "max_in"),
            _R6(F.avg(F.when(F.col("dir") == -1, F.col("delta_dir"))), "avg_in"),
            _R6(F.stddev_pop(F.when(F.col("dir") == -1, F.col("delta_dir"))), "std_in"),
            _R6(F.max("delta_tot"), "max_total"),
            _R6(F.avg("delta_tot"), "avg_total"),
            _R6(F.stddev_pop("delta_tot"), "std_total"),
            _R6(F.expr("percentile(delta_tot, 0.75)"), "p75_total"),
            F.count("delta_dir").alias("_nd"),
        )
        .filter(F.col("_nd") > 0)
        .drop("_nd")
    )


def q_directional_counts(spark, sf_dir):
    """A8/A14 directional counts + percentages."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("dir") == -1, 1).otherwise(0)).alias("n_in"),
            F.sum(F.when(F.col("dir") == 1, 1).otherwise(0)).alias("n_out"),
            F.count(F.lit(1)).alias("n_total"),
            _R6(F.avg(F.when(F.col("dir") == -1, 1.0).otherwise(0.0)), "perc_in"),
            _R6(F.avg(F.when(F.col("dir") == 1, 1.0).otherwise(0.0)), "perc_out"),
        )
    )


def q_first_last_30(spark, sf_dir):
    """A9 first/last-30 directional counts."""
    e = _events(spark, sf_dir).withColumn("rn", F.row_number().over(_w()))
    wdesc = Window.partitionBy("user_id").orderBy(F.desc("tsec"), F.desc("event_id"))
    e = e.withColumn("rd", F.row_number().over(wdesc))
    return e.groupBy("user_id").agg(
        F.sum(F.when((F.col("rn") <= 30) & (F.col("dir") == -1), 1).otherwise(0)).alias("f30_in"),
        F.sum(F.when((F.col("rn") <= 30) & (F.col("dir") == 1), 1).otherwise(0)).alias("f30_out"),
        F.sum(F.when((F.col("rd") <= 30) & (F.col("dir") == -1), 1).otherwise(0)).alias("l30_in"),
        F.sum(F.when((F.col("rd") <= 30) & (F.col("dir") == 1), 1).otherwise(0)).alias("l30_out"),
    )


def q_chunk_concentration(spark, sf_dir):
    """A10 burst/chunk concentration of outgoing turns per chunk of 20."""
    e = _events(spark, sf_dir).withColumn("rn", F.row_number().over(_w()))
    e = e.withColumn("chunk", F.floor((F.col("rn") - 1) / 20))
    per_chunk = e.groupBy("user_id", "chunk").agg(
        F.sum(F.when(F.col("dir") == 1, 1).otherwise(0)).alias("c")
    )
    return per_chunk.groupBy("user_id").agg(
        _R6(F.stddev_pop("c"), "std_conc"),
        _R6(F.avg("c"), "avg_conc"),
        _R6(F.expr("percentile(c, 0.5)"), "med_conc"),
        F.min("c").alias("min_conc"),
        F.max("c").alias("max_conc"),
    )


def q_rate_series(spark, sf_dir):
    """A11 per-hour rate series stats (dense over observed buckets)."""
    e = _events(spark, sf_dir).withColumn("hb", F.floor(F.col("tsec") / 3600).cast("long"))
    per_h = e.groupBy("user_id", "hb").agg(F.count(F.lit(1)).alias("c"))
    return per_h.groupBy("user_id").agg(
        _R6(F.avg("c"), "avg_per_hour"),
        _R6(F.stddev_pop("c"), "std_per_hour"),
        _R6(F.expr("percentile(c, 0.5)"), "med_per_hour"),
        F.min("c").alias("min_per_hour"),
        F.max("c").alias("max_per_hour"),
        F.count(F.lit(1)).alias("n_buckets"),
    )


def q_prefix_cumsum(spark, sf_dir):
    """W3 prefix cumulative sum (row-level, point-in-time safe)."""
    e = _events(spark, sf_dir)
    return e.select(
        "user_id", "event_id", _R6(F.sum("value").over(_wcum()), "cum_value")
    )


def q_lag_lead(spark, sf_dir):
    """W4 lag delta + W6-style lead (lead = explicitly leaky column)."""
    e = _events(spark, sf_dir)
    return e.select(
        "user_id",
        "event_id",
        _R6(F.col("tsec") - F.lag("tsec", 1).over(_w()), "delta_prev"),
        F.lead("event_type", 1).over(_w()).alias("lead_type"),
    )


def q_backfill(spark, sf_dir):
    """Backfill: carry the last signup value forward per user."""
    e = _events(spark, sf_dir).withColumn(
        "sv", F.when(F.col("event_type") == "signup", F.col("value"))
    )
    return e.select(
        "user_id",
        "event_id",
        _R6(F.last("sv", ignorenulls=True).over(_wcum()), "last_signup_value"),
    )


def q_sessionize(spark, sf_dir):
    """W8 gap-based sessionize (>1h) + per-session aggregates."""
    e = _events(spark, sf_dir)
    gap = F.col("tsec") - F.lag("tsec", 1).over(_w())
    e = e.withColumn(
        "session_id", F.sum(F.when(gap > 3600.0, 1).otherwise(0)).over(_wcum())
    )
    return e.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n"),
        _R6(F.min("tsec"), "start_tsec"),
        _R6(F.max("tsec"), "end_tsec"),
        _R6(F.sum("value"), "sum_value"),
    )


def q_tumbling_global(spark, sf_dir):
    """A4 global tumbling 1h window aggregate."""
    e = _events(spark, sf_dir).withColumn("hb", F.floor(F.col("tsec") / 3600).cast("long"))
    return e.groupBy("hb").agg(
        F.count(F.lit(1)).alias("n"), _R6(F.sum("value"), "sum_value")
    )


def q_tumbling_keyed(spark, sf_dir):
    """A3 keyed tumbling window aggregate."""
    e = _events(spark, sf_dir).withColumn("hb", F.floor(F.col("tsec") / 3600).cast("long"))
    return e.groupBy("user_id", "hb").agg(
        F.count(F.lit(1)).alias("n"), _R6(F.sum("value"), "sum_value")
    )


def q_asof_join(spark, sf_dir):
    """J5 backward as-of: each purchase ← latest signup of same user."""
    from proxyfeatureextraction_spark.operators.asof import asof_join

    e = _events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "tsec"
    )
    signups = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("tsec").alias("ts_r"), F.col("value").alias("signup_value")
    )
    out = asof_join(
        purchases,
        signups.withColumnRenamed("ts_r", "tsec"),
        ts_col="tsec",
        by=["user_id"],
        value_cols=["signup_value"],
    )
    return out.select(
        "user_id", "event_id", _R6(F.col("signup_value_asof"), "signup_value_asof")
    )


def q_interval_join(spark, sf_dir):
    """J4 interval/range join: events inside each user's first-24h span."""
    from proxyfeatureextraction_spark.operators.asof import interval_join

    e = _events(spark, sf_dir)
    spans = e.groupBy("user_id").agg(F.min("tsec").alias("lo")).withColumn(
        "hi", F.col("lo") + F.lit(86400.0)
    )
    pts = e.select(F.col("tsec").alias("pt"), F.col("value").alias("pv"))
    joined = interval_join(
        spans, pts, point_ts="pt", span_start="lo", span_end="hi",
        bucket_seconds=86400.0,
    )
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_in_span"), _R6(F.sum("pv"), "sum_in_span")
    )


def q_semi_anti(spark, sf_dir):
    """J3 semi/anti join: per-user event counts, keeping only users with
    ≥1 purchase and no 'error' events (semi + anti)."""
    e = _events(spark, sf_dir)
    buyers = e.filter("event_type = 'purchase' AND value > 300").select("user_id").distinct()
    erroring = e.filter("event_type = 'error' AND value > 330").select("user_id").distinct()
    base = e.join(buyers, "user_id", "left_semi").join(erroring, "user_id", "left_anti")
    return base.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))


def q_outer_align_zproduct(spark, sf_dir):
    """J2+A5: full-outer align hourly click vs error series, zero-fill,
    z-score product, global stats (the corr-feature shape)."""
    e = _events(spark, sf_dir).withColumn("hb", F.floor(F.col("tsec") / 3600).cast("long"))
    clicks = e.filter("event_type = 'click'").groupBy("hb").agg(F.sum("value").alias("a"))
    errors = e.filter("event_type = 'error'").groupBy("hb").agg(F.sum("value").alias("b"))
    m = (
        clicks.join(errors, "hb", "full_outer")
        .withColumn("a", F.coalesce("a", F.lit(0.0)))
        .withColumn("b", F.coalesce("b", F.lit(0.0)))
    )
    w = Window.partitionBy()
    za = (F.col("a") - F.avg("a").over(w)) / (F.stddev_pop("a").over(w) + F.lit(1e-9))
    zb = (F.col("b") - F.avg("b").over(w)) / (F.stddev_pop("b").over(w) + F.lit(1e-9))
    z = m.select((za * zb).alias("z"))
    return z.agg(
        F.count("z").alias("corr_count"),
        _R6(F.sum("z"), "corr_sum"),
        _R6(F.avg("z"), "corr_mean"),
        _R6(F.expr("percentile(z, 0.5)"), "corr_median"),
        _R6(F.min("z"), "corr_minimum"),
        _R6(F.max("z"), "corr_maximum"),
        _R6(F.var_pop("z"), "corr_variance"),
        _R6(F.stddev_pop("z"), "corr_std_dev"),
    )


def q_rtt_pattern(spark, sf_dir):
    """W6/A21 direction-reversal triplet scan → RTT ratio per user."""
    e = _events(spark, sf_dir)
    d = (
        e.withColumn("d1", F.lead("dir", 1).over(_w()))
        .withColumn("d2", F.lead("dir", 2).over(_w()))
        .withColumn("t1", F.lead("tsec", 1).over(_w()))
        .withColumn("t2", F.lead("tsec", 2).over(_w()))
        .filter((F.col("d1") == -F.col("dir")) & (F.col("d2") == -F.col("dir")))
        .withColumn("k", F.row_number().over(_w()))
    )
    agg = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("ntrip"),
        F.max(F.when(F.col("k") == 1, F.col("t1") - F.col("tsec"))).alias("d1v"),
        F.max(F.when(F.col("k") == 2, F.col("t2") - F.col("tsec"))).alias("d2v"),
    )
    return (
        agg.filter((F.col("ntrip") >= 2) & (F.col("d2v") != 0))
        .select("user_id", _R6(F.col("d1v") / F.col("d2v"), "rtt_ratio"))
    )


def q_rolling_window(spark, sf_dir):
    """Rolling aggregate: mean value over the 5 preceding + current rows."""
    e = _events(spark, sf_dir)
    wroll = _w().rowsBetween(-5, 0)
    return e.select(
        "user_id", "event_id", _R6(F.avg("value").over(wroll), "roll_avg_6")
    )


def q_topk_per_group(spark, sf_dir):
    """Top-3 events by value per user (sorts/limits §2.6)."""
    e = _events(spark, sf_dir)
    wtop = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        e.withColumn("rk", F.row_number().over(wtop))
        .filter("rk <= 3")
        .select("user_id", "event_id", _R6(F.col("value"), "value"), "rk")
    )


def q_group_span(spark, sf_dir):
    """A2 per-group min/max/duration."""
    e = _events(spark, sf_dir)
    return e.groupBy("user_id").agg(
        _R6(F.min("tsec"), "first_tsec"),
        _R6(F.max("tsec"), "last_tsec"),
        _R6(F.max("tsec") - F.min("tsec"), "duration"),
        F.count(F.lit(1)).alias("n"),
    )


def q_distinct_users(spark, sf_dir):
    """A20 distinct keys per event type."""
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


def q_union_sources(spark, sf_dir):
    """§2.7 UNION ALL of two filtered scans + S3 source-discriminator."""
    e = _events(spark, sf_dir)
    a = e.filter("event_type = 'click'").select("user_id", "event_id").withColumn(
        "src", F.lit("clicks")
    )
    b = e.filter("value > 300").select("user_id", "event_id").withColumn(
        "src", F.lit("big")
    )
    return a.unionByName(b).groupBy("src").agg(F.count(F.lit(1)).alias("n"))




# ---------------------------------------------------------------------------
# queries — relational core (TPC-H-style) over lineitem/orders/customer
# ---------------------------------------------------------------------------


def q_tpch_q1(spark, sf_dir):
    """Classic scan→filter→groupBy agg (pushdown + partial aggregation)."""
    li = _table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _R6(F.sum("l_quantity"), "sum_qty"),
        _R6(F.sum("l_extendedprice"), "sum_base_price"),
        _R6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), "sum_disc_price"),
        _R6(F.avg("l_quantity"), "avg_qty"),
        _R6(F.avg("l_extendedprice"), "avg_price"),
        _R6(F.avg("l_discount"), "avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


def q_tpch_q3(spark, sf_dir):
    """Classic 3-way join + selective filters + top-k (Q3 shape):
    segment-filtered customers ⋈ orders ⋈ lineitem, revenue per order,
    deterministic top-10 (rounded revenue desc, orderkey asc)."""
    c = _table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = _table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_R6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), "revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q6(spark, sf_dir):
    """Pure pushdown aggregate (Q6 shape): one scan, three range
    predicates, one global sum — the filter-pushdown probe."""
    li = _table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1996-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(_R6(F.sum(F.col("l_extendedprice") * F.col("l_discount")), "revenue"))


def q_join_revenue(spark, sf_dir):
    """J1/J6 multi-table equi-join chain with broadcastable dims:
    revenue per nation (lineitem ⋈ orders ⋈ customer ⋈ nation)."""
    li = _table(spark, sf_dir, "lineitem")
    o = _table(spark, sf_dir, "orders")
    c = _table(spark, sf_dir, "customer")
    n = _table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    return rev.groupBy("n_name").agg(
        _R6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# queries — training-data pipeline ops (documents / embeddings)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content-digest groupBy (xxhash64 + sha2-256 keys —
    the exchange never carries document text): survivors = min doc_id
    per text; reports corpus-level dedup stats."""
    from proxyfeatureextraction_spark.operators.dedup import exact_dedup

    d = _table(spark, sf_dir, "documents")
    groups = exact_dedup(d, with_text=False)
    return groups.agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("copies").alias("n_docs"),
        F.sum(F.when(F.col("copies") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.sum(F.col("copies") - 1).alias("n_removed"),
    )


def _doc_words(spark, sf_dir):
    d = _table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    ).filter(F.length("w") > 0)
    return w


def q_dedup_jaccard(spark, sf_dir):
    """N-gram (word-set) Jaccard near-dup pairs >= 0.8 via broadcast
    incidence matmul (exact; oracle-checkable). minhash-LSH below is
    the unbounded-scale path."""
    from proxyfeatureextraction_spark.operators.dedup import jaccard_pairs

    d = _spread(_table(spark, sf_dir, "documents"))
    return jaccard_pairs(d, threshold=0.8)


def q_dedup_jaccard_scalable(spark, sf_dir):
    """Unbounded-corpus near-dup pairs: minhash-LSH candidates + EXACT
    JVM verify (array_intersect / array_union) — the auto-route past
    the exact baseline's driver bound. No driver collect at any corpus
    size; precision exact, recall = LSH recall (bands=8 here)."""
    from proxyfeatureextraction_spark.operators.dedup import jaccard_pairs_scalable

    d = _spread(_table(spark, sf_dir, "documents"))
    return jaccard_pairs_scalable(d, threshold=0.8, n_perm=16, bands=8)


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Order-sensitive n-gram Jaccard near-dup pairs: word 3-gram
    shingles → minhash → band bucket-join candidates → EXACT shingle-set
    Jaccard verify, fully distributed. Complements the word-SET routes:
    permuted texts (identical word sets) do NOT pair here."""
    from proxyfeatureextraction_spark.operators.dedup import jaccard_pairs_scalable

    d = _spread(_table(spark, sf_dir, "documents"))
    return jaccard_pairs_scalable(d, threshold=0.8, n_perm=16, bands=8, shingle=3)


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates (word→minhash→band→bucket join),
    exact-dup pre-collapse + hot-bucket cap. Oracle-checkable: the
    portable polynomial hash family has a bit-identical DuckDB twin
    (built by _minhash_oracle())."""
    from proxyfeatureextraction_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_table(spark, sf_dir, "documents"))


def q_dedup_simhash(spark, sf_dir):
    """SimHash buckets: 16-bit simhash over portable word hashes; docs
    sharing a bucket are near-dup candidates. Oracle-checkable
    (_simhash_oracle())."""
    from proxyfeatureextraction_spark.operators.dedup import simhash_buckets

    return simhash_buckets(_table(spark, sf_dir, "documents"))


def q_dedup_simhash_hamming(spark, sf_dir):
    """Hamming-tolerant simhash pairs (block-permutation candidates →
    exact bit_count verify): full bit-level recall within hamming ≤ 2,
    fully distributed. Oracle: _simhash_candidates_oracle()."""
    from proxyfeatureextraction_spark.operators.dedup import simhash_candidates

    return simhash_candidates(_table(spark, sf_dir, "documents"), max_hamming=2)


def _word_hash_sql(word_expr: str) -> str:
    """DuckDB twin of operators.dedup.portable_word_hash (char fold)."""
    from proxyfeatureextraction_spark.operators.dedup import HASH_BASE, HASH_MOD

    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({word_expr}, ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), "
        f"(h, x) -> (h * {HASH_BASE} + x) % {HASH_MOD})"
    )


def _bloom_decon_oracle(n: int = 8, m_bits: int = 1 << 18, k: int = 3) -> str:
    """DuckDB twin of functions/bloom.py:bloom_decontaminate — replays
    the polynomial gram hash, the affine position family (domain offset
    4096), the 32-bit packed ``bit_or`` build, and the all-bits-set
    probe, bit-for-bit."""
    from proxyfeatureextraction_spark.functions.bloom import _BLOOM_OP
    from proxyfeatureextraction_spark.operators.dedup import HASH_MOD, perm_params

    toks = (
        "list_filter(string_split(coalesce(text, ''), ' '), "
        "x -> length(x) > 0)"
    )
    pos_arms = " UNION ALL ".join(
        f"SELECT g, (h * {a} + {b}) % {HASH_MOD} % {m_bits} AS pos FROM {{src}}"
        for a, b in (perm_params(_BLOOM_OP + i) for i in range(k))
    )
    mask = "(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))"
    return f"""
        WITH tr AS (SELECT doc_id, {toks} AS toks
                    FROM documents WHERE doc_id % 20 <> 0),
        ev AS (SELECT {toks} AS toks
               FROM documents WHERE doc_id % 20 = 0),
        evh AS (SELECT DISTINCT w AS g, {_word_hash_sql('w')} AS h
                FROM ev, UNNEST(list_distinct({_shingle_list_sql('toks', n)})) AS t(w)),
        evpos AS ({pos_arms.format(src='evh')}),
        bloom AS (SELECT pos // 32 AS word, bit_or({mask}) AS bits
                  FROM evpos GROUP BY 1),
        trg AS (SELECT doc_id, w AS g FROM tr,
                UNNEST(list_distinct({_shingle_list_sql('toks', n)})) AS t(w)),
        trh AS (SELECT DISTINCT g, {_word_hash_sql('g')} AS h FROM trg),
        trpos AS ({pos_arms.format(src='trh')}),
        hit AS (SELECT g,
                       bool_and(b.bits IS NOT NULL
                                AND (b.bits & {mask}) = {mask}) AS maybe
                FROM trpos LEFT JOIN bloom b ON b.word = pos // 32
                GROUP BY g),
        per AS (SELECT doc_id, count(*) AS n_grams,
                       sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS n_maybe
                FROM trg JOIN hit USING (g) GROUP BY doc_id)
        SELECT t.doc_id,
               CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(per.n_maybe, 0) AS BIGINT) AS n_maybe,
               coalesce(per.n_maybe, 0) > 0 AS contaminated
        FROM tr t LEFT JOIN per USING (doc_id)
        """


def _shingle_list_sql(toks_expr: str, n: int) -> str:
    """DuckDB twin of operators.dedup._shingle_col over a token list."""
    return f"""CASE WHEN len({toks_expr}) >= {n}
                    THEN list_transform(range(1, len({toks_expr}) - {n} + 2),
                                        i -> array_to_string(({toks_expr})[i:i+{n - 1}], ' '))
                    WHEN len({toks_expr}) > 0 THEN [array_to_string({toks_expr}, ' ')]
                    ELSE [] END"""


def _strict_gram_sql(toks_expr: str, n: int) -> str:
    """DuckDB twin of dsir_weights' STRICT n-grams: docs shorter than
    ``n`` words contribute no n-grams of that size (no whole-text
    fallback, unlike the dedup shingles)."""
    return (
        f"CASE WHEN len({toks_expr}) >= {n} "
        f"THEN list_transform(range(1, len({toks_expr}) - {n} + 2), "
        f"i -> array_to_string(({toks_expr})[i:i+{n - 1}], ' ')) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def _id_hash_sql(expr: str, seed: int = 0, op: int = 0) -> str:
    """DuckDB twin of operators.curation._id_hash (seed-keyed affine
    map from perm_params; id reduced mod M before the multiply —
    ANSI overflow-safe on both engines). ``op`` is the operator's
    hash-domain tag (curation.OP_SPLIT/OP_SAMPLE/…), folded into the
    effective seed via the SAME curation.op_seed helper the Spark side
    uses."""
    from proxyfeatureextraction_spark.operators.curation import op_seed
    from proxyfeatureextraction_spark.operators.dedup import HASH_MOD, perm_params

    a, b = perm_params(op_seed(seed, op))
    return f"((({expr}) % {HASH_MOD}) * {a} + {b}) % {HASH_MOD}"


def _band_cte_sql(src: str, p: str, n_perm: int, bands: int) -> str:
    """CTE chain ``{p}w → {p}wh → {p}mh → {p}bands`` computing minhash
    LSH band signatures over the (doc_id, text) CTE ``src`` — the
    DuckDB twin of operators.dedup.band_signatures, parameterized by
    source so asymmetric (train×eval) joins can build both sides."""
    from proxyfeatureextraction_spark.operators.dedup import (
        HASH_BASE,
        HASH_MOD,
        perm_params,
    )

    mins = ",\n               ".join(
        f"min((h * {a} + {b}) % {HASH_MOD}) AS h{i}"
        for i, (a, b) in ((j, perm_params(j)) for j in range(n_perm))
    )
    rpb = n_perm // bands
    band_selects = []
    for bi in range(bands):
        sig = "CAST(0 AS BIGINT)"
        for r in range(rpb):
            sig = f"(({sig}) * {HASH_BASE} + h{bi * rpb + r}) % {HASH_MOD}"
        band_selects.append(f"SELECT doc_id, {bi} AS band, {sig} AS sig FROM {p}mh")
    bands_sql = "\n        UNION ALL ".join(band_selects)
    return f"""{p}w AS (SELECT doc_id, w FROM {src},
                     UNNEST(list_distinct(string_split(text, ' '))) AS t(w)
              WHERE length(w) > 0),
        {p}wh AS (SELECT doc_id, {_word_hash_sql('w')} AS h FROM {p}w),
        {p}mh AS (SELECT doc_id, {mins} FROM {p}wh GROUP BY doc_id),
        {p}bands AS ({bands_sql})"""


def _winnow_cte(k: int = 4, window: int = 4) -> str:
    """CTE chain ending in ``wn (doc_id, fps)`` — DuckDB twin of
    operators.dedup.winnow_fingerprints (word k-gram hashes, window
    minima, dedup; < window grams → full distinct hash set)."""
    return f"""
        WITH tk AS (
          SELECT doc_id,
                 list_filter(string_split(coalesce(text, ''), ' '),
                             x -> length(x) > 0) AS toks
          FROM documents
        ),
        gr AS (SELECT doc_id, {_shingle_list_sql('toks', k)} AS grams FROM tk),
        hsq AS (SELECT doc_id,
                       list_transform(grams, g -> {_word_hash_sql('g')}) AS hs
                FROM gr),
        wn AS (SELECT doc_id,
                      CASE WHEN len(hs) >= {window}
                           THEN list_distinct(list_transform(
                                  range(1, len(hs) - {window} + 2),
                                  i -> list_min(hs[i:i+{window - 1}])))
                           ELSE list_distinct(hs) END AS fps
               FROM hsq)
        """


def _split_case_sql(hh_expr: str, weights: dict[str, float]) -> str:
    """CASE expression mapping an already-computed id-hash SQL
    expression to split labels via the SAME split_bounds() float→int
    threshold arithmetic the Spark side uses."""
    from proxyfeatureextraction_spark.operators.curation import split_bounds

    bounds = split_bounds(weights)
    labels = list(weights)
    whens = " ".join(f"WHEN ({hh_expr}) < {b} THEN '{name}'" for name, b in bounds)
    return f"CASE {whens} ELSE '{labels[-1]}' END"


def _epoch_schedule_oracle() -> str:
    """DuckDB twin of curation.epoch_schedule(en×2.5, zh×0.25, de×3,
    default ×1, seed=2): per-source (base, threshold) from the SAME
    epoch_bounds() float→int arithmetic, repeats emitted via
    unnest(generate_series)."""
    from proxyfeatureextraction_spark.operators.curation import (
        OP_EPOCH,
        epoch_bounds,
    )

    pairs = {g: epoch_bounds(e) for g, e in
             {"en": 2.5, "zh": 0.25, "de": 3.0}.items()}
    db, dt = epoch_bounds(1.0)
    base = " ".join(f"WHEN '{g}' THEN {b}" for g, (b, _) in pairs.items())
    thr = " ".join(f"WHEN '{g}' THEN {t}" for g, (_, t) in pairs.items())
    hh = _id_hash_sql("doc_id", seed=2, op=OP_EPOCH)
    return f"""
    WITH r AS (
      SELECT lang, doc_id,
             (CASE lang {base} ELSE {db} END)
             + (CASE WHEN ({hh}) < (CASE lang {thr} ELSE {dt} END)
                THEN 1 ELSE 0 END) AS reps
      FROM documents)
    SELECT lang, doc_id,
           CAST(unnest(generate_series(0, reps - 1)) AS BIGINT) AS epoch
    FROM r WHERE reps > 0
    """


def _hash_split_oracle() -> str:
    """DuckDB twin of curation.hash_split({train:.9, val:.05, test:.05},
    seed=7): thresholds come from the SAME split_bounds() float→int
    arithmetic the Spark side uses."""
    from proxyfeatureextraction_spark.operators.curation import split_bounds

    bounds = split_bounds({"train": 0.9, "val": 0.05, "test": 0.05})
    whens = " ".join(f"WHEN hh < {b} THEN '{name}'" for name, b in bounds)
    return f"""
        WITH h AS (SELECT doc_id, {_id_hash_sql('doc_id', seed=7)} AS hh FROM documents)
        SELECT doc_id, CASE {whens} ELSE 'test' END AS split FROM h
        """


def _curate_corpus_oracle() -> str:
    """DuckDB twin of curation.curate_corpus over the %20 eval split:
    quality (text.quality_score mirror, CAST AS DOUBLE so /3.0 uses
    float semantics) → good docs → normalize+jaccard+exact edges →
    recursive closure → survivors → 8-gram decon → labeled output with
    the split_bounds()-derived hash split."""
    from proxyfeatureextraction_spark.operators.curation import split_bounds

    bounds = split_bounds({"train": 0.95, "val": 0.05})
    whens = " ".join(f"WHEN hh < {b} THEN '{name}'" for name, b in bounds)
    return f"""
        WITH RECURSIVE qual AS (
          SELECT doc_id, text,
                 round(CAST((CASE WHEN length(text) >= 50 AND length(text) <= 4000
                                  THEN 1.0 ELSE 0.3 END
                      + CASE WHEN swr > 0.02 AND swr < 0.5 THEN 1.0 ELSE 0.5 END
                      + CASE WHEN ltr < 0.5 THEN 1.0 ELSE 0.4 END) AS DOUBLE) / 3.0,
                       6) AS quality
          FROM (SELECT doc_id, text,
                       len(list_filter(toks, w -> w IN ('the','a','and','of','to','in')))
                         * 1.0 / greatest(len(toks), 1) AS swr,
                       len(list_filter(toks, w -> length(w) >= 8))
                         * 1.0 / greatest(len(toks), 1) AS ltr
                FROM (SELECT doc_id, text,
                             list_filter(string_split(text, ' '),
                                         w -> length(w) > 0) AS toks
                      FROM documents WHERE doc_id % 20 <> 0))
        ),
        good AS (SELECT doc_id, text FROM qual WHERE quality >= 0.8),
        nd AS (SELECT doc_id, {_normalize_sql('text')} AS text FROM good),
        {_jaccard_ctes('nd')},
        ex AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM nd a JOIN nd b ON a.text = b.text AND a.doc_id < b.doc_id
        ),
        alle AS (
          SELECT doc_a, doc_b FROM jpairs
          UNION
          SELECT doc_a, doc_b FROM ex
        ),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM alle
          UNION
          SELECT doc_b, doc_a FROM alle
        ),
        reach(d, r) AS (
          SELECT doc_id, doc_id FROM good
          UNION
          SELECT reach.d, e.v FROM reach JOIN edges e ON reach.r = e.u
        ),
        assign AS (SELECT d AS doc_id, min(r) AS rep FROM reach GROUP BY d),
        strain AS (
          SELECT g.doc_id,
                 list_filter(string_split(coalesce(g.text, ''), ' '),
                             x -> length(x) > 0) AS toks
          FROM good g JOIN assign a ON g.doc_id = a.doc_id AND a.rep = g.doc_id
        ),
        evd AS (SELECT list_filter(string_split(coalesce(text, ''), ' '),
                                   x -> length(x) > 0) AS toks
                FROM documents WHERE doc_id % 20 = 0),
        evs AS (SELECT DISTINCT w FROM evd,
                       UNNEST(list_distinct({_shingle_list_sql('toks', 8)})) AS t(w)),
        trs AS (SELECT doc_id, w FROM strain,
                       UNNEST(list_distinct({_shingle_list_sql('toks', 8)})) AS t(w)),
        hits AS (SELECT doc_id, count(*) AS n_hits
                 FROM trs JOIN evs USING (w) GROUP BY doc_id),
        lab AS (
          SELECT q.doc_id, q.quality,
                 CASE WHEN q.quality < 0.8 THEN 'quality'
                      WHEN a.rep <> q.doc_id THEN 'duplicate'
                      WHEN coalesce(h.n_hits, 0) > 0 THEN 'contaminated'
                      ELSE 'kept' END AS reason
          FROM qual q
          LEFT JOIN assign a ON q.doc_id = a.doc_id
          LEFT JOIN hits h ON q.doc_id = h.doc_id
        )
        SELECT doc_id, quality, reason, reason = 'kept' AS keep,
               CASE {whens} ELSE 'val' END AS split
        FROM (SELECT *, {_id_hash_sql('doc_id', seed=7)} AS hh FROM lab)
        """


def _pii_scrub_oracle() -> str:
    """DuckDB twin of functions.text.scrub_pii over id-injected PII
    (regex subset chosen to behave identically in Java regex and RE2;
    counts on RAW text, masks applied email → ip → phone)."""
    from proxyfeatureextraction_spark.functions.text import EMAIL_RE, IPV4_RE, PHONE_RE

    return f"""
        WITH base AS (
          SELECT doc_id,
                 concat(coalesce(text, ''), ' contact user', CAST(doc_id AS VARCHAR),
                        '@example.com from 10.0.', CAST(doc_id % 256 AS VARCHAR),
                        '.7 call 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'),
                        '-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS t
          FROM documents)
        SELECT doc_id,
               len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(t, '{IPV4_RE}')) AS n_ips,
               len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phones,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '{EMAIL_RE}', '<email>', 'g'),
                   '{IPV4_RE}', '<ip>', 'g'),
                   '{PHONE_RE}', '<phone>', 'g') AS scrubbed
        FROM base
        """


def _minhash_oracle(
    n_perm: int = 16, bands: int = 4, max_bucket: int = 5000, shingle: int | None = None
) -> str:
    """DuckDB twin of operators.dedup.minhash_lsh_candidates (defaults);
    ``shingle=n`` mirrors the word n-gram token unit."""
    from proxyfeatureextraction_spark.operators.dedup import (
        HASH_BASE,
        HASH_MOD,
        perm_params,
    )

    mins = ",\n               ".join(
        f"min((h * {a} + {b}) % {HASH_MOD}) AS h{i}"
        for i, (a, b) in ((j, perm_params(j)) for j in range(n_perm))
    )
    rpb = n_perm // bands
    band_selects = []
    for bi in range(bands):
        sig = "CAST(0 AS BIGINT)"
        for r in range(rpb):
            sig = f"(({sig}) * {HASH_BASE} + h{bi * rpb + r}) % {HASH_MOD}"
        band_selects.append(f"SELECT doc_id, {bi} AS band, {sig} AS sig FROM mh")
    bands_sql = "\n        UNION ALL ".join(band_selects)
    if shingle is None:
        w_cte = """w AS (SELECT doc_id, w FROM reps,
                     UNNEST(list_distinct(string_split(text, ' '))) AS t(w)
              WHERE length(w) > 0)"""
    else:
        w_cte = f"""tk AS (SELECT doc_id,
                     list_filter(string_split(coalesce(text, ''), ' '),
                                 x -> length(x) > 0) AS toks
              FROM reps),
        w AS (SELECT doc_id, w FROM tk,
                     UNNEST(list_distinct({_shingle_list_sql('toks', shingle)})) AS t(w))"""
    return f"""
        WITH reps AS (SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        {w_cte},
        wh AS (SELECT doc_id, {_word_hash_sql('w')} AS h FROM w),
        mh AS (SELECT doc_id, {mins} FROM wh GROUP BY doc_id),
        bands AS ({bands_sql}),
        capped AS (SELECT *, count(*) OVER (PARTITION BY band, sig) AS _bn FROM bands)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        WHERE a._bn <= {max_bucket} AND b._bn <= {max_bucket}
        """


def _simhash_sim_cte(bits: int = 16) -> str:
    """The w/wh/bits/sim CTE chain producing (doc_id, simhash)."""
    from proxyfeatureextraction_spark.operators.dedup import HASH_MOD, perm_params

    a97, b97 = perm_params(97)
    s_cols = ",\n               ".join(
        f"sum(CASE WHEN (g >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    sim_expr = " + ".join(
        f"CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    return f"""w AS (SELECT doc_id, w FROM documents,
                          UNNEST(list_distinct(string_split(text, ' '))) AS t(w)
                   WHERE length(w) > 0),
        wh AS (SELECT doc_id, (({_word_hash_sql('w')}) * {a97} + {b97}) % {HASH_MOD} AS g FROM w),
        bits AS (SELECT doc_id, {s_cols} FROM wh GROUP BY doc_id),
        sim AS (SELECT doc_id, CAST({sim_expr} AS BIGINT) AS simhash FROM bits)"""


def _simhash_oracle(bits: int = 16) -> str:
    """DuckDB twin of operators.dedup.simhash_buckets (defaults)."""
    return f"""
        WITH {_simhash_sim_cte(bits)}
        SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_id
        FROM sim GROUP BY simhash
        """


def _simhash_candidates_oracle(
    bits: int = 16, max_hamming: int = 2, max_bucket: int = 5000
) -> str:
    """DuckDB twin of operators.dedup.simhash_candidates (defaults)."""
    from proxyfeatureextraction_spark.operators.dedup import simhash_block_bounds

    band_rows = "\n          UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS blk, (simhash >> {off}) & {(1 << width) - 1} AS val FROM sim"
        for i, (off, width) in enumerate(simhash_block_bounds(bits, max_hamming))
    )
    return f"""
        WITH {_simhash_sim_cte(bits)},
        bands AS ({band_rows}),
        capped AS (SELECT *, count(*) OVER (PARTITION BY blk, val) AS _bn FROM bands)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM capped a JOIN capped b
          ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
        WHERE a._bn <= {max_bucket} AND b._bn <= {max_bucket}
          AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        """


def _cosine_pairs(spark, sf_dir):
    e = _table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda side: F.sqrt(  # noqa: E731
        F.aggregate(F.col(f"{side}.v"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_id"),
            F.col("b.vec_id").alias("neighbor"),
            (dot / (norm("a") * norm("b"))).alias("cos"),
        )
    )


def q_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors per embedding: broadcast
    candidate matrix + one BLAS matmul per Arrow batch. Ties broken on
    rounded cosine + neighbor id so both engines agree."""
    from proxyfeatureextraction_spark.operators.similarity import cosine_topk_bruteforce

    return cosine_topk_bruteforce(_table(spark, sf_dir, "embeddings"), k=5)


def q_similarity_ann_lsh(spark, sf_dir):
    """Multi-table random-hyperplane LSH ANN (the 100 TB similarity
    path): portable integer-hash planes bucket each vector 8× (8 planes
    → 256 buckets/table), exact cosine re-ranks per bucket, a global
    window merges the best 5 per vector. Fully distributed — no
    broadcast of the corpus. Oracle: DuckDB rebuilds the identical
    planes/buckets with integer arithmetic (cf. operators/similarity.py
    portable_planes)."""
    from proxyfeatureextraction_spark.operators.similarity import cosine_topk_lsh

    return cosine_topk_lsh(
        _table(spark, sf_dir, "embeddings"), k=5, n_planes=8, n_tables=8, seed=42
    )


def q_similarity_ann_ivf(spark, sf_dir):
    """IVF ANN (second scale path, complements LSH): deterministic
    sampled centroids (16 lowest ids), symmetric 2-probe cell
    assignment by rounded cosine, exact re-rank per cell, global top-5
    merge. Only the 16×64 centroid matrix is broadcast."""
    from proxyfeatureextraction_spark.operators.similarity import cosine_topk_ivf

    return cosine_topk_ivf(
        _table(spark, sf_dir, "embeddings"), k=5, n_cells=16, n_probe=2
    )


def _kcenter_oracle(k: int = 8) -> str:
    """DuckDB twin of similarity.kcenter_select: the k greedy rounds
    UNROLLED as a chain of argmax-pick + dmin-update CTEs — k is a gate
    literal, so no recursion is needed (a recursive CTE could not
    aggregate over its own working table anyway). Same 2.0 dmin init
    so round 0 falls out of the same argmax rule."""
    dot = "list_sum(list_transform(list_zip(c.u, p.u), z -> z[1] * z[2]))"
    parts = [
        "e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "en AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e0)",
        "c0 AS (SELECT vec_id, list_transform(v, x -> x / CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END) AS u, CAST(2.0 AS DOUBLE) AS dmin FROM en)",
    ]
    for i in range(k):
        parts.append(
            f"p{i} AS (SELECT vec_id, u, dmin FROM c{i} ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"c{i + 1} AS (SELECT c.vec_id, c.u, least(c.dmin, 1.0 - {dot}) AS dmin"
            f" FROM c{i} c, p{i} p WHERE c.vec_id <> p.vec_id)"
        )
    sel = " UNION ALL ".join(
        f"SELECT {i} AS rk, vec_id, round(dmin, 6) AS dmin FROM p{i}"
        for i in range(k)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel


def _mmr_oracle(k: int = 8, lam: float = 0.7) -> str:
    """DuckDB twin of similarity.mmr_select: the k greedy MMR rounds
    UNROLLED as argmax-pick + smax-update CTE pairs (same pattern as
    ``_kcenter_oracle``); relevance = (vec_id % 97) / 97.0, smax init 0
    so round 0 falls out of the same argmax rule."""
    dot = "list_sum(list_transform(list_zip(c.u, p.u), z -> z[1] * z[2]))"
    obj = f"({lam!r} * rel - {1.0 - lam!r} * smax)"
    parts = [
        "e0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v, (vec_id % 97) / 97.0 AS rel FROM embeddings)",
        "en AS (SELECT vec_id, v, rel, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e0)",
        "c0 AS (SELECT vec_id, list_transform(v, x -> x / CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END) AS u, rel, CAST(0.0 AS DOUBLE) AS smax FROM en)",
    ]
    for i in range(k):
        parts.append(
            f"p{i} AS (SELECT vec_id, u, rel, smax, {obj} AS m FROM c{i}"
            f" ORDER BY m DESC, vec_id LIMIT 1)"
        )
        parts.append(
            f"c{i + 1} AS (SELECT c.vec_id, c.u, c.rel,"
            f" greatest(c.smax, {dot}) AS smax"
            f" FROM c{i} c, p{i} p WHERE c.vec_id <> p.vec_id)"
        )
    sel = " UNION ALL ".join(
        f"SELECT {i} AS rk, vec_id, round(m, 6) AS mmr FROM p{i}"
        for i in range(k)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel


def q_mmr_select(spark, sf_dir):
    """Greedy Maximal Marginal Relevance selection (Carbonell &
    Goldstein 1998), k=8, λ=0.7 over the embeddings table with a
    deterministic relevance score ((vec_id %% 97)/97): selection order
    + the λ·rel − (1−λ)·max-cos-to-selected objective at each pick.
    Oracle: the 8 greedy rounds unrolled as argmax + smax-update CTE
    pairs — same pattern as kcenter_select."""
    from proxyfeatureextraction_spark.operators.similarity import mmr_select

    e = _table(spark, sf_dir, "embeddings").withColumn(
        "rel", (F.col("vec_id") % 97) / F.lit(97.0)
    )
    out = mmr_select(e, k=8, score_col="rel", lam=0.7)
    return out.select(
        F.col("rank").alias("rk"),
        F.col("id").alias("vec_id"),
        _R6(F.col("mmr"), "mmr"),
    )


def q_kcenter_select(spark, sf_dir):
    """Greedy k-center coreset selection (Gonzalez 1985 farthest-point;
    Sener & Savarese 2018 core-set data selection), k=8 over the
    embeddings table: selection order + the max-min cosine distance at
    each pick (rank 0 reports the 2.0 init sentinel). Oracle: the 8
    greedy rounds unrolled as argmax-pick + dmin-update CTE pairs."""
    from proxyfeatureextraction_spark.operators.similarity import kcenter_select

    e = _table(spark, sf_dir, "embeddings")
    out = kcenter_select(e, k=8)
    return out.select(
        F.col("rank").alias("rk"),
        F.col("id").alias("vec_id"),
        _R6(F.col("dmin"), "dmin"),
    )


def q_embedding_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs above threshold."""
    pairs = _cosine_pairs(spark, sf_dir).filter(
        (F.col("vec_id") < F.col("neighbor")) & (F.col("cos") > 0.4)
    )
    return pairs.select(
        F.col("vec_id").alias("vec_a"), F.col("neighbor").alias("vec_b"),
        _R6(F.col("cos"), "cosine"),
    )


def q_embedding_dup_clusters(spark, sf_dir):
    """Embedding near-dup LAST MILE: cosine pairs above threshold →
    connected-components collapse → total (vec_id, cluster_rep)
    assignment (same dedup_clusters machinery as the text routes —
    pair producers compose). Oracle: recursive closure over the same
    pair list."""
    from proxyfeatureextraction_spark.operators.dedup import dedup_clusters

    pairs = _cosine_pairs(spark, sf_dir).filter(
        (F.col("vec_id") < F.col("neighbor")) & (F.col("cos") > 0.4)
    )
    nodes = _table(spark, sf_dir, "embeddings").select("vec_id")
    return dedup_clusters(
        pairs, nodes=nodes, a_col="vec_id", b_col="neighbor", id_col="vec_id",
        # the self-join over unique vec_ids yields each ordered pair once
        # and the single-orientation vec_id < neighbor filter keeps one
        # per undirected pair — unique by construction
        pairs_distinct=True,
    )


_STOPWORDS = ("the", "a", "and", "of", "to", "in")
_STOP_SQL = "('the','a','and','of','to','in')"


def q_text_quality(spark, sf_dir):
    """Text quality scoring: token count, avg token length, stopword
    ratio, uppercase ratio."""
    d = _table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    nt = F.size(toks)
    d = d.select(
        "doc_id",
        nt.alias("n_tokens"),
        _R6(
            F.aggregate(toks, F.lit(0.0), lambda acc, w: acc + F.length(w))
            / F.greatest(nt.cast("double"), F.lit(1.0)),
            "avg_token_len",
        ),
        _R6(
            F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
            / F.greatest(nt.cast("double"), F.lit(1.0)),
            "stopword_ratio",
        ),
        _R6(
            F.size(F.filter(toks, lambda w: F.length(w) >= 8))
            / F.greatest(nt.cast("double"), F.lit(1.0)),
            "long_token_ratio",
        ),
    )
    return d


def q_text_normalize(spark, sf_dir):
    """Canonical pre-dedup text normalization (pure JVM regex pipeline):
    control chars → space, URL/email/digit-run masking, lowercase,
    whitespace collapse. Dedup over the normalized column materially
    improves near-dup recall; raw text stays for training."""
    from proxyfeatureextraction_spark.functions.text import normalize_text

    d = _table(spark, sf_dir, "documents")
    return d.select("doc_id", normalize_text("text", mask_digits=True).alias("norm"))


def q_token_count_regex(spark, sf_dir):
    """BPE-ish regex token counting ([a-z]+ | digits | other symbol)."""
    d = _table(spark, sf_dir, "documents")
    pat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(pat)).alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_q"),
    )


# Fixed byte-level BPE merges table for the token_count_bpe gate — the
# "published merges.txt" role (production loads e.g. the GPT-2 release via
# functions.bpe.load_merges_txt).  Trained ONCE, offline, with
# functions.bpe.train_bpe_merges over the deterministic sf0.001 synth
# corpus (48 merges, tie-broken lexicographically, so the table is
# reproducible); hardcoded so the gate is scale-factor-independent and the
# DuckDB oracle can embed the identical literal.  'Ġ' is byte 0x20 under
# the GPT-2 byte-to-unicode map (functions.bpe.bytes_to_unicode).
_BPE_MERGES = [
    ("Ġ", "s"), ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("Ġ", "a"), ("Ġ", "v"),
    ("a", "s"), ("Ġ", "c"), ("m", "er"), ("a", "t"), ("Ġ", "f"),
    ("Ġ", "t"), ("Ġ", "b"), ("a", "n"), ("c", "an"), ("lu", "m"),
    ("lum", "n"), ("o", "lumn"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("par", "t"), ("u", "p"), ("Ġs", "ort"), ("Ġ", "window"),
    ("Ġ", "order"), ("Ġc", "olumn"), ("Ġs", "can"), ("g", "g"),
    ("a", "lu"), ("alu", "e"), ("Ġ", "part"), ("in", "e"),
    ("l", "ine"), ("e", "y"), ("k", "ey"), ("Ġa", "gg"), ("j", "o"),
    ("jo", "in"), ("g", "e"), ("mer", "ge"),
]

_BPE_MS_LIT = "[" + ", ".join("'%s %s'" % p for p in _BPE_MERGES) + "]"


def q_nb_quality(spark, sf_dir):
    """Model-based quality filter (functions/nbc.py): multinomial
    Naive Bayes trained on reference-vs-rest labels (the deterministic
    doc_id % 10 == 0 slice plays 'reference'), per-doc posterior
    log-odds + keep flag.  Every log argument is an engine-computed
    integer count, so round6 scores hash-match; the keep sign is taken
    on the unrounded value in both engines."""
    from proxyfeatureextraction_spark.functions.nbc import (
        nb_log_odds,
        nb_train,
    )

    d = _table(spark, sf_dir, "documents")
    labeled = d.select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 10 == 0, "pos").otherwise("neg").alias(
            "label"
        ),
    )
    return nb_log_odds(d, nb_train(labeled), "pos", "neg").select(
        "doc_id",
        "n_tok",
        _R6(F.col("log_odds"), "log_odds"),
        "keep",
    )


def q_dedup_substrings(spark, sf_dir):
    """Exact-substring dedup (Lee et al. 2021, operators/dedup.py):
    corpus-wide duplicated >= k-token regions cut out of every doc.
    ``_spread`` fans the single-split fixture out before the
    explode-heavy gram side."""
    from proxyfeatureextraction_spark.operators.dedup import dedup_substrings

    d = _spread(_table(spark, sf_dir, "documents"))
    return dedup_substrings(d, k=8)


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality scoring (functions/lm.py): bigram LM
    trained on the deterministic reference slice doc_id % 10 == 0,
    cross-entropy + perplexity for every document.  ln/exp of
    engine-computed integer-count ratios keeps the scores hash-portable
    at round6."""
    from proxyfeatureextraction_spark.functions.lm import (
        lm_cross_entropy,
        ngram_lm_counts,
    )

    d = _spread(_table(spark, sf_dir, "documents"))
    lm = ngram_lm_counts(d.filter(F.col("doc_id") % 10 == 0))
    return lm_cross_entropy(d, lm).select(
        "doc_id",
        "n_tok",
        _R6(F.col("ce"), "ce"),
        _R6(F.col("ppl"), "ppl"),
    )


def q_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail terciles (functions/lm.py:ppl_buckets):
    per-lang perplexity cutoffs from ONE percentile aggregate broadcast
    back — no global ntile window.  Buckets compare on round6 ppl, and
    DuckDB quantile_cont on DOUBLE uses the same (n-1)·p interpolation
    as Spark's exact percentile (probed: both give 2.6666666666666665
    at p=1/3 on [1,2,4,8,16])."""
    from proxyfeatureextraction_spark.functions.lm import (
        ngram_lm_counts,
        ppl_buckets,
    )

    d = _spread(_table(spark, sf_dir, "documents"))
    lm = ngram_lm_counts(d.filter(F.col("doc_id") % 10 == 0))
    return ppl_buckets(d, lm, group_col="lang")


def q_bm25_search(spark, sf_dir):
    """Okapi BM25 top-25 retrieval (functions/retrieval.py) for the
    query 'dup vector window' ('dup' is the corpus's rare
    discriminative term, df=25 at sf0.01).  The top-25 boundary gap is
    ~1.5e-3 — far above cross-engine libm noise — so membership is
    stable; the driver's compare is order-insensitive past that."""
    from proxyfeatureextraction_spark.functions.retrieval import bm25_search

    d = _table(spark, sf_dir, "documents")
    out = bm25_search(d, "dup vector window", top_k=25)
    return out.select("doc_id", "n_hit", _R6(F.col("score"), "score"))


def q_tfidf_keywords(spark, sf_dir):
    """Top-3 tf-idf keywords per document (functions/retrieval.py).
    Adjacent top-rank score gaps measured ≥ 2.5e-3 on this corpus, so
    the (score desc, term) ranking is cross-engine stable; scores
    emitted at round6."""
    from proxyfeatureextraction_spark.functions.retrieval import (
        tfidf_keywords,
    )

    d = _table(spark, sf_dir, "documents")
    out = tfidf_keywords(d, top_m=3)
    return out.select("doc_id", "rank", "w", "tf", _R6(F.col("score"), "score"))


def q_inverted_index(spark, sf_dir):
    """Inverted index with df cap 390 (functions/retrieval.py): the
    stopword-class terms (df > 390 of 500 docs) are pruned by a count
    aggregate BEFORE postings collect; posting lists serialize as
    comma-joined sorted doc ids (canonical integer string — the
    flow_pairs_arrays trick)."""
    from proxyfeatureextraction_spark.functions.retrieval import (
        inverted_index,
    )

    return inverted_index(_table(spark, sf_dir, "documents"), max_df=390)


def q_domain_temperature(spark, sf_dir):
    """Temperature-scaled domain-sampling weights (XLM-R α-sampling,
    operators/curation.py:domain_temperature) over the source column at
    α=0.3 — one per-group count, everything else on ≤ |sources| rows."""
    from proxyfeatureextraction_spark.operators.curation import (
        domain_temperature,
    )

    return domain_temperature(
        _table(spark, sf_dir, "documents"), alpha=0.3, group_col="source"
    )


def q_tfidf_allpairs(spark, sf_dir):
    """EXACT all-pairs tf-idf cosine join at t=0.8 (Bayardo 2007
    prefix filtering, functions/retrieval.py:tfidf_allpairs) — the
    weighted-cosine complement to the minhash set-similarity gates.
    Prefix filtering is lossless, so the oracle is the brute-force
    term self-join; the nearest pair to the 0.8 boundary sits 2.3e-6
    away (measured) — far above cross-engine float noise.  ``_spread``
    fans the single-split fixture out before the explode-heavy index
    build."""
    from proxyfeatureextraction_spark.functions.retrieval import tfidf_allpairs

    d = _spread(_table(spark, sf_dir, "documents"))
    out = tfidf_allpairs(d, threshold=0.8)
    return out.select("a", "b", _R6(F.col("sim"), "sim"))


def q_corpus_diff(spark, sf_dir):
    """Snapshot diff between two corpus versions
    (operators/curation.py:corpus_diff): old = docs sans doc_id%9==0,
    new = docs sans doc_id%7==0 with doc_id%11==0 texts perturbed —
    exercises all four statuses. The full-outer join exchanges
    (doc_id, sha2-256) digests only, never text."""
    from proxyfeatureextraction_spark.operators.curation import corpus_diff

    d = _table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 9 != 0)
    new = d.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


def q_contamination_report(spark, sf_dir):
    """Per-EVAL-item contamination fractions
    (operators/curation.py:contamination_report): for each eval doc
    (doc_id%20==0), the share of its distinct word 8-grams present
    anywhere in train — the graded eval-side twin of the boolean
    decontaminate gate. Broadcast eval universe; train distinct runs
    over rows pre-filtered to it."""
    from proxyfeatureextraction_spark.operators.curation import (
        contamination_report,
    )

    d = _spread(_table(spark, sf_dir, "documents"))
    return contamination_report(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
        n=8,
    )


def q_token_histogram(spark, sf_dir):
    """Per-source power-of-two token-length histogram
    (operators/curation.py:token_histogram). The bucket is the bit
    length of the token count via length(conv(n,10,2)) — integer-
    exact on both engines, where floor(log2(double)) risks an
    off-by-one at every power-of-two boundary."""
    from proxyfeatureextraction_spark.operators.curation import token_histogram

    return token_histogram(_table(spark, sf_dir, "documents"))


def q_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination (functions/bloom.py): the eval
    split's word 8-grams fold into a 2^18-bit filter (8 KiB of packed
    words — constant size no matter how big the eval side), train docs
    probe it via broadcast join. Flags are a deterministic SUPERSET of
    the exact decontaminate gate (Bloom false positives, never
    negatives); the oracle replays the exact same polynomial-hash bit
    arithmetic in DuckDB. ``_spread`` fans the single-split fixture out
    before the explode-heavy gram-hash map side (measured 10.7 -> 2.2 s
    warm at sf0.1)."""
    from proxyfeatureextraction_spark.functions.bloom import bloom_decontaminate

    d = _spread(_table(spark, sf_dir, "documents"))
    return bloom_decontaminate(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
        n=8,
        m_bits=1 << 18,
        k=3,
    )


def q_token_count_bpe(spark, sf_dir):
    """REAL byte-level BPE token counts (functions/bpe.py) under the fixed
    published-style merges table — the counts ``pack_sequences(tok_col=...)``
    bins against a real tokenizer budget.  The DuckDB twin replays the
    greedy encoder as a recursive CTE merging the leftmost lowest-rank
    pair one step at a time — equivalent to the batch merge because any
    learned pair containing a merged symbol ranks strictly later than the
    merge that created it."""
    from proxyfeatureextraction_spark.functions.bpe import bpe_token_count

    d = _table(spark, sf_dir, "documents")
    return bpe_token_count(d, _BPE_MERGES, out_col="n_bpe").select(
        "doc_id", "n_bpe"
    )


def q_lang_id(spark, sf_dir):
    """Stopword-overlap language-ID heuristic (en vs es marker sets)."""
    d = _table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    en = F.size(F.filter(toks, lambda w: w.isin("the", "and", "of", "a")))
    es = F.size(F.filter(toks, lambda w: w.isin("el", "la", "de", "y")))
    nt = F.greatest(F.size(toks).cast("double"), F.lit(1.0))
    return d.select(
        "doc_id",
        _R6(en / nt, "en_score"),
        _R6(es / nt, "es_score"),
        F.when(en >= es, "en").otherwise("es").alias("lang_guess"),
    )


def q_doc_fingerprint(spark, sf_dir):
    """Deterministic document fingerprint: positional polynomial over
    (token index, token length, first-char code) mod 1e9+7."""
    d = _table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    terms = F.transform(
        toks,
        lambda w, i: ((i + 1) * (F.length(w).cast("long") * 131 + F.ascii(w))) % F.lit(1000000007),
    )
    return d.select(
        "doc_id",
        (F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x) % F.lit(1000000007)).alias(
            "fingerprint"
        ),
    )


def q_multimodal_bytes(spark, sf_dir):
    """Multimodal plumbing: opaque binary payload column + typed
    metadata (decode itself is stubbed — see
    proxyfeatureextraction_spark.functions.multimodal)."""
    d = _table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length(F.encode("text", "utf-8")).alias("payload_bytes"),
        F.length("text").alias("n_chars_q"),
    )




def q_multimodal_resize(spark, sf_dir):
    """Image-resize geometry plumbing over the synthesized media table:
    aspect-preserving fit into 256×256, floor semantics, no upscaling —
    pure JVM column math (the pixel resample is the stubbed codec
    step). See functions/multimodal.py resize_plan."""
    from proxyfeatureextraction_spark.functions.multimodal import (
        media_from_documents,
        resize_plan,
    )

    return resize_plan(media_from_documents(_table(spark, sf_dir, "documents")))


def q_pit_row_features(spark, sf_dir):
    """The north-star per-(entity, ts) point-in-time surface on events:
    backfilled lag, sessionize, prefix/rolling stats — frames ≤ currentRow."""
    e = _events(spark, sf_dir)
    w = _w()
    wcum = _wcum()
    wroll = w.rowsBetween(-9, 0)
    gap = F.col("tsec") - F.lag("tsec", 1).over(w)
    return e.select(
        "user_id",
        "event_id",
        _R6(gap, "delta_prev"),
        F.sum(F.when(gap > 3600.0, 1).otherwise(0)).over(wcum).alias("session_id"),
        _R6(F.sum("value").over(wcum), "cum_value"),
        F.row_number().over(w).alias("turn_rank"),
        _R6(F.avg("value").over(wroll), "roll_avg_10"),
        F.sum(F.when(F.col("dir") == 1, 1).otherwise(0)).over(wcum).alias("cum_out"),
        F.last(F.when(F.col("event_type") == "signup", F.col("tsec")), ignorenulls=True)
        .over(wcum)
        .alias("last_signup_tsec"),
    ).withColumn("last_signup_tsec", _R6(F.col("last_signup_tsec"), "last_signup_tsec"))


def q_pit_blocked(spark, sf_dir):
    """The SKEW-SPLIT (blocked) PIT surface on events — block_rows=64
    forces ~30 block boundaries per user at this scale, so every carry
    (close ts, prefix totals, last-tool, rolling lookback) is exercised
    against a plain-window SQL oracle. Blocked == windowed is also
    pinned bit-equal by tests/test_pit_blocked.py; this gate proves it
    cross-engine."""
    from proxyfeatureextraction_spark.plans.pit import pit_features_blocked

    e = _events(spark, sf_dir)
    w = _w()
    m = e.select(
        F.col("user_id").alias("conv_id"),
        (F.row_number().over(w) - 1).alias("turn_idx"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("tsec").alias("ts_sec"),
        F.when(F.col("dir") == 1, "user").otherwise("assistant").alias("role"),
        F.when(F.col("event_type") == "signup", "signup").alias("tool"),
        F.col("dir"),
        F.floor("value").cast("int").alias("n_chars"),
    )
    p = pit_features_blocked(m, session_gap_s=3600.0, roll_rows=10, block_rows=64)
    return p.select(
        "conv_id",
        "turn_idx",
        _R6(F.col("delta_prev"), "delta_prev"),
        _R6(F.col("delta_prev_same_role"), "delta_prev_same_role"),
        "session_id",
        "cum_n_chars",
        "turn_rank",
        _R6(F.col("roll_avg_chars_10"), "roll_avg_10"),
        "cum_user_turns",
        "last_tool",
        _R6(F.col("last_tool_ts"), "last_tool_ts"),
    )


def q_asof_global(spark, sf_dir):
    """Global-stream backward as-of (un-keyed): each event ← value of
    the latest signup across ALL users (scalable bucketed pattern)."""
    from proxyfeatureextraction_spark.operators.asof import asof_join_global

    e = _events(spark, sf_dir)
    left = e.select("event_id", F.col("tsec").alias("t"))
    right = e.filter("event_type = 'signup'").select(
        F.col("tsec").alias("t"), F.col("value").alias("v")
    )
    out = asof_join_global(left, right, ts_col="t", value_col="v", bucket_seconds=3600.0)
    return out.select("event_id", _R6(F.col("v_asof"), "v_asof"))


def q_salted_stats(spark, sf_dir):
    """Salted two-phase aggregation (skew machinery) — exactness vs a
    plain SQL groupBy is the check."""
    from proxyfeatureextraction_spark.operators.skew import salted_stats

    e = _events(spark, sf_dir)
    out = salted_stats(e, "value", salt=16, key="user_id", salt_col="event_id")
    return out.select(
        "user_id",
        F.col("count").alias("n"),
        _R6(F.col("sum"), "sum_value"),
        _R6(F.col("min"), "min_value"),
        _R6(F.col("max"), "max_value"),
        _R6(F.round(F.col("sum"), 6) / F.col("count"), "avg_value"),
        _R6(F.col("std_pop"), "std_value"),
    )


def q_dedup_survivors(spark, sf_dir):
    """Row-level exact-dedup survivors: keep min doc_id per content."""
    from proxyfeatureextraction_spark.operators.dedup import exact_dedup

    d = _table(spark, sf_dir, "documents")
    return exact_dedup(d).select("keep_id", "copies").withColumnRenamed("keep_id", "doc_id")


def q_dedup_near_survivors(spark, sf_dir):
    """Near-dup last mile: jaccard pairs → connected components
    (alternating large-star/small-star, operators/dedup.dedup_clusters)
    → TOTAL (doc_id, cluster_rep) assignment over the corpus; survivors
    are the cluster_rep == doc_id rows. Oracle: recursive-CTE transitive
    closure over the same pair list, min reachable id per doc."""
    from proxyfeatureextraction_spark.operators.dedup import dedup_clusters, jaccard_pairs

    d = _spread(_table(spark, sf_dir, "documents"))
    # jaccard_pairs emits each undirected pair exactly once
    return dedup_clusters(
        jaccard_pairs(d, threshold=0.8), nodes=d, pairs_distinct=True
    )


def q_dedup_corpus(spark, sf_dir):
    """The one-call dedup pipeline: normalize → exact-dup edges + rep-
    level near-dup pairs (auto-routed) → star-contraction clusters →
    total (doc_id, cluster_rep, is_survivor). Oracle: the same
    normalize SQL feeding the jaccard pair list, same-text edges, and a
    recursive closure."""
    from proxyfeatureextraction_spark.operators.dedup import dedup_corpus

    d = _spread(_table(spark, sf_dir, "documents"))
    return dedup_corpus(d, threshold=0.8)


def q_dedup_incremental(spark, sf_dir):
    """Nightly-ingest dedup: odd-id docs are the NEW batch, even-id docs
    the corpus. New docs die on exact/near matches touching the corpus;
    all-new clusters keep their min id. method='exact' (full pair
    recall) so the DuckDB closure mirrors bit-for-bit."""
    from proxyfeatureextraction_spark.operators.dedup import dedup_incremental

    d = _spread(_table(spark, sf_dir, "documents"))
    return dedup_incremental(
        d.filter(F.col("doc_id") % 2 == 1),
        d.filter(F.col("doc_id") % 2 == 0),
        threshold=0.8,
        method="exact",
    )


def q_doc_winnow(spark, sf_dir):
    """MOSS-style winnowing fingerprints (word 4-grams, window 4):
    (doc_id, fp) postings — partial-copy detection's index side. Pure
    JVM array HOFs over the portable polynomial hash."""
    from proxyfeatureextraction_spark.operators.dedup import winnow_fingerprints

    d = _table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.explode(winnow_fingerprints("text", k=4, window=4)).alias("fp")
    )


def q_winnow_pairs(spark, sf_dir):
    """Partial-copy candidate pairs: docs sharing ≥2 winnowed
    fingerprints, with the shared count — catches a doc quoting one
    paragraph of another even at near-zero whole-doc similarity."""
    from proxyfeatureextraction_spark.operators.dedup import winnow_pairs

    return winnow_pairs(
        _table(spark, sf_dir, "documents"), k=4, window=4, min_shared=2
    )


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split: affine id-hash thresholds —
    no RNG, stable under re-runs/reordering/partition changes (unlike
    randomSplit). Narrow projection; fuses into the scan."""
    from proxyfeatureextraction_spark.operators.curation import hash_split

    d = _table(spark, sf_dir, "documents")
    return hash_split(
        d, {"train": 0.9, "val": 0.05, "test": 0.05}, seed=7
    ).select("doc_id", "split")


def q_split_by_cluster(spark, sf_dir):
    """Leakage-safe cluster-granular split (Lee et al. 2021 §6.2:
    near-dup train/test leakage): dedup_corpus clustering with the
    split hash keyed on cluster_rep, so a near-dup cluster never
    straddles train/eval. Oracle: the dedup_corpus recursive closure
    feeding the same split_bounds threshold CASE on the min-reachable
    id (full value oracle incl. the split label)."""
    from proxyfeatureextraction_spark.operators.curation import split_by_cluster

    d = _spread(_table(spark, sf_dir, "documents"))
    out = split_by_cluster(
        d, {"train": 0.9, "val": 0.05, "test": 0.05}, seed=11, threshold=0.8
    )
    return out.select("doc_id", "cluster_rep", "split")


def q_sample_per_group(spark, sf_dir):
    """Deterministic per-group uniform sample: rank by affine id hash
    within each lang, keep 5 — a seeded shuffle-order without RNG."""
    from proxyfeatureextraction_spark.operators.curation import sample_per_group

    d = _table(spark, sf_dir, "documents")
    return sample_per_group(d, "lang", 5, seed=3).select("lang", "doc_id")


def q_sample_weighted(spark, sf_dir):
    """Deterministic weighted sample (Efraimidis–Spirakis A-ES) with the
    LOG-DOMAIN key ln(u)/w — monotone-equivalent to u^(1/w) but
    cross-engine-stable enough to gate (one libm ln + one IEEE divide;
    float-pow tie order was not portable). Weight = n_chars + 1."""
    from proxyfeatureextraction_spark.operators.curation import (
        weighted_sample_per_group,
    )

    d = _table(spark, sf_dir, "documents")
    wd = d.withColumn("wt", (F.col("n_chars") + 1).cast("double"))
    return weighted_sample_per_group(wd, "lang", 5, "wt", seed=7).select(
        "lang", "doc_id"
    )


def q_mix_corpus(spark, sf_dir):
    """Deterministic domain-mixture resampling: reshape per-lang shares
    to 5:2:1 (en:zh:de; other langs dropped) by hash-threshold
    downsampling — no RNG, largest corpus with proportional shares."""
    from proxyfeatureextraction_spark.operators.curation import mix_corpus

    d = _table(spark, sf_dir, "documents")
    out = mix_corpus(d, {"en": 5.0, "zh": 2.0, "de": 1.0}, group_col="lang", seed=5)
    return out.select("lang", "doc_id")


def q_sample_stratified(spark, sf_dir):
    """Proportional stratified sample, n=77 total across langs:
    largest-remainder (Hamilton) allocation in pure INTEGER arithmetic
    + domain-separated hash order within each stratum — the fixed-budget
    representative draw (eval subsets, labeling batches)."""
    from proxyfeatureextraction_spark.operators.curation import sample_stratified

    d = _table(spark, sf_dir, "documents")
    return sample_stratified(d, "lang", 77, seed=5).select("lang", "doc_id")


def q_epoch_schedule(spark, sf_dir):
    """Per-source epoch repetition schedule (Muennighoff 2023
    data-constrained scaling): en×2.5, zh×0.25, de×3, default ×1 —
    floor(e) repeats per doc plus one more iff the OP_EPOCH hash clears
    the fractional threshold; zero-repeat docs drop out."""
    from proxyfeatureextraction_spark.operators.curation import epoch_schedule

    d = _table(spark, sf_dir, "documents")
    out = epoch_schedule(
        d, {"en": 2.5, "zh": 0.25, "de": 3.0}, default=1.0,
        group_col="lang", seed=2,
    )
    return out.select("lang", "doc_id", F.col("epoch").cast("long").alias("epoch"))


def q_embedding_pca(spark, sf_dir):
    """PCA projection of the embeddings table to 4 components
    (SemDeDup-style preprocessing): partial Gram per Arrow batch →
    driver eigh → JVM HOF projection. No SQL oracle by necessity
    (DuckDB has no eigendecomposition) — value-pinned by the numpy
    replay pytest; rows-only driver check."""
    from proxyfeatureextraction_spark.operators.similarity import embedding_pca

    e = _table(spark, sf_dir, "embeddings")
    out = embedding_pca(e, k=4)
    return out.select(
        "vec_id",
        F.transform("pca", lambda x: F.round(x, 6)).alias("pca"),
    )


def q_ngram_novelty(spark, sf_dir):
    """Per-doc 8-gram novelty fraction (earliest-occurrence share, Lee
    2021 memorization proxy): array_distinct inside the row, two
    map-side-partial aggregates, no gram-keyed join — full value
    oracle on the shared polynomial gram hash. Runs on LINE-INJECTED
    docs so the \\s+ word split is exercised across newline
    boundaries (the oracle regex-splits identically)."""
    from proxyfeatureextraction_spark.operators.curation import ngram_novelty

    d = _spread(_docs_with_lines(spark, sf_dir))
    return ngram_novelty(d, n=8)


def q_curriculum_order(spark, sf_dir):
    """Length-curriculum ordering (Bengio 2009): exact global rank by
    (n_chars, doc_id) WITHOUT a single-partition global window (frozen
    approxQuantile bucket literals + per-bucket offsets), NTILE-4
    phases in closed form, domain-separated within-phase shuffle key."""
    from proxyfeatureextraction_spark.operators.curation import curriculum_order

    d = _table(spark, sf_dir, "documents")
    return curriculum_order(d, "n_chars", 4, seed=3, n_buckets=16)


def q_bpe_train(spark, sf_dir):
    """Corpus-trained BPE merges table (Sennrich 2016): distributed
    pre-token frequency aggregation (Arrow-batched Counter pre-agg →
    one vocabulary-sized groupBy) + the bounded driver merge loop.
    Iterative algorithm — no SQL oracle by documented necessity;
    rows-only driver check, value-pinned by the differential pytest
    (distributed == driver trainer bit-identical) and the Sennrich
    worked example."""
    from proxyfeatureextraction_spark.functions.bpe import bpe_train

    d = _table(spark, sf_dir, "documents")
    return bpe_train(d, 40, min_freq=2)


def q_time_split_purged(spark, sf_dir):
    """Purged walk-forward 3-fold CV with a 2h embargo (Lopez de Prado
    2018 ch.7) over the events stream: per (row, fold) the row is
    test / train / purged by pure range CASE — a 2-value min/max
    collect + an n_folds-row broadcast crossJoin, zero shuffle."""
    from proxyfeatureextraction_spark.operators.curation import time_split_purged

    e = _events(spark, sf_dir)
    return time_split_purged(
        e, "tsec", 3, embargo=7200.0, keep_cols=["event_id"]
    )


def q_psi_drift(spark, sf_dir):
    """Population Stability Index drift report on event values, first
    time-half (reference) vs second (current): equal-width buckets
    over the exact reference min/max, two n_buckets-row count
    exchanges, nothing corpus-sized moves."""
    from proxyfeatureextraction_spark.operators.curation import psi_drift

    e = _events(spark, sf_dir)
    lo, hi = e.select(F.min("tsec"), F.max("tsec")).first()
    mid = (lo + hi) / 2.0
    ref = e.where(F.col("tsec") < mid)
    cur = e.where(F.col("tsec") >= mid)
    return psi_drift(ref, cur, "value", n_buckets=8)


def q_robust_scale(spark, sf_dir):
    """Median/IQR robust scaling of the event value column: one exact-
    percentile aggregation pass collected as literals, then a narrow
    projection — sklearn RobustScaler semantics, oracle-exact via the
    percentile == quantile_cont equivalence."""
    from proxyfeatureextraction_spark.operators.curation import robust_scale

    e = _events(spark, sf_dir).select("event_id", "value")
    return robust_scale(e, ["value"])


def q_rrf_fuse(spark, sf_dir):
    """Reciprocal Rank Fusion (Cormack 2009) of two top-100 document
    rankings (shortest-first length rank ⊕ seeded hash rank): union of
    slim (id, rank) projections, one map-side-partial sum, top-50 via
    TakeOrderedAndProject — the hybrid-retrieval merge."""
    from pyspark.sql import Window

    from proxyfeatureextraction_spark.operators.curation import (
        OP_CURR,
        _id_hash,
        rrf_fuse,
    )

    d = _table(spark, sf_dir, "documents")
    ra = d.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("n_chars"), F.col("doc_id")))
        .alias("rank"),
    ).where(F.col("rank") <= 100)
    rb = d.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(_id_hash("doc_id", 9, op=OP_CURR), F.col("doc_id")))
        .alias("rank"),
    ).where(F.col("rank") <= 100)
    return rrf_fuse([ra, rb], top_k=50)


def q_gopher_quality(spark, sf_dir):
    """Gopher rule-based quality signals (Rae et al. 2021 §A1.1.1):
    word stats, symbol/alpha ratios, stopword hits, bullet/ellipsis
    line ratios, and the pass/fail conjunction — all JVM HOFs. Runs on
    line-injected docs so the \\s+ word split (not single spaces) is
    exercised across line boundaries."""
    from proxyfeatureextraction_spark.functions.text import gopher_quality

    d = _docs_with_lines(spark, sf_dir)
    sig = gopher_quality("text")
    return d.select(
        "doc_id", *[c.alias(name) for name, c in sig.items()]
    )


#: Deterministic line-structure injection for the line-level gates: the
#: fixture text is single-line word soup, so both engines replace every
#: 7th inter-word space with a newline (same regex, greedy sequential
#: scan) before the operator runs — making line signals non-degenerate
#: while keeping the construction bit-identical across engines.
_INJECT_LINES_RE = r"((?:\S+ ){6}\S+) "
_INJECT_LINES_SQL = (
    "regexp_replace(coalesce(text, ''),"
    " '((?:\\S+ ){6}\\S+) ', '\\1' || chr(10), 'g')"
)


def _docs_with_lines(spark, sf_dir):
    return _table(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace(F.coalesce("text", F.lit("")), _INJECT_LINES_RE, "$1\n")
    )


def q_gopher_repetition(spark, sf_dir):
    """Gopher repetition signals (Rae et al. 2021 table A1): duplicate
    line/paragraph fractions (pure HOFs) plus top-2/3/4-gram and
    dup-5..10-gram character fractions via ONE digest-keyed explode
    (the exchange carries (doc_id, n, xxhash64, len) — never gram
    text). Runs on line-injected docs so line signals are exercised.
    ``_spread`` fans the single-split fixture out before the
    explode-heavy map side. Value-safe for the gate: every
    pre-division aggregate here is an integer count."""
    from proxyfeatureextraction_spark.functions.text import gopher_repetition

    docs = _spread(_docs_with_lines(spark, sf_dir))
    return gopher_repetition(docs)


def q_clean_lines(spark, sf_dir):
    """C4-style line cleaning on line-injected docs: drop lines under
    4 words or containing 'slow', block docs containing 'merge batch'
    — all JVM HOFs, no shuffle."""
    from proxyfeatureextraction_spark.operators.curation import clean_lines

    return clean_lines(
        _docs_with_lines(spark, sf_dir),
        min_words_per_line=4,
        line_blocklist=("slow",),
        doc_blocklist=("merge batch",),
    )


def q_dedup_lines(spark, sf_dir):
    """Corpus-wide exact line dedup (C4 granularity): every distinct
    line keeps its first (doc_id, pos) occurrence; docs re-assembled.
    First-occurrence choice shuffles on the line digest pair, never on
    line text as a key."""
    from proxyfeatureextraction_spark.operators.curation import dedup_lines

    return dedup_lines(_docs_with_lines(spark, sf_dir))


def q_chunk_docs(spark, sf_dir):
    """Overlapping context-window chunking: 40-word windows, stride
    30 — split/sequence/explode/slice, fuses into the scan."""
    from proxyfeatureextraction_spark.operators.curation import chunk_docs

    return chunk_docs(_table(spark, sf_dir, "documents"), max_words=40, stride=30)


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): smoothed hashed
    n-gram log-likelihood ratio of target (lang='en') vs raw corpus —
    bucket tables bounded at 512 rows and broadcast; exchange carries
    (doc_id, bucket int) only. ``_spread`` fans the single-split fixture
    out before the explode-heavy hashed-n-gram map side (8.1→1.9 s on
    q_gopher_repetition)."""
    from proxyfeatureextraction_spark.operators.curation import dsir_weights

    d = _spread(_table(spark, sf_dir, "documents"))
    return dsir_weights(d, d.filter(F.col("lang") == "en"), n_buckets=512)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): deterministic 16-cell clustering,
    within-cell eps-similar groups collapsed via connected components,
    survivor = member least similar to its centroid."""
    from proxyfeatureextraction_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        _table(spark, sf_dir, "embeddings"), eps=0.4, n_cells=16
    )


def q_shuffle_shards(spark, sf_dir):
    """Deterministic training-order shuffle into 8 shards: seeded-hash
    shard + dense within-shard position; one exchange, per-shard sort."""
    from proxyfeatureextraction_spark.operators.curation import shuffle_shards

    return shuffle_shards(
        _table(spark, sf_dir, "documents"), n_shards=8, seed=3
    ).select("doc_id", "shard", "shard_pos")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: train docs sharing any word 8-gram
    with the eval split (doc_id % 20 == 0) are flagged. Eval shingle
    set is broadcast — one corpus scan, zero full-data shuffles."""
    from proxyfeatureextraction_spark.operators.curation import decontaminate

    d = _spread(_table(spark, sf_dir, "documents"))
    return decontaminate(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
        n=8,
    )


def q_decontaminate_fuzzy(spark, sf_dir):
    """Fuzzy (near-dup) decontamination: train docs with word-set
    Jaccard ≥ 0.8 to any eval doc (doc_id % 20 == 0) are flagged —
    asymmetric band join (train bands × broadcast eval bands; never
    train×train) + exact JVM verify."""
    from proxyfeatureextraction_spark.operators.curation import decontaminate_fuzzy

    d = _spread(_table(spark, sf_dir, "documents"))
    return decontaminate_fuzzy(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
        threshold=0.8,
        n_perm=16,
        bands=8,
    )


def q_pii_scrub(spark, sf_dir):
    """PII scrub: emails/IPv4s/phones → mask tokens + per-pattern raw
    counts. Synthetic PII is injected per-row (id-derived) so the
    regexes are genuinely exercised on every document."""
    from proxyfeatureextraction_spark.functions.text import scrub_pii

    d = _table(spark, sf_dir, "documents").withColumn(
        "text",
        # coalesce BEFORE concat: Spark concat(NULL,...) is NULL while
        # DuckDB concat skips NULLs — a null text row would otherwise
        # hash-diverge between the engines
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    cols = scrub_pii("text")
    return d.select(
        "doc_id",
        cols["n_emails"].alias("n_emails"),
        cols["n_ips"].alias("n_ips"),
        cols["n_phones"].alias("n_phones"),
        cols["scrubbed"].alias("scrubbed"),
    )


def q_curate_corpus(spark, sf_dir):
    """The one-call corpus-preparation pipeline: quality filter (≥0.8)
    → near-dup removal (normalize + Jaccard 0.8 + star contraction) →
    8-gram decontamination of survivors vs the eval split (doc_id %
    20 == 0) → deterministic train/val hash split. One labeled row per
    doc: (doc_id, quality, reason, keep, split)."""
    from proxyfeatureextraction_spark.operators.curation import curate_corpus

    d = _spread(_table(spark, sf_dir, "documents"))
    return curate_corpus(
        d.filter(F.col("doc_id") % 20 != 0),
        d.filter(F.col("doc_id") % 20 == 0),
        weights={"train": 0.95, "val": 0.05},
        threshold=0.8,
        min_quality=0.8,
        decon_n=8,
        split_seed=7,
    )


def q_top_ngrams(spark, sf_dir):
    """Frequent-phrase mining: top-50 word bigrams by occurrence count
    (doc frequency alongside), count-desc/gram-asc deterministic order.
    Executes as TakeOrderedAndProject — no global sort."""
    from proxyfeatureextraction_spark.functions.text import top_ngrams

    return top_ngrams(
        _table(spark, sf_dir, "documents"), n=2, k=50, min_count=2
    )


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware dedup survivor selection (operators/dedup.py:
    dedup_keep_best, RefinedWeb-style): dedup_corpus clustering, but
    each cluster keeps its highest-quality member (quality =
    functions/text.py:quality_score, ties to the lower id) via one
    map-side-partial max(struct(quality, -doc_id)) aggregate — no
    ranking window over the cluster id, so a boilerplate mega-cluster
    never funnels through one task."""
    from proxyfeatureextraction_spark.functions.text import quality_score
    from proxyfeatureextraction_spark.operators.dedup import dedup_keep_best

    d = _spread(_table(spark, sf_dir, "documents")).withColumn("quality", quality_score("text"))
    return dedup_keep_best(d, "quality")


def q_collocations_pmi(spark, sf_dir):
    """PMI-ranked bigram collocations (functions/text.py:
    collocations_pmi, Church & Hanks 1990): word pairs that co-occur
    beyond their marginal frequencies — the statistical complement to
    raw top_ngrams frequency. Every ln argument is an engine-computed
    integer count in a fixed term order, so the score is bit-portable
    to the DuckDB twin."""
    from proxyfeatureextraction_spark.functions.text import collocations_pmi

    return collocations_pmi(
        _table(spark, sf_dir, "documents"), k=50, min_count=5
    )


def q_embedding_quantize(spark, sf_dir):
    """Per-vector symmetric int8 quantization of the embedding store
    (4× storage cut for the trillion-vector similarity path), exploded
    to (vec_id, scale, pos, q) rows for the value hash."""
    from proxyfeatureextraction_spark.operators.similarity import quantize_embeddings

    e = _table(spark, sf_dir, "embeddings")
    return quantize_embeddings(e).select(
        "vec_id", "scale", F.posexplode("qvec").alias("pos", "q")
    )


def q_profile_events(spark, sf_dir):
    """Deequ-style numeric column profile of the event stream (value,
    dir): counts/nulls/distinct/min/max/mean/quartiles, one agg pass,
    stack-unpivoted to a row per column. (The gate profiles
    small-magnitude columns: a mean over ~1e9-magnitude values differs
    across engines in the last ulp from float-sum ordering — order
    statistics are immune, means are not.)"""
    from proxyfeatureextraction_spark.operators.curation import profile_numeric

    return profile_numeric(_events(spark, sf_dir), ["value", "dir"])


def q_corpus_report(spark, sf_dir):
    """Per-source corpus audit: doc/distinct counts, exact-dup rate,
    mean quality and token count, total chars — the stats pass run
    before and after curation."""
    from proxyfeatureextraction_spark.operators.curation import corpus_report

    return corpus_report(_table(spark, sf_dir, "documents"), group_col="source")


def q_pack_sequences(spark, sf_dir):
    """Greedy sequence packing into 512-token context bins, 8 parallel
    shard streams (first-fit-sequential by doc_id within shard). The
    DuckDB oracle replays the identical walk with a recursive CTE."""
    from proxyfeatureextraction_spark.operators.curation import pack_sequences

    d = _table(spark, sf_dir, "documents")
    return pack_sequences(d, max_tokens=512, n_shards=8, seed=1)


def q_rollup_counts(spark, sf_dir):
    """Grouping sets: rollup over (event_type, dir)."""
    e = _events(spark, sf_dir)
    return (
        e.rollup("event_type", "dir")
        .agg(F.count(F.lit(1)).alias("n"), _R6(F.sum("value"), "sum_value"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("dir").cast("string"), F.lit("ALL")).alias("dir_s"),
            "n",
            "sum_value",
        )
    )


def q_pivot_counts(spark, sf_dir):
    """Pivot: per-user event-type count matrix."""
    e = _events(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    out = e.groupBy("user_id").pivot("event_type", types).count()
    for t in types:
        out = out.withColumn(f"n_{t}", F.coalesce(F.col(t), F.lit(0))).drop(t)
    return out


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-time per-(user, turn) feature frame on
    sf0.001 — backfilled lag features + session ids + rolling stats,
    every window frame ≤ currentRow."""
    sf = "/root/testdata/sf0.001"
    e = _events(spark, sf)
    gap = F.col("tsec") - F.lag("tsec", 1).over(_w())
    wroll = _w().rowsBetween(-9, 0)
    out = (
        e.withColumn("delta_prev", gap)
        .withColumn("session_id", F.sum(F.when(gap > 3600.0, 1).otherwise(0)).over(_wcum()))
        .withColumn("cum_value", F.sum("value").over(_wcum()))
        .withColumn("roll_avg_10", F.avg("value").over(wroll))
        .withColumn(
            "last_signup_value",
            F.last(
                F.when(F.col("event_type") == "signup", F.col("value")), ignorenulls=True
            ).over(_wcum()),
        )
        .select(
            "user_id", "event_id", "tsec", "dir", "delta_prev", "session_id",
            "cum_value", "roll_avg_10", "last_signup_value",
        )
    )
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver's correctness gate verifies the FIRST 50 entries in dict
    # order.  Round-6 rotation (r5 verdict ask #1): the 17 round-5
    # operators that have never seen a driver row lead, followed by every
    # gate whose implementation or wrapper changed in the round-6
    # optimization pass (lm single-pass tables + size-gated broadcast,
    # dedup base persists + pairs_distinct + leaner star rounds, the LSH
    # verify re-spread, the tfidf_allpairs per-pair verify, the
    # _drop_hot_keys / semantic_dedup cache-lifetime fix, single-split
    # wrapper repartitions), then a core slice whose driver evidence is
    # oldest (r4).  Everything below the cap has a green driver row from
    # r4/r5, is code-unchanged this round, and stays green under the
    # local gate replica (tools/check_entry.py — full 110 run, sf0.01).
    return {
        # -- never driver-gated (round-5b/5c additions): first rows now --
        "tfidf_allpairs": q_tfidf_allpairs,
        "collocations_pmi": q_collocations_pmi,
        "dedup_keep_best": q_dedup_keep_best,
        "corpus_diff": q_corpus_diff,
        "contamination_report": q_contamination_report,
        "token_histogram": q_token_histogram,
        "sample_stratified": q_sample_stratified,
        "epoch_schedule": q_epoch_schedule,
        "embedding_pca": q_embedding_pca,
        "mmr_select": q_mmr_select,
        "ngram_novelty": q_ngram_novelty,
        "curriculum_order": q_curriculum_order,
        "bpe_train": q_bpe_train,
        "time_split_purged": q_time_split_purged,
        "psi_drift": q_psi_drift,
        "robust_scale": q_robust_scale,
        "rrf_fuse": q_rrf_fuse,
        # -- implementation or wrapper changed in round 6 ----------------
        "lm_perplexity": q_lm_perplexity,
        "ppl_buckets": q_ppl_buckets,
        "dedup_corpus": q_dedup_corpus,
        "dedup_incremental": q_dedup_incremental,
        "split_by_cluster": q_split_by_cluster,
        "curate_corpus": q_curate_corpus,
        "decontaminate": q_decontaminate,
        "decontaminate_fuzzy": q_decontaminate_fuzzy,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_jaccard_scalable": q_dedup_jaccard_scalable,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_near_survivors": q_dedup_near_survivors,
        "embedding_dup_clusters": q_embedding_dup_clusters,
        "semantic_dedup": q_semantic_dedup,
        "winnow_pairs": q_winnow_pairs,
        "dedup_simhash_hamming": q_dedup_simhash_hamming,
        "similarity_ann_lsh": q_similarity_ann_lsh,
        "similarity_ann_ivf": q_similarity_ann_ivf,
        # -- core rotation: oldest (r4) driver evidence ------------------
        "asof_join": q_asof_join,
        "sessionize": q_sessionize,
        "asof_global": q_asof_global,
        "salted_stats": q_salted_stats,
        "pit_row_features": q_pit_row_features,
        "pit_blocked": q_pit_blocked,
        "rollup_counts": q_rollup_counts,
        "pivot_counts": q_pivot_counts,
        "gopher_quality": q_gopher_quality,
        "gopher_repetition": q_gopher_repetition,
        "outer_align_zproduct": q_outer_align_zproduct,
        "rtt_pattern": q_rtt_pattern,
        "dedup_exact": q_dedup_exact,
        "dedup_survivors": q_dedup_survivors,
        # ---- entries below are past the driver's 50-entry window this ----
        # ---- round: all have green r4/r5 driver rows, their code is ------
        # ---- unchanged this round, and the full-registry local gate ------
        # ---- replica run stays green -------------------------------------
        "tumbling_global": q_tumbling_global,
        "backfill": q_backfill,
        "lag_lead": q_lag_lead,
        "rolling_window": q_rolling_window,
        "flow_pairs_arrays": q_flow_pairs_arrays,
        "rate_series": q_rate_series,
        "gate_counts": q_gate_counts,
        "semi_anti": q_semi_anti,
        "first_k": q_first_k,
        "flow_pairs": q_flow_pairs,
        "directional_counts": q_directional_counts,
        "first_last_30": q_first_last_30,
        "chunk_concentration": q_chunk_concentration,
        "topk_per_group": q_topk_per_group,
        "group_span": q_group_span,
        "distinct_users": q_distinct_users,
        "union_sources": q_union_sources,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q6": q_tpch_q6,
        "join_revenue": q_join_revenue,
        "similarity_topk": q_similarity_topk,
        "text_quality": q_text_quality,
        "text_normalize": q_text_normalize,
        "token_count_regex": q_token_count_regex,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "multimodal_bytes": q_multimodal_bytes,
        "multimodal_resize": q_multimodal_resize,
        "hash_split": q_hash_split,
        "sample_per_group": q_sample_per_group,
        "mix_corpus": q_mix_corpus,
        "dedup_lines": q_dedup_lines,
        "shuffle_shards": q_shuffle_shards,
        "kcenter_select": q_kcenter_select,
        "bm25_search": q_bm25_search,
        "tfidf_keywords": q_tfidf_keywords,
        "inverted_index": q_inverted_index,
        "domain_temperature": q_domain_temperature,
        "dedup_substrings": q_dedup_substrings,
        "token_count_bpe": q_token_count_bpe,
        "nb_quality": q_nb_quality,
        "bloom_decontaminate": q_bloom_decontaminate,
        "sample_weighted": q_sample_weighted,
        "pack_sequences": q_pack_sequences,
        "dsir_weights": q_dsir_weights,
        "tumbling_keyed": q_tumbling_keyed,
        "prefix_cumsum": q_prefix_cumsum,
        "interarrival": q_interarrival,
        "interval_join": q_interval_join,
        "corpus_report": q_corpus_report,
        "clean_lines": q_clean_lines,
        "chunk_docs": q_chunk_docs,
        "pii_scrub": q_pii_scrub,
        "top_ngrams": q_top_ngrams,
        "doc_winnow": q_doc_winnow,
        "profile_events": q_profile_events,
        "embedding_quantize": q_embedding_quantize,
        "dedup_simhash": q_dedup_simhash,
        "embedding_dup_pairs": q_embedding_dup_pairs,
    }

def oracle_sql() -> dict[str, str]:
    return {
        "gate_counts": _EVENTS_CTE
        + """
        SELECT user_id, count(*) AS n_events, round(sum(value), 6) AS sum_value
        FROM ev GROUP BY user_id HAVING count(*) >= 20
        """,
        "first_k": _EVENTS_CTE
        + """
        , r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS rn FROM ev)
        SELECT user_id, count(*) AS n, round(sum(value), 6) AS sum_value_20,
               round(max(tsec), 6) AS last_tsec_20
        FROM r WHERE rn <= 20 GROUP BY user_id
        """,
        "flow_pairs": _EVENTS_CTE
        + """
        , r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS rn FROM ev),
        s AS (SELECT user_id, rn, value, tsec, dir FROM r WHERE rn <= 20),
        n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_flow FROM s GROUP BY user_id),
        pos AS (SELECT user_id, n_flow, CAST(p AS BIGINT) AS pos
                FROM n, UNNEST(range(1, 21)) AS t(p))
        SELECT pos.user_id, pos.pos,
               round(coalesce(s.value, 0.0), 6) AS f_value,
               round(coalesce(s.tsec, 0.0), 6) AS f_tsec,
               CAST(coalesce(s.dir, 0) AS DOUBLE) AS f_dir,
               pos.n_flow
        FROM pos LEFT JOIN s ON s.user_id = pos.user_id AND s.rn = pos.pos
        """,
        # the tensor itself: list(... ORDER BY rn) pads with list_resize
        # and serializes ×1e6 integers so both engines render identically
        "flow_pairs_arrays": _EVENTS_CTE
        + """
        , r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS rn FROM ev),
        s AS (SELECT user_id, rn, value, tsec, dir FROM r WHERE rn <= 20),
        conv AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_flow,
                 list_resize(
                   list([round(value, 6), round(tsec, 6), CAST(dir AS DOUBLE)] ORDER BY rn),
                   20, [0.0, 0.0, 0.0]) AS padded
          FROM s GROUP BY user_id
        )
        SELECT user_id, n_flow,
               array_to_string(
                 list_transform(padded,
                   rr -> array_to_string(
                     list_transform(rr, x -> CAST(CAST(round(x * 1e6) AS BIGINT) AS VARCHAR)),
                     ',')),
                 ';') AS flow_tensor
        FROM conv
        """,
        "interarrival": _EVENTS_CTE
        + """
        , r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS rn FROM ev),
        f AS (SELECT * FROM r WHERE rn <= 20),
        d AS (SELECT user_id, dir,
                     tsec - lag(tsec) OVER (PARTITION BY user_id, dir ORDER BY tsec, event_id) AS delta
              FROM f),
        t AS (SELECT user_id,
                     tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS delta
              FROM f),
        pd AS (SELECT user_id,
                      round(max(CASE WHEN dir = 1 THEN delta END), 6)        AS max_out,
                      round(avg(CASE WHEN dir = 1 THEN delta END), 6)        AS avg_out,
                      round(stddev_pop(CASE WHEN dir = 1 THEN delta END), 6) AS std_out,
                      round(max(CASE WHEN dir = -1 THEN delta END), 6)        AS max_in,
                      round(avg(CASE WHEN dir = -1 THEN delta END), 6)        AS avg_in,
                      round(stddev_pop(CASE WHEN dir = -1 THEN delta END), 6) AS std_in
               FROM d WHERE delta IS NOT NULL GROUP BY user_id),
        tt AS (SELECT user_id,
                      round(max(delta), 6) AS max_total,
                      round(avg(delta), 6) AS avg_total,
                      round(stddev_pop(delta), 6) AS std_total,
                      round(quantile_cont(delta, 0.75), 6) AS p75_total
               FROM t WHERE delta IS NOT NULL GROUP BY user_id)
        SELECT pd.*, tt.max_total, tt.avg_total, tt.std_total, tt.p75_total
        FROM pd JOIN tt USING (user_id)
        """,
        "directional_counts": _EVENTS_CTE
        + """
        SELECT user_id,
               CAST(sum(CASE WHEN dir = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in,
               CAST(sum(CASE WHEN dir = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
               count(*) AS n_total,
               round(avg(CASE WHEN dir = -1 THEN 1.0 ELSE 0.0 END), 6) AS perc_in,
               round(avg(CASE WHEN dir = 1 THEN 1.0 ELSE 0.0 END), 6) AS perc_out
        FROM ev GROUP BY user_id
        """,
        "first_last_30": _EVENTS_CTE
        + """
        , r AS (SELECT *,
                       row_number() OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS rn,
                       row_number() OVER (PARTITION BY user_id ORDER BY tsec DESC, event_id DESC) AS rd
                FROM ev)
        SELECT user_id,
               CAST(sum(CASE WHEN rn <= 30 AND dir = -1 THEN 1 ELSE 0 END) AS BIGINT) AS f30_in,
               CAST(sum(CASE WHEN rn <= 30 AND dir = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f30_out,
               CAST(sum(CASE WHEN rd <= 30 AND dir = -1 THEN 1 ELSE 0 END) AS BIGINT) AS l30_in,
               CAST(sum(CASE WHEN rd <= 30 AND dir = 1 THEN 1 ELSE 0 END) AS BIGINT) AS l30_out
        FROM r GROUP BY user_id
        """,
        "chunk_concentration": _EVENTS_CTE
        + """
        , r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS rn FROM ev),
        pc AS (SELECT user_id, CAST(floor((rn - 1) / 20) AS BIGINT) AS chunk,
                      CAST(sum(CASE WHEN dir = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c
               FROM r GROUP BY user_id, chunk)
        SELECT user_id,
               round(stddev_pop(c), 6) AS std_conc,
               round(avg(c), 6) AS avg_conc,
               round(quantile_cont(c, 0.5), 6) AS med_conc,
               min(c) AS min_conc, max(c) AS max_conc
        FROM pc GROUP BY user_id
        """,
        "rate_series": _EVENTS_CTE
        + """
        , ph AS (SELECT user_id, CAST(floor(tsec / 3600) AS BIGINT) AS hb, count(*) AS c
                 FROM ev GROUP BY user_id, hb)
        SELECT user_id,
               round(avg(c), 6) AS avg_per_hour,
               round(stddev_pop(c), 6) AS std_per_hour,
               round(quantile_cont(c, 0.5), 6) AS med_per_hour,
               min(c) AS min_per_hour, max(c) AS max_per_hour,
               count(*) AS n_buckets
        FROM ph GROUP BY user_id
        """,
        "prefix_cumsum": _EVENTS_CTE
        + """
        SELECT user_id, event_id,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_value
        FROM ev
        """,
        "lag_lead": _EVENTS_CTE
        + """
        SELECT user_id, event_id,
               round(tsec - lag(tsec, 1) OVER (PARTITION BY user_id ORDER BY tsec, event_id), 6) AS delta_prev,
               lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS lead_type
        FROM ev
        """,
        "backfill": _EVENTS_CTE
        + """
        SELECT user_id, event_id,
               round(last_value(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY tsec, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS last_signup_value
        FROM ev
        """,
        "sessionize": _EVENTS_CTE
        + """
        , g AS (SELECT *, tsec - lag(tsec, 1) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS gap FROM ev),
        s AS (SELECT *, CAST(sum(CASE WHEN gap > 3600.0 THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY tsec, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM g)
        SELECT user_id, session_id, count(*) AS n,
               round(min(tsec), 6) AS start_tsec, round(max(tsec), 6) AS end_tsec,
               round(sum(value), 6) AS sum_value
        FROM s GROUP BY user_id, session_id
        """,
        "tumbling_global": _EVENTS_CTE
        + """
        SELECT CAST(floor(tsec / 3600) AS BIGINT) AS hb, count(*) AS n,
               round(sum(value), 6) AS sum_value
        FROM ev GROUP BY hb
        """,
        "tumbling_keyed": _EVENTS_CTE
        + """
        SELECT user_id, CAST(floor(tsec / 3600) AS BIGINT) AS hb, count(*) AS n,
               round(sum(value), 6) AS sum_value
        FROM ev GROUP BY user_id, hb
        """,
        "asof_join": _EVENTS_CTE
        + """
        , p AS (SELECT user_id, event_id, tsec FROM ev WHERE event_type = 'purchase'),
        s AS (SELECT user_id, tsec, value AS signup_value FROM ev WHERE event_type = 'signup')
        -- NB: DuckDB ASOF JOIN resolves right-side timestamp TIES
        -- arbitrarily while the Spark side deterministically picks the
        -- greatest value tuple; the event stream has microsecond-unique
        -- (user_id, tsec) so no tie exists here — if this table ever
        -- gains duplicate signup timestamps, switch to the LEFT JOIN +
        -- QUALIFY row_number() (ORDER BY tsec DESC, value DESC) form.
        SELECT p.user_id, p.event_id, round(s.signup_value, 6) AS signup_value_asof
        FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.tsec >= s.tsec
        """,
        "interval_join": _EVENTS_CTE
        + """
        , spans AS (SELECT user_id, min(tsec) AS lo, min(tsec) + 86400.0 AS hi FROM ev GROUP BY user_id),
        pts AS (SELECT tsec AS pt, value AS pv FROM ev)
        SELECT spans.user_id, count(*) AS n_in_span, round(sum(pv), 6) AS sum_in_span
        FROM spans JOIN pts ON pt >= lo AND pt <= hi
        GROUP BY spans.user_id
        """,
        "semi_anti": _EVENTS_CTE
        + """
        SELECT user_id, count(*) AS n_events FROM ev e
        WHERE EXISTS (SELECT 1 FROM ev b WHERE b.user_id = e.user_id
                      AND b.event_type = 'purchase' AND b.value > 300)
          AND NOT EXISTS (SELECT 1 FROM ev x WHERE x.user_id = e.user_id
                          AND x.event_type = 'error' AND x.value > 330)
        GROUP BY user_id
        """,
        "outer_align_zproduct": _EVENTS_CTE
        + """
        , c AS (SELECT CAST(floor(tsec / 3600) AS BIGINT) AS hb, sum(value) AS a
                FROM ev WHERE event_type = 'click' GROUP BY hb),
        er AS (SELECT CAST(floor(tsec / 3600) AS BIGINT) AS hb, sum(value) AS b
               FROM ev WHERE event_type = 'error' GROUP BY hb),
        m AS (SELECT coalesce(c.a, 0.0) AS a, coalesce(er.b, 0.0) AS b
              FROM c FULL OUTER JOIN er USING (hb)),
        z AS (SELECT ((a - avg(a) OVER ()) / (stddev_pop(a) OVER () + 1e-9))
                   * ((b - avg(b) OVER ()) / (stddev_pop(b) OVER () + 1e-9)) AS z
              FROM m)
        SELECT count(z) AS corr_count, round(sum(z), 6) AS corr_sum,
               round(avg(z), 6) AS corr_mean, round(quantile_cont(z, 0.5), 6) AS corr_median,
               round(min(z), 6) AS corr_minimum, round(max(z), 6) AS corr_maximum,
               round(var_pop(z), 6) AS corr_variance, round(stddev_pop(z), 6) AS corr_std_dev
        FROM z
        """,
        "rtt_pattern": _EVENTS_CTE
        + """
        , l AS (SELECT user_id, event_id, tsec, dir,
                       lead(dir, 1) OVER w AS d1, lead(dir, 2) OVER w AS d2,
                       lead(tsec, 1) OVER w AS t1, lead(tsec, 2) OVER w AS t2
                FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)),
        -- k's order carries the event_id tiebreak like the Spark window,
        -- so equal-tsec triplet starts rank identically in both engines
        f AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS k
              FROM l WHERE d1 = -dir AND d2 = -dir),
        a AS (SELECT user_id, count(*) AS ntrip,
                     max(CASE WHEN k = 1 THEN t1 - tsec END) AS d1v,
                     max(CASE WHEN k = 2 THEN t2 - tsec END) AS d2v
              FROM f GROUP BY user_id)
        SELECT user_id, round(d1v / d2v, 6) AS rtt_ratio
        FROM a WHERE ntrip >= 2 AND d2v <> 0
        """,
        "rolling_window": _EVENTS_CTE
        + """
        SELECT user_id, event_id,
               round(avg(value) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                                      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) AS roll_avg_6
        FROM ev
        """,
        "topk_per_group": _EVENTS_CTE
        + """
        , r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk FROM ev)
        SELECT user_id, event_id, round(value, 6) AS value, rk FROM r WHERE rk <= 3
        """,
        "group_span": _EVENTS_CTE
        + """
        SELECT user_id, round(min(tsec), 6) AS first_tsec, round(max(tsec), 6) AS last_tsec,
               round(max(tsec) - min(tsec), 6) AS duration, count(*) AS n
        FROM ev GROUP BY user_id
        """,
        "distinct_users": _EVENTS_CTE
        + """
        SELECT event_type, count(DISTINCT user_id) AS n_users FROM ev GROUP BY event_type
        """,
        "union_sources": _EVENTS_CTE
        + """
        , u AS (
          SELECT user_id, event_id, 'clicks' AS src FROM ev WHERE event_type = 'click'
          UNION ALL
          SELECT user_id, event_id, 'big' AS src FROM ev WHERE value > 300
        )
        SELECT src, count(*) AS n FROM u GROUP BY src
        """,
        "tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 6) AS sum_qty,
               round(sum(l_extendedprice), 6) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
        """,
        "tpch_q6": """
        SELECT round(sum(l_extendedprice * l_discount), 6) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
        """,
        "join_revenue": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 6) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """,
        "dedup_exact": """
        WITH g AS (SELECT text, min(doc_id) AS keep_id, count(*) AS copies
                   FROM documents GROUP BY text)
        SELECT count(*) AS n_unique, CAST(sum(copies) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
               CAST(sum(copies - 1) AS BIGINT) AS n_removed
        FROM g
        """,
        "dedup_jaccard": f"""
        WITH {_jaccard_ctes()}
        SELECT doc_a, doc_b, jaccard FROM jpairs
        """,
        # connected components over the SAME pair list: recursive-CTE
        # transitive closure, min reachable id = the star-contraction rep
        "dedup_near_survivors": f"""
        WITH RECURSIVE {_jaccard_ctes()},
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM jpairs
          UNION
          SELECT doc_b, doc_a FROM jpairs
        ),
        reach(d, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT reach.d, e.v FROM reach JOIN edges e ON reach.r = e.u
        )
        SELECT d AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY d
        """,
        # one-call pipeline: normalized source CTE feeds the same pair
        # list + same-text edges + closure; rep-level pairing in Spark
        # and all-pairs here give identical components (same-text docs
        # share identical word-sets)
        "dedup_corpus": f"""
        WITH RECURSIVE nd AS (
          SELECT doc_id, {_normalize_sql('text')} AS text FROM documents
        ),
        {_jaccard_ctes('nd')},
        ex AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM nd a JOIN nd b ON a.text = b.text AND a.doc_id < b.doc_id
        ),
        alle AS (
          SELECT doc_a, doc_b FROM jpairs
          UNION
          SELECT doc_a, doc_b FROM ex
        ),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM alle
          UNION
          SELECT doc_b, doc_a FROM alle
        ),
        reach(d, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT reach.d, e.v FROM reach JOIN edges e ON reach.r = e.u
        )
        SELECT d AS doc_id, min(r) AS cluster_rep, min(r) = d AS is_survivor
        FROM reach GROUP BY d
        """,
        # same clustering as dedup_corpus; split label = hash_split's
        # threshold CASE applied to the cluster representative id
        "split_by_cluster": f"""
        WITH RECURSIVE nd AS (
          SELECT doc_id, {_normalize_sql('text')} AS text FROM documents
        ),
        {_jaccard_ctes('nd')},
        ex AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM nd a JOIN nd b ON a.text = b.text AND a.doc_id < b.doc_id
        ),
        alle AS (
          SELECT doc_a, doc_b FROM jpairs
          UNION
          SELECT doc_a, doc_b FROM ex
        ),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM alle
          UNION
          SELECT doc_b, doc_a FROM alle
        ),
        reach(d, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT reach.d, e.v FROM reach JOIN edges e ON reach.r = e.u
        ),
        cl AS (SELECT d AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY d)
        SELECT doc_id, cluster_rep,
               {_split_case_sql(_id_hash_sql('cluster_rep', seed=11),
                                {"train": 0.9, "val": 0.05, "test": 0.05})} AS split
        FROM cl
        """,
        # same clustering as dedup_corpus; survivor = argmax quality,
        # ties to the lower id. Every ratio is computed in DOUBLE (int /
        # CAST(len AS DOUBLE)) and each CASE arm is cast to DOUBLE before
        # the three-term sum so the decimal-literal arithmetic DuckDB
        # would otherwise run in decimal matches Spark's doubles.
        "dedup_keep_best": f"""
        WITH RECURSIVE nd AS (
          SELECT doc_id, {_normalize_sql('text')} AS text FROM documents
        ),
        {_jaccard_ctes('nd')},
        ex AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM nd a JOIN nd b ON a.text = b.text AND a.doc_id < b.doc_id
        ),
        alle AS (
          SELECT doc_a, doc_b FROM jpairs
          UNION
          SELECT doc_a, doc_b FROM ex
        ),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM alle
          UNION
          SELECT doc_b, doc_a FROM alle
        ),
        reach(d, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT reach.d, e.v FROM reach JOIN edges e ON reach.r = e.u
        ),
        assign AS (SELECT d AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY d),
        qt AS (
          SELECT doc_id, length(text) AS nchar,
                 list_filter(string_split(text, ' '), w -> length(w) > 0) AS toks
          FROM documents
        ),
        qr AS (
          SELECT doc_id, nchar,
                 len(list_filter(toks, w -> w IN {_STOP_SQL}))
                   / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS sw,
                 len(list_filter(toks, w -> length(w) >= 8))
                   / greatest(CAST(len(toks) AS DOUBLE), 1.0) AS lt
          FROM qt
        ),
        q AS (
          SELECT doc_id,
                 round((CAST(CASE WHEN nchar >= 50 AND nchar <= 4000
                             THEN 1.0 ELSE 0.3 END AS DOUBLE)
                        + CAST(CASE WHEN sw > 0.02 AND sw < 0.5
                               THEN 1.0 ELSE 0.5 END AS DOUBLE)
                        + CAST(CASE WHEN lt < 0.5
                               THEN 1.0 ELSE 0.4 END AS DOUBLE)) / 3.0,
                       6) AS quality
          FROM qr
        ),
        rk AS (
          SELECT a.doc_id, a.cluster_rep, q.quality,
                 row_number() OVER (PARTITION BY a.cluster_rep
                                    ORDER BY q.quality DESC, a.doc_id ASC) AS rn
          FROM assign a JOIN q USING (doc_id)
        )
        SELECT doc_id, cluster_rep, quality, rn = 1 AS is_survivor FROM rk
        """,
        # rep-level mirror of dedup_incremental: near pairs computed over
        # distinct-text reps and kept when either GROUP holds a new doc;
        # exact edges kept when either endpoint is new; closure over all
        # docs; a new doc survives iff its cluster has no old doc and it
        # is the cluster's minimum new id
        "dedup_incremental": f"""
        WITH RECURSIVE nd AS (
          SELECT doc_id, {_normalize_sql('text')} AS text FROM documents
        ),
        grp AS (
          SELECT text, min(doc_id) AS doc_id,
                 max(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS has_new
          FROM nd GROUP BY text
        ),
        {_jaccard_ctes('grp')},
        near AS (
          SELECT j.doc_a, j.doc_b FROM jpairs j
          JOIN grp ga ON j.doc_a = ga.doc_id
          JOIN grp gb ON j.doc_b = gb.doc_id
          WHERE ga.has_new = 1 OR gb.has_new = 1
        ),
        ex AS (
          SELECT g.doc_id AS doc_a, n.doc_id AS doc_b
          FROM nd n JOIN grp g ON n.text = g.text
          WHERE n.doc_id <> g.doc_id
            AND (n.doc_id % 2 = 1 OR g.doc_id % 2 = 1)
        ),
        alle AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM ex),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM alle
          UNION
          SELECT doc_b, doc_a FROM alle
        ),
        reach(d, r) AS (
          SELECT doc_id, doc_id FROM nd
          UNION
          SELECT reach.d, e.v FROM reach JOIN edges e ON reach.r = e.u
        ),
        assign AS (SELECT d AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY d),
        cst AS (
          SELECT cluster_rep,
                 max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS has_old,
                 min(CASE WHEN doc_id % 2 = 1 THEN doc_id END) AS min_new
          FROM assign GROUP BY cluster_rep
        )
        SELECT a.doc_id, a.cluster_rep,
               (c.has_old = 0 AND a.doc_id = c.min_new) AS is_survivor
        FROM assign a JOIN cst c USING (cluster_rep)
        WHERE a.doc_id % 2 = 1
        """,
        "dedup_minhash_lsh": _minhash_oracle(),
        # LSH candidates (bands=8) + exact list-Jaccard verify — DuckDB
        # twin of operators.dedup.jaccard_pairs_scalable
        "dedup_jaccard_scalable": f"""
        WITH cand AS ({_minhash_oracle(16, 8)}),
        sets AS (
          SELECT doc_id,
                 list_filter(list_distinct(string_split(text, ' ')),
                             w -> length(w) > 0) AS ws
          FROM documents
        ),
        v AS (
          SELECT c.doc_a, c.doc_b,
                 len(list_intersect(sa.ws, sb.ws)) AS ninter,
                 len(list_distinct(list_concat(sa.ws, sb.ws))) AS nunion
          FROM cand c
          JOIN sets sa ON c.doc_a = sa.doc_id
          JOIN sets sb ON c.doc_b = sb.doc_id
        )
        SELECT doc_a, doc_b,
               round(CASE WHEN nunion > 0 THEN ninter * 1.0 / nunion ELSE 0.0 END, 6) AS jaccard
        FROM v
        -- threshold the UNROUNDED ratio (matches jaccard_pairs*'s contract)
        WHERE CASE WHEN nunion > 0 THEN ninter * 1.0 / nunion ELSE 0.0 END >= 0.8
        """,
        # shingle candidates + exact shingle-set Jaccard verify — DuckDB
        # twin of jaccard_pairs_scalable(shingle=3)
        "dedup_ngram_jaccard": f"""
        WITH cand AS ({_minhash_oracle(16, 8, shingle=3)}),
        dtk AS (
          SELECT doc_id,
                 list_filter(string_split(coalesce(text, ''), ' '),
                             x -> length(x) > 0) AS toks
          FROM documents
        ),
        sets AS (
          SELECT doc_id, list_distinct({_shingle_list_sql('toks', 3)}) AS ws FROM dtk
        ),
        v AS (
          SELECT c.doc_a, c.doc_b,
                 len(list_intersect(sa.ws, sb.ws)) AS ninter,
                 len(list_distinct(list_concat(sa.ws, sb.ws))) AS nunion
          FROM cand c
          JOIN sets sa ON c.doc_a = sa.doc_id
          JOIN sets sb ON c.doc_b = sb.doc_id
        )
        SELECT doc_a, doc_b,
               round(CASE WHEN nunion > 0 THEN ninter * 1.0 / nunion ELSE 0.0 END, 6) AS jaccard
        FROM v
        WHERE CASE WHEN nunion > 0 THEN ninter * 1.0 / nunion ELSE 0.0 END >= 0.8
        """,
        "dedup_simhash": _simhash_oracle(),
        "dedup_simhash_hamming": _simhash_candidates_oracle(),
        "similarity_topk": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        p AS (
          SELECT a.vec_id AS vec_id, b.vec_id AS neighbor,
                 round(
                   list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
                   / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS cos_r
          FROM e a JOIN e b ON a.vec_id <> b.vec_id
        ),
        r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos_r DESC, neighbor ASC) AS rk
              FROM p)
        SELECT vec_id, neighbor, cos_r AS cosine, rk FROM r WHERE rk <= 5
        """,
        # Planes: value(t,p,d) = 2·((A·idx + B·(seed+1)) mod M)/M − 1 with
        # idx=(t·8+p)·64+d, A=2654435761 mod M, B=40503, seed=42, M=1e9+7 —
        # bit-identical to operators/similarity.py portable_planes. dim=64
        # is hardcoded (DuckDB forbids subqueries inside lambdas); the
        # testdata embeddings are 64-dim at every SF.
        "similarity_ann_lsh": """
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        planes AS (
          SELECT t.t, p.p,
                 list_transform(range(0, 64),
                   dd -> 2.0 * CAST((654435747 * ((t.t * 8 + p.p) * 64 + dd)
                                     + 1741629) % 1000000007 AS DOUBLE)
                         / 1000000007 - 1.0) AS pv
          FROM range(0, 8) t(t), range(0, 8) p(p)
        ),
        bits AS (
          SELECT e.vec_id, pl.t,
                 CAST(sum(CASE WHEN list_sum(list_transform(list_zip(e.v, pl.pv),
                                                            z -> z[1] * z[2])) > 0
                               THEN (1::BIGINT << pl.p) ELSE 0 END) AS BIGINT) AS bucket
          FROM e, planes pl
          GROUP BY e.vec_id, pl.t
        ),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor
          FROM bits a JOIN bits b
            ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
        ),
        scored AS (
          SELECT c.vec_id, c.neighbor,
                 round(list_sum(list_transform(list_zip(ea.v, eb.v), z -> z[1]*z[2]))
                       / (sqrt(list_sum(list_transform(ea.v, x -> x*x)))
                          * sqrt(list_sum(list_transform(eb.v, x -> x*x)))), 6) AS cos_r
          FROM cand c
          JOIN e ea ON c.vec_id = ea.vec_id
          JOIN e eb ON c.neighbor = eb.vec_id
        ),
        r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos_r DESC, neighbor ASC) AS rk
              FROM scored)
        SELECT vec_id, neighbor, cos_r AS cosine, rk FROM r WHERE rk <= 5
        """,
        # Centroids = the 16 lowest vec_ids (deterministic k-means init;
        # see operators/similarity.py cosine_topk_ivf). Cell ranking uses
        # round(cos, 6) in BOTH engines so ties resolve identically.
        "similarity_ann_ivf": """
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        cent AS (
          SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16
        ),
        assign0 AS (
          SELECT e.vec_id, c.cid,
                 round(list_sum(list_transform(list_zip(e.v, c.cv), z -> z[1]*z[2]))
                       / (sqrt(list_sum(list_transform(e.v, x -> x*x)))
                          * sqrt(list_sum(list_transform(c.cv, x -> x*x)))), 6) AS cos_c
          FROM e CROSS JOIN cent c
        ),
        assign AS (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos_c DESC, cid ASC) AS pr
          FROM assign0
        ),
        cells AS (SELECT vec_id, cid FROM assign WHERE pr <= 2),
        cand AS (
          SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS neighbor
          FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id <> b.vec_id
        ),
        scored AS (
          SELECT c.vec_id, c.neighbor,
                 round(list_sum(list_transform(list_zip(ea.v, eb.v), z -> z[1]*z[2]))
                       / (sqrt(list_sum(list_transform(ea.v, x -> x*x)))
                          * sqrt(list_sum(list_transform(eb.v, x -> x*x)))), 6) AS cos_r
          FROM cand c
          JOIN e ea ON c.vec_id = ea.vec_id
          JOIN e eb ON c.neighbor = eb.vec_id
        ),
        r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cos_r DESC, neighbor ASC) AS rk
              FROM scored)
        SELECT vec_id, neighbor, cos_r AS cosine, rk FROM r WHERE rk <= 5
        """,
        "kcenter_select": _kcenter_oracle(8),
        "mmr_select": _mmr_oracle(8, 0.7),
        "embedding_dup_pairs": """
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        p AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
                 / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, round(cos, 6) AS cosine FROM p WHERE cos > 0.4
        """,
        "embedding_dup_clusters": """
        WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        p AS (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
                 / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
          FROM e a JOIN e b ON a.vec_id < b.vec_id
        ),
        jp AS (SELECT va, vb FROM p WHERE cos > 0.4),
        edges AS (SELECT va AS u, vb AS v FROM jp UNION SELECT vb, va FROM jp),
        reach(d, r) AS (
          SELECT vec_id, vec_id FROM embeddings
          UNION
          SELECT reach.d, e2.v FROM reach JOIN edges e2 ON reach.r = e2.u
        )
        SELECT d AS vec_id, min(r) AS cluster_rep FROM reach GROUP BY d
        """,
        "text_normalize": f"""
        SELECT doc_id, {_normalize_sql('text', mask_digits=True)} AS norm
        FROM documents
        """,
        "text_quality": f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> length(w) > 0) AS toks
          FROM documents
        )
        SELECT doc_id,
               len(toks) AS n_tokens,
               round(list_sum(list_transform(toks, w -> length(w) * 1.0))
                     / greatest(len(toks), 1), 6) AS avg_token_len,
               round(len(list_filter(toks, w -> w IN {_STOP_SQL})) * 1.0
                     / greatest(len(toks), 1), 6) AS stopword_ratio,
               round(len(list_filter(toks, w -> length(w) >= 8)) * 1.0
                     / greatest(len(toks), 1), 6) AS long_token_ratio
        FROM t
        """,
        "token_count_regex": r"""
        SELECT doc_id,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
               length(text) AS n_chars_q
        FROM documents
        """,
        "nb_quality": """
        WITH lab AS (
          SELECT doc_id, text,
                 CASE WHEN doc_id % 10 = 0 THEN 'pos' ELSE 'neg' END AS label
          FROM documents
        ),
        tk AS (
          SELECT doc_id, label,
                 unnest(list_filter(string_split(text, ' '),
                                    w -> length(w) > 0)) AS w
          FROM lab
        ),
        tok AS (SELECT label, w, count(*) AS c FROM tk GROUP BY label, w),
        ncl AS (SELECT label, count(*) AS n_c FROM tk GROUP BY label),
        nd  AS (SELECT label, count(*) AS n_d FROM lab GROUP BY label),
        voc AS (SELECT count(DISTINCT w) AS v FROM tk),
        consts AS (
          SELECT (SELECT n_c FROM ncl WHERE label = 'pos') AS np,
                 (SELECT n_c FROM ncl WHERE label = 'neg') AS nn,
                 ln((SELECT n_d FROM nd WHERE label = 'pos'))
                 - ln((SELECT n_d FROM nd WHERE label = 'neg')) AS prior
        ),
        tw AS (
          SELECT w,
                 sum(CASE WHEN label = 'pos' THEN c END) AS cp,
                 sum(CASE WHEN label = 'neg' THEN c END) AS cn
          FROM tok GROUP BY w
        ),
        ex AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                                    w -> length(w) > 0)) AS w
          FROM documents
        ),
        per AS (
          SELECT ex.doc_id,
                 (ln(coalesce(tw.cp, 0) + 1) - ln(consts.np + voc.v))
                 - (ln(coalesce(tw.cn, 0) + 1) - ln(consts.nn + voc.v)) AS llr
          FROM ex LEFT JOIN tw USING (w) CROSS JOIN voc CROSS JOIN consts
        ),
        agg AS (
          SELECT doc_id, count(*) AS n_tok, sum(llr) AS s
          FROM per GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(agg.n_tok, 0) AS BIGINT) AS n_tok,
               round(coalesce(agg.s, 0) + (SELECT prior FROM consts), 6)
                 AS log_odds,
               (coalesce(agg.s, 0) + (SELECT prior FROM consts)) > 0 AS keep
        FROM documents d LEFT JOIN agg USING (doc_id)
        """,
        # exact-substring dedup: duplicate k-gram digests -> covered
        # islands (gaps-and-islands windows are fine HERE — it's the
        # oracle; the Spark side merges spans with an in-array fold)
        "dedup_substrings": f"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(coalesce(text, ''), ' '),
                                     w -> length(w) > 0) AS a
          FROM documents
        ),
        grams AS (
          SELECT doc_id, t.i AS i,
                 {_word_hash_sql("array_to_string(a[t.i:t.i+7], ' ')")} AS g
          FROM toks, UNNEST(range(1, len(a) - 8 + 2)) AS t(i)
          WHERE len(a) >= 8
        ),
        dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        ds AS (SELECT doc_id, i FROM grams WHERE g IN (SELECT g FROM dupg)),
        isl AS (
          SELECT doc_id, i,
                 CASE WHEN i > coalesce(max(i + 7) OVER (
                        PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      -1000000) + 1
                      THEN 1 ELSE 0 END AS brk
          FROM ds
        ),
        isl2 AS (
          SELECT doc_id, i,
                 sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS island
          FROM isl
        ),
        spans AS (
          SELECT doc_id, island, min(i) AS s, max(i) + 7 AS e
          FROM isl2 GROUP BY doc_id, island
        ),
        per_doc AS (
          SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS n_dup
          FROM spans GROUP BY doc_id
        ),
        pos AS (
          SELECT doc_id, t.i AS p, a[t.i] AS w
          FROM toks, UNNEST(range(1, len(a) + 1)) AS t(i)
        ),
        ct AS (
          SELECT p.doc_id,
                 coalesce(string_agg(p.w, ' ' ORDER BY p.p)
                          FILTER (WHERE NOT p.cov), '') AS clean_text
          FROM (
            SELECT pos.*, EXISTS(SELECT 1 FROM spans s
                                 WHERE s.doc_id = pos.doc_id
                                   AND pos.p BETWEEN s.s AND s.e) AS cov
            FROM pos
          ) p
          GROUP BY p.doc_id
        )
        SELECT t.doc_id,
               len(t.a) AS n_tok,
               CAST(coalesce(pd.n_dup, 0) AS BIGINT) AS n_dup_tok,
               CAST(coalesce(pd.n_spans, 0) AS BIGINT) AS n_spans,
               coalesce(ct.clean_text, '') AS clean_text
        FROM toks t LEFT JOIN per_doc pd USING (doc_id)
                    LEFT JOIN ct USING (doc_id)
        """,
        "bm25_search": """
        WITH tk AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                                    w -> length(w) > 0)) AS w
          FROM documents
        ),
        dt AS (SELECT doc_id, w, count(*) AS tf FROM tk GROUP BY doc_id, w),
        dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
        st AS (
          SELECT count(DISTINCT doc_id) AS n,
                 sum(tf) / count(DISTINCT doc_id) AS avgdl
          FROM dt
        ),
        qt AS (SELECT unnest(['dup', 'vector', 'window']) AS w),
        dfq AS (
          SELECT dt.w, count(DISTINCT doc_id) AS df
          FROM dt JOIN qt USING (w) GROUP BY dt.w
        ),
        sc AS (
          SELECT dt.doc_id,
                 ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
                   * (dt.tf * 2.2)
                   / (dt.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)) AS part
          FROM dt JOIN dfq USING (w) JOIN dl USING (doc_id) CROSS JOIN st
        ),
        agg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
                 sum(part) AS score
          FROM sc GROUP BY doc_id
        )
        SELECT doc_id, n_hit, round(score, 6) AS score
        FROM agg ORDER BY score DESC, doc_id LIMIT 25
        """,
        "tfidf_keywords": """
        WITH tk AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                                    w -> length(w) > 0)) AS w
          FROM documents
        ),
        dt AS (SELECT doc_id, w, count(*) AS tf FROM tk GROUP BY doc_id, w),
        dfq AS (SELECT w, count(DISTINCT doc_id) AS df FROM dt GROUP BY w),
        nn AS (SELECT count(DISTINCT doc_id) AS n FROM dt),
        sc AS (
          SELECT doc_id, w, tf,
                 tf * (ln((1.0 + nn.n) / (1.0 + dfq.df)) + 1.0) AS score
          FROM dt JOIN dfq USING (w) CROSS JOIN nn
        ),
        r AS (
          SELECT *,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, w) AS rank
          FROM sc
        )
        SELECT doc_id, rank, w, CAST(tf AS BIGINT) AS tf,
               round(score, 6) AS score
        FROM r WHERE rank <= 3
        """,
        "inverted_index": """
        WITH pr AS (
          SELECT DISTINCT doc_id, w FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '),
                                      w -> length(w) > 0)) AS w
            FROM documents
          )
        ),
        keep AS (
          SELECT w, CAST(count(*) AS BIGINT) AS df
          FROM pr GROUP BY w HAVING count(*) <= 390
        )
        SELECT w, df,
               array_to_string(list(doc_id ORDER BY doc_id), ',')
                 AS postings
        FROM pr JOIN keep USING (w) GROUP BY w, df
        """,
        "ppl_buckets": """
        WITH toks AS (
          SELECT doc_id,
                 list_prepend('<s>', list_filter(string_split(text, ' '),
                                                 w -> length(w) > 0)) AS a
          FROM documents
        ),
        bg AS (
          SELECT doc_id, a[t.i] AS w1, a[t.i + 1] AS w2
          FROM toks, UNNEST(range(1, len(a))) AS t(i)
        ),
        refbg AS (SELECT * FROM bg WHERE doc_id % 10 = 0),
        bi  AS (SELECT w1, w2, count(*) AS c2 FROM refbg GROUP BY w1, w2),
        uni AS (SELECT w1, count(*) AS c1 FROM refbg GROUP BY w1),
        voc AS (SELECT count(DISTINCT w2) AS v FROM refbg),
        scored AS (
          SELECT bg.doc_id,
                 ln(coalesce(bi.c2, 0) + 1) - ln(coalesce(uni.c1, 0) + voc.v)
                   AS logp
          FROM bg LEFT JOIN bi USING (w1, w2)
                  LEFT JOIN uni USING (w1) CROSS JOIN voc
        ),
        agg AS (
          SELECT doc_id, count(*) AS n_tok, -avg(logp) AS ce
          FROM scored GROUP BY doc_id
        ),
        pp AS (
          SELECT d.doc_id, d.lang,
                 CAST(coalesce(agg.n_tok, 0) AS BIGINT) AS n_tok,
                 round(exp(agg.ce), 6) AS ppl6
          FROM documents d LEFT JOIN agg USING (doc_id)
        ),
        cuts AS (
          SELECT lang, quantile_cont(ppl6, 1.0/3) AS c1,
                 quantile_cont(ppl6, 2.0/3) AS c2
          FROM pp GROUP BY lang
        )
        SELECT pp.doc_id, pp.lang, pp.n_tok, pp.ppl6,
               CASE WHEN pp.ppl6 IS NULL THEN NULL
                    WHEN pp.ppl6 <= c.c1 THEN 'head'
                    WHEN pp.ppl6 <= c.c2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM pp LEFT JOIN cuts c USING (lang)
        """,
        "domain_temperature": """
        WITH c AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source
        ),
        t AS (SELECT sum(n_docs) AS tot FROM c),
        pw AS (
          SELECT source, n_docs,
                 CAST(n_docs AS DOUBLE) / tot AS p0,
                 pow(CAST(n_docs AS DOUBLE) / tot, 0.3) AS pw
          FROM c CROSS JOIN t
        ),
        s AS (SELECT sum(pw) AS s FROM pw)
        SELECT source, n_docs, round(p0, 6) AS p,
               round(pw / s.s, 6) AS w,
               round(pw / s.s / p0, 6) AS boost
        FROM pw CROSS JOIN s
        """,
        # prefix filtering is LOSSLESS, so the oracle is the
        # brute-force term self-join — identical result by design
        "tfidf_allpairs": """
        WITH tk AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(coalesce(text, ''), ' '),
                                    w -> length(w) > 0)) AS w
          FROM documents
        ),
        dt AS (SELECT doc_id, w, count(*) AS tf FROM tk GROUP BY doc_id, w),
        dfq AS (SELECT w, count(DISTINCT doc_id) AS df FROM dt GROUP BY w),
        nn AS (SELECT count(DISTINCT doc_id) AS n FROM dt),
        wt AS (
          SELECT doc_id, w,
                 tf * (ln((1.0 + nn.n) / (1.0 + dfq.df)) + 1.0) AS wgt
          FROM dt JOIN dfq USING (w) CROSS JOIN nn
        ),
        nrm AS (SELECT doc_id, sqrt(sum(wgt * wgt)) AS nrm
                FROM wt GROUP BY doc_id),
        u AS (SELECT doc_id, w, wgt / nrm AS u FROM wt JOIN nrm USING (doc_id)),
        pr AS (
          SELECT a.doc_id AS a, b.doc_id AS b, sum(a.u * b.u) AS sim
          FROM u a JOIN u b ON a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT a, b, round(sim, 6) AS sim FROM pr WHERE sim >= 0.8
        """,
        "corpus_diff": """
        WITH o AS (
          SELECT doc_id, sha256(coalesce(text, '')) AS ho
          FROM documents WHERE doc_id % 9 <> 0
        ),
        n AS (
          SELECT doc_id,
                 sha256(coalesce(CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                                      ELSE text END, '')) AS hn
          FROM documents WHERE doc_id % 7 <> 0
        )
        SELECT doc_id,
               CASE WHEN ho IS NULL THEN 'added'
                    WHEN hn IS NULL THEN 'removed'
                    WHEN ho = hn THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM o FULL OUTER JOIN n USING (doc_id)
        """,
        "contamination_report": f"""
        WITH tr AS (SELECT doc_id,
                           list_filter(string_split(coalesce(text, ''), ' '),
                                       x -> length(x) > 0) AS toks
                    FROM documents WHERE doc_id % 20 <> 0),
        ev AS (SELECT doc_id,
                      list_filter(string_split(coalesce(text, ''), ' '),
                                  x -> length(x) > 0) AS toks
               FROM documents WHERE doc_id % 20 = 0),
        evg AS (SELECT doc_id AS eval_id, w FROM ev,
                UNNEST(list_distinct({_shingle_list_sql('toks', 8)})) AS t(w)),
        evs AS (SELECT DISTINCT w FROM evg),
        hit AS (SELECT DISTINCT t.w
                FROM (SELECT doc_id, w FROM tr,
                      UNNEST(list_distinct({_shingle_list_sql('toks', 8)})) AS t(w)) t
                JOIN evs USING (w)),
        per AS (SELECT eval_id, count(*) AS n_grams,
                       sum(CASE WHEN h.w IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
                FROM evg LEFT JOIN hit h USING (w) GROUP BY eval_id)
        SELECT e.doc_id AS eval_id,
               CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(per.n_hit, 0) AS BIGINT) AS n_hit,
               round(CASE WHEN coalesce(per.n_grams, 0) > 0
                          THEN CAST(per.n_hit AS DOUBLE) / per.n_grams
                          ELSE 0.0 END, 6) AS frac
        FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 0) e
        LEFT JOIN per ON e.doc_id = per.eval_id
        """,
        "bloom_decontaminate": _bloom_decon_oracle(),
        # bucket = bit length via length(bin(n)) — integer-exact;
        # floor(log2(double)) is one ulp from an off-by-one at 2^k
        "token_histogram": """
        WITH t AS (
          SELECT source AS grp,
                 length(bin(len(list_filter(string_split(coalesce(text, ''), ' '),
                                            w -> length(w) > 0)))) AS bucket,
                 len(list_filter(string_split(coalesce(text, ''), ' '),
                                 w -> length(w) > 0)) AS nt
          FROM documents
        )
        SELECT grp, bucket, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS tok_sum
        FROM t GROUP BY grp, bucket
        """,
        "lm_perplexity": """
        WITH toks AS (
          SELECT doc_id,
                 list_prepend('<s>', list_filter(string_split(text, ' '),
                                                 w -> length(w) > 0)) AS a
          FROM documents
        ),
        bg AS (
          SELECT doc_id, a[t.i] AS w1, a[t.i + 1] AS w2
          FROM toks, UNNEST(range(1, len(a))) AS t(i)
        ),
        refbg AS (SELECT * FROM bg WHERE doc_id % 10 = 0),
        bi  AS (SELECT w1, w2, count(*) AS c2 FROM refbg GROUP BY w1, w2),
        uni AS (SELECT w1, count(*) AS c1 FROM refbg GROUP BY w1),
        voc AS (SELECT count(DISTINCT w2) AS v FROM refbg),
        scored AS (
          SELECT bg.doc_id,
                 ln(coalesce(bi.c2, 0) + 1) - ln(coalesce(uni.c1, 0) + voc.v)
                   AS logp
          FROM bg LEFT JOIN bi USING (w1, w2)
                  LEFT JOIN uni USING (w1) CROSS JOIN voc
        ),
        agg AS (
          SELECT doc_id, count(*) AS n_tok, -avg(logp) AS ce
          FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(agg.n_tok, 0) AS BIGINT) AS n_tok,
               round(agg.ce, 6) AS ce,
               round(exp(agg.ce), 6) AS ppl
        FROM documents d LEFT JOIN agg USING (doc_id)
        """,
        # Greedy BPE replay: one leftmost lowest-rank merge per recursion
        # step (== the batch merge; see q_token_count_bpe docstring).  The
        # RE2 pretokenizer ' ?[a-z]+' is the exact twin of functions.bpe.
        # PRETOKEN_RE on this corpus (lowercase words, single spaces —
        # contraction/digit/symbol/lookahead branches can never fire).
        "token_count_bpe": f"""
        WITH RECURSIVE
        pts AS (
          SELECT d.doc_id, t.i AS pt_id,
                 regexp_extract_all(
                   replace(regexp_extract_all(d.text, ' ?[a-z]+')[t.i],
                           ' ', 'Ġ'), '.') AS syms
          FROM documents d,
               UNNEST(range(1, len(regexp_extract_all(d.text, ' ?[a-z]+')) + 1))
                 AS t(i)
        ),
        enc AS (
          SELECT doc_id, pt_id, syms FROM pts
          UNION ALL
          SELECT doc_id, pt_id,
                 syms[1:bp-1] || [syms[bp] || syms[bp+1]] || syms[bp+2:] AS syms
          FROM (
            SELECT doc_id, pt_id, syms,
                   list_position(prs, list_min(list_filter(prs, p -> p > 0))) AS bp
            FROM (
              SELECT doc_id, pt_id, syms,
                     [coalesce(list_position({_BPE_MS_LIT},
                                             syms[i] || ' ' || syms[i + 1]), 0)
                      FOR i IN range(1, len(syms))] AS prs
              FROM enc
            )
          )
          WHERE bp IS NOT NULL
        ),
        counts AS (
          SELECT doc_id, pt_id, min(len(syms)) AS ntok
          FROM enc GROUP BY doc_id, pt_id
        ),
        agg AS (
          SELECT doc_id, sum(ntok) AS n_bpe FROM counts GROUP BY doc_id
        )
        SELECT d.doc_id, CAST(coalesce(a.n_bpe, 0) AS BIGINT) AS n_bpe
        FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "lang_id": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> length(w) > 0) AS toks
          FROM documents
        )
        SELECT doc_id,
               round(len(list_filter(toks, w -> w IN ('the','and','of','a'))) * 1.0
                     / greatest(len(toks), 1), 6) AS en_score,
               round(len(list_filter(toks, w -> w IN ('el','la','de','y'))) * 1.0
                     / greatest(len(toks), 1), 6) AS es_score,
               CASE WHEN len(list_filter(toks, w -> w IN ('the','and','of','a')))
                         >= len(list_filter(toks, w -> w IN ('el','la','de','y')))
                    THEN 'en' ELSE 'es' END AS lang_guess
        FROM t
        """,
        "doc_fingerprint": """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> length(w) > 0) AS toks
          FROM documents
        )
        SELECT doc_id,
               CAST(list_sum(list_transform(toks,
                    (w, i) -> (i * ((length(w) * 131 + ascii(w)) % 1000000007)) % 1000000007))
                    % 1000000007 AS BIGINT) AS fingerprint
        FROM t
        """,
        "multimodal_bytes": """
        SELECT doc_id,
               octet_length(encode(text)) AS payload_bytes,
               length(text) AS n_chars_q
        FROM documents
        """,
        # media table mapping mirrors functions/multimodal.py
        # media_from_documents (kind by doc_id mod 3, dims by pmod)
        "multimodal_resize": """
        WITH media AS (
          SELECT doc_id AS media_id,
                 (doc_id * 7) % 1920 AS width,
                 (doc_id * 13) % 1080 AS height
          FROM documents
          WHERE doc_id % 3 = 0
        ),
        g AS (
          SELECT media_id, width, height,
                 CAST(greatest(width, 1) AS DOUBLE) AS w,
                 CAST(greatest(height, 1) AS DOUBLE) AS h
          FROM media
        ),
        s AS (
          SELECT media_id, width, height, w, h,
                 least(256.0 / w, 256.0 / h, 1.0) AS sc
          FROM g
        )
        SELECT media_id,
               CAST(width AS INTEGER) AS width,
               CAST(height AS INTEGER) AS height,
               CAST(greatest(floor(w * sc), 1) AS INTEGER) AS out_w,
               CAST(greatest(floor(h * sc), 1) AS INTEGER) AS out_h,
               round(sc, 6) AS scale
        FROM s
        """,
        "pit_row_features": _EVENTS_CTE
        + """
        , d AS (
          SELECT *, tsec - lag(tsec, 1) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS gap
          FROM ev
        )
        SELECT user_id, event_id,
               round(gap, 6) AS delta_prev,
               CAST(sum(CASE WHEN gap > 3600.0 THEN 1 ELSE 0 END) OVER wc AS BIGINT) AS session_id,
               round(sum(value) OVER wc, 6) AS cum_value,
               row_number() OVER w AS turn_rank,
               round(avg(value) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS roll_avg_10,
               CAST(sum(CASE WHEN dir = 1 THEN 1 ELSE 0 END) OVER wc AS BIGINT) AS cum_out,
               round(last_value(CASE WHEN event_type = 'signup' THEN tsec END IGNORE NULLS)
                     OVER wc, 6) AS last_signup_tsec
        FROM d WINDOW
          w AS (PARTITION BY user_id ORDER BY tsec, event_id),
          wc AS (PARTITION BY user_id ORDER BY tsec, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        # Oracle is the PLAIN-WINDOW formulation: the engine's blocked
        # split-and-remerge must be value-invisible (north rule).
        "pit_blocked": _EVENTS_CTE
        + """
        , m AS (
          SELECT user_id AS conv_id,
                 row_number() OVER (PARTITION BY user_id ORDER BY tsec, event_id) - 1 AS turn_idx,
                 tsec AS ts_sec,
                 CASE WHEN dir = 1 THEN 'user' ELSE 'assistant' END AS role,
                 CASE WHEN event_type = 'signup' THEN 'signup' END AS tool,
                 dir,
                 CAST(floor(value) AS INTEGER) AS n_chars
          FROM ev
        ),
        d AS (
          SELECT *,
                 ts_sec - lag(ts_sec, 1) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap,
                 ts_sec - lag(ts_sec, 1) OVER (PARTITION BY conv_id, role ORDER BY turn_idx) AS gap_role
          FROM m
        )
        SELECT conv_id, turn_idx,
               round(gap, 6) AS delta_prev,
               round(gap_role, 6) AS delta_prev_same_role,
               CAST(sum(CASE WHEN gap > 3600.0 THEN 1 ELSE 0 END) OVER wc AS BIGINT) AS session_id,
               CAST(sum(n_chars) OVER wc AS BIGINT) AS cum_n_chars,
               row_number() OVER w AS turn_rank,
               round(avg(n_chars) OVER (PARTITION BY conv_id ORDER BY turn_idx
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6) AS roll_avg_10,
               CAST(sum(CASE WHEN dir = 1 THEN 1 ELSE 0 END) OVER wc AS BIGINT) AS cum_user_turns,
               last_value(tool IGNORE NULLS) OVER wc AS last_tool,
               round(last_value(CASE WHEN tool IS NOT NULL THEN ts_sec END IGNORE NULLS)
                     OVER wc, 6) AS last_tool_ts
        FROM d WINDOW
          w AS (PARTITION BY conv_id ORDER BY turn_idx),
          wc AS (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "asof_global": _EVENTS_CTE
        + """
        , s AS (SELECT tsec AS t, value AS v FROM ev WHERE event_type = 'signup'),
        l AS (SELECT event_id, tsec AS t FROM ev)
        SELECT l.event_id, round(s.v, 6) AS v_asof
        FROM l ASOF LEFT JOIN s ON l.t >= s.t
        """,
        "salted_stats": _EVENTS_CTE
        + """
        SELECT user_id, count(value) AS n,
               round(sum(value), 6) AS sum_value,
               round(min(value), 6) AS min_value,
               round(max(value), 6) AS max_value,
               round(round(sum(value), 6) / count(value), 6) AS avg_value,
               round(stddev_pop(value), 6) AS std_value
        FROM ev GROUP BY user_id
        """,
        "dedup_survivors": """
        SELECT min(doc_id) AS doc_id, count(*) AS copies
        FROM documents GROUP BY text
        """,
        "rollup_counts": _EVENTS_CTE
        + """
        SELECT coalesce(event_type, 'ALL') AS event_type,
               coalesce(CAST(dir AS VARCHAR), 'ALL') AS dir_s,
               count(*) AS n, round(sum(value), 6) AS sum_value
        FROM ev GROUP BY ROLLUP (event_type, dir)
        """,
        "pivot_counts": _EVENTS_CTE
        + """
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click') AS n_click,
               count(*) FILTER (WHERE event_type = 'error') AS n_error,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
               count(*) FILTER (WHERE event_type = 'view') AS n_view
        FROM ev GROUP BY user_id
        """,
        "embedding_quantize": """
        WITH q AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding,
                          v -> abs(CAST(v AS DOUBLE)))) AS mx
          FROM embeddings
        ),
        t AS (
          SELECT vec_id, round(mx / 127.0, 6) AS scale,
                 CASE WHEN mx > 0
                      THEN list_transform(embedding,
                           v -> CAST(round(CAST(v AS DOUBLE) / (mx / 127.0))
                                     AS INTEGER))
                      ELSE list_transform(embedding, v -> 0) END AS qv
          FROM q
        )
        SELECT vec_id, scale, pos, qv[pos + 1] AS q
        FROM t, UNNEST(range(0, len(qv))) AS r(pos)
        """,
        "profile_events": _EVENTS_CTE + """
        SELECT 'value' AS col, count(*) AS n,
               count(*) - count(value) AS n_null,
               count(DISTINCT value) AS n_distinct,
               round(CAST(min(value) AS DOUBLE), 6) AS vmin,
               round(CAST(max(value) AS DOUBLE), 6) AS vmax,
               round(avg(value), 6) AS mean,
               round(quantile_cont(value, 0.25), 6) AS p25,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.75), 6) AS p75
        FROM ev
        UNION ALL
        SELECT 'dir', count(*), count(*) - count(dir),
               count(DISTINCT dir),
               round(CAST(min(dir) AS DOUBLE), 6),
               round(CAST(max(dir) AS DOUBLE), 6),
               round(avg(dir), 6),
               round(quantile_cont(dir, 0.25), 6),
               round(quantile_cont(dir, 0.5), 6),
               round(quantile_cont(dir, 0.75), 6)
        FROM ev
        """,
        "doc_winnow": _winnow_cte() + """
        SELECT doc_id, fp FROM wn, UNNEST(fps) AS t(fp)
        """,
        "winnow_pairs": _winnow_cte() + """
        , fpp AS (SELECT doc_id, fp FROM wn, UNNEST(fps) AS t(fp)),
        capped AS (SELECT *, count(*) OVER (PARTITION BY fp) AS _pn FROM fpp),
        ok AS (SELECT doc_id, fp FROM capped WHERE _pn <= 5000)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM ok a JOIN ok b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        "hash_split": _hash_split_oracle(),
        "shuffle_shards": f"""
        WITH h AS (SELECT doc_id, {_id_hash_sql('doc_id', seed=3, op=4)} AS hh
                   FROM documents)
        SELECT doc_id, CAST(hh % 8 AS INTEGER) AS shard,
               CAST(row_number() OVER (PARTITION BY hh % 8
                                       ORDER BY hh, doc_id) AS BIGINT)
               AS shard_pos
        FROM h
        """,
        "sample_per_group": f"""
        WITH h AS (SELECT lang, doc_id, {_id_hash_sql('doc_id', seed=3, op=1)} AS hh
                   FROM documents),
        r AS (SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rk
              FROM h)
        SELECT lang, doc_id FROM r WHERE rk <= 5
        """,
        # largest-remainder allocation in pure integer arithmetic
        # (num // T, num % T — sum(BIGINT) is HUGEINT in DuckDB, values
        # identical), then the same OP_STRAT hash order within strata
        "sample_stratified": f"""
        WITH c AS (SELECT lang AS g, count(*) AS c FROM documents GROUP BY 1),
        t AS (SELECT sum(c) AS tt FROM c),
        a AS (SELECT g, c, (77 * c) // tt AS base, (77 * c) % tt AS rem
              FROM c, t),
        d AS (SELECT 77 - sum(base) AS deficit FROM a),
        r AS (SELECT g, base + (CASE WHEN row_number()
                                          OVER (ORDER BY rem DESC, g)
                                     <= (SELECT deficit FROM d)
                                THEN 1 ELSE 0 END) AS alloc
              FROM a),
        h AS (SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY {_id_hash_sql('doc_id', seed=5, op=6)},
                                                 doc_id) AS rk
              FROM documents)
        SELECT h.lang, h.doc_id FROM h JOIN r ON h.lang = r.g
        WHERE h.rk <= r.alloc
        """,
        "epoch_schedule": _epoch_schedule_oracle(),
        "ngram_novelty": f"""
        WITH di AS (
          SELECT doc_id, {_INJECT_LINES_SQL} AS text FROM documents
        ),
        toks AS (
          -- regex split matches the Spark side's \\s+ (newlines/tabs
          -- are separators, not token bytes) — a plain single-space
          -- split silently diverges on any multi-line text
          SELECT doc_id,
                 list_filter(string_split_regex(coalesce(text, ''), '\\s+'),
                             w -> length(w) > 0) AS a
          FROM di
        ),
        dg AS (
          SELECT DISTINCT doc_id,
                 {_word_hash_sql("array_to_string(a[t.i:t.i+7], ' ')")} AS h
          FROM toks, UNNEST(range(1, len(a) - 8 + 2)) AS t(i)
          WHERE len(a) >= 8
        ),
        tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id),
        fst AS (SELECT h, min(doc_id) AS first_doc FROM dg GROUP BY h),
        nn AS (SELECT first_doc AS doc_id, count(*) AS n_novel
               FROM fst GROUP BY first_doc)
        SELECT d.doc_id,
               CAST(coalesce(tot.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(nn.n_novel, 0) AS BIGINT) AS n_novel,
               round(CASE WHEN coalesce(tot.n_grams, 0) > 0
                          THEN CAST(coalesce(nn.n_novel, 0) AS DOUBLE)
                               / tot.n_grams
                          ELSE 0.0 END, 6) AS novelty
        FROM documents d
        LEFT JOIN tot USING (doc_id) LEFT JOIN nn USING (doc_id)
        """,
        "curriculum_order": f"""
        WITH r AS (
          SELECT doc_id, CAST(n_chars AS DOUBLE) AS n_chars,
                 row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE), doc_id)
                   AS rank,
                 ntile(4) OVER (ORDER BY CAST(n_chars AS DOUBLE), doc_id)
                   AS phase
          FROM documents
        )
        SELECT doc_id, n_chars, CAST(rank AS BIGINT) AS rank,
               CAST(phase AS INT) AS phase,
               CAST(rank - min(rank) OVER (PARTITION BY phase) + 1 AS BIGINT)
                 AS phase_pos,
               CAST({_id_hash_sql('doc_id', seed=3, op=8)} AS BIGINT)
                 AS order_key
        FROM r
        """,
        "robust_scale": """
        WITH s AS (
          SELECT quantile_cont(value, 0.5) AS med,
                 quantile_cont(value, 0.75) - quantile_cont(value, 0.25)
                   AS iqr
          FROM events
        )
        SELECT event_id, value,
               round((value - med) / (CASE WHEN iqr = 0 THEN 1.0
                                           ELSE iqr END), 6)
                 AS value_scaled
        FROM events, s
        """,
        "rrf_fuse": f"""
        WITH ra AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY n_chars, doc_id) AS rank
          FROM documents QUALIFY rank <= 100
        ),
        rb AS (
          SELECT doc_id,
                 row_number() OVER (
                   ORDER BY {_id_hash_sql('doc_id', seed=9, op=8)}, doc_id
                 ) AS rank
          FROM documents QUALIFY rank <= 100
        ),
        u AS (
          SELECT doc_id, 1.0 / (60 + rank) AS c FROM ra
          UNION ALL
          SELECT doc_id, 1.0 / (60 + rank) AS c FROM rb
        )
        SELECT doc_id, round(sum(c), 6) AS rrf_score
        FROM u GROUP BY doc_id
        ORDER BY rrf_score DESC, doc_id LIMIT 50
        """,
        "time_split_purged": """
        WITH b AS (
          SELECT min(epoch_us(ts) / 1e6) AS lo, max(epoch_us(ts) / 1e6) AS hi
          FROM events
        ),
        f AS (
          SELECT CAST(t.k AS INT) AS fold,
                 lo + t.k * (hi - lo) / 3 AS f_lo,
                 CASE WHEN t.k = 2 THEN hi + 1.0
                      ELSE lo + (t.k + 1) * (hi - lo) / 3 END AS f_hi
          FROM b, UNNEST(range(0, 3)) AS t(k)
        )
        SELECT f.fold,
               CASE WHEN epoch_us(e.ts) / 1e6 >= f.f_lo
                     AND epoch_us(e.ts) / 1e6 < f.f_hi THEN 'test'
                    WHEN epoch_us(e.ts) / 1e6 < f.f_lo - 7200.0
                      OR epoch_us(e.ts) / 1e6 >= f.f_hi + 7200.0 THEN 'train'
                    ELSE 'purged' END AS role,
               e.event_id
        FROM events e CROSS JOIN f
        """,
        "psi_drift": """
        WITH m AS (
          SELECT (min(epoch_us(ts) / 1e6) + max(epoch_us(ts) / 1e6)) / 2
                   AS mid
          FROM events
        ),
        ref AS (SELECT value FROM events, m
                WHERE epoch_us(ts) / 1e6 < mid AND value IS NOT NULL),
        cur AS (SELECT value FROM events, m
                WHERE epoch_us(ts) / 1e6 >= mid AND value IS NOT NULL),
        b AS (SELECT min(value) AS lo,
                     (max(value) - min(value)) / 8 AS w FROM ref),
        rb AS (
          SELECT CAST(least(greatest(floor((value - lo) / w), 0), 7) AS INT)
                   AS bucket, count(*) AS n_ref
          FROM ref, b GROUP BY 1
        ),
        cb AS (
          SELECT CAST(least(greatest(floor((value - lo) / w), 0), 7) AS INT)
                   AS bucket, count(*) AS n_cur
          FROM cur, b GROUP BY 1
        ),
        j AS (
          SELECT coalesce(rb.bucket, cb.bucket) AS bucket,
                 coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
          FROM rb FULL OUTER JOIN cb USING (bucket)
        ),
        p AS (
          SELECT bucket, n_ref, n_cur,
                 greatest(CAST(n_ref AS DOUBLE) / sum(n_ref) OVER (), 1e-6)
                   AS p_ref,
                 greatest(CAST(n_cur AS DOUBLE) / sum(n_cur) OVER (), 1e-6)
                   AS p_cur
          FROM j
        )
        SELECT bucket,
               round(lo + bucket * w, 6) AS b_lo,
               round(lo + (bucket + 1) * w, 6) AS b_hi,
               CAST(n_ref AS BIGINT) AS n_ref,
               CAST(n_cur AS BIGINT) AS n_cur,
               round(p_ref, 6) AS p_ref,
               round(p_cur, 6) AS p_cur,
               round((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi
        FROM p, b
        """,
        "mix_corpus": f"""
        WITH c AS (
          SELECT lang, CAST(count(*) AS DOUBLE) AS n,
                 CASE lang WHEN 'en' THEN 5.0 WHEN 'zh' THEN 2.0
                           WHEN 'de' THEN 1.0 END AS wt
          FROM documents GROUP BY lang
        ),
        r AS (
          SELECT lang, wt * sum(n) OVER () / n AS ratio
          FROM c WHERE wt IS NOT NULL
        ),
        k AS (SELECT lang, ratio / max(ratio) OVER () AS keep FROM r)
        SELECT d.lang, d.doc_id
        FROM documents d JOIN k USING (lang)
        WHERE CAST({_id_hash_sql('d.doc_id', seed=5, op=3)} AS DOUBLE)
              < k.keep * 1000000007.0
        """,
        "gopher_quality": rf"""
        WITH d AS (SELECT doc_id, {_INJECT_LINES_SQL} AS txt0 FROM documents),
        t AS (
          SELECT doc_id,
                 txt0 AS txt,
                 list_filter(regexp_split_to_array(txt0, '\s+'),
                             w -> length(w) > 0) AS toks,
                 list_filter(string_split(txt0, chr(10)),
                             l -> length(l) > 0) AS lns
          FROM d
        ),
        m AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 round(coalesce(list_sum(list_transform(toks, w -> length(w))), 0)
                       / greatest(len(toks), 1) * 1.0, 6) AS mean_word_len,
                 round(((length(txt) - length(replace(txt, '#', '')))
                        + (length(txt) - length(replace(txt, '...', ''))) / 3.0)
                       / greatest(len(toks), 1), 6) AS symbol_word_ratio,
                 round(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
                       * 1.0 / greatest(len(toks), 1), 6) AS alpha_word_ratio,
                 CAST(list_contains(toks, 'the')::INT + list_contains(toks, 'be')::INT
                    + list_contains(toks, 'to')::INT + list_contains(toks, 'of')::INT
                    + list_contains(toks, 'and')::INT + list_contains(toks, 'that')::INT
                    + list_contains(toks, 'have')::INT + list_contains(toks, 'with')::INT
                      AS BIGINT) AS stop_hits,
                 round(len(list_filter(lns, l -> starts_with(l, '-')
                                            OR starts_with(l, '*')
                                            OR starts_with(l, '•')))
                       * 1.0 / greatest(len(lns), 1), 6) AS bullet_line_ratio,
                 round(len(list_filter(lns, l -> ends_with(l, '...')
                                            OR ends_with(l, '…')))
                       * 1.0 / greatest(len(lns), 1), 6) AS ellipsis_line_ratio
          FROM t
        )
        SELECT *,
               (n_words >= 50 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_word_ratio <= 0.1
                AND alpha_word_ratio >= 0.8
                AND stop_hits >= 2
                AND bullet_line_ratio <= 0.9
                AND ellipsis_line_ratio <= 0.3) AS passes_gopher
        FROM m
        """,
        "gopher_repetition": f"""
        WITH d AS (
          SELECT doc_id, {_INJECT_LINES_SQL} AS t FROM documents
        ),
        w AS (
          SELECT doc_id, t,
                 list_filter(regexp_split_to_array(t, '\\s+'),
                             x -> length(x) > 0) AS words,
                 list_filter(string_split(t, chr(10)),
                             l -> length(l) > 0) AS lns,
                 list_filter(string_split(t, chr(10)||chr(10)),
                             p -> length(trim(p)) > 0) AS paras
          FROM d
        ),
        base AS (
          SELECT doc_id, length(t) AS n_chars, len(words) AS n_words,
                 round((len(lns) - len(list_distinct(lns)))
                       / greatest(len(lns), 1), 6) AS dup_line_frac,
                 round((coalesce(list_sum(list_transform(lns, x -> length(x))), 0)
                        - coalesce(list_sum(list_transform(list_distinct(lns),
                                                           x -> length(x))), 0))
                       / greatest(coalesce(list_sum(list_transform(lns,
                                                    x -> length(x))), 0), 1),
                       6) AS dup_line_char_frac,
                 round((len(paras) - len(list_distinct(paras)))
                       / greatest(len(paras), 1), 6) AS dup_para_frac,
                 round((coalesce(list_sum(list_transform(paras, x -> length(x))), 0)
                        - coalesce(list_sum(list_transform(list_distinct(paras),
                                                           x -> length(x))), 0))
                       / greatest(coalesce(list_sum(list_transform(paras,
                                                    x -> length(x))), 0), 1),
                       6) AS dup_para_char_frac
          FROM w
        ),
        ns AS (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n),
        g AS (
          SELECT w.doc_id, ns.n,
                 array_to_string(list_slice(w.words, t.i, t.i + ns.n - 1),
                                 ' ') AS gram
          FROM w, ns, UNNEST(range(1, len(w.words) - ns.n + 2)) AS t(i)
        ),
        c AS (SELECT doc_id, n, gram, count(*) AS c, length(gram) AS glen
              FROM g GROUP BY doc_id, n, gram),
        ranked AS (
          SELECT doc_id, n, c * glen AS cov,
                 row_number() OVER (PARTITION BY doc_id, n
                                    ORDER BY c DESC, c * glen DESC) AS rk
          FROM c),
        dupn AS (SELECT doc_id, n,
                        sum(CASE WHEN c >= 2 THEN c * glen ELSE 0 END) AS dupcov
                 FROM c GROUP BY doc_id, n),
        pern AS (
          SELECT t.doc_id, t.n,
                 round(least(CAST(1.0 AS DOUBLE),
                             t.cov / greatest(b.n_chars, 1)), 6) AS top_frac,
                 round(least(CAST(1.0 AS DOUBLE),
                             dd.dupcov / greatest(b.n_chars, 1)), 6) AS dup_frac
          FROM ranked t JOIN dupn dd USING (doc_id, n)
               JOIN base b USING (doc_id)
          WHERE t.rk = 1),
        sig AS (
          SELECT doc_id,
                 max(CASE WHEN n=2 THEN top_frac END) AS top_2gram_char_frac,
                 max(CASE WHEN n=3 THEN top_frac END) AS top_3gram_char_frac,
                 max(CASE WHEN n=4 THEN top_frac END) AS top_4gram_char_frac,
                 max(CASE WHEN n=5 THEN dup_frac END) AS dup_5gram_char_frac,
                 max(CASE WHEN n=6 THEN dup_frac END) AS dup_6gram_char_frac,
                 max(CASE WHEN n=7 THEN dup_frac END) AS dup_7gram_char_frac,
                 max(CASE WHEN n=8 THEN dup_frac END) AS dup_8gram_char_frac,
                 max(CASE WHEN n=9 THEN dup_frac END) AS dup_9gram_char_frac,
                 max(CASE WHEN n=10 THEN dup_frac END) AS dup_10gram_char_frac
          FROM pern GROUP BY doc_id)
        SELECT b.doc_id, b.n_chars, b.n_words,
               b.dup_line_frac, b.dup_line_char_frac,
               b.dup_para_frac, b.dup_para_char_frac,
               coalesce(s.top_2gram_char_frac, 0.0) AS top_2gram_char_frac,
               coalesce(s.top_3gram_char_frac, 0.0) AS top_3gram_char_frac,
               coalesce(s.top_4gram_char_frac, 0.0) AS top_4gram_char_frac,
               coalesce(s.dup_5gram_char_frac, 0.0) AS dup_5gram_char_frac,
               coalesce(s.dup_6gram_char_frac, 0.0) AS dup_6gram_char_frac,
               coalesce(s.dup_7gram_char_frac, 0.0) AS dup_7gram_char_frac,
               coalesce(s.dup_8gram_char_frac, 0.0) AS dup_8gram_char_frac,
               coalesce(s.dup_9gram_char_frac, 0.0) AS dup_9gram_char_frac,
               coalesce(s.dup_10gram_char_frac, 0.0) AS dup_10gram_char_frac,
               (b.dup_line_frac <= 0.30 AND b.dup_line_char_frac <= 0.20
                AND b.dup_para_frac <= 0.30 AND b.dup_para_char_frac <= 0.20
                AND coalesce(s.top_2gram_char_frac, 0.0) <= 0.20
                AND coalesce(s.top_3gram_char_frac, 0.0) <= 0.18
                AND coalesce(s.top_4gram_char_frac, 0.0) <= 0.16
                AND coalesce(s.dup_5gram_char_frac, 0.0) <= 0.15
                AND coalesce(s.dup_6gram_char_frac, 0.0) <= 0.14
                AND coalesce(s.dup_7gram_char_frac, 0.0) <= 0.13
                AND coalesce(s.dup_8gram_char_frac, 0.0) <= 0.12
                AND coalesce(s.dup_9gram_char_frac, 0.0) <= 0.11
                AND coalesce(s.dup_10gram_char_frac, 0.0) <= 0.10
                ) AS passes_repetition
        FROM base b LEFT JOIN sig s USING (doc_id)
        """,
        "clean_lines": f"""
        WITH d AS (SELECT doc_id, {_INJECT_LINES_SQL} AS t FROM documents),
        w AS (SELECT doc_id,
                     list_filter(list_transform(string_split(t, chr(10)),
                                                x -> trim(x)),
                                 l -> length(l) > 0) AS lns,
                     t
              FROM d),
        k AS (SELECT doc_id, lns,
                     list_filter(lns, l ->
                         len(list_filter(regexp_split_to_array(l, '\\s+'),
                                         x -> length(x) > 0)) >= 4
                         AND NOT contains(lower(l), 'slow')) AS kept,
                     contains(lower(t), 'merge batch') AS doc_blocked
              FROM w)
        SELECT doc_id,
               coalesce(array_to_string(kept, chr(10)), '') AS text,
               len(lns) AS n_lines_in,
               len(kept) AS n_lines_kept,
               doc_blocked,
               (NOT doc_blocked AND len(kept) >= 1) AS keep
        FROM k
        """,
        "dedup_lines": f"""
        WITH d AS (SELECT doc_id, {_INJECT_LINES_SQL} AS t FROM documents),
        w AS (SELECT doc_id,
                     list_filter(string_split(t, chr(10)),
                                 l -> length(l) > 0) AS lns
              FROM d),
        l AS (SELECT doc_id, t.i - 1 AS pos, lns[t.i] AS line
              FROM w, UNNEST(range(1, len(lns) + 1)) AS t(i)),
        r AS (SELECT doc_id, pos, line,
                     row_number() OVER (PARTITION BY line
                                        ORDER BY doc_id, pos) AS rn
              FROM l),
        k AS (SELECT doc_id, pos, line FROM r WHERE rn = 1),
        re AS (SELECT doc_id,
                      string_agg(line, chr(10) ORDER BY pos) AS text,
                      count(*) AS n_lines_kept
               FROM k GROUP BY doc_id)
        SELECT w.doc_id, coalesce(re.text, '') AS text,
               len(w.lns) AS n_lines,
               coalesce(re.n_lines_kept, 0) AS n_lines_kept
        FROM w LEFT JOIN re ON w.doc_id = re.doc_id
        """,
        "chunk_docs": """
        WITH w AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(coalesce(text, ''),
                                                            '\\s+'),
                                      x -> length(x) > 0) AS words
                   FROM documents),
        n AS (SELECT doc_id, words, len(words) AS nw,
                     CASE WHEN len(words) <= 40 THEN 1
                          ELSE CAST(floor((len(words) - 40 + 29) / 30.0)
                                    AS BIGINT) + 1
                     END AS n_chunks
              FROM w WHERE len(words) > 0)
        SELECT doc_id, t.k AS chunk_id,
               array_to_string(list_slice(words, t.k * 30 + 1,
                                          t.k * 30 + 40), ' ') AS text,
               least(40, nw - t.k * 30) AS n_words
        FROM n, UNNEST(range(0, n_chunks)) AS t(k)
        """,
        "dsir_weights": rf"""
        WITH rawd AS (SELECT doc_id, coalesce(text,'') AS t FROM documents),
        rtk AS (SELECT doc_id,
                       list_filter(regexp_split_to_array(t, '\s+'),
                                   x -> length(x)>0) AS toks
                FROM rawd),
        ttk AS (SELECT doc_id,
                       list_filter(regexp_split_to_array(coalesce(text,''),
                                                         '\s+'),
                                   x -> length(x)>0) AS toks
                FROM documents WHERE lang = 'en'),
        rg AS (SELECT doc_id, {_word_hash_sql('u.g')} % 512 AS bucket
               FROM rtk, UNNEST(list_concat({_strict_gram_sql('toks', 1)},
                                            {_strict_gram_sql('toks', 2)}))
                         AS u(g)),
        tg AS (SELECT doc_id, {_word_hash_sql('u.g')} % 512 AS bucket
               FROM ttk, UNNEST(list_concat({_strict_gram_sql('toks', 1)},
                                            {_strict_gram_sql('toks', 2)}))
                         AS u(g)),
        cr AS (SELECT bucket, count(*) AS cr FROM rg GROUP BY bucket),
        ct AS (SELECT bucket, count(*) AS ct FROM tg GROUP BY bucket),
        tot AS (SELECT (SELECT coalesce(sum(cr),0) FROM cr) AS tr,
                       (SELECT coalesce(sum(ct),0) FROM ct) AS tt),
        sc AS (
          SELECT rg.doc_id, count(*) AS n_grams,
                 round(sum(ln(CAST(coalesce(ct.ct,0) + 1 AS DOUBLE))
                           - ln(CAST(coalesce(cr.cr,0) + 1 AS DOUBLE)))
                       + count(*) * (ln(CAST(tot.tr + 512 AS DOUBLE))
                                     - ln(CAST(tot.tt + 512 AS DOUBLE))),
                       6) AS log_importance
          FROM rg LEFT JOIN ct USING (bucket) LEFT JOIN cr USING (bucket), tot
          GROUP BY rg.doc_id, tot.tr, tot.tt)
        SELECT r.doc_id, CAST(coalesce(s.n_grams,0) AS BIGINT) AS n_grams,
               coalesce(s.log_importance, 0.0) AS log_importance
        FROM rawd r LEFT JOIN sc s USING (doc_id)
        """,
        "semantic_dedup": """
        WITH RECURSIVE e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        cent AS (
          SELECT vec_id AS cid, v AS cv,
                 row_number() OVER (ORDER BY vec_id) - 1 AS cell
          FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)
        ),
        a0 AS (
          SELECT e.vec_id, c.cell,
                 round(list_sum(list_transform(list_zip(e.v, c.cv), z -> z[1]*z[2]))
                       / (sqrt(list_sum(list_transform(e.v, x -> x*x)))
                          * sqrt(list_sum(list_transform(c.cv, x -> x*x)))), 6) AS cos_c
          FROM e CROSS JOIN cent c
        ),
        asg AS (
          SELECT vec_id, cell, cos_c AS cent_cos,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY cos_c DESC, cell ASC) AS pr
          FROM a0
        ),
        a1 AS (SELECT vec_id, cell, cent_cos FROM asg WHERE pr = 1),
        p AS (
          SELECT x.vec_id AS va, y.vec_id AS vb,
                 round(list_sum(list_transform(list_zip(ex.v, ey.v), z -> z[1]*z[2]))
                       / (sqrt(list_sum(list_transform(ex.v, x -> x*x)))
                          * sqrt(list_sum(list_transform(ey.v, x -> x*x)))), 6) AS cos
          FROM a1 x JOIN a1 y ON x.cell = y.cell AND x.vec_id < y.vec_id
          JOIN e ex ON ex.vec_id = x.vec_id
          JOIN e ey ON ey.vec_id = y.vec_id
        ),
        jp AS (SELECT va, vb FROM p WHERE cos >= 0.4),
        edges AS (SELECT va AS u, vb AS v FROM jp UNION SELECT vb, va FROM jp),
        reach(d, r) AS (
          SELECT vec_id, vec_id FROM e
          UNION
          SELECT reach.d, e2.v FROM reach JOIN edges e2 ON reach.r = e2.u
        ),
        cl AS (SELECT d AS vec_id, min(r) AS cluster_rep FROM reach GROUP BY d),
        lab AS (
          SELECT a1.vec_id, a1.cell, a1.cent_cos, cl.cluster_rep,
                 row_number() OVER (PARTITION BY cl.cluster_rep
                                    ORDER BY a1.cent_cos ASC, a1.vec_id ASC) AS rk
          FROM a1 JOIN cl USING (vec_id)
        )
        SELECT vec_id, cell, cent_cos, cluster_rep, (rk = 1) AS keep,
               false AS capped
        FROM lab
        """,
        "sample_weighted": f"""
        WITH h AS (SELECT lang, doc_id,
                          ln(({_id_hash_sql('doc_id', seed=7, op=2)} + 1)
                             / 1000000008.0)
                          / CAST(n_chars + 1 AS DOUBLE) AS key
                   FROM documents),
        r AS (SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rk
              FROM h)
        SELECT lang, doc_id FROM r WHERE rk <= 5
        """,
        "decontaminate": f"""
        WITH tr AS (SELECT doc_id,
                           list_filter(string_split(coalesce(text, ''), ' '),
                                       x -> length(x) > 0) AS toks
                    FROM documents WHERE doc_id % 20 <> 0),
        ev AS (SELECT list_filter(string_split(coalesce(text, ''), ' '),
                                  x -> length(x) > 0) AS toks
               FROM documents WHERE doc_id % 20 = 0),
        evs AS (SELECT DISTINCT w FROM ev,
                       UNNEST(list_distinct({_shingle_list_sql('toks', 8)})) AS t(w)),
        trs AS (SELECT doc_id, w FROM tr,
                       UNNEST(list_distinct({_shingle_list_sql('toks', 8)})) AS t(w)),
        hits AS (SELECT doc_id, count(*) AS n_hits
                 FROM trs JOIN evs USING (w) GROUP BY doc_id)
        SELECT t.doc_id, coalesce(h.n_hits, 0) AS n_hits,
               coalesce(h.n_hits, 0) > 0 AS contaminated
        FROM tr t LEFT JOIN hits h ON t.doc_id = h.doc_id
        """,
        "decontaminate_fuzzy": f"""
        WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0),
        ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
        {_band_cte_sql('tr', 't', 16, 8)},
        {_band_cte_sql('ev', 'e', 16, 8)},
        cand AS (SELECT DISTINCT t.doc_id AS doc_id, e.doc_id AS ev_id
                 FROM tbands t JOIN ebands e ON t.band = e.band AND t.sig = e.sig),
        tsets AS (SELECT doc_id,
                         list_filter(list_distinct(string_split(coalesce(text, ''), ' ')),
                                     w -> length(w) > 0) AS ws
                  FROM tr),
        esets AS (SELECT doc_id AS ev_id,
                         list_filter(list_distinct(string_split(coalesce(text, ''), ' ')),
                                     w -> length(w) > 0) AS ws
                  FROM ev),
        v AS (SELECT c.doc_id,
                     len(list_intersect(a.ws, b.ws)) AS ninter,
                     len(list_distinct(list_concat(a.ws, b.ws))) AS nunion
              FROM cand c JOIN tsets a USING (doc_id) JOIN esets b USING (ev_id)),
        hits AS (SELECT doc_id, count(*) AS n_matches,
                        round(max(CASE WHEN nunion > 0 THEN ninter * 1.0 / nunion
                                       ELSE 0.0 END), 6) AS max_jaccard
                 FROM v
                 WHERE CASE WHEN nunion > 0 THEN ninter * 1.0 / nunion ELSE 0.0 END >= 0.8
                 GROUP BY doc_id)
        SELECT t.doc_id, coalesce(h.n_matches, 0) AS n_matches,
               coalesce(h.max_jaccard, 0.0) AS max_jaccard,
               coalesce(h.n_matches, 0) > 0 AS contaminated
        FROM tr t LEFT JOIN hits h ON t.doc_id = h.doc_id
        """,
        "pii_scrub": _pii_scrub_oracle(),
        "curate_corpus": _curate_corpus_oracle(),
        # ln-term order mirrors collocations_pmi exactly (every ln arg
        # is an engine-computed integer count — bit-portable)
        "collocations_pmi": """
        WITH tk AS (
          SELECT list_filter(string_split(coalesce(text, ''), ' '),
                             x -> length(x) > 0) AS toks
          FROM documents
        ),
        uni AS (SELECT w, count(*) AS cx
                FROM tk, UNNEST(toks) AS u(w) GROUP BY w),
        bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
               FROM tk, UNNEST(range(1, len(toks))) AS r(i)),
        bgc AS (SELECT w1, w2, count(*) AS c_xy FROM bg GROUP BY 1, 2),
        tot AS (SELECT sum(cx) AS tt FROM uni),
        btot AS (SELECT sum(c_xy) AS bb FROM bgc)
        SELECT w1, w2, CAST(c_xy AS BIGINT) AS c_xy,
               round(ln(c_xy) + ln(tt) + ln(tt)
                     - ln(bb) - ln(u1.cx) - ln(u2.cx), 6) AS pmi
        FROM bgc
        JOIN uni u1 ON u1.w = bgc.w1
        JOIN uni u2 ON u2.w = bgc.w2
        CROSS JOIN tot CROSS JOIN btot
        WHERE c_xy >= 5
        ORDER BY pmi DESC, w1, w2
        LIMIT 50
        """,
        "top_ngrams": f"""
        WITH tk AS (
          SELECT doc_id,
                 list_filter(string_split(coalesce(text, ''), ' '),
                             x -> length(x) > 0) AS toks
          FROM documents
        ),
        g AS (SELECT doc_id, w FROM tk,
                     UNNEST({_shingle_list_sql('toks', 2)}) AS t(w)),
        c AS (SELECT w AS gram, count(*) AS n_occ,
                     count(DISTINCT doc_id) AS n_docs
              FROM g GROUP BY w)
        SELECT gram, n_occ, n_docs FROM c
        WHERE n_occ >= 2
        ORDER BY n_occ DESC, gram ASC LIMIT 50
        """,
        "corpus_report": """
        WITH t AS (
          SELECT source, text,
                 list_filter(string_split(text, ' '), w -> length(w) > 0) AS toks
          FROM documents
        ),
        q AS (
          SELECT source, text, len(toks) AS nt, length(text) AS nc,
                 round(CAST((CASE WHEN length(text) >= 50 AND length(text) <= 4000
                                  THEN 1.0 ELSE 0.3 END
                      + CASE WHEN swr > 0.02 AND swr < 0.5 THEN 1.0 ELSE 0.5 END
                      + CASE WHEN ltr < 0.5 THEN 1.0 ELSE 0.4 END) AS DOUBLE) / 3.0,
                       6) AS qs
          FROM (SELECT source, text, toks,
                       len(list_filter(toks, w -> w IN ('the','a','and','of','to','in')))
                         * 1.0 / greatest(len(toks), 1) AS swr,
                       len(list_filter(toks, w -> length(w) >= 8))
                         * 1.0 / greatest(len(toks), 1) AS ltr
                FROM t)
        )
        SELECT source AS grp, count(*) AS n_docs,
               count(DISTINCT text) AS n_distinct,
               round(1.0 - count(DISTINCT text) * 1.0 / count(*), 6) AS dup_rate,
               round(avg(qs), 6) AS avg_quality,
               round(avg(nt), 6) AS avg_tokens,
               CAST(sum(nc) AS BIGINT) AS total_chars
        FROM q GROUP BY source
        """,
        "pack_sequences": f"""
        WITH RECURSIVE base AS (
          SELECT CAST(({_id_hash_sql('doc_id', seed=1, op=5)}) % 8 AS INTEGER) AS shard,
                 doc_id,
                 CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
                                      x -> length(x) > 0)) AS BIGINT) AS n_tok
          FROM documents),
        ordered AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
                    FROM base),
        walk AS (
          SELECT shard, rn, doc_id, n_tok, CAST(0 AS BIGINT) AS bin_id, n_tok AS bin_fill
          FROM ordered WHERE rn = 1
          UNION ALL
          SELECT o.shard, o.rn, o.doc_id, o.n_tok,
                 CASE WHEN w.bin_fill + o.n_tok <= 512 THEN w.bin_id ELSE w.bin_id + 1 END,
                 CASE WHEN w.bin_fill + o.n_tok <= 512 THEN w.bin_fill + o.n_tok ELSE o.n_tok END
          FROM walk w JOIN ordered o ON o.shard = w.shard AND o.rn = w.rn + 1)
        SELECT shard, doc_id, n_tok, bin_id, bin_fill FROM walk
        """,
    }
