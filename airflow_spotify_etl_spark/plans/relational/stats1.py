"""Mechanically split from plans/relational.py (round 9) — segment contents are verbatim; see package __init__."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ...operators.joins import asof_join
from ...operators.quality import quality_report
from ...session import local_frame
from ...sources.files import load_table
from ._shared import (
    _LOGRANK_CORE,
    _SURVIVAL_RISK_DUCK,
    _SURVIVAL_RISK_SPARK,
    _dec,
    _floor_scaled_div,
    _pois1_weight,
    _t,
)


def q12_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's validation suite F1-F4 (spotify_etl2.py:42-86) fused
    into ONE aggregation pass — see operators/quality.py."""
    ev = _t(spark, sf_dir, "events")
    return quality_report(
        ev, key_col="event_id", ts_col="ts", freshness_days=7
    )


_Q12_SQL = """
SELECT count(*)                                        AS n_rows,
       CAST(count(*) = 0 AS BOOLEAN)                   AS is_empty,
       count(DISTINCT event_id)                        AS n_distinct_keys,
       CAST(count(*) = count(DISTINCT event_id) AS BOOLEAN) AS pk_unique,
       count(*) FILTER (WHERE event_id IS NULL)        AS nulls_event_id,
       count(*) FILTER (WHERE ts IS NULL)              AS nulls_ts,
       count(*) FILTER (WHERE user_id IS NULL)         AS nulls_user_id,
       count(*) FILTER (WHERE event_type IS NULL)      AS nulls_event_type,
       count(*) FILTER (WHERE value IS NULL)           AS nulls_value,
       count(*) FILTER (WHERE props IS NULL)           AS nulls_props,
       count(*) FILTER (WHERE ts < (SELECT max(ts) - INTERVAL 7 DAY FROM events))
                                                       AS n_late_rows
FROM events
"""


def q41_value_percentiles(
    spark: SparkSession, sf_dir: str, approx: bool = False, accuracy: int = 10000
) -> DataFrame:
    """Percentiles per group (§2.4 statistical extension): median / p90 /
    p99 of event value by type.

    Two modes behind one surface:
    - exact (default, oracle-checked): Spark's ``percentile`` — sort-based,
      buffers each group's values; matches DuckDB's ``quantile_cont``
      bit-for-bit after rounding. The plan you want when groups fit in
      memory (few event types × bounded values here).
    - ``approx=True`` (THE 100 TB plan): ``percentile_approx`` — a bounded
      ~KB sketch per group, single pass, mergeable map-side like any
      partial aggregate, so a group's memory no longer grows with its row
      count. Error ≤ 1/accuracy relative rank; tolerance vs the exact form
      is pinned in tests/test_functions.py (no oracle — DuckDB's
      approx_quantile is a different sketch)."""
    ev = _t(spark, sf_dir, "events")
    if approx:
        pct = [
            F.round(
                F.percentile_approx("value", q, accuracy), 2
            ).alias(f"p{int(q * 100)}")
            for q in (0.5, 0.9, 0.99)
        ]
    else:
        pct = [
            F.round(F.expr(f"percentile(value, {q})"), 2).alias(f"p{int(q * 100)}")
            for q in (0.5, 0.9, 0.99)
        ]
    return (
        ev.groupBy("event_type")
        .agg(*pct, F.round(F.stddev_samp("value"), 2).alias("value_stddev"))
        .orderBy("event_type")
    )


_Q41_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 2)  AS p50,
       round(quantile_cont(value, 0.9), 2)  AS p90,
       round(quantile_cont(value, 0.99), 2) AS p99,
       round(stddev_samp(value), 2)         AS value_stddev
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q67_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 3σ outlier scan in EXACT integer arithmetic. The naive form
    |x − mean| > 3·stddev computes mean/stddev as doubles whose last ulp
    depends on aggregation order — boundary rows flip between engines and
    runs. Instead both sides of the inequality are cleared of divisions:

        (n−1)·(n·x − S)² > 9·n·(n·SSQ − S²)

    with x in integer cents (values carry exactly 2 decimals), S = Σx,
    SSQ = Σx². All terms are exact DECIMAL(38,0) integers (magnitudes
    ≤ ~1e18), so the flag is bit-deterministic on any engine and any
    partitioning. Plan: one grouped agg (5 rows) broadcast back over the
    scan — no second full shuffle."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("decimal(38,0)")
    evc = ev.select("event_id", "event_type", "value", cents.alias("cv"))
    stats = evc.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("cv").alias("sv"),
        F.sum(F.col("cv") * F.col("cv")).alias("ssq"),
    )
    dev = F.col("n") * F.col("cv") - F.col("sv")
    return (
        evc.join(F.broadcast(stats), "event_type")
        .filter(
            (F.col("n") - 1) * dev * dev
            > 9 * F.col("n") * (F.col("n") * F.col("ssq") - F.col("sv") * F.col("sv"))
        )
        .select("event_id", "event_type", "value")
        .orderBy("event_id")
    )


_Q67_SQL = """
WITH c AS (
  SELECT event_id, event_type, value,
         CAST(round(value * 100) AS HUGEINT) AS cv
  FROM events
), s AS (
  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(cv) AS HUGEINT) AS sv,
         CAST(sum(cv * cv) AS HUGEINT) AS ssq
  FROM c GROUP BY event_type
)
SELECT c.event_id, c.event_type, c.value
FROM c JOIN s USING (event_type)
WHERE (s.n - 1) * (s.n * c.cv - s.sv) * (s.n * c.cv - s.sv)
      > 9 * s.n * (s.n * s.ssq - s.sv * s.sv)
ORDER BY c.event_id
"""


def q68_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 10-bucket histogram of order totals. Bucket assignment is
    pure integer arithmetic on cents ((x−lo)·10 div (hi−lo), max clamped
    into bucket 9) so boundary values land identically on every engine —
    float division would make edge cents engine-dependent. The min/max pass
    is a 1-row broadcast; the histogram itself is one grouped agg with
    map-side partials (10 groups). Degenerate range (hi == lo — a
    constant column) collapses to bucket 0 instead of dividing by zero."""
    o = _t(spark, sf_dir, "orders")
    oc = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        _dec("o_totalprice").alias("p"),
    )
    mm = oc.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    return (
        oc.crossJoin(F.broadcast(mm))
        .withColumn(
            "bucket",
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(F.lit(9), F.expr("(cents - lo) * 10 div (hi - lo)"))
            )
            .cast("int"),
        )
        .groupBy("bucket", "lo", "hi")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("p").cast("double").alias("total_value"),
        )
        .select(
            "bucket",
            (F.expr("lo * 10 + bucket * (hi - lo)") / 1000.0).alias("bucket_lo"),
            (F.expr("lo * 10 + (bucket + 1) * (hi - lo)") / 1000.0).alias("bucket_hi"),
            "n_orders",
            "total_value",
        )
        .orderBy("bucket")
    )


_Q68_SQL = """
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders
), mm AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c),
b AS (
  SELECT CASE WHEN hi = lo THEN 0
              ELSE least(9, (cents - lo) * 10 // (hi - lo)) END AS bucket,
         p, lo, hi
  FROM c, mm
)
SELECT CAST(bucket AS INTEGER) AS bucket,
       (lo * 10 + bucket * (hi - lo)) / 1000.0 AS bucket_lo,
       (lo * 10 + (bucket + 1) * (hi - lo)) / 1000.0 AS bucket_hi,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(p) AS DOUBLE) AS total_value
FROM b GROUP BY bucket, lo, hi ORDER BY bucket
"""


def q153_sql_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13's shape (customer distribution) through the SQL surface:
    LEFT OUTER join customer→orders with an extra join-side predicate
    (non-urgent orders only — the analog of Q13's comment filter, and it
    must live in the ON clause: in the WHERE it would silently turn the
    outer join inner and drop the zero-order bucket), count orders per
    customer including the zero bucket, then histogram the counts. Two
    aggregations, the second over |distinct counts| rows. All-integer
    output — hash-exact by construction. The outer join hashes on the
    customer key; at scale AQE picks broadcast for the dim side."""
    from ...sources.files import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c_count, count(*) AS custdist
        FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey
        )
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
        """
    )


_Q153_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q162_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust (median/MAD) outlier scan — the companion to q67's
    3σ scan for heavy-tailed values, where the mean and stddev are
    themselves dragged by the outliers they're meant to find. A row is
    an outlier when |x − median| > 3·1.4826·MAD.

    Exactness discipline: values are exact cents; 2·median of integers
    is an exact integer (the even-n midpoint average can only end in .5),
    so the center lives in half-cent ints and deviations 4·MAD in
    quarter-cent ints. The flag is the all-integer cross-multiply
    ``dev2·40000 > 44478·mad4`` (3·1.4826 = 4.4478) — no float division
    decides a row, both engines replay it bit-for-bit.

    Scale shape: two grouped aggregates over the scan (|types| groups)
    plus |types|-row broadcast joins back. Exact ``percentile`` buffers a
    group's values (same honesty note as q41/q129); the 100 TB swap is
    ``percentile_approx`` with the flag inequality unchanged."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    base = ev.select("event_type", cents.alias("c"))
    med = base.groupBy("event_type").agg(
        F.expr("CAST(round(2 * percentile(c, 0.5)) AS BIGINT)").alias("m2")
    )
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_type", "m2", F.abs(2 * F.col("c") - F.col("m2")).alias("dev2")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("CAST(round(2 * percentile(dev2, 0.5)) AS BIGINT)").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.max("m2").alias("_m2"),
            F.max("mad4").alias("_mad4"),
            F.sum(
                (F.col("dev2") * 40000 > 44478 * F.col("mad4")).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("_m2") / 200.0, 3).alias("median_value"),
            F.round(F.col("_mad4") / 400.0, 3).alias("mad_value"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


_Q162_SQL = """
WITH base AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events
), med AS (
  SELECT event_type, CAST(round(2 * quantile_cont(c, 0.5)) AS BIGINT) AS m2
  FROM base GROUP BY event_type
), dev AS (
  SELECT b.event_type, m.m2, abs(2 * b.c - m.m2) AS dev2
  FROM base b JOIN med m USING (event_type)
), mad AS (
  SELECT event_type,
         CAST(round(2 * quantile_cont(dev2, 0.5)) AS BIGINT) AS mad4
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       count(*) AS n,
       round(max(d.m2) / 200.0, 3) AS median_value,
       round(max(a.mad4) / 400.0, 3) AS mad_value,
       CAST(sum(CASE WHEN d.dev2 * 40000 > 44478 * a.mad4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad a USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


def q163_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over event values — the
    data-forensics screen for fabricated or re-scaled numeric feeds (a
    synthetic generator that draws uniformly shows up instantly against
    the log-law). The digit is taken from the STRING form of the exact
    cents integer — no log10, whose float boundary at powers of ten
    flips digits between engines. One grouped aggregate to 9 rows; the
    observed share is the single rounded division of exact integers, and
    the expected Benford shares are identical literals in both engines
    (never computed — log10(1+1/d) last-ulp differences would leak into
    the hash)."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    expected = {
        1: 0.30103, 2: 0.176091, 3: 0.124939, 4: 0.09691, 5: 0.079181,
        6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
    }
    exp_expr = F.create_map(
        *[F.lit(x) for kv in expected.items() for x in kv]
    )
    digits = ev.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    ).filter(F.col("digit") >= 1)
    total = digits.groupBy().agg(F.count("*").alias("n_total"))
    return (
        digits.groupBy("digit")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_total"), 6).alias(
                "share"
            ),
            exp_expr[F.col("digit")].alias("benford_share"),
        )
        .orderBy("digit")
    )


_Q163_SQL = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR),
              1, 1) AS INTEGER) AS digit
  FROM events
), dd AS (
  SELECT digit FROM d WHERE digit >= 1
), t AS (
  SELECT count(*) AS n_total FROM dd
)
SELECT digit, count(*) AS n,
       round(CAST(count(*) AS DOUBLE) / max(t.n_total), 6) AS share,
       CAST(CASE digit
         WHEN 1 THEN 0.30103 WHEN 2 THEN 0.176091 WHEN 3 THEN 0.124939
         WHEN 4 THEN 0.09691 WHEN 5 THEN 0.079181 WHEN 6 THEN 0.066947
         WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153 ELSE 0.045757
       END AS DOUBLE) AS benford_share
FROM dd CROSS JOIN t
GROUP BY digit
ORDER BY digit
"""


def q166_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed WEIGHTED median: per return flag, the smallest
    price p such that lineitems priced ≤ p carry at least half the
    total shipped QUANTITY — the volume-weighted center a pricing
    analysis wants (the plain median treats a 50-unit line like a
    1-unit line). No built-in does weighted quantiles exactly in
    either engine; the cumulative-weight window replays identically in
    both: one per-group sort exchange for the running sum, a broadcast
    1-row-per-group total, and the all-integer cut ``2·cumw ≥ W``
    (quantities are integral — no float compares anywhere; the output
    price is exact cents divided once, rounded)."""
    li = _t(spark, sf_dir, "lineitem", parallelize=True)
    base = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("pc"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    w_cum = W.partitionBy("l_returnflag").orderBy("pc").rowsBetween(
        W.unboundedPreceding, 0
    )
    tot = base.groupBy("l_returnflag").agg(F.sum("q").alias("wtot"))
    cum = (
        base.groupBy("l_returnflag", "pc")
        .agg(F.sum("q").alias("qp"))
        .withColumn("cumw", F.sum("qp").over(w_cum))
    )
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .filter(2 * F.col("cumw") >= F.col("wtot"))
        .groupBy("l_returnflag")
        .agg(F.min("pc").alias("_pc"), F.max("wtot").alias("total_quantity"))
        .select(
            "l_returnflag",
            F.round(F.col("_pc") / 100.0, 2).alias("weighted_median_price"),
            "total_quantity",
        )
        .orderBy("l_returnflag")
    )


_Q166_SQL = """
WITH base AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
), grp AS (
  SELECT l_returnflag, pc, CAST(sum(q) AS BIGINT) AS qp
  FROM base GROUP BY l_returnflag, pc
), cum AS (
  SELECT l_returnflag, pc, qp,
         CAST(sum(qp) OVER (PARTITION BY l_returnflag ORDER BY pc
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw
  FROM grp
), tot AS (
  SELECT l_returnflag, CAST(sum(q) AS BIGINT) AS wtot
  FROM base GROUP BY l_returnflag
)
SELECT c.l_returnflag,
       round(min(c.pc) / 100.0, 2) AS weighted_median_price,
       max(t.wtot) AS total_quantity
FROM cum c JOIN tot t USING (l_returnflag)
WHERE 2 * c.cumw >= t.wtot
GROUP BY c.l_returnflag
ORDER BY c.l_returnflag
"""


def q182_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test (event type × day-of-week) with the
    statistic defined in EXACT integer arithmetic: per cell,
    (O·N − R·C)²/(N·R·C) is computed as integer quotient-plus-scaled-
    remainder in milli-units — ``d² div M · 1000 + (d² mod M) · 1000
    div M`` — so the cross-cell sum is an exact BIGINT and both engines
    agree bit-for-bit (a per-cell double sum would be aggregation-order
    -dependent). The floor-quantization understates χ² by < 1 milli per
    cell — a DEFINED statistic, stated in the report. Magnitude audit:
    d² ≤ (O·N)² needs N·O < 3·10⁹ — true well past sf0.1; the
    DECIMAL(38) swap is the documented big-N path. One grouped count +
    tiny margin joins; dow parity pinned (Spark dayofweek−1 ≡ DuckDB
    dow)."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.dayofweek("ts") - 1).alias("dow")
    ).agg(F.count("*").alias("o"))
    rows_m = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    # FULL grid: absent (type, dow) cells are real zero observations and
    # contribute R·C/N each — dropping them understates the statistic
    # (a perfectly dependent 2x2 would read half its true chi2).
    grid = rows_m.crossJoin(cols_m)
    j = (
        grid.join(cells, ["event_type", "dow"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    term = F.expr(
        "(o * n - r * c) * (o * n - r * c) div (n * r * c) * 1000"
        " + ((o * n - r * c) * (o * n - r * c) % (n * r * c)) * 1000"
        "   div (n * r * c)"
    )
    agg = j.agg(
        F.max("n").alias("n"),
        F.count("*").alias("n_cells"),
        F.countDistinct("event_type").alias("_nt"),
        F.countDistinct("dow").alias("_nd"),
        F.sum(term).alias("chi2_milli"),
    )
    return agg.select(
        "n",
        "n_cells",
        ((F.col("_nt") - 1) * (F.col("_nd") - 1)).alias("dof"),
        "chi2_milli",
        F.round(F.col("chi2_milli").cast("double") / 1000.0, 3).alias("chi2"),
    )


_Q182_SQL = """
WITH cells AS (
  SELECT event_type, CAST(date_part('dow', ts) AS INTEGER) AS dow,
         count(*) AS o
  FROM events GROUP BY event_type, CAST(date_part('dow', ts) AS INTEGER)
), rm AS (
  SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY event_type
), cm AS (
  SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY dow
), tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
), grid AS (
  SELECT rm.event_type, rm.r, cm.dow, cm.c FROM rm CROSS JOIN cm
), j AS (
  SELECT coalesce(cells.o, 0) AS o, grid.r, grid.c, tot.n
  FROM grid LEFT JOIN cells USING (event_type, dow) CROSS JOIN tot
), terms AS (
  SELECT n,
         (o * n - r * c) * (o * n - r * c) // (n * r * c) * 1000
         + ((o * n - r * c) * (o * n - r * c) % (n * r * c)) * 1000
           // (n * r * c) AS t
  FROM j
)
SELECT max(n) AS n,
       count(*) AS n_cells,
       CAST((SELECT count(*) FROM rm) - 1 AS BIGINT)
         * ((SELECT count(*) FROM cm) - 1) AS dof,
       CAST(sum(t) AS BIGINT) AS chi2_milli,
       round(CAST(CAST(sum(t) AS BIGINT) AS DOUBLE) / 1000.0, 3) AS chi2
FROM terms
"""


def q184_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Spearman rank correlation between customer account
    balance and lifetime order spend, EXACT to the last bit: tie-aware
    average ranks are doubled to stay integral (tie group of size c at
    min-rank p has average rank p+(c−1)/2, so 2·rank+cnt−1 is an exact
    integer), and ρ² is the integer quotient num²·10⁶ div (denx·deny)
    over the Pearson-on-ranks sums — no cross-row float ever forms, so
    aggregation order cannot perturb the statistic. ρ itself is the one
    sanctioned float chain: sign · √(ρ²µ/10⁶), both factors exact
    doubles, √ correctly rounded IEEE in both engines. Magnitude audit:
    with n customers per group, doubled ranks ≤ 2n, num ≤ 4n⁴ (BIGINT
    past sf1), num²·10⁶ ≤ 2.7·10³⁷ < 10³⁸ at n=6000 — the DECIMAL(38)
    ceiling, stated. Degenerate groups (a constant side, e.g. every
    customer unspent) have den=0 → ρ NULL, not a crash.

    Scale shape: spend rollup is one fact-keyed exchange; ranks are two
    windows over the SAME nation partitioning (one exchange, two sorts);
    group size is |customers|/|nations| — for unbounded groups swap in
    the q144 distributed-rank (range-partitioned) path. Final stats are
    a 25-row aggregate."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("spend_c")
    )
    base = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(spend, cust.c_custkey == spend.o_custkey, "left")
        .select(
            "n_name",
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("xc"),
            F.coalesce("spend_c", F.lit(0)).alias("yc"),
        )
    )
    wx = W.partitionBy("n_name").orderBy("xc")
    wy = W.partitionBy("n_name").orderBy("yc")
    ranked = base.select(
        "n_name",
        (2 * F.rank().over(wx) + F.count("*").over(W.partitionBy("n_name", "xc")) - 1)
        .alias("rx"),
        (2 * F.rank().over(wy) + F.count("*").over(W.partitionBy("n_name", "yc")) - 1)
        .alias("ry"),
    )
    s = ranked.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    num = "(cast(n as decimal(19,0)) * sxy - cast(sx as decimal(19,0)) * sy)"
    denx = "(cast(n as decimal(19,0)) * sxx - cast(sx as decimal(19,0)) * sx)"
    deny = "(cast(n as decimal(19,0)) * syy - cast(sy as decimal(19,0)) * sy)"
    rho2u = (
        f"case when {denx} = 0 or {deny} = 0 then null "
        f"else {num} * {num} * 1000000 div ({denx} * {deny}) end"
    )
    sign = f"cast(case when {num} > 0 then 1 when {num} < 0 then -1 else 0 end as int)"
    return s.select(
        F.col("n_name").alias("nation"),
        "n",
        F.expr(rho2u).alias("rho2_micro"),
        F.expr(sign).alias("rho_sign"),
        F.expr(
            f"round({sign} * sqrt(cast({rho2u} as double) / 1e6), 4)"
        ).alias("rho"),
    ).orderBy("nation")


_Q184_SQL = """
WITH spend AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS spend_c
  FROM orders GROUP BY o_custkey
), base AS (
  SELECT n_name,
         CAST(round(c_acctbal * 100) AS BIGINT) AS xc,
         coalesce(spend_c, 0) AS yc
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  LEFT JOIN spend ON c_custkey = o_custkey
), ranked AS (
  SELECT n_name,
         2 * rank() OVER (PARTITION BY n_name ORDER BY xc)
           + count(*) OVER (PARTITION BY n_name, xc) - 1 AS rx,
         2 * rank() OVER (PARTITION BY n_name ORDER BY yc)
           + count(*) OVER (PARTITION BY n_name, yc) - 1 AS ry
  FROM base
), s AS (
  SELECT n_name, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(rx) AS HUGEINT) AS sx, CAST(sum(ry) AS HUGEINT) AS sy,
         CAST(sum(rx * ry) AS HUGEINT) AS sxy,
         CAST(sum(rx * rx) AS HUGEINT) AS sxx,
         CAST(sum(ry * ry) AS HUGEINT) AS syy
  FROM ranked GROUP BY n_name
)
SELECT n_name AS nation,
       CAST(n AS BIGINT) AS n,
       CAST(CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0
                 THEN NULL
                 ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000
                      // ((n * sxx - sx * sx) * (n * syy - sy * sy)) END
            AS BIGINT) AS rho2_micro,
       CAST(CASE WHEN (n * sxy - sx * sy) > 0 THEN 1
                 WHEN (n * sxy - sx * sy) < 0 THEN -1 ELSE 0 END
            AS INTEGER) AS rho_sign,
       round(CASE WHEN (n * sxy - sx * sy) > 0 THEN 1
                  WHEN (n * sxy - sx * sy) < 0 THEN -1 ELSE 0 END
             * sqrt(CAST(CAST(CASE WHEN (n * sxx - sx * sx) = 0
                                        OR (n * syy - sy * sy) = 0
                                   THEN NULL
                                   ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy)
                                        * 1000000
                                        // ((n * sxx - sx * sx) * (n * syy - sy * sy))
                                   END AS BIGINT) AS DOUBLE) / 1e6), 4) AS rho
FROM s
ORDER BY nation
"""


def q185_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent curation gates (a char-length
    rater and a token-count rater) — the inter-annotator-agreement number
    a labeling pipeline reports before trusting cheap filters. Exact
    rational: κ = (n·agree − pe) / (n² − pe) with pe = r₁c₁ + r₀c₀ all
    integers from ONE fused aggregate scan (the 2×2 confusion, both
    margins, and n come out of the same pass — no per-cell re-scan).
    κ_micro is the truncating integer quotient ·10⁶ (both engines
    truncate toward zero); κ itself divides two ≤10⁶ exact doubles.
    Magnitude: n² needs DECIMAL past ~3·10⁹ docs — cast up front (19,0),
    DuckDB HUGEINT; the div is exact at any corpus size. pe = n²
    (a degenerate all-one-cell corpus) → NULL, not a crash."""
    docs = _t(spark, sf_dir, "documents")
    flags = docs.select(
        (F.col("n_chars").between(200, 5000)).cast("long").alias("a"),
        (F.size(F.split(F.col("text"), " ")) >= 40).cast("long").alias("b"),
    )
    s = flags.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("cast(a = 1 and b = 1 as long)")).alias("c11"),
        F.sum(F.expr("cast(a = 1 and b = 0 as long)")).alias("c10"),
        F.sum(F.expr("cast(a = 0 and b = 1 as long)")).alias("c01"),
        F.sum(F.expr("cast(a = 0 and b = 0 as long)")).alias("c00"),
    )
    n = "cast(n as decimal(19,0))"
    pe = f"(cast(c11 + c10 as decimal(19,0)) * (c11 + c01) + cast(c01 + c00 as decimal(19,0)) * (c10 + c00))"
    num = f"({n} * (c11 + c00) - {pe})"
    den = f"({n} * n - {pe})"
    kmicro = f"case when {den} = 0 then null else {num} * 1000000 div {den} end"
    return s.select(
        "n", "c11", "c10", "c01", "c00",
        F.expr(kmicro).alias("kappa_micro"),
        F.expr(f"round(cast({kmicro} as double) / 1e6, 4)").alias("kappa"),
    )


_Q185_SQL = """
WITH flags AS (
  SELECT CAST(n_chars BETWEEN 200 AND 5000 AS BIGINT) AS a,
         CAST(len(string_split(text, ' ')) >= 40 AS BIGINT) AS b
  FROM documents
), s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(a = 1 AND b = 1 AS BIGINT)) AS HUGEINT) AS c11,
         CAST(sum(CAST(a = 1 AND b = 0 AS BIGINT)) AS HUGEINT) AS c10,
         CAST(sum(CAST(a = 0 AND b = 1 AS BIGINT)) AS HUGEINT) AS c01,
         CAST(sum(CAST(a = 0 AND b = 0 AS BIGINT)) AS HUGEINT) AS c00
  FROM flags
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(c11 AS BIGINT) AS c11, CAST(c10 AS BIGINT) AS c10,
       CAST(c01 AS BIGINT) AS c01, CAST(c00 AS BIGINT) AS c00,
       CAST(CASE WHEN (n * n - ((c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00))) = 0
                 THEN NULL
                 ELSE (n * (c11 + c00) - ((c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00)))
                      * 1000000
                      // (n * n - ((c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00)))
            END AS BIGINT) AS kappa_micro,
       round(CAST(CAST(CASE WHEN (n * n - ((c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00))) = 0
                 THEN NULL
                 ELSE (n * (c11 + c00) - ((c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00)))
                      * 1000000
                      // (n * n - ((c11 + c10) * (c11 + c01) + (c01 + c00) * (c10 + c00)))
            END AS BIGINT) AS DOUBLE) / 1e6, 4) AS kappa
FROM s
"""


def q186_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance, EXACT, per ship-year:
    does the price distribution of returned lineitems differ from kept
    ones? D = max|F₁−F₂| is evaluated at every pooled price point
    without a single float: per (year, cents) counts → one cumulative
    window over the distinct-price rows → the integer envelope
    max|n₂·cum₁ − n₁·cum₂|, divided once at the end (truncating ·10⁶
    quotient; both engines truncate toward zero). The window partitions
    by year (the q166 weighted-quantile shape: the sort touches
    DISTINCT prices, not rows); for unbounded value domains pre-bucket
    with the q68 equi-width grid first. n₁·n₂ outgrows BIGINT near 3·10⁹
    rows/side — the DECIMAL cast up front is that ceiling. A year with
    either side empty yields NULL distance, not a crash."""
    li = _t(spark, sf_dir, "lineitem", parallelize=True)
    base = li.select(
        F.year("l_shipdate").alias("ship_year"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("pc"),
        (F.col("l_returnflag") == "R").cast("long").alias("r"),
    )
    cnt = base.groupBy("ship_year", "pc").agg(
        F.sum("r").alias("c1"), F.sum(1 - F.col("r")).alias("c2")
    )
    w = W.partitionBy("ship_year").orderBy("pc").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = cnt.select(
        "ship_year",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    tot = cnt.groupBy("ship_year").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    env = (
        cum.join(F.broadcast(tot), "ship_year")
        .groupBy("ship_year")
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.max(
                F.abs(
                    F.expr("cast(n2 as decimal(19,0)) * cum1")
                    - F.expr("cast(n1 as decimal(19,0)) * cum2")
                )
            ).alias("dnum"),
        )
    )
    ksu = (
        "case when n1 = 0 or n2 = 0 then null "
        "else dnum * 1000000 div (cast(n1 as decimal(19,0)) * n2) end"
    )
    return env.select(
        "ship_year", "n1", "n2",
        F.expr(ksu).alias("ks_micro"),
        F.expr(f"round(cast({ksu} as double) / 1e6, 4)").alias("ks"),
    ).orderBy("ship_year")


_Q186_SQL = """
WITH base AS (
  SELECT CAST(date_part('year', l_shipdate) AS INTEGER) AS ship_year,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(l_returnflag = 'R' AS BIGINT) AS r
  FROM lineitem
), cnt AS (
  SELECT ship_year, pc,
         CAST(sum(r) AS BIGINT) AS c1,
         CAST(sum(1 - r) AS BIGINT) AS c2
  FROM base GROUP BY ship_year, pc
), cum AS (
  SELECT ship_year,
         sum(c1) OVER (PARTITION BY ship_year ORDER BY pc
                       ROWS UNBOUNDED PRECEDING) AS cum1,
         sum(c2) OVER (PARTITION BY ship_year ORDER BY pc
                       ROWS UNBOUNDED PRECEDING) AS cum2
  FROM cnt
), tot AS (
  SELECT ship_year, CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2
  FROM cnt GROUP BY ship_year
), env AS (
  SELECT cum.ship_year, max(n1) AS n1, max(n2) AS n2,
         max(abs(CAST(n2 AS HUGEINT) * cum1 - CAST(n1 AS HUGEINT) * cum2))
           AS dnum
  FROM cum JOIN tot ON cum.ship_year = tot.ship_year
  GROUP BY cum.ship_year
)
SELECT ship_year, n1, n2,
       CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                 ELSE dnum * 1000000 // (CAST(n1 AS HUGEINT) * n2) END
            AS BIGINT) AS ks_micro,
       round(CAST(CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                 ELSE dnum * 1000000 // (CAST(n1 AS HUGEINT) * n2) END
            AS BIGINT) AS DOUBLE) / 1e6, 4) AS ks
FROM env
ORDER BY ship_year
"""


def q187_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (tie-aware, EXACT) per source: do English docs run
    longer than non-English ones? Doubled U stays integral under ties —
    2U₁ = Σ_v c1(v)·(2·cum2(<v) + c2(v)) over per-(source, n_chars)
    counts, one exclusive cumulative window over DISTINCT lengths (the
    q166/q186 shape: the sort never touches raw rows). The rank-biserial
    effect size r = U₁/(n₁n₂·½) − 1 = (2U₁ − 2n₁n₂+...)/... is emitted
    as the truncating quotient (2U₁ − n₁n₂)·10⁶ div (n₁n₂) ∈ [−10⁶,10⁶]
    — sign says which side stochastically dominates; both engines
    truncate toward zero. Products cast to DECIMAL/HUGEINT up front
    (n₁n₂ outgrows BIGINT near 3·10⁹ docs/side). One-sided sources →
    NULL effect."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        F.col("n_chars").alias("nc"),
        (F.col("lang") == "en").cast("long").alias("e"),
    )
    cnt = base.groupBy("source", "nc").agg(
        F.sum("e").alias("c1"), F.sum(1 - F.col("e")).alias("c2")
    )
    w_excl = W.partitionBy("source").orderBy("nc").rowsBetween(
        W.unboundedPreceding, -1
    )
    u_terms = cnt.select(
        "source", "c1", "c2",
        F.coalesce(F.sum("c2").over(w_excl), F.lit(0)).alias("cum2x"),
    )
    s = u_terms.groupBy("source").agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.sum(
            F.expr("cast(c1 as decimal(19,0)) * (2 * cum2x + c2)")
        ).alias("u2"),
    )
    rbu = (
        "case when n1 = 0 or n2 = 0 then null "
        "else (u2 - cast(n1 as decimal(19,0)) * n2) * 1000000 "
        "     div (cast(n1 as decimal(19,0)) * n2) end"
    )
    return s.select(
        "source", "n1", "n2",
        F.col("u2").cast("long").alias("u2"),
        F.expr(rbu).alias("rb_micro"),
        F.expr(f"round(cast({rbu} as double) / 1e6, 4)").alias("rank_biserial"),
    ).orderBy("source")


_Q187_SQL = """
WITH base AS (
  SELECT source, n_chars AS nc, CAST(lang = 'en' AS BIGINT) AS e
  FROM documents
), cnt AS (
  SELECT source, nc, CAST(sum(e) AS BIGINT) AS c1,
         CAST(sum(1 - e) AS BIGINT) AS c2
  FROM base GROUP BY source, nc
), u_terms AS (
  SELECT source, c1, c2,
         coalesce(sum(c2) OVER (PARTITION BY source ORDER BY nc
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cum2x
  FROM cnt
), s AS (
  SELECT source, CAST(sum(c1) AS BIGINT) AS n1,
         CAST(sum(c2) AS BIGINT) AS n2,
         CAST(sum(CAST(c1 AS HUGEINT) * (2 * cum2x + c2)) AS HUGEINT) AS u2
  FROM u_terms GROUP BY source
)
SELECT source, n1, n2, CAST(u2 AS BIGINT) AS u2,
       CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                 ELSE (u2 - CAST(n1 AS HUGEINT) * n2) * 1000000
                      // (CAST(n1 AS HUGEINT) * n2) END AS BIGINT) AS rb_micro,
       round(CAST(CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
                 ELSE (u2 - CAST(n1 AS HUGEINT) * n2) * 1000000
                      // (CAST(n1 AS HUGEINT) * n2) END AS BIGINT) AS DOUBLE)
             / 1e6, 4) AS rank_biserial
FROM s
ORDER BY source
"""


def q189_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer lifetime spend — the
    revenue-concentration number (0 = spend spread evenly, →1 = one
    whale). Exact sorted-rank identity G = (2Σᵢ i·xᵢ − (n+1)S)/(n·S)
    over integer cents: the position weight i is a row_number within the
    nation (ties contribute identically regardless of order among
    equals, so the tiebreak is cosmetic), every product stays integral,
    and the single truncating ·10⁶ quotient lands at the end. Unspent
    customers enter as real zeros — dropping them would understate
    concentration. One fact-keyed exchange for the rollup, one
    nation-keyed exchange for rank+sums (the q184 window shape); S=0
    nations → NULL. n·S outgrows BIGINT near 10¹⁸ cent-rows — DECIMAL
    cast up front is that ceiling."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("spend_c")
    )
    base = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(spend, cust.c_custkey == spend.o_custkey, "left")
        .select(
            "n_name",
            F.col("c_custkey").alias("ck"),
            F.coalesce("spend_c", F.lit(0)).alias("x"),
        )
    )
    w = W.partitionBy("n_name").orderBy("x", "ck")
    ranked = base.select(
        "n_name", "x", F.row_number().over(w).alias("i")
    )
    s = ranked.groupBy("n_name").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("cast(i as decimal(19,0)) * x")).alias("six"),
    )
    gu = (
        "case when sx = 0 then null "
        "else (2 * six - (cast(n as decimal(19,0)) + 1) * sx) * 1000000 "
        "     div (cast(n as decimal(19,0)) * sx) end"
    )
    return s.select(
        F.col("n_name").alias("nation"),
        "n",
        F.col("sx").alias("total_spend_cents"),
        F.expr(gu).alias("gini_micro"),
        F.expr(f"round(cast({gu} as double) / 1e6, 4)").alias("gini"),
    ).orderBy("nation")


_Q189_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_c
  FROM orders GROUP BY o_custkey
), base AS (
  SELECT n_name, c_custkey AS ck, coalesce(spend_c, 0) AS x
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  LEFT JOIN spend ON c_custkey = o_custkey
), ranked AS (
  SELECT n_name, x,
         row_number() OVER (PARTITION BY n_name ORDER BY x, ck) AS i
  FROM base
), s AS (
  SELECT n_name, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS six
  FROM ranked GROUP BY n_name
)
SELECT n_name AS nation,
       CAST(n AS BIGINT) AS n,
       CAST(sx AS BIGINT) AS total_spend_cents,
       CAST(CASE WHEN sx = 0 THEN NULL
                 ELSE (2 * six - (n + 1) * sx) * 1000000 // (n * sx) END
            AS BIGINT) AS gini_micro,
       round(CAST(CAST(CASE WHEN sx = 0 THEN NULL
                 ELSE (2 * six - (n + 1) * sx) * 1000000 // (n * sx) END
            AS BIGINT) AS DOUBLE) / 1e6, 4) AS gini
FROM s
ORDER BY nation
"""


def q199_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supplier-concentration index per nation —
    the antitrust-style "is this nation's supply base one big vendor?"
    number, and unlike entropy it needs NO transcendental: HHI =
    Σ share_i² = Σx_i²·10⁶ div (Σx)² is an exact truncating integer
    quotient over per-supplier revenue cents. The effective supplier
    count 1/HHI is the one display division. Two exchanges: the
    supplier rollup (fact-keyed) and the nation rollup; squares cast to
    DECIMAL up front (x² outgrows BIGINT past ~10⁹·10⁹ cents²). The
    classic >2500-point (0.25) concentration flag is an integer
    compare."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            ).alias("x")
        )
    )
    s = rev.groupBy("n_name").agg(
        F.count("*").alias("n_suppliers"),
        F.sum("x").alias("sx"),
        F.sum(F.expr("cast(x as decimal(19,0)) * x")).alias("sxx"),
    )
    hhi = (
        "case when sx = 0 then null "
        "else sxx * 1000000 div (cast(sx as decimal(19,0)) * sx) end"
    )
    return s.select(
        F.col("n_name").alias("nation"),
        "n_suppliers",
        F.expr(hhi).alias("hhi_micro"),
        F.expr(f"({hhi}) > 250000").alias("concentrated"),
        F.expr(f"round(1e6 / cast({hhi} as double), 2)").alias(
            "effective_suppliers"
        ),
    ).orderBy("nation")


_Q199_SQL = """
WITH rev AS (
  SELECT n_name, s_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, s_suppkey
), s AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM rev GROUP BY n_name
)
SELECT n_name AS nation, n_suppliers,
       CAST(CASE WHEN sx = 0 THEN NULL
                 ELSE sxx * 1000000 // (sx * sx) END AS BIGINT) AS hhi_micro,
       CAST(CASE WHEN sx = 0 THEN NULL
                 ELSE sxx * 1000000 // (sx * sx) END AS BIGINT) > 250000
         AS concentrated,
       round(1e6 / CAST(CAST(CASE WHEN sx = 0 THEN NULL
                 ELSE sxx * 1000000 // (sx * sx) END AS BIGINT) AS DOUBLE), 2)
         AS effective_suppliers
FROM s
ORDER BY nation
"""


def q200_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality of customer spend, DECOMPOSED: total = within-
    nation + between-nation — the additive split that says whether
    spend inequality lives inside nations or across them (Gini can't
    decompose; Theil is the index built for it). Each term is one float
    chain over exact integers — (x/S)·ln(x·N/S) for total,
    (x/S)·ln(x·N_g/S_g) for within, (S_g/S)·ln(S_g·N/(S·N_g)) for
    between — QUANTIZED to pico-units (10¹²) per row before summing
    (per-row terms are O(1/N); micro would round them all to zero),
    then reported in micro. The real-valued identity T = Tw + Tb holds
    term-by-term via ln factorization; the emitted gap_micro is the
    quantization residue — pytest pins it ≤ 1 micro. Zero-spend
    customers are excluded (ln 0); the population is spenders. Scale:
    spend rollup + one broadcast of 25 group stats + one global
    1-row aggregate; counts/cents stay < 2⁵³ through sf100 (the
    stated double-exactness ceiling)."""
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            ).alias("x")
        )
        .filter(F.col("x") > 0)
    )
    base = spend.join(
        cust, spend.o_custkey == cust.c_custkey
    ).join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).select(
        "n_name", "x"
    )
    grp = base.groupBy("n_name").agg(
        F.count("*").alias("ng"), F.sum("x").alias("sg")
    )
    glob = grp.agg(
        F.sum("ng").alias("n"), F.sum("sg").alias("s")
    )
    rows = base.join(F.broadcast(grp), "n_name").crossJoin(F.broadcast(glob))
    t_tot = (
        "cast(round((cast(x as double) / cast(s as double))"
        " * ln(cast(x as double) * cast(n as double) / cast(s as double))"
        " * 1e12) as bigint)"
    )
    t_win = (
        "cast(round((cast(x as double) / cast(s as double))"
        " * ln(cast(x as double) * cast(ng as double) / cast(sg as double))"
        " * 1e12) as bigint)"
    )
    cust_terms = rows.agg(
        F.max("n").alias("n_customers"),
        F.sum(F.expr(t_tot)).alias("tt"),
        F.sum(F.expr(t_win)).alias("tw"),
    )
    t_btw = (
        "cast(round((cast(sg as double) / cast(s as double))"
        " * ln(cast(sg as double) * cast(n as double)"
        "      / (cast(s as double) * cast(ng as double))) * 1e12) as bigint)"
    )
    btw = grp.crossJoin(F.broadcast(glob)).agg(
        F.sum(F.expr(t_btw)).alias("tb")
    )
    return cust_terms.crossJoin(F.broadcast(btw)).select(
        "n_customers",
        F.expr("tt div 1000000").alias("theil_total_micro"),
        F.expr("tw div 1000000").alias("theil_within_micro"),
        F.expr("tb div 1000000").alias("theil_between_micro"),
        F.expr("abs(tt - tw - tb) div 1000000").alias("gap_micro"),
    )


_Q200_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY o_custkey
  HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) > 0
), base AS (
  SELECT n_name, x
  FROM spend
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
), grp AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS ng, CAST(sum(x) AS BIGINT) AS sg
  FROM base GROUP BY n_name
), gtot AS (
  SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(sg) AS BIGINT) AS s FROM grp
), cust_terms AS (
  SELECT max(n) AS n_customers,
         CAST(sum(CAST(round((CAST(x AS DOUBLE) / CAST(s AS DOUBLE))
              * ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE))
              * 1e12) AS BIGINT)) AS BIGINT) AS tt,
         CAST(sum(CAST(round((CAST(x AS DOUBLE) / CAST(s AS DOUBLE))
              * ln(CAST(x AS DOUBLE) * CAST(ng AS DOUBLE) / CAST(sg AS DOUBLE))
              * 1e12) AS BIGINT)) AS BIGINT) AS tw
  FROM base JOIN grp USING (n_name) CROSS JOIN gtot
), btw AS (
  SELECT CAST(sum(CAST(round((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE))
              * ln(CAST(sg AS DOUBLE) * CAST(n AS DOUBLE)
                   / (CAST(s AS DOUBLE) * CAST(ng AS DOUBLE)))
              * 1e12) AS BIGINT)) AS BIGINT) AS tb
  FROM grp CROSS JOIN gtot
)
SELECT n_customers,
       tt // 1000000 AS theil_total_micro,
       tw // 1000000 AS theil_within_micro,
       tb // 1000000 AS theil_between_micro,
       abs(tt - tw - tb) // 1000000 AS gap_micro
FROM cust_terms CROSS JOIN btw
"""


def q201_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between customer balance and lifetime spend,
    computed EXACTLY on the 10×10 equi-width quantized grid — the
    rank-free formulation: once values are bucketed, concordant /
    discordant / tied pair counts are plain integer arithmetic over the
    100-cell joint histogram (C = Σ n_ij·n_i'j' over i'>i, j'>j via a
    100×100 cell self-join — constant work regardless of corpus size),
    so there is NO global sort anywhere: the q68 broadcast-min/max grid
    replaces ntile's single-partition window. Tau-b handles the
    quantization ties by construction: τ² = (C−D)²·10⁶ div
    ((T₀−T₁)(T₀−T₂)) is the q184 exact-quotient pattern, τ the
    sanctioned sign·√ chain. Pair counts stay doubled-free (each
    unordered pair counted once by the i'>i join). DECIMAL ceiling:
    (C−D)² ≤ (n²/2)² needs DECIMAL(38) past ~10⁹ customers — cast up
    front."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("sp")
    )
    base = cust.join(spend, cust.c_custkey == spend.o_custkey, "left").select(
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("xc"),
        F.coalesce("sp", F.lit(0)).alias("yc"),
    )
    mm = base.agg(
        F.min("xc").alias("lx"), F.max("xc").alias("hx"),
        F.min("yc").alias("ly"), F.max("yc").alias("hy"),
    )
    binned = base.crossJoin(F.broadcast(mm)).select(
        F.when(F.col("hx") == F.col("lx"), F.lit(0))
        .otherwise(F.least(F.lit(9), F.expr("(xc - lx) * 10 div (hx - lx)")))
        .cast("int").alias("bx"),
        F.when(F.col("hy") == F.col("ly"), F.lit(0))
        .otherwise(F.least(F.lit(9), F.expr("(yc - ly) * 10 div (hy - ly)")))
        .cast("int").alias("by"),
    )
    grid = binned.groupBy("bx", "by").agg(F.count("*").alias("c"))
    g2 = grid.select(
        F.col("bx").alias("bx2"), F.col("by").alias("by2"),
        F.col("c").alias("c2"),
    )
    conc = (
        grid.join(
            F.broadcast(g2),
            (F.col("bx2") > F.col("bx")) & (F.col("by2") > F.col("by")),
        )
        .agg(F.sum(F.expr("cast(c as decimal(19,0)) * c2")).alias("v"))
        .select(F.coalesce("v", F.lit(0).cast("decimal(19,0)")).alias("cc"))
    )
    disc = (
        grid.join(
            F.broadcast(g2),
            (F.col("bx2") > F.col("bx")) & (F.col("by2") < F.col("by")),
        )
        .agg(F.sum(F.expr("cast(c as decimal(19,0)) * c2")).alias("v"))
        .select(F.coalesce("v", F.lit(0).cast("decimal(19,0)")).alias("dd"))
    )
    margins = grid.agg(
        F.sum("c").alias("n"),
        F.sum(F.expr("cast(c as decimal(19,0)) * (c - 1)")).alias("txy2"),
    )
    tx = (
        grid.groupBy("bx").agg(F.sum("c").alias("m"))
        .agg(F.sum(F.expr("cast(m as decimal(19,0)) * (m - 1)")).alias("tx2"))
    )
    ty = (
        grid.groupBy("by").agg(F.sum("c").alias("m"))
        .agg(F.sum(F.expr("cast(m as decimal(19,0)) * (m - 1)")).alias("ty2"))
    )
    s = (
        conc.crossJoin(F.broadcast(disc))
        .crossJoin(F.broadcast(margins))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    # doubled pair counts: 2T0 = n(n-1), 2T1 = Σ m(m-1) — ratios cancel
    den = (
        "((cast(n as decimal(19,0)) * (n - 1) - tx2)"
        " * (cast(n as decimal(19,0)) * (n - 1) - ty2))"
    )
    num = "(cc - dd)"
    tau2u = (
        f"case when {den} = 0 then null "
        f"else {num} * {num} * 4 * 1000000 div {den} end"
    )
    sign = f"cast(case when {num} > 0 then 1 when {num} < 0 then -1 else 0 end as int)"
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("cc").cast("long").alias("concordant"),
        F.col("dd").cast("long").alias("discordant"),
        F.expr(tau2u).alias("tau2_micro"),
        F.expr(sign).alias("tau_sign"),
        F.expr(f"round({sign} * sqrt(cast({tau2u} as double) / 1e6), 4)").alias("tau"),
    )


_Q201_SQL = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sp
  FROM orders GROUP BY o_custkey
), base AS (
  SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS xc,
         coalesce(sp, 0) AS yc
  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
), mm AS (
  SELECT min(xc) AS lx, max(xc) AS hx, min(yc) AS ly, max(yc) AS hy FROM base
), binned AS (
  SELECT CAST(CASE WHEN hx = lx THEN 0
              ELSE least(9, (xc - lx) * 10 // (hx - lx)) END AS INTEGER) AS bx,
         CAST(CASE WHEN hy = ly THEN 0
              ELSE least(9, (yc - ly) * 10 // (hy - ly)) END AS INTEGER) AS by
  FROM base CROSS JOIN mm
), grid AS (
  SELECT bx, by, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY bx, by
), conc AS (
  SELECT coalesce(CAST(sum(CAST(g1.c AS HUGEINT) * g2.c) AS HUGEINT),
                  0::HUGEINT) AS cc
  FROM grid g1 JOIN grid g2 ON g2.bx > g1.bx AND g2.by > g1.by
), disc AS (
  SELECT coalesce(CAST(sum(CAST(g1.c AS HUGEINT) * g2.c) AS HUGEINT),
                  0::HUGEINT) AS dd
  FROM grid g1 JOIN grid g2 ON g2.bx > g1.bx AND g2.by < g1.by
), margins AS (
  SELECT CAST(sum(c) AS HUGEINT) AS n FROM grid
), tx AS (
  SELECT CAST(sum(CAST(m AS HUGEINT) * (m - 1)) AS HUGEINT) AS tx2
  FROM (SELECT bx, sum(c) AS m FROM grid GROUP BY bx)
), ty AS (
  SELECT CAST(sum(CAST(m AS HUGEINT) * (m - 1)) AS HUGEINT) AS ty2
  FROM (SELECT by, sum(c) AS m FROM grid GROUP BY by)
)
SELECT CAST(n AS BIGINT) AS n_customers,
       CAST(cc AS BIGINT) AS concordant,
       CAST(dd AS BIGINT) AS discordant,
       CAST(CASE WHEN ((n * (n - 1) - tx2) * (n * (n - 1) - ty2)) = 0 THEN NULL
                 ELSE (cc - dd) * (cc - dd) * 4 * 1000000
                      // ((n * (n - 1) - tx2) * (n * (n - 1) - ty2)) END
            AS BIGINT) AS tau2_micro,
       CAST(CASE WHEN cc > dd THEN 1 WHEN cc < dd THEN -1 ELSE 0 END
            AS INTEGER) AS tau_sign,
       round(CASE WHEN cc > dd THEN 1 WHEN cc < dd THEN -1 ELSE 0 END
             * sqrt(CAST(CAST(
                 CASE WHEN ((n * (n - 1) - tx2) * (n * (n - 1) - ty2)) = 0
                      THEN NULL
                      ELSE (cc - dd) * (cc - dd) * 4 * 1000000
                           // ((n * (n - 1) - tx2) * (n * (n - 1) - ty2)) END
                 AS BIGINT) AS DOUBLE) / 1e6), 4) AS tau
FROM conc
CROSS JOIN disc CROSS JOIN margins CROSS JOIN tx CROSS JOIN ty
"""


def q204_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED classifier errors — do the q185
    length-gate and token-gate disagree with the labeling (lang='en')
    at different rates? Only the discordant pairs carry signal: b =
    length-gate right & token-gate wrong, c = the reverse, χ² =
    (b−c)²/(b+c) — an exact truncating ·10³ quotient (the
    continuity-corrected (|b−c|−1)²/(b+c) is emitted alongside, same
    arithmetic; the uncorrected form is the stated statistic). All four
    paired-outcome cells come from ONE fused scan — no per-classifier
    re-pass. b+c = 0 (the gates never disagree on correctness) → NULL.
    DECIMAL ceiling at b,c ~ 3·10⁹ as usual."""
    docs = _t(spark, sf_dir, "documents")
    flags = docs.select(
        (F.col("n_chars").between(200, 5000)).alias("a"),
        (F.size(F.split(F.col("text"), " ")) >= 40).alias("bg"),
        (F.col("lang") == "en").alias("t"),
    )
    s = flags.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("cast((a = t) and (bg <> t) as long)")).alias("b"),
        F.sum(F.expr("cast((a <> t) and (bg = t) as long)")).alias("c"),
    )
    stat = (
        "case when b + c = 0 then null "
        "else (cast(b as decimal(19,0)) - c) * (cast(b as decimal(19,0)) - c)"
        " * 1000 div (cast(b as decimal(19,0)) + c) end"
    )
    corr = (
        "case when b + c = 0 then null "
        "else (abs(cast(b as decimal(19,0)) - c) - 1)"
        " * (abs(cast(b as decimal(19,0)) - c) - 1)"
        " * 1000 div (cast(b as decimal(19,0)) + c) end"
    )
    return s.select(
        "n", "b", "c",
        F.expr(stat).alias("mcnemar_milli"),
        F.expr(corr).alias("mcnemar_corrected_milli"),
    )


_Q204_SQL = """
WITH flags AS (
  SELECT (n_chars BETWEEN 200 AND 5000) AS a,
         (len(string_split(text, ' ')) >= 40) AS bg,
         (lang = 'en') AS t
  FROM documents
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST((a = t) AND (bg <> t) AS BIGINT)) AS BIGINT) AS b,
         CAST(sum(CAST((a <> t) AND (bg = t) AS BIGINT)) AS BIGINT) AS c
  FROM flags
)
SELECT n, b, c,
       CAST(CASE WHEN b + c = 0 THEN NULL
                 ELSE (CAST(b AS HUGEINT) - c) * (CAST(b AS HUGEINT) - c)
                      * 1000 // (CAST(b AS HUGEINT) + c) END
            AS BIGINT) AS mcnemar_milli,
       CAST(CASE WHEN b + c = 0 THEN NULL
                 ELSE (abs(CAST(b AS HUGEINT) - c) - 1)
                      * (abs(CAST(b AS HUGEINT) - c) - 1)
                      * 1000 // (CAST(b AS HUGEINT) + c) END
            AS BIGINT) AS mcnemar_corrected_milli
FROM s
"""


def q222_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for days-to-first-purchase after
    first click (the event is the first purchase AT OR AFTER the
    first click — earlier purchases do not convert this exposure),
    with RIGHT CENSORING at the observation horizon —
    the survival-analysis estimator naive conversion rates get wrong
    (censored users are neither converted nor failed; dropping them
    biases the curve). Risk sets come from a reverse cumulative sum
    over the |distinct durations| post-aggregation table; each
    (1 - d/n) factor's ln is PICO-QUANTIZED before the prefix sum so
    the product is an exact-integer exponent (order-independent), and
    exp() runs once per output row. The n_risk = d terminal row (all
    remaining subjects fail) uses a -1000-nat sentinel, which exp
    maps to exactly 0 — at most one such row can exist, so no
    overflow. Unkeyed windows all run post-aggregation (q215/q219
    argument)."""
    from ...sources.files import register_views

    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        _SURVIVAL_RISK_SPARK
        + """,
        terms AS (
          SELECT dur, d, n_risk,
                 CASE WHEN d = 0 THEN 0
                      WHEN n_risk = d THEN -1000000000000000
                      ELSE CAST(round(ln(CAST(n_risk - d AS DOUBLE)
                           / CAST(n_risk AS DOUBLE)) * 1e12) AS BIGINT) END
                   AS lnp
          FROM risk
        )
        SELECT dur AS duration_days, n_risk, d AS n_events,
               CAST(round(exp(CAST(sum(lnp) OVER (ORDER BY dur
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e12) * 1e6)
                    AS BIGINT) AS survival_micro
        FROM terms
        WHERE d > 0
        ORDER BY dur
        """
    )


_Q222_SQL = _SURVIVAL_RISK_DUCK + """, terms AS (
  SELECT dur, d, n_risk,
         CASE WHEN d = 0 THEN 0
              WHEN n_risk = d THEN -1000000000000000
              ELSE CAST(round(ln(CAST(n_risk - d AS DOUBLE)
                   / CAST(n_risk AS DOUBLE)) * 1e12) AS BIGINT) END AS lnp
  FROM risk
)
SELECT dur AS duration_days, n_risk, d AS n_events,
       CAST(round(exp(CAST(sum(lnp) OVER (ORDER BY dur
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e12) * 1e6) AS BIGINT)
         AS survival_micro
FROM terms
WHERE d > 0
ORDER BY dur
"""


def q233_anova_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test: does mean order value differ across market
    segments? The decomposition SST = SSB + SSW runs entirely on exact
    integers: order totals quantize to cents, per-segment (n, Σx, Σx²)
    are exact DECIMAL sums, and each rational s²/n is scaled to 10⁶ via
    the two-limb identity floor(a·M/n) = (a div n)·M + ((a%n)·M) div n —
    no intermediate ever exceeds DECIMAL(38,0) (ceiling ≈ 10¹² orders;
    q187's documented DECIMAL discipline). F and η² are emitted as
    integer micro-ratios (`div`/`//` truncate identically on the
    non-negative operands) so no >2⁵³ integer is ever cast to double —
    the q78 HUGEINT→float64 trap. Scale shape: one equi-join (AQE picks
    broadcast when customer is small), one 5-group partial-agg collapse,
    then 1-row arithmetic. SSB/SSW exceed int64 → emitted as STRINGs
    (house rule). Degenerate inputs (k=1 or zero variance) → NULL
    stats, not division errors."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    base = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    g = base.groupBy("seg").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("cast(cents as decimal(19,0))")).alias("s"),
        F.sum(F.expr("cast(cents as decimal(19,0)) * cents")).alias("ss"),
    )
    ag = g.select(
        "n", "s", "ss",
        F.expr(_floor_scaled_div("s * s", "n", 1000000)).alias("a"),
    )
    tot = ag.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("n"),
        F.sum("s").alias("stot"),
        F.sum("a").alias("a"),
        F.expr("sum(ss) * 1000000").alias("ss6"),
    )
    b = _floor_scaled_div("stot * stot", "n", 1000000)
    fin = tot.select(
        "k", "n",
        F.expr(f"greatest(a - {b}, cast(0 as decimal(38,0)))").alias("ssb_d"),
        F.expr("ss6 - a").alias("ssw_d"),
        F.expr(f"ss6 - {b}").alias("sst_d"),
    )
    return fin.select(
        "k", "n",
        F.expr("cast(ssb_d as string)").alias("ssb_s"),
        F.expr("cast(ssw_d as string)").alias("ssw_s"),
        F.expr(
            "case when sst_d > 0 then"
            " cast(ssb_d * 1000000 div sst_d as bigint) end"
        ).alias("eta2_micro"),
        F.expr(
            "case when k > 1 and ssw_d > 0 then cast(least("
            + _floor_scaled_div(
                "ssb_d * (n - k)", "ssw_d * (k - 1)", 1000000
            )
            + ", cast(1000000000000000 as decimal(38,0))) as bigint) end"
        ).alias("f_micro"),
    ).withColumn(
        "f_stat", F.expr("round(cast(f_micro as double) / 1e6, 4)")
    )


_Q233_SQL = """
WITH base AS (
  SELECT c_mktsegment AS seg,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
), g AS (
  SELECT seg, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
         CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS ss
  FROM base GROUP BY seg
), ag AS (
  SELECT n, s, ss,
         (s * s // n) * 1000000 + ((s * s % n) * 1000000) // n AS a
  FROM g
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(s) AS HUGEINT) AS stot,
         CAST(sum(a) AS HUGEINT) AS a,
         CAST(sum(ss) AS HUGEINT) * 1000000 AS ss6
  FROM ag
), fin AS (
  SELECT k, n,
         greatest(a - ((stot * stot // n) * 1000000
                       + ((stot * stot % n) * 1000000) // n),
                  CAST(0 AS HUGEINT)) AS ssb_d,
         ss6 - a AS ssw_d,
         ss6 - ((stot * stot // n) * 1000000
                + ((stot * stot % n) * 1000000) // n) AS sst_d
  FROM tot
), fm AS (
  SELECT k, n, ssb_d, ssw_d, sst_d,
         CAST(CASE WHEN k > 1 AND ssw_d > 0 THEN least(
              ssb_d * (n - k) // (ssw_d * (k - 1)) * 1000000
              + (ssb_d * (n - k) % (ssw_d * (k - 1))) * 1000000
                // (ssw_d * (k - 1)),
              CAST(1000000000000000 AS HUGEINT)) END AS BIGINT) AS f_micro
  FROM fin
)
SELECT k, n,
       CAST(ssb_d AS VARCHAR) AS ssb_s,
       CAST(ssw_d AS VARCHAR) AS ssw_s,
       CAST(CASE WHEN sst_d > 0
                 THEN ssb_d * 1000000 // sst_d END AS BIGINT) AS eta2_micro,
       f_micro,
       round(CAST(f_micro AS DOUBLE) / 1e6, 4) AS f_stat
FROM fm
"""


def q321_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing the days-to-first-purchase
    survival curves of two deterministic user cohorts (user_id parity)
    — the hypothesis test the Kaplan-Meier (q222) / Nelson-Aalen
    (q235) estimators feed: does cohort membership change conversion
    timing, with right censoring handled correctly (a naive converted-%
    comparison is biased by censored users)?

    Exactness: O₁, O₂ are exact integer event sums; each event time's
    hypergeometric mean d·n₁/n and variance d·n₁n₂(n−d)/(n²(n−1)) are
    NANO-FLOORED integer divisions BEFORE summing (the q222 pre-sum
    quantization idiom), so e1_nano/v_nano are exact order-independent
    BIGINTs; z = (O₁−E₁)/√V is one final double chain through the
    sqrt seam (v_nano < 2^53 up to ~9e6 events — int64→double is
    correctly rounded in both engines, unlike HUGEINT, the q78 rule).

    Magnitude audit: the variance numerator d·n₁·n₂·(n−d)·10⁹ ~ N⁴·10⁹
    wraps BIGINT at N ≈ 200 subjects — it runs in DECIMAL(38,0)/
    HUGEINT (wrap at N ≈ 80k… no: 38 digits hold N⁴·10⁹ to N ≈ 3e7;
    beyond that, pre-divide n² first).

    Shape at 100 TB: one grouped corpus pass per event class to the
    |distinct durations|-bounded risk table (the q222 shape); the
    test statistic is a 1-row reduction of that bounded relation."""
    from ...sources.files import register_views

    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        _LOGRANK_CORE.format(
            day_expr="unix_micros(ts) div 86400000000",
            wide="DECIMAL(38,0)",
            idiv="div",
        )
    )


_Q321_SQL = _LOGRANK_CORE.format(
    day_expr="epoch_us(ts) // 86400000000",
    wide="HUGEINT",
    idiv="//",
)


def q322_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test (tie-corrected, via midranks) for whether event
    types have systematically different daily volumes — the
    repeated-measures companion of Kruskal-Wallis (q234): each day is
    a BLOCK, event types are ranked WITHIN the day, so day-level
    traffic swings (which inflate a pooled-rank test) cancel by
    construction.

    Exact integer arithmetic end-to-end with DOUBLED midranks
    (2r = 2·below + ties + 1, the q307 idiom, per block): with
    S2_j = Σ_days 2r_dj, the tie-corrected statistic
    Q = (k−1)·Σ_j(R_j − n(k+1)/2)² / (Σr² − nk(k+1)²/4) becomes
    Q = (k−1)·A / B with A = Σ_j (S2_j − n(k+1))² and
    B = Σ_cells (2r)² − n·k·(k+1)², both exact BIGINTs (the 4s
    cancel); q_milli = ((k−1)·A·1000) div B, NULL when B = 0 (all
    blocks fully tied — Q undefined, the q308 guard discipline).
    Missing (day, type) cells are zero-filled on the dense
    days×types grid, so blocks are complete by construction.

    Shape at 100 TB: one grouped corpus pass to the (day, type) count
    table; the dense grid, per-block rank windows, and the 1-row
    reduction all run on calendar·|types|-bounded relations."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "event_type",
    ).agg(F.count("*").alias("c"))
    days = cells.select("day").distinct()
    types = cells.select("event_type").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(cells, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("c", F.lit(0)).alias("c"))
    )
    vc = grid.groupBy("day", "c").agg(F.count("*").alias("t"))
    w = W.partitionBy("day").orderBy("c").rowsBetween(W.unboundedPreceding, -1)
    r2 = vc.select(
        "day",
        "c",
        (2 * F.coalesce(F.sum("t").over(w), F.lit(0)) + F.col("t") + 1).alias(
            "r2"
        ),
    )
    ranked = grid.join(r2, ["day", "c"]).select("day", "event_type", "r2")
    nk = ranked.agg(
        F.countDistinct("day").alias("n"),
        F.countDistinct("event_type").alias("k"),
        F.sum(F.expr("CAST(r2 AS DECIMAL(38,0)) * r2")).alias("ssq"),
    )
    s2 = ranked.groupBy("event_type").agg(F.sum("r2").alias("s2"))
    a = (
        s2.crossJoin(F.broadcast(nk))
        .select(
            F.expr(
                "CAST(s2 - n * (k + 1) AS DECIMAL(38,0))"
                " * (s2 - n * (k + 1))"
            ).alias("dev2"),
        )
        .agg(F.sum("dev2").alias("a_stat"))
    )
    return (
        a.crossJoin(F.broadcast(nk))
        .select(
            F.col("n").alias("n_days"),
            F.col("k").alias("k_types"),
            F.expr("CAST(a_stat AS DECIMAL(38,0))").cast("long").alias("a_stat"),
            F.expr(
                "CAST(ssq - CAST(n AS DECIMAL(38,0)) * k * (k + 1) * (k + 1)"
                " AS DECIMAL(38,0))"
            ).cast("long").alias("b_stat"),
            F.expr(
                "CASE WHEN ssq - CAST(n AS DECIMAL(38,0)) * k * (k+1) * (k+1)"
                " = 0 THEN CAST(NULL AS BIGINT)"
                " ELSE CAST(((k - 1) * CAST(a_stat AS DECIMAL(38,0)) * 1000)"
                " div (ssq - CAST(n AS DECIMAL(38,0)) * k * (k+1) * (k+1))"
                " AS BIGINT) END"
            ).alias("q_milli"),
        )
    )


_Q322_SQL = """
WITH cells AS (
  SELECT epoch_us(ts) // 86400000000 AS day, event_type,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), days AS (SELECT DISTINCT day FROM cells),
types AS (SELECT DISTINCT event_type FROM cells),
grid AS (
  SELECT d.day, t.event_type, coalesce(c.c, 0) AS c
  FROM days d CROSS JOIN types t
  LEFT JOIN cells c ON c.day = d.day AND c.event_type = t.event_type
), vc AS (
  SELECT day, c, CAST(count(*) AS BIGINT) AS t FROM grid GROUP BY 1, 2
), r2t AS (
  SELECT day, c,
         2 * coalesce(sum(t) OVER (PARTITION BY day ORDER BY c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + t + 1 AS r2
  FROM vc
), ranked AS (
  SELECT g.day, g.event_type, r.r2
  FROM grid g JOIN r2t r ON r.day = g.day AND r.c = g.c
), nk AS (
  SELECT CAST(count(DISTINCT day) AS BIGINT) AS n,
         CAST(count(DISTINCT event_type) AS BIGINT) AS k,
         CAST(sum(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS ssq
  FROM ranked
), s2 AS (
  SELECT event_type, CAST(sum(r2) AS BIGINT) AS s2 FROM ranked GROUP BY 1
), a AS (
  SELECT CAST(sum(CAST(s2.s2 - nk.n * (nk.k + 1) AS HUGEINT)
               * (s2.s2 - nk.n * (nk.k + 1))) AS HUGEINT) AS a_stat
  FROM s2 CROSS JOIN nk
)
SELECT nk.n AS n_days, nk.k AS k_types,
       CAST(a.a_stat AS BIGINT) AS a_stat,
       CAST(nk.ssq - CAST(nk.n AS HUGEINT) * nk.k * (nk.k + 1) * (nk.k + 1)
            AS BIGINT) AS b_stat,
       CAST(CASE WHEN nk.ssq - CAST(nk.n AS HUGEINT) * nk.k * (nk.k + 1)
                      * (nk.k + 1) = 0 THEN NULL
            ELSE ((nk.k - 1) * CAST(a.a_stat AS HUGEINT) * 1000)
                 // (nk.ssq - CAST(nk.n AS HUGEINT) * nk.k * (nk.k + 1)
                     * (nk.k + 1)) END AS BIGINT) AS q_milli
FROM a CROSS JOIN nk
"""


def q333_ab_duration_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test duration planner — the question every experiment
    review starts with, answered from the event stream itself: at the
    observed per-user conversion rate and daily traffic, how many
    users per arm (and how many days) does a two-sided α=0.05 / 80%-
    power test need to detect a +10% relative lift in the high-value
    (value > 200) purchase rate? Completes the
    experimentation suite (SRM q285, CUPED q286, A/A q295, Wilson
    q291, Neyman q294) with the PRE-experiment number.

    Determinism: the inputs (converters, users, days) are exact
    integers; p is ppm-quantized by exact integer division BEFORE the
    one double chain (normal-approximation n/arm with z=1.959964 +
    0.841621 literal constants — identical expression text in both
    engines, the accepted float-seam form), and the outputs are
    ceil()'d back to integers.

    Shape at 100 TB: one grouped pass to per-user flags (map-side
    combine on user_id), one 1-row reduction; the planner arithmetic
    is driver-free scalar algebra."""
    ev = _t(spark, sf_dir, "events")
    # qualifying conversion = a HIGH-VALUE purchase (value > 200) — the
    # plain any-purchase rate saturates at 1.0 on this schema, where a
    # planner is undefined (p2 = 1.1·p > 1)
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase") & (F.col("value") > 200)
            ).cast("long")
        ).alias("conv")
    )
    days = ev.agg(
        (
            F.expr("max(unix_micros(ts) div 86400000000)")
            - F.expr("min(unix_micros(ts) div 86400000000)")
            + 1
        ).alias("n_days")
    )
    base = per_user.agg(
        F.count("*").alias("n_users"),
        F.sum("conv").alias("n_converters"),
    )
    chain = (
        "CAST(round("
        "  (((1.959964e0 + 0.841621e0) * (1.959964e0 + 0.841621e0))"
        "   * (p1 * (1.0e0 - p1) + p2 * (1.0e0 - p2)))"
        "  / ((p2 - p1) * (p2 - p1))"
        "  + 0.5e0) AS BIGINT)"
    )
    return (
        base.crossJoin(F.broadcast(days))
        .select(
            "n_users",
            "n_converters",
            "n_days",
            F.expr("(n_converters * 1000000) div n_users").alias("p_ppm"),
            F.expr("n_users div n_days").alias("daily_users"),
        )
        .select(
            "n_users",
            "n_converters",
            "n_days",
            "p_ppm",
            "daily_users",
            F.expr(
                # p_ppm = 0 makes (p2-p1)^2 = 0 -> NaN whose BIGINT cast
                # diverges between engines; degenerate -> NULL (q308 idiom)
                "CASE WHEN p_ppm = 0 THEN CAST(NULL AS BIGINT) ELSE "
                + chain.replace("p1", "(CAST(p_ppm AS DOUBLE) / 1e6)")
                .replace("p2", "(CAST(p_ppm AS DOUBLE) / 1e6 * 1.1e0)")
                + " END"
            ).alias("n_per_arm"),
        )
        .select(
            "n_users",
            "n_converters",
            "n_days",
            "p_ppm",
            "daily_users",
            "n_per_arm",
            F.expr(
                "CASE WHEN daily_users > 0 THEN"
                " (2 * n_per_arm + daily_users - 1) div daily_users"
                " ELSE CAST(NULL AS BIGINT) END"
            ).alias("days_needed"),
        )
    )


_Q333_SQL = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 200
             THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
), days AS (
  SELECT max(epoch_us(ts) // 86400000000)
         - min(epoch_us(ts) // 86400000000) + 1 AS n_days
  FROM events
), base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(conv) AS BIGINT) AS n_converters
  FROM per_user
), scalars AS (
  SELECT n_users, n_converters, CAST(n_days AS BIGINT) AS n_days,
         CAST((n_converters * 1000000) // n_users AS BIGINT) AS p_ppm,
         CAST(n_users // n_days AS BIGINT) AS daily_users
  FROM base CROSS JOIN days
), planned AS (
  SELECT *,
         CASE WHEN p_ppm = 0 THEN NULL ELSE
         CAST(round(
           (((1.959964e0 + 0.841621e0) * (1.959964e0 + 0.841621e0))
            * ((CAST(p_ppm AS DOUBLE) / 1e6)
                 * (1.0e0 - CAST(p_ppm AS DOUBLE) / 1e6)
               + (CAST(p_ppm AS DOUBLE) / 1e6 * 1.1e0)
                 * (1.0e0 - CAST(p_ppm AS DOUBLE) / 1e6 * 1.1e0)))
           / ((CAST(p_ppm AS DOUBLE) / 1e6 * 1.1e0
               - CAST(p_ppm AS DOUBLE) / 1e6)
              * (CAST(p_ppm AS DOUBLE) / 1e6 * 1.1e0
                 - CAST(p_ppm AS DOUBLE) / 1e6))
           + 0.5e0) AS BIGINT) END AS n_per_arm
  FROM scalars
)
SELECT n_users, n_converters, n_days, p_ppm, daily_users, n_per_arm,
       CAST(CASE WHEN daily_users > 0 THEN
              (2 * n_per_arm + daily_users - 1) // daily_users
            ELSE NULL END AS BIGINT) AS days_needed
FROM planned
"""


def q337_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-spend Lorenz curve in deciles — the concentration curve
    BEHIND the Gini scalars (q189/q306): per spend-decile of customers
    (ascending), how many customers, how much revenue, and the
    cumulative revenue share — 'the top 10% of customers drive X% of
    revenue', exactly.

    Exact tie-splitting without a global row sort: on the spend-cents
    COUNT TABLE with cumulative rank intervals (lo, hi], decile d owns
    ranks ((d−1)·N div 10, d·N div 10]; a tied value-group straddling
    a boundary contributes overlap = max(0, min(hi, b_d) −
    max(lo, b_{d−1})) customers — every tied customer carries the SAME
    spend, so decile revenue = Σ overlap·v is exact. Shares are ppm
    integer divisions; spend sums accumulate in DECIMAL(38,0)/HUGEINT
    and the per-decile cents ship as BIGINT (≤ total revenue cents,
    int64-safe to ~9e16 cents).

    Shape at 100 TB: one grouped pass to per-customer spend (map-side
    combine on o_custkey), one rollup to the |distinct spend values|
    count table; the decile spine (10 rows) broadcasts and all windows
    run on the bounded count table."""
    orders = _t(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "cents"
        )
    )
    vc = cust.groupBy("cents").agg(F.count("*").alias("c"))
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    cum = vc.select(
        "cents",
        "c",
        (F.sum("c").over(w) - F.col("c")).alias("lo"),
        F.sum("c").over(w).alias("hi"),
    )
    tot = vc.agg(
        F.sum("c").alias("n_cust"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * c")).alias("total"),
    )
    deciles = F.broadcast(
        local_frame(spark, [(d,) for d in range(1, 11)], "decile int")
    )
    cells = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(deciles)
        .select(
            "decile",
            "cents",
            F.expr(
                "greatest(CAST(0 AS BIGINT),"
                " least(hi, (decile * n_cust) div 10)"
                " - greatest(lo, ((decile - 1) * n_cust) div 10))"
            ).alias("k"),
        )
        .filter(F.col("k") > 0)
        .groupBy("decile")
        .agg(
            F.sum("k").alias("n_customers"),
            F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * k")).alias("spend"),
        )
    )
    wd = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            F.col("spend").cast("long").alias("spend_cents"),
            F.expr("CAST((spend * 1000000) div total AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr(
                "CAST((sum(spend) OVER (ORDER BY decile"
                " ROWS UNBOUNDED PRECEDING) * 1000000) div total AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
        .orderBy("decile")
    )


_Q337_SQL = """
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
), vc AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS c FROM cust GROUP BY cents
), cum AS (
  SELECT cents, c,
         sum(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) - c AS lo,
         sum(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS hi
  FROM vc
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_cust,
         CAST(sum(CAST(cents AS HUGEINT) * c) AS HUGEINT) AS total
  FROM vc
), cells AS (
  SELECT d.decile,
         CAST(sum(k) AS BIGINT) AS n_customers,
         CAST(sum(CAST(cents AS HUGEINT) * k) AS HUGEINT) AS spend
  FROM (
    SELECT dd.decile, cum.cents,
           greatest(CAST(0 AS BIGINT),
             least(cum.hi, (dd.decile * tot.n_cust) // 10)
             - greatest(cum.lo, ((dd.decile - 1) * tot.n_cust) // 10)) AS k
    FROM cum CROSS JOIN tot
    CROSS JOIN (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) dd(decile)
  ) d
  WHERE d.k > 0
  GROUP BY d.decile
)
SELECT CAST(cells.decile AS INT) AS decile, cells.n_customers,
       CAST(cells.spend AS BIGINT) AS spend_cents,
       CAST((cells.spend * 1000000) // tot.total AS BIGINT) AS share_ppm,
       CAST((sum(cells.spend) OVER (ORDER BY cells.decile
             ROWS UNBOUNDED PRECEDING) * 1000000) // tot.total AS BIGINT)
         AS cum_share_ppm
FROM cells CROSS JOIN tot
ORDER BY decile
"""


def q235_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard H(t) = Σ_{t_i≤t} d_i/n_i for
    days-to-first-purchase, with the Poisson variance estimate
    Σ d_i/n_i² and the Fleming-Harrington survival Ŝ = exp(−H) — the
    other classical estimator pair on q222's shared right-censored
    risk table (_SURVIVAL_RISK_SPARK). Each per-step rational is
    micro/pico-quantized with `div` BEFORE the prefix sum, so both
    cumulatives are exact order-independent integer sums (the q222
    ln-quantization idiom); exp runs once per output row on
    H_micro/1e6 < 2⁵³. Scale shape: everything after the first
    groupBy runs on the |distinct durations| table."""
    from ...sources.files import register_views

    register_views(spark, sf_dir, ["events"])
    return spark.sql(
        _SURVIVAL_RISK_SPARK
        + """,
        steps AS (
          SELECT dur, d, n_risk,
                 cast(d as decimal(19,0)) * 1000000 div n_risk AS h_step,
                 cast(d as decimal(19,0)) * 1000000000000
                   div (cast(n_risk as decimal(19,0)) * n_risk) AS v_step
          FROM risk
        )
        SELECT dur AS duration_days, n_risk, d AS n_events,
               h_step AS hazard_step_micro,
               sum(h_step) OVER (ORDER BY dur
                    ROWS UNBOUNDED PRECEDING) AS cum_hazard_micro,
               sum(v_step) OVER (ORDER BY dur
                    ROWS UNBOUNDED PRECEDING) AS var_pico,
               cast(round(exp(-cast(sum(h_step) OVER (ORDER BY dur
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e6) * 1e6)
                    AS BIGINT) AS survival_fh_micro
        FROM steps
        WHERE d > 0
        ORDER BY dur
        """
    )


_Q235_SQL = _SURVIVAL_RISK_DUCK + """, steps AS (
  SELECT dur, d, n_risk,
         CAST(CAST(d AS HUGEINT) * 1000000 // n_risk AS BIGINT) AS h_step,
         CAST(CAST(d AS HUGEINT) * 1000000000000
              // (CAST(n_risk AS HUGEINT) * n_risk) AS BIGINT) AS v_step
  FROM risk
)
SELECT dur AS duration_days, n_risk, d AS n_events,
       h_step AS hazard_step_micro,
       CAST(sum(h_step) OVER (ORDER BY dur
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_hazard_micro,
       CAST(sum(v_step) OVER (ORDER BY dur
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS var_pico,
       CAST(round(exp(-CAST(sum(h_step) OVER (ORDER BY dur
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e6) * 1e6)
            AS BIGINT) AS survival_fh_micro
FROM steps
WHERE d > 0
ORDER BY dur
"""


def q234_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H (tie-corrected, EXACT): does event `value` differ
    in distribution across event types? The k-group rank ANOVA that
    completes the q187 (2-group Mann-Whitney) / q233 (parametric ANOVA)
    test family. Ranks never touch raw rows: values quantize to ms, the
    (type, ms) count table gets per-value totals from a partitionBy(v)
    window and the exclusive global cumulative from one rangeBetween
    window over the post-aggregation table, so doubled rank-sums
    2R_g = Σ c_gv·(2·cum(<v) + c_v + 1) stay integral under ties.
    Σ(2R_g)²·10⁶/n_g, 3A/(N(N+1)), and the tie correction
    (N³−N)/(N³−N−ΣT) all go through _floor_scaled_div — no quotient
    ever narrows past int64 and no >2⁵³ integer is cast to double.
    Degenerate inputs (k<2 or all values tied → C=0) yield NULL, not
    division errors. DECIMAL(38) ceiling ≈ 10⁹ events (R2² ~ 4N⁴)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("v"),
    ).where(F.col("v").isNotNull())
    cnt = base.groupBy("g", "v").agg(F.count("*").alias("c"))
    w_v = W.partitionBy("v")
    w_cum = W.orderBy("v").rangeBetween(W.unboundedPreceding, -1)
    u = cnt.select(
        "g", "c",
        F.sum("c").over(w_v).alias("cv"),
        F.coalesce(F.sum("c").over(w_cum), F.lit(0)).alias("cumx"),
    )
    s = u.groupBy("g").agg(
        F.sum("c").alias("n"),
        F.sum(
            F.expr("cast(c as decimal(19,0)) * (2 * cumx + cv + 1)")
        ).alias("r2"),
    )
    ag = s.select(
        "n", F.expr(_floor_scaled_div("r2 * r2", "n", 1000000)).alias("a")
    )
    ties = (
        cnt.groupBy("v").agg(F.sum("c").alias("cv"))
        .agg(F.sum(
            F.expr("cast(cv as decimal(19,0)) * cv * cv - cv")
        ).alias("tt"))
    )
    tot = ag.agg(
        F.count("*").alias("k"),
        F.sum("n").alias("n"),
        F.sum("a").alias("a"),
    ).crossJoin(F.broadcast(ties))
    t1 = _floor_scaled_div(
        "3 * a", "cast(n as decimal(19,0)) * (n + 1)", 1
    )
    prep = tot.select(
        "k", "n", "a", "tt",
        F.expr(
            f"greatest({t1} - 3 * (cast(n as decimal(19,0)) + 1) * 1000000,"
            " cast(0 as decimal(38,0)))"
        ).alias("h0"),
        F.expr(
            "cast(n as decimal(19,0)) * n * n - n"
        ).alias("nn3"),
    )
    return prep.select(
        "k", "n",
        F.expr("cast(a as string)").alias("a_s"),
        F.expr("cast(tt as string)").alias("tt_s"),
        F.expr(
            "case when k > 1 and nn3 - tt > 0 then cast("
            + _floor_scaled_div("h0 * nn3", "nn3 - tt", 1)
            + " as bigint) end"
        ).alias("h_micro"),
    ).withColumn(
        "h_stat", F.expr("round(cast(h_micro as double) / 1e6, 4)")
    )


_Q234_SQL = """
WITH base AS (
  SELECT event_type AS g, CAST(round(value * 1000) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
), cnt AS (
  SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY g, v
), u AS (
  SELECT g, c,
         CAST(sum(c) OVER (PARTITION BY v) AS BIGINT) AS cv,
         CAST(coalesce(sum(c) OVER (ORDER BY v
              RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cumx
  FROM cnt
), s AS (
  SELECT g, CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(CAST(c AS HUGEINT) * (2 * cumx + cv + 1)) AS HUGEINT)
           AS r2
  FROM u GROUP BY g
), ag AS (
  SELECT n, (r2 * r2 // n) * 1000000 + (r2 * r2 % n) * 1000000 // n AS a
  FROM s
), ties AS (
  SELECT CAST(sum(CAST(cv AS HUGEINT) * cv * cv - cv) AS HUGEINT) AS tt
  FROM (SELECT CAST(sum(c) AS BIGINT) AS cv FROM cnt GROUP BY v)
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(a) AS HUGEINT) AS a
  FROM ag
), prep AS (
  SELECT k, n, a, tt,
         greatest(3 * a // (CAST(n AS HUGEINT) * (n + 1))
                  - 3 * (CAST(n AS HUGEINT) + 1) * 1000000,
                  CAST(0 AS HUGEINT)) AS h0,
         CAST(n AS HUGEINT) * n * n - n AS nn3
  FROM tot CROSS JOIN ties
)
SELECT k, n,
       CAST(a AS VARCHAR) AS a_s,
       CAST(tt AS VARCHAR) AS tt_s,
       CAST(CASE WHEN k > 1 AND nn3 - tt > 0
                 THEN h0 * nn3 // (nn3 - tt) END AS BIGINT) AS h_micro,
       round(CAST(CAST(CASE WHEN k > 1 AND nn3 - tt > 0
                 THEN h0 * nn3 // (nn3 - tt) END AS BIGINT) AS DOUBLE)
             / 1e6, 4) AS h_stat
FROM prep
"""


def q241_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test: do purchase events
    carry different `value` than view events? One conditional-
    aggregation pass yields exact (n, Σms, Σms²) per side; the
    variance-of-mean terms v_i = (n·SS − S²)/(n²(n−1)) are
    micro-quantized through _floor_scaled_div (their numerators exceed
    every int64 bound), and the Welch-Satterthwaite df runs the same
    helper over the quantized vm_i so no intermediate ever narrows or
    wraps. Only the final t chain touches doubles — every cast input
    is a BIGINT < 2⁵³ (DuckDB's HUGEINT→DOUBLE is not correctly
    rounded, the q78 family trap; BIGINT→DOUBLE is). Guards: either
    side with n < 2 → NULL stats. DECIMAL ceiling ≈ 10⁹ events/side
    (n·SS in the helper's x < 9.2·10²⁷ bound)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("purchase", "view")).select(
        (F.col("event_type") == "purchase").cast("int").alias("is_p"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("ms"),
    ).where(F.col("ms").isNotNull())
    g = base.agg(
        F.sum("is_p").alias("n1"),
        F.sum(1 - F.col("is_p")).alias("n2"),
        F.sum(F.expr("cast(is_p * ms as decimal(19,0))")).alias("s1"),
        F.sum(F.expr("cast((1 - is_p) * ms as decimal(19,0))")).alias("s2"),
        F.sum(F.expr("cast(is_p as decimal(19,0)) * ms * ms")).alias("ss1"),
        F.sum(F.expr("cast(1 - is_p as decimal(19,0)) * ms * ms")).alias("ss2"),
    )
    vm1 = _floor_scaled_div(
        "cast(n1 as decimal(19,0)) * ss1 - s1 * s1",
        "cast(n1 as decimal(19,0)) * n1 * (n1 - 1)", 1000000,
    )
    vm2 = _floor_scaled_div(
        "cast(n2 as decimal(19,0)) * ss2 - s2 * s2",
        "cast(n2 as decimal(19,0)) * n2 * (n2 - 1)", 1000000,
    )
    prep = g.select(
        "n1", "n2",
        F.expr("s1 * 1000000 div n1").alias("m1_micro"),
        F.expr("s2 * 1000000 div n2").alias("m2_micro"),
        F.expr(f"case when n1 >= 2 then {vm1} end").alias("vm1d"),
        F.expr(f"case when n2 >= 2 then {vm2} end").alias("vm2d"),
    )
    prep2 = prep.select(
        "n1", "n2", "m1_micro", "m2_micro", "vm1d", "vm2d",
        F.expr(
            "case when vm1d is not null then "
            + _floor_scaled_div("vm1d * vm1d", "n1 - 1", 1)
            + " end"
        ).alias("d1"),
        F.expr(
            "case when vm2d is not null then "
            + _floor_scaled_div("vm2d * vm2d", "n2 - 1", 1)
            + " end"
        ).alias("d2"),
    )
    df_expr = _floor_scaled_div(
        "(vm1d + vm2d) * (vm1d + vm2d)", "d1 + d2", 1000
    )
    return prep2.select(
        "n1", "n2", "m1_micro", "m2_micro",
        F.expr("cast(vm1d as bigint)").alias("vm1"),
        F.expr("cast(vm2d as bigint)").alias("vm2"),
        F.expr(
            "case when vm1d is not null and vm2d is not null"
            " and vm1d + vm2d > 0 then"
            " round(cast(cast(m1_micro - m2_micro as bigint) as double)"
            " / 1e6 / sqrt(cast(cast(vm1d + vm2d as bigint) as double)"
            " / 1e6), 4) end"
        ).alias("t_stat"),
        F.expr(
            "case when d1 is not null and d2 is not null and d1 + d2 > 0"
            f" then cast({df_expr} as bigint) end"
        ).alias("df_milli"),
    )


_Q241_SQL = """
WITH base AS (
  SELECT CAST(event_type = 'purchase' AS INTEGER) AS is_p,
         CAST(round(value * 1000) AS BIGINT) AS ms
  FROM events
  WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
), g AS (
  SELECT CAST(sum(is_p) AS BIGINT) AS n1,
         CAST(sum(1 - is_p) AS BIGINT) AS n2,
         CAST(sum(CAST(is_p AS HUGEINT) * ms) AS HUGEINT) AS s1,
         CAST(sum(CAST(1 - is_p AS HUGEINT) * ms) AS HUGEINT) AS s2,
         CAST(sum(CAST(is_p AS HUGEINT) * ms * ms) AS HUGEINT) AS ss1,
         CAST(sum(CAST(1 - is_p AS HUGEINT) * ms * ms) AS HUGEINT) AS ss2
  FROM base
), prep AS (
  SELECT n1, n2,
         s1 * 1000000 // n1 AS m1_micro,
         s2 * 1000000 // n2 AS m2_micro,
         CASE WHEN n1 >= 2 THEN
           (CAST(n1 AS HUGEINT) * ss1 - s1 * s1) * 1000000
           // (CAST(n1 AS HUGEINT) * n1 * (n1 - 1)) END AS vm1d,
         CASE WHEN n2 >= 2 THEN
           (CAST(n2 AS HUGEINT) * ss2 - s2 * s2) * 1000000
           // (CAST(n2 AS HUGEINT) * n2 * (n2 - 1)) END AS vm2d
  FROM g
), prep2 AS (
  SELECT *, vm1d * vm1d // (n1 - 1) AS d1,
            vm2d * vm2d // (n2 - 1) AS d2
  FROM prep
)
SELECT n1, n2,
       CAST(m1_micro AS BIGINT) AS m1_micro,
       CAST(m2_micro AS BIGINT) AS m2_micro,
       CAST(vm1d AS BIGINT) AS vm1,
       CAST(vm2d AS BIGINT) AS vm2,
       CASE WHEN vm1d IS NOT NULL AND vm2d IS NOT NULL
            AND vm1d + vm2d > 0 THEN
         round(CAST(CAST(m1_micro - m2_micro AS BIGINT) AS DOUBLE)
               / 1e6 / sqrt(CAST(CAST(vm1d + vm2d AS BIGINT) AS DOUBLE)
               / 1e6), 4) END AS t_stat,
       CASE WHEN d1 IS NOT NULL AND d2 IS NOT NULL AND d1 + d2 > 0
            THEN CAST((vm1d + vm2d) * (vm1d + vm2d) * 1000
                 // (d1 + d2) AS BIGINT) END AS df_milli
FROM prep2
"""


def q242_bh_fdr_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR over a FAMILY of in-engine tests: for
    every source, a 3-bucket length chi-square (short/medium/long docs)
    against the corpus-wide proportions — df = 2, whose survival
    function is the closed form p = exp(−X²/2), so no erf is needed
    (neither engine ships one). Each X² term (O·N − n_s·C_b)²/(N·n_s·C_b)
    is micro-quantized through _floor_scaled_div and summed exactly;
    the p chain and the BH comparison p_i ≤ 0.05·i/m are identical
    double expressions in both engines (exact <2⁵³ integer inputs), so
    the discovery set is deterministic. Scale shape: the corpus
    collapses to per-(source, bucket) counts in one agg; the grid,
    ranks, and the BH step-up all run on the |sources|·3 table;
    zero-observed cells are materialized by the grid so their (O−E)²
    mass is not silently dropped. DECIMAL ceiling ≈ 3·10⁹ docs
    ((O·N)² < 10³⁸)."""
    docs = _t(spark, sf_dir, "documents")
    b = docs.select(
        "source",
        F.expr(
            "case when n_chars < 500 then 's'"
            " when n_chars < 2000 then 'm' else 'l' end"
        ).alias("bucket"),
    )
    obs = b.groupBy("source", "bucket").agg(F.count("*").alias("o"))
    src_t = b.groupBy("source").agg(F.count("*").alias("ns"))
    bkt_t = b.groupBy("bucket").agg(F.count("*").alias("cb"))
    n_t = b.agg(F.count("*").alias("n"))
    grid = (
        src_t.crossJoin(F.broadcast(bkt_t))
        .join(obs, ["source", "bucket"], "left")
        .crossJoin(F.broadcast(n_t))
        .select(
            "source", "ns", "cb", "n",
            F.coalesce("o", F.lit(0)).alias("o"),
        )
    )
    dev = (
        "(cast(o as decimal(19,0)) * n - cast(ns as decimal(19,0)) * cb)"
    )
    term = grid.select(
        "source", "ns",
        F.expr(
            "case when cb > 0 then "
            + _floor_scaled_div(
                f"{dev} * {dev}",
                "cast(n as decimal(19,0)) * ns * cb",
                1000000,
            )
            + " else cast(0 as decimal(38,0)) end"
        ).alias("t"),
    )
    x2 = term.groupBy("source", "ns").agg(
        F.expr("cast(sum(t) as bigint)").alias("x2_micro")
    )
    m_t = x2.agg(F.count("*").alias("m"))
    ranked = (
        x2.crossJoin(F.broadcast(m_t))
        .withColumn(
            "i",
            F.row_number().over(
                W.orderBy(F.desc("x2_micro"), "source")
            ),
        )
        .withColumn(
            "p_value",
            F.expr("exp(-cast(x2_micro as double) / 2e6)"),
        )
    )
    w_all = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return (
        ranked.withColumn(
            "bh_k",
            F.max(
                F.expr(
                    "case when p_value <= 5e-2 * i / m then i else 0 end"
                )
            ).over(w_all),
        )
        .select(
            "source", F.col("ns").alias("n_docs"), "x2_micro",
            F.round("p_value", 8).alias("p_value"),
            "i", "m", "bh_k",
            (F.col("i") <= F.col("bh_k")).alias("discovery"),
        )
        .orderBy("i")
    )


_Q242_SQL = """
WITH b AS (
  SELECT source,
         CASE WHEN n_chars < 500 THEN 's'
              WHEN n_chars < 2000 THEN 'm' ELSE 'l' END AS bucket
  FROM documents
), obs AS (
  SELECT source, bucket, CAST(count(*) AS BIGINT) AS o
  FROM b GROUP BY source, bucket
), src_t AS (
  SELECT source, CAST(count(*) AS BIGINT) AS ns FROM b GROUP BY source
), bkt_t AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS cb FROM b GROUP BY bucket
), n_t AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM b
), grid AS (
  SELECT s.source, s.ns, k.cb, n_t.n, coalesce(obs.o, 0) AS o
  FROM src_t s CROSS JOIN bkt_t k
  LEFT JOIN obs ON s.source = obs.source AND k.bucket = obs.bucket
  CROSS JOIN n_t
), term AS (
  SELECT source, ns,
         CASE WHEN cb > 0 THEN
           (CAST(o AS HUGEINT) * n - CAST(ns AS HUGEINT) * cb)
           * (CAST(o AS HUGEINT) * n - CAST(ns AS HUGEINT) * cb)
           * 1000000 // (CAST(n AS HUGEINT) * ns * cb)
         ELSE 0 END AS t
  FROM grid
), x2 AS (
  SELECT source, ns, CAST(sum(t) AS BIGINT) AS x2_micro
  FROM term GROUP BY source, ns
), m_t AS (
  SELECT CAST(count(*) AS BIGINT) AS m FROM x2
), ranked AS (
  SELECT source, ns, x2_micro, m,
         CAST(row_number() OVER (ORDER BY x2_micro DESC, source)
              AS BIGINT) AS i,
         exp(-CAST(x2_micro AS DOUBLE) / 2e6) AS p_value
  FROM x2 CROSS JOIN m_t
)
SELECT source, ns AS n_docs, x2_micro,
       round(p_value, 8) AS p_value, i, m,
       max(CASE WHEN p_value <= 5e-2 * i / m THEN i ELSE 0 END)
         OVER () AS bh_k,
       i <= max(CASE WHEN p_value <= 5e-2 * i / m THEN i ELSE 0 END)
         OVER () AS discovery
FROM ranked
ORDER BY i
"""


def q250_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between the
    purchase and view `value` distributions — the drift metric that
    sees HOW FAR mass moved, where KS (q186) only sees the largest gap
    and PSI (q192) needs binning. W₁ = ∫|F_A − F_B| dv collapses to a
    sum over DISTINCT ms values: Σ |cumA·nB − cumB·nA|·Δv / (nA·nB),
    whose numerator is an exact DECIMAL/HUGEINT integer from one
    inclusive cumulative window over the per-value count table (the
    q187 shape — raw rows never sort); one truncating division at the
    end emits micro-ms. Also emitted: the total-variation-style
    normalized W₁/range. Scale shape: one grouped count collapse, one
    bounded post-agg window, 1-row totals broadcast. DECIMAL ceiling
    ≈ 10⁹ events/side (cum·n products)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.where(
        F.col("event_type").isin("purchase", "view")
        & F.col("value").isNotNull()
    ).select(
        (F.col("event_type") == "purchase").cast("long").alias("is_a"),
        F.round(F.col("value") * 1000, 0).cast("long").alias("v"),
    )
    cnt = base.groupBy("v").agg(
        F.sum("is_a").alias("ca"), F.sum(1 - F.col("is_a")).alias("cb")
    )
    w_cum = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    w_next = W.orderBy("v")
    cum = cnt.select(
        "v",
        F.sum("ca").over(w_cum).alias("cuma"),
        F.sum("cb").over(w_cum).alias("cumb"),
        F.lead("v").over(w_next).alias("vnext"),
    )
    tot = base.agg(
        F.sum("is_a").alias("na"),
        F.sum(1 - F.col("is_a")).alias("nb"),
        F.min("v").alias("vlo"), F.max("v").alias("vhi"),
    )
    terms = cum.crossJoin(F.broadcast(tot)).where(
        F.col("vnext").isNotNull()
    ).select(
        F.expr(
            "abs(cast(cuma as decimal(19,0)) * nb"
            " - cast(cumb as decimal(19,0)) * na) * (vnext - v)"
        ).alias("t"),
        "na", "nb", "vlo", "vhi",
    )
    return terms.groupBy("na", "nb", "vlo", "vhi").agg(
        F.sum("t").alias("num")
    ).select(
        "na", "nb",
        F.expr("cast(num as string)").alias("num_s"),
        F.expr(
            "case when na > 0 and nb > 0 then cast(num * 1000000"
            " div (cast(na as decimal(19,0)) * nb) as bigint) end"
        ).alias("w1_micro"),
        F.expr(
            "case when na > 0 and nb > 0 and vhi > vlo then"
            " cast(num * 1000000 div (cast(na as decimal(19,0)) * nb"
            " * (vhi - vlo)) as bigint) end"
        ).alias("w1_norm_micro"),
    )


_Q250_SQL = """
WITH base AS (
  SELECT CAST(event_type = 'purchase' AS BIGINT) AS is_a,
         CAST(round(value * 1000) AS BIGINT) AS v
  FROM events
  WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
), cnt AS (
  SELECT v, CAST(sum(is_a) AS BIGINT) AS ca,
         CAST(sum(1 - is_a) AS BIGINT) AS cb
  FROM base GROUP BY v
), cum AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cuma,
         CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cumb,
         lead(v) OVER (ORDER BY v) AS vnext
  FROM cnt
), tot AS (
  SELECT CAST(sum(is_a) AS BIGINT) AS na,
         CAST(sum(1 - is_a) AS BIGINT) AS nb,
         min(v) AS vlo, max(v) AS vhi
  FROM base
), terms AS (
  SELECT abs(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na)
           * (vnext - v) AS t,
         na, nb, vlo, vhi
  FROM cum CROSS JOIN tot
  WHERE vnext IS NOT NULL
)
SELECT na, nb,
       CAST(sum(t) AS VARCHAR) AS num_s,
       CAST(CASE WHEN na > 0 AND nb > 0 THEN CAST(sum(t) AS HUGEINT)
            * 1000000 // (CAST(na AS HUGEINT) * nb) END AS BIGINT)
         AS w1_micro,
       CAST(CASE WHEN na > 0 AND nb > 0 AND vhi > vlo THEN
            CAST(sum(t) AS HUGEINT) * 1000000
            // (CAST(na AS HUGEINT) * nb * (vhi - vlo)) END AS BIGINT)
         AS w1_norm_micro
FROM terms
GROUP BY na, nb, vlo, vhi
"""


def q251_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean order value — THE
    resampling scheme that works on distributed data (Σ independent
    Poisson(1) weights ≈ multinomial resample, no global coordination;
    the bag-of-little-bootstraps building block). Every draw is
    DETERMINISTIC: u32 = first 8 md5 hex chars of "orderkey:replicate"
    (the engine-portable _h32 idiom), mapped to a weight by exact
    integer thresholds (_pois1_weight), so both engines materialize
    bit-identical resamples. 50 replicate means are exact ·10⁴-cent
    truncating quotients; the percentile CI picks order statistics 2
    and 49 (documented convention) by row_number over the 50-row
    table. Scale shape: the 50× expansion collapses immediately via
    map-side combine into 50 groups — one pass, no row ever carries
    more than (b, w, cents)."""
    orders = _t(spark, sf_dir, "orders", parallelize=True)
    base = orders.select(
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    reps = spark.range(1, 51).select(F.col("id").cast("int").alias("b"))
    u32 = ("conv(substr(md5(concat(cast(okey as string), ':',"
           " cast(b as string))), 1, 8), 16, 10)")
    weighted = base.crossJoin(F.broadcast(reps)).select(
        "b", "cents",
        F.expr(_pois1_weight(u32)).cast("long").alias("w"),
    )
    means = weighted.groupBy("b").agg(
        F.sum("w").alias("sw"),
        F.sum(F.expr("cast(w as decimal(19,0)) * cents")).alias("swx"),
    ).select(
        "b",
        F.expr(
            "case when sw > 0 then"
            " cast(swx * 10000 div sw as bigint) end"
        ).alias("mean_c4"),
    )
    ranked = means.withColumn(
        "rn", F.row_number().over(W.orderBy("mean_c4", "b"))
    )
    ci = ranked.agg(
        F.max(F.expr("case when rn = 2 then mean_c4 end")).alias("lo_c4"),
        F.max(F.expr("case when rn = 49 then mean_c4 end")).alias("hi_c4"),
        F.count("*").alias("b_count"),
    )
    point = base.agg(
        F.count("*").alias("n"),
        F.expr(
            "cast(sum(cast(cents as decimal(19,0))) * 10000"
            " div count(*) as bigint)"
        ).alias("mean_c4"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n", "b_count", "mean_c4", "lo_c4", "hi_c4",
        F.expr("cast(lo_c4 <= mean_c4 and mean_c4 <= hi_c4 as boolean)")
        .alias("covers_point"),
    )


_Q251_SQL = f"""
WITH base AS (
  SELECT o_orderkey AS okey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), reps AS (
  SELECT unnest(generate_series(1, 50)) AS b
), weighted AS (
  SELECT b, cents,
         CAST({_pois1_weight("(('0x' || substr(md5(okey::VARCHAR || ':' || b::VARCHAR), 1, 8))::BIGINT)")} AS BIGINT) AS w
  FROM base CROSS JOIN reps
), means AS (
  SELECT b,
         CAST(CASE WHEN sum(w) > 0 THEN
              CAST(sum(CAST(w AS HUGEINT) * cents) AS HUGEINT) * 10000
              // CAST(sum(w) AS HUGEINT) END AS BIGINT) AS mean_c4
  FROM weighted GROUP BY b
), ranked AS (
  SELECT b, mean_c4,
         row_number() OVER (ORDER BY mean_c4, b) AS rn
  FROM means
), ci AS (
  SELECT max(CASE WHEN rn = 2 THEN mean_c4 END) AS lo_c4,
         max(CASE WHEN rn = 49 THEN mean_c4 END) AS hi_c4,
         CAST(count(*) AS BIGINT) AS b_count
  FROM ranked
), point AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) * 10000
              // count(*) AS BIGINT) AS mean_c4
  FROM base
)
SELECT n, b_count, mean_c4, lo_c4, hi_c4,
       lo_c4 <= mean_c4 AND mean_c4 <= hi_c4 AS covers_point
FROM point CROSS JOIN ci
"""


def q253_optimal_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal 3-segmentation of the daily event-count series by exact
    Bellman dynamic programming — the k-segment generalization of the
    single changepoint (q238) and CUSUM (q190): minimize total
    within-segment SSE over ALL ways to cut the series into 3
    contiguous segments. Admissible at any corpus scale because the DP
    state is calendar-bounded: segment costs come from prefix sums
    (len·ΣX² − S²)·10⁶ div len via _floor_scaled_div (exact micro
    integers, so cost comparisons are engine-identical), the O(|days|²)
    sse relation and both DP layers are joins over bounded tables, and
    every argmin is min-cost-then-min-index (deterministic ties).
    Output: the three segments with boundaries, exact sums and costs,
    plus the optimal total — the oracle replays the identical DP as
    plain CTEs."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count("*").alias("c")
    )
    mm = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = mm.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    series = cal.join(daily, "d", "left").select(
        "d", F.coalesce("c", F.lit(0)).alias("c")
    )
    w = W.orderBy("d")
    pref = series.select(
        "d",
        F.row_number().over(w).alias("t"),
        F.sum("c").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("p"),
        F.sum(F.expr("cast(c as decimal(19,0)) * c"))
        .over(w.rowsBetween(W.unboundedPreceding, 0)).alias("q"),
    )
    nrow = pref.agg(F.max("t").alias("n"))
    zero = spark.sql(
        "select 0 as t, cast(0 as bigint) as p,"
        " cast(0 as decimal(29,0)) as q"
    )
    prefz = pref.select("t", "p", "q").unionByName(zero)
    a = prefz.select(
        F.col("t").alias("a"), F.col("p").alias("pa"), F.col("q").alias("qa")
    )
    b = pref.select(
        F.col("t").alias("j"), F.col("p").alias("pj"), F.col("q").alias("qj")
    )
    # The O(|days|²) pair expansion is the DP's state space by design
    # (calendar-bounded); broadcast the anchor side so it compiles to
    # BroadcastNestedLoopJoin, and persist — four consumers below.
    sse = F.broadcast(a).join(b, F.col("j") > F.col("a")).select(
        (F.col("a") + 1).alias("i"), "j",
        (F.col("j") - F.col("a")).alias("len"),
        (F.col("pj") - F.col("pa")).alias("s"),
        F.expr(
            "cast("
            + _floor_scaled_div(
                "(j - a) * (qj - qa) - cast(pj - pa as decimal(19,0))"
                " * (pj - pa)",
                "j - a", 1000000,
            )
            + " as decimal(38,0))"
        ).alias("sse_micro"),
    ).localCheckpoint(eager=True)
    cost1 = sse.where(F.col("i") == 1).select(
        F.col("j").alias("t"), F.col("sse_micro").alias("c1")
    )
    cand2 = cost1.join(sse, F.col("i") == F.col("t") + 1).select(
        F.col("t").alias("j1"), F.col("j").alias("t2"),
        (F.col("c1") + F.col("sse_micro")).alias("tot2"),
    )
    m2 = cand2.groupBy("t2").agg(F.min("tot2").alias("c2"))
    cand3 = (
        m2.join(
            sse.crossJoin(F.broadcast(nrow)).where(F.col("j") == F.col("n")),
            F.col("i") == F.col("t2") + 1,
        )
        .select("t2", (F.col("c2") + F.col("sse_micro")).alias("tot3"))
    )
    best3 = cand3.agg(F.min("tot3").alias("total_cost"))
    j2 = (
        cand3.join(
            F.broadcast(best3), F.col("tot3") == F.col("total_cost")
        )
        .agg(
            F.min("t2").alias("j2"),
            F.min("total_cost").alias("total_cost_micro"),
        )
    )
    j1 = (
        cand2.join(F.broadcast(j2), F.col("t2") == F.col("j2"))
        .join(
            m2.withColumnRenamed("t2", "t2m"),
            F.col("t2m") == F.col("j2"),
        )
        .where(F.col("tot2") == F.col("c2"))
        .agg(F.min("j1").alias("j1"))
    )
    bounds = (
        j1.crossJoin(F.broadcast(j2)).crossJoin(F.broadcast(nrow))
        .select(
            F.expr(
                "stack(3,"
                " 1, cast(1 as bigint), cast(j1 as bigint),"
                " 2, cast(j1 + 1 as bigint), cast(j2 as bigint),"
                " 3, cast(j2 + 1 as bigint), cast(n as bigint))"
                " as (seg_id, i, j)"
            ),
            "total_cost_micro",
        )
        .select("seg_id", "i", "j", "total_cost_micro")
    )
    dates = pref.select("t", "d")
    return (
        bounds
        .join(sse.select("i", "j", "len", "s", "sse_micro"), ["i", "j"])
        .join(dates.withColumnRenamed("t", "i")
              .withColumnRenamed("d", "start_date"), "i")
        .join(dates.withColumnRenamed("t", "j")
              .withColumnRenamed("d", "end_date"), "j")
        .select(
            "seg_id", "start_date", "end_date", "len",
            F.col("s").alias("seg_sum"),
            F.expr("cast(sse_micro as bigint)").alias("sse_micro"),
            F.expr("cast(total_cost_micro as bigint)")
            .alias("total_cost_micro"),
        )
        .orderBy("seg_id")
    )
