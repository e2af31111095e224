"""Breadth batch 4: ranking/navigation window functions, gaps-and-
islands, deterministic hash sampling, and date-spine zero-fill.

Same numeric policy as ``core.py`` (decimal money sums, bigint
counts, ISO date strings, tz-free epoch math for events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .core import _dec_sum
from .data import load, registry


# ------------------------------------- ranking / navigation windows


def q_order_rank_functions(spark: SparkSession, sf: str) -> DataFrame:
    """Navigation + distribution window functions per customer:
    lead/lag (next/previous order price), ntile quartile,
    percent_rank and cume_dist over the order sequence — ONE window
    spec, one shuffle on o_custkey."""
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("customer_id"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


SQL_ORDER_RANK_FUNCTIONS = """
SELECT o_orderkey AS order_key,
       o_custkey AS customer_id,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# --------------------------------------------- gaps and islands


def q_user_activity_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: per user, islands of CONSECUTIVE active days
    (day - row_number is constant within an island — the classic
    formulation).  Two window passes + one aggregate, all partitioned
    by user: no global shuffle beyond the user key."""
    ev = load(spark, sf, "events")
    days = (
        ev.select(
            "user_id",
            (F.col("ts_us") / F.lit(86_400_000_000))
            .cast("bigint")
            .alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = days.withColumn(
        "grp", F.col("day") - F.row_number().over(w)
    )
    islands = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return islands.groupBy("user_id").agg(
        F.sum("streak_len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.max("streak_len").cast("bigint").alias("longest_streak"),
    )


SQL_USER_ACTIVITY_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
  FROM events
), grouped AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
), islands AS (
  SELECT user_id, grp, COUNT(*) AS streak_len
  FROM grouped GROUP BY user_id, grp
)
SELECT user_id,
       CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(MAX(streak_len) AS BIGINT) AS longest_streak
FROM islands
GROUP BY user_id
"""


# ------------------------------------- deterministic hash sampling


def q_lineitem_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic ~10% sample via md5 prefix compare — the
    reproducible cross-engine sampling primitive (TABLESAMPLE is
    engine-/split-dependent; a key-hash predicate is stable across
    engines, runs, and repartitioning, and pushes down to the scan as
    a cheap per-row filter).  Aggregates verify the sampled subset is
    identical in both engines."""
    li = load(spark, sf, "lineitem")
    key = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    sampled = li.filter(F.md5(key.cast("binary")) < "1a")  # 26/256 ~ 10.2%
    return sampled.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        _dec_sum(F.col("l_extendedprice"), 2, "revenue"),
    )


SQL_LINEITEM_HASH_SAMPLE = """
SELECT l_returnflag,
       COUNT(*) AS n_sampled,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR))
      < '1a'
GROUP BY l_returnflag
"""


#: per-stratum sampling rates: hex threshold on the md5 key prefix
#: (two hex digits = fraction/256), chosen per order status
_STRATA = {"F": "1a", "O": "0d", "P": "80"}  # ~10% / ~5% / ~50%


def q_orders_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified deterministic sampling: each stratum (order status)
    keeps a DIFFERENT fraction via the same md5-prefix predicate as
    ``lineitem_hash_sample`` — the rebalancing step for skewed class
    distributions (downsample the bulk class, keep the rare one).
    The per-stratum threshold is a tiny CASE expression, so the
    sample is still a single pushed-down scan filter: no shuffle, no
    per-group pass, reproducible across engines and repartitioning."""
    o = load(spark, sf, "orders")
    thresh = F.when(
        F.col("o_orderstatus") == "F", _STRATA["F"]
    ).when(F.col("o_orderstatus") == "O", _STRATA["O"]).otherwise(
        _STRATA["P"]
    )
    h = F.md5(F.col("o_orderkey").cast("string").cast("binary"))
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((h < thresh).cast("bigint")).alias("n_sampled"),
            _dec_sum(
                F.when(h < thresh, F.col("o_totalprice")).otherwise(0.0),
                2,
                "sampled_price",
            ),
        )
        .orderBy("o_orderstatus")
    )


SQL_ORDERS_STRATIFIED_SAMPLE = f"""
SELECT o_orderstatus,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN md5(CAST(o_orderkey AS VARCHAR)) <
             CASE o_orderstatus WHEN 'F' THEN '{_STRATA["F"]}'
                                WHEN 'O' THEN '{_STRATA["O"]}'
                                ELSE '{_STRATA["P"]}' END
           THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN md5(CAST(o_orderkey AS VARCHAR)) <
             CASE o_orderstatus WHEN 'F' THEN '{_STRATA["F"]}'
                                WHEN 'O' THEN '{_STRATA["O"]}'
                                ELSE '{_STRATA["P"]}' END
           THEN CAST(o_totalprice AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE)
         AS sampled_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_customer_string_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar string-function medley (SURVEY §2.8 breadth): regex
    capture, split, padding/masking, case/replace — all narrow
    codegen'd expressions over one scan.  ``c_name`` is
    'Customer#NNNNNNNNN'."""
    c = load(spark, sf, "customer")
    num = F.regexp_extract("c_name", r"#(\d+)$", 1)
    return c.select(
        "c_custkey",
        num.cast("bigint").alias("name_num"),
        F.length(F.regexp_replace("c_name", r"[^0-9]", ""))
        .cast("bigint")
        .alias("n_digits"),
        F.concat(
            F.lit("***#"), F.substring(F.col("c_name"), -4, 4)
        ).alias("masked_name"),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("_"))).alias(
            "name_norm"
        ),
        F.lpad(F.col("c_mktsegment"), 12, ".").alias("segment_padded"),
        F.size(F.split(F.col("c_name"), "#")).cast("bigint").alias(
            "n_name_parts"
        ),
    )


SQL_CUSTOMER_STRING_FUNCS = """
SELECT c_custkey,
       CAST(regexp_extract(c_name, '#(\\d+)$', 1) AS BIGINT) AS name_num,
       CAST(length(regexp_replace(c_name, '[^0-9]', '', 'g')) AS BIGINT)
         AS n_digits,
       '***#' || substring(c_name, length(c_name) - 3, 4) AS masked_name,
       lower(replace(c_name, '#', '_')) AS name_norm,
       lpad(c_mktsegment, 12, '.') AS segment_padded,
       CAST(len(string_split(c_name, '#')) AS BIGINT) AS n_name_parts
FROM customer
"""


def q_signup_purchase_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Two-step event funnel: per user, first 'signup', then count
    'purchase' events inside the following hour — conversion
    measurement, the event-analytics shape product pipelines run
    daily.  Shape: one filtered aggregate finds each user's first
    signup (partial+final, no window/sort), then ONE equi-join on
    user_id re-attaches purchases and the time band is a residual
    filter on the joined row — never a time-range join condition
    (which would nested-loop).  Event time is bigint microseconds
    (tz-free, exact in both engines)."""
    ev = load(spark, sf, "events")
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("signup_us"))
    )
    hour = 3_600_000_000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_us").alias("p_us"), "value"
    )
    return (
        first_signup.join(purchases, "user_id", "left")
        .withColumn(
            "in_window",
            # coalesce: a user with NO purchase rows at all joins to a
            # null p_us -> the predicate is NULL, and a NULL-only group
            # would sum to NULL where the oracle's CASE yields 0
            F.coalesce(
                (F.col("p_us") > F.col("signup_us"))
                & (F.col("p_us") <= F.col("signup_us") + hour),
                F.lit(False),
            ),
        )
        .groupBy("user_id")
        .agg(
            F.min("signup_us").alias("signup_us"),
            F.sum(F.col("in_window").cast("bigint")).alias("n_purchases_1h"),
            _dec_sum(
                F.when(F.col("in_window"), F.col("value")).otherwise(0.0),
                2,
                "purchase_value_1h",
            ),
        )
        .withColumn(
            "converted", (F.col("n_purchases_1h") > 0).cast("bigint")
        )
    )


SQL_SIGNUP_PURCHASE_FUNNEL = """
WITH first_signup AS (
  SELECT user_id, MIN(epoch_us(ts)) AS signup_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), p AS (
  SELECT user_id, epoch_us(ts) AS p_us, value
  FROM events WHERE event_type = 'purchase'
), joined AS (
  SELECT f.user_id, f.signup_us,
         (p.p_us > f.signup_us AND p.p_us <= f.signup_us + 3600000000)
           AS in_window,
         p.value
  FROM first_signup f LEFT JOIN p USING (user_id)
)
SELECT user_id,
       MIN(signup_us) AS signup_us,
       CAST(SUM(CASE WHEN in_window THEN 1 ELSE 0 END) AS BIGINT)
         AS n_purchases_1h,
       CAST(SUM(CASE WHEN in_window THEN CAST(value AS DECIMAL(18,2))
                     ELSE 0 END) AS DOUBLE) AS purchase_value_1h,
       CAST(CASE WHEN SUM(CASE WHEN in_window THEN 1 ELSE 0 END) > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS converted
FROM joined
GROUP BY user_id
"""


# --------------------------------------------- date spine zero-fill


def q_event_date_spine(spark: SparkSession, sf: str) -> DataFrame:
    """Generated date spine (sequence + explode) x event types, LEFT
    joined to daily counts with zero-fill — the dense-calendar shape
    reporting needs (a bare groupBy silently drops empty days).  The
    spine is generated, never scanned; the daily counts reduce before
    the join, so the join is spine-sized, not event-sized."""
    ev = load(spark, sf, "events")
    day = (F.col("ts_us") / F.lit(86_400_000_000)).cast("bigint")
    daily = ev.groupBy(
        day.alias("day"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    spine_days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.unix_date(F.to_date(F.lit("2024-01-01"))).cast("bigint"),
                F.unix_date(F.to_date(F.lit("2024-02-29"))).cast("bigint"),
            )
        ).alias("day")
    )
    types = ev.select("event_type").distinct()
    spine = spine_days.crossJoin(types)
    return (
        spine.join(daily, ["day", "event_type"], "left")
        .select(
            F.date_format(
                F.date_add(
                    F.to_date(F.lit("1970-01-01")), F.col("day").cast("int")
                ),
                "yyyy-MM-dd",
            ).alias("day"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


SQL_EVENT_DATE_SPINE = """
WITH daily AS (
  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), spine_days AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', d.gs) AS BIGINT) AS day
  FROM generate_series(DATE '2024-01-01', DATE '2024-02-29',
                       INTERVAL 1 DAY) d(gs)
), spine AS (
  SELECT s.day, t.event_type
  FROM spine_days s CROSS JOIN (SELECT DISTINCT event_type FROM events) t
)
SELECT strftime(DATE '1970-01-01' + INTERVAL (s.day) DAY, '%Y-%m-%d') AS day,
       s.event_type,
       CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events
FROM spine s
LEFT JOIN daily d ON s.day = d.day AND s.event_type = d.event_type
"""


# ------------------------------------------------- unpivot / melt


def q_order_metrics_melt(spark: SparkSession, sf: str) -> DataFrame:
    """Wide-to-long reshape with the native ``unpivot`` operator: per
    order status, three aggregate metrics melt into (status, metric,
    value) rows.  Unpivot is a narrow 1->N row expansion — zero
    shuffle beyond the aggregation's own exchange."""
    o = load(spark, sf, "orders")
    price_dec = F.col("o_totalprice").cast("decimal(18,2)")
    wide = o.groupBy("o_orderstatus").agg(
        F.sum(price_dec).cast("double").alias("sum_price"),
        F.round(F.avg(price_dec), 6).cast("double").alias("avg_price"),
        F.count(F.lit(1)).cast("double").alias("n_orders"),
    )
    return wide.unpivot(
        ids=["o_orderstatus"],
        values=["sum_price", "avg_price", "n_orders"],
        variableColumnName="metric",
        valueColumnName="value",
    )


SQL_ORDER_METRICS_MELT = """
WITH wide AS (
  SELECT o_orderstatus,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS sum_price,
         CAST(ROUND(AVG(CAST(o_totalprice AS DECIMAL(18,2))), 6) AS DOUBLE)
           AS avg_price,
         CAST(COUNT(*) AS DOUBLE) AS n_orders
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, 'sum_price' AS metric, sum_price AS value FROM wide
UNION ALL
SELECT o_orderstatus, 'avg_price', avg_price FROM wide
UNION ALL
SELECT o_orderstatus, 'n_orders', n_orders FROM wide
"""


# ------------------------------------- binning / moment aggregates


def q_price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram of order totals: 20 equal bins with a
    top clamp — binning is a pure projection (floor-div), so the
    whole histogram is ONE partial+final aggregate pass, the shape a
    100 TB distribution profile must have (no sort, no window).
    Bucket bounds are emitted so the result is self-describing."""
    o = load(spark, sf, "orders")
    width, nbins = 30000, 20
    bucket = F.least(
        F.floor(F.col("o_totalprice") / width), F.lit(nbins - 1)
    ).cast("bigint")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_orders"))
        .select(
            "bucket",
            (F.col("bucket") * width).cast("double").alias("lo"),
            ((F.col("bucket") + 1) * width).cast("double").alias("hi"),
            "n_orders",
        )
    )


SQL_PRICE_HISTOGRAM = """
SELECT bucket,
       CAST(bucket * 30000 AS DOUBLE) AS lo,
       CAST((bucket + 1) * 30000 AS DOUBLE) AS hi,
       COUNT(*) AS n_orders
FROM (
  SELECT LEAST(CAST(FLOOR(o_totalprice / 30000) AS BIGINT), 19) AS bucket
  FROM orders
)
GROUP BY bucket
"""


def q_lineitem_moments(spark: SparkSession, sf: str) -> DataFrame:
    """Second-moment statistics per return flag: stddev, correlation
    and covariance of quantity vs extended price — single-pass
    mergeable co-moment aggregates (Welford/Chan), the only shape
    that computes distribution relationships at 100 TB without a
    second scan.  Rounded to 6 d.p.: both engines run the same
    numerically-stable update, agreeing well past that."""
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(
                F.corr("l_quantity", "l_extendedprice"), 6
            ).alias("corr_qty_price"),
            F.round(
                F.covar_samp("l_quantity", "l_discount"), 6
            ).alias("covar_qty_disc"),
        )
        .orderBy("l_returnflag")
    )


SQL_LINEITEM_MOMENTS = """
SELECT l_returnflag,
       COUNT(*) AS n,
       ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q_scd2_customer_history(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 dimension history build — the versioned form of the
    reference's SCD-1 overwrite (gold_transformation.py:28-161
    rebuilds dims destructively; type 2 keeps every version with a
    validity interval).  Each order event becomes a customer-state
    version: ``valid_from`` = event date, ``valid_to`` = next event's
    date (exclusive, NULL while current), ``is_current`` flags the
    open version — the QUALIFY/row_number construction a MERGE-based
    SCD-2 pipeline computes incrementally.

    Scale: ONE window shuffle on the dimension key; no joins, no
    self-union.  At 100 TB the same window runs per key partition and
    the history table partitions by ``is_current`` so point-in-time
    lookups prune to closed or open versions."""
    o = load(spark, sf, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        F.row_number().over(w).cast("bigint").alias("version_nr"),
        F.col("o_orderdate").cast("string").alias("valid_from"),
        nxt.cast("string").alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.round("o_totalprice", 2).alias("snapshot_value"),
    )


SQL_SCD2_CUSTOMER_HISTORY = """
SELECT o_custkey,
       CAST(row_number() OVER w AS BIGINT) AS version_nr,
       CAST(o_orderdate AS VARCHAR) AS valid_from,
       CAST(lead(o_orderdate) OVER w AS VARCHAR) AS valid_to,
       lead(o_orderdate) OVER w IS NULL AS is_current,
       ROUND(o_totalprice, 2) AS snapshot_value
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_snapshot_diff_orders(spark: SparkSession, sf: str) -> DataFrame:
    """CDC-style snapshot diff (``operators.diff.snapshot_diff``): a
    second orders snapshot is derived deterministically (drop every
    97th key = deletes, bump price on every 89th = updates, re-key a
    copy of every 101st = inserts), then diffed against the original
    with ONE full outer join on the key.  Output: per change class,
    row count and key checksum.

    Scale: the single key-shuffle join is the whole cost; bucketed
    snapshots make it shuffle-free."""
    from ..operators.diff import snapshot_diff

    o = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    modified = o.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    inserts = o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10_000_000
    )
    new = modified.unionByName(inserts)
    d = snapshot_diff(o, new, ["o_orderkey"])
    return d.groupBy("change").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
    )


SQL_SNAPSHOT_DIFF_ORDERS = """
WITH o AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
  FROM orders
), new AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM o WHERE o_orderkey % 97 != 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_custkey, o_totalprice, o_orderstatus
  FROM o WHERE o_orderkey % 101 = 0
), d AS (
  SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NULL
                THEN 'delete'
              WHEN o.o_orderkey IS NULL AND n.o_orderkey IS NOT NULL
                THEN 'insert'
              WHEN o.o_custkey IS DISTINCT FROM n.o_custkey
                OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                THEN 'update'
         END AS change
  FROM o FULL OUTER JOIN new n USING (o_orderkey)
)
SELECT change,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
FROM d WHERE change IS NOT NULL
GROUP BY change
"""


# --------------------------------------- fuzzy record linkage (ER)


def q_customer_entity_resolution(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution by blocked fuzzy matching — the
    dirty-records staple: a sparse probe set of corrupted customer
    names (deterministic OCR-style noise: one dropped character,
    zeros misread as 'O') is linked back to the clean master by
    best levenshtein distance among candidates sharing the blocking
    key (nation).

    Scale: the probe side is sparse (custkey % 97) and the join is
    a blocked equi-join on the nation key — candidate fanout is
    |customers| / |nations| per probe, never all-pairs.  The argmin
    is a row_number window partitioned per probe.  At 100 TB the
    blocking key gets finer (nation x name-prefix x phonetic key) —
    same plan shape, smaller blocks; the edit distance runs
    JVM-side (built-in levenshtein), no Python in the loop."""
    c = load(spark, sf, "customer")
    probes = c.filter(F.col("c_custkey") % 97 == 0).select(
        F.col("c_custkey").alias("probe_key"),
        F.col("c_nationkey").alias("block"),
        F.translate(
            F.concat(
                F.substring("c_name", 1, 11), F.expr("substr(c_name, 13)")
            ),
            "0",
            "O",
        ).alias("dirty_name"),
    )
    cand = c.select(
        F.col("c_custkey").alias("cand_key"),
        F.col("c_nationkey").alias("block"),
        F.col("c_name").alias("cand_name"),
    )
    scored = probes.join(cand, "block").withColumn(
        "distance", F.levenshtein("dirty_name", "cand_name").cast("bigint")
    )
    w = Window.partitionBy("probe_key").orderBy("distance", "cand_key")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "probe_key",
            F.col("cand_key").alias("matched_key"),
            "distance",
            (F.col("cand_key") == F.col("probe_key")).alias("is_self_match"),
        )
        .orderBy("probe_key")
    )


SQL_CUSTOMER_ENTITY_RESOLUTION = """
WITH probes AS (
  SELECT c_custkey AS probe_key, c_nationkey AS block,
         replace(substr(c_name, 1, 11) || substr(c_name, 13), '0', 'O')
           AS dirty_name
  FROM customer WHERE c_custkey % 97 = 0
), cand AS (
  SELECT c_custkey AS cand_key, c_nationkey AS block, c_name AS cand_name
  FROM customer
), scored AS (
  SELECT p.probe_key, c.cand_key,
         CAST(levenshtein(p.dirty_name, c.cand_name) AS BIGINT) AS distance
  FROM probes p JOIN cand c USING (block)
)
SELECT probe_key, cand_key AS matched_key, distance,
       cand_key = probe_key AS is_self_match
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY probe_key
                           ORDER BY distance, cand_key) = 1
ORDER BY probe_key
"""


def q_quantile_binning(spark: SparkSession, sf: str) -> DataFrame:
    """Equal-frequency binning (the QuantileDiscretizer/feature-
    bucketing primitive): decile bins of extended price WITHIN each
    return flag via ntile over a fully-determined order (price +
    rowkey tiebreak — ntile is order-sensitive on ties, so the sort
    key must be total for a cross-engine-stable result), then bin
    boundary/occupancy stats.

    Scale: one window shuffle partitioned by l_returnflag, then one
    groupBy; at extreme scale the same readout comes from the
    approx_percentile sketch (``price_percentiles_approx``) instead
    of a full sort — shape documented there."""
    li = load(spark, sf, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    binned = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.ntile(10).over(w).cast("bigint").alias("bin"),
    )
    return (
        binned.groupBy("l_returnflag", "bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .orderBy("l_returnflag", "bin")
    )


SQL_QUANTILE_BINNING = """
WITH binned AS (
  SELECT l_returnflag, l_extendedprice,
         ntile(10) OVER (PARTITION BY l_returnflag
                         ORDER BY l_extendedprice, l_orderkey,
                                  l_linenumber) AS bin
  FROM lineitem
)
SELECT l_returnflag, bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(l_extendedprice), 2) AS lo,
       ROUND(MAX(l_extendedprice), 2) AS hi
FROM binned
GROUP BY 1, 2
ORDER BY l_returnflag, bin
"""


def q_conversion_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Time-to-convert distribution: per user, first 'signup' and
    the FIRST 'purchase' after it; exact p50/p90/max latency (in
    minutes) plus conversion counts — the product-analytics readout
    next to the funnel's volume counts.

    Shape: two filtered partial+final aggregates + ONE equi-join on
    user_id (band as residual filter, same discipline as the
    funnel), then a single global aggregate of per-user scalars."""
    ev = load(spark, sf, "events")
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("s_us"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_us").alias("p_us")
    )
    lat = (
        first_signup.join(purchases, "user_id")
        .filter(F.col("p_us") > F.col("s_us"))
        .groupBy("user_id")
        .agg(F.min(F.col("p_us") - F.col("s_us")).alias("lat_us"))
        .select((F.col("lat_us") / 60_000_000.0).alias("lat_min"))
    )
    p = lambda q: F.round(F.percentile(F.col("lat_min"), F.lit(q)), 4)
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        p(0.5).alias("p50_min"),
        p(0.9).alias("p90_min"),
        F.round(F.max("lat_min"), 4).alias("max_min"),
    )


SQL_CONVERSION_LATENCY = """
WITH s AS (
  SELECT user_id, MIN(epoch_us(ts)) AS s_us
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), lat AS (
  SELECT e.user_id,
         MIN(epoch_us(e.ts) - s.s_us) / 60000000.0 AS lat_min
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.s_us
  GROUP BY e.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(quantile_cont(lat_min, 0.5), 4) AS p50_min,
       ROUND(quantile_cont(lat_min, 0.9), 4) AS p90_min,
       ROUND(MAX(lat_min), 4) AS max_min
FROM lat
"""


def q_rfm_segmentation(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order),
    frequency (order count), monetary (total spend) quintiles via
    ntile over TOTAL orders (rowkey tiebreaks for cross-engine rank
    stability), composed into the classic champion/loyal/at-risk
    labels — the segmentation every CRM pipeline materializes.

    Shape: one per-customer rollup, then quintile CUT POINTS from a
    scalar percentile aggregate (broadcast) and bucket assignment as
    a narrow CASE — deliberately NOT ntile, whose global window
    would single-task the customer relation; boundary-bucketing
    keeps the whole query partial+final aggregates.  (Boundary ties
    bucket by value, not by equal counts — the scalable trade,
    identical in both engines.)"""
    o = load(spark, sf, "orders")
    day = F.unix_date(F.col("o_orderdate").cast("date")).cast("bigint")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("spend"),
    )
    anchor = per_cust.agg(F.max("last_day").alias("d1"))
    base = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        (F.col("d1") - F.col("last_day"))
        .cast("double")
        .alias("recency_days"),
        F.col("freq").cast("double").alias("freq"),
        "spend",
    )
    qs = F.array(F.lit(0.2), F.lit(0.4), F.lit(0.6), F.lit(0.8))
    cuts = base.agg(
        F.percentile(F.col("recency_days"), qs).alias("rc"),
        F.percentile(F.col("freq"), qs).alias("fc"),
        F.percentile(F.col("spend"), qs).alias("mc"),
    )

    def bucket(v, cut_col):
        b = F.lit(1)
        for i in range(4):
            b = b + (v > F.element_at(F.col(cut_col), i + 1)).cast("int")
        return b

    scored = base.crossJoin(F.broadcast(cuts)).select(
        "o_custkey",
        bucket(F.col("recency_days"), "rc").alias("r"),
        (F.lit(6) - bucket(F.col("freq"), "fc")).alias("f"),
        (F.lit(6) - bucket(F.col("spend"), "mc")).alias("m"),
    )
    seg = (
        F.when((F.col("r") <= 2) & (F.col("f") <= 2), "champion")
        .when(F.col("f") <= 2, "loyal")
        .when(F.col("r") >= 4, "at_risk")
        .otherwise("regular")
    )
    return (
        scored.withColumn("segment", seg)
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("segment")
    )


SQL_RFM_SEGMENTATION = """
WITH per_cust AS (
  SELECT o_custkey,
         MAX(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)))
           AS last_day,
         CAST(COUNT(*) AS DOUBLE) AS freq,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
), anchor AS (SELECT MAX(last_day) AS d1 FROM per_cust),
base AS (
  SELECT o_custkey, CAST(d1 - last_day AS DOUBLE) AS recency_days,
         freq, spend
  FROM per_cust CROSS JOIN anchor
), cuts AS (
  SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
         quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fc,
         quantile_cont(spend, [0.2, 0.4, 0.6, 0.8]) AS mc
  FROM base
), scored AS (
  SELECT o_custkey,
         1 + (recency_days > rc[1])::INT + (recency_days > rc[2])::INT
           + (recency_days > rc[3])::INT + (recency_days > rc[4])::INT
           AS r,
         6 - (1 + (freq > fc[1])::INT + (freq > fc[2])::INT
                + (freq > fc[3])::INT + (freq > fc[4])::INT) AS f,
         6 - (1 + (spend > mc[1])::INT + (spend > mc[2])::INT
                + (spend > mc[3])::INT + (spend > mc[4])::INT) AS m
  FROM base CROSS JOIN cuts
)
SELECT CASE WHEN r <= 2 AND f <= 2 THEN 'champion'
            WHEN f <= 2 THEN 'loyal'
            WHEN r >= 4 THEN 'at_risk'
            ELSE 'regular' END AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM scored
GROUP BY 1
ORDER BY segment
"""


# --------------------------- decision-support subquery shapes (Q11/
# Q13/Q16/Q22 analogs): HAVING-vs-global-scalar, outer-join count
# distribution, anti-joined distinct counts, double-negation EXISTS


def q_important_part_value(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value restricted to one
    nation's suppliers, kept only where it exceeds a FRACTION OF THE
    GLOBAL TOTAL — the group-HAVING-against-global-aggregate pattern.
    The global total is a 1-row aggregate broadcast against the
    per-part rollup (no second scan: both aggregates reuse the same
    joined relation via persist)."""
    li = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf, "nation").filter(F.col("n_name") == "NATION_7")
    val = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("l_partkey", val.alias("val"))
        .persist()
    )
    per_part = joined.groupBy("l_partkey").agg(
        F.sum("val").alias("value_d")
    )
    total = joined.agg(
        (F.sum("val") * F.lit(0.001).cast("decimal(8,4)")).alias("cut")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_d") > F.col("cut"))
        .select(
            F.col("l_partkey").alias("part_key"),
            F.col("value_d").cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), "part_key")
    )


SQL_IMPORTANT_PART_VALUE = """
WITH joined AS (
  SELECT l_partkey,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
)
SELECT l_partkey AS part_key, CAST(SUM(val) AS DOUBLE) AS value
FROM joined
GROUP BY l_partkey
HAVING SUM(val) > (SELECT SUM(val) * CAST(0.001 AS DECIMAL(8,4))
                   FROM joined)
ORDER BY value DESC, part_key
"""


def q_customer_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of customers by how many
    qualifying orders they placed, INCLUDING the zero bucket — a
    LEFT OUTER join (so order-less customers survive) with a filtered
    join predicate (priority exclusion lives in the join condition,
    not a WHERE, which would silently turn the outer join inner)."""
    c = load(spark, sf, "customer").select("c_custkey")
    o = load(spark, sf, "orders").select("o_custkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "4-NOT SPECIFIED"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .select(
            F.col("c_count").cast("bigint").alias("c_count"),
            F.col("custdist").cast("bigint").alias("custdist"),
        )
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_CUSTOMER_ORDER_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_custkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority != '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_supplier_part_breadth(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: how many DISTINCT suppliers can deliver each
    (brand, type, size) combination, excluding one brand, a size
    whitelist, and "complaint" suppliers (negative account balance)
    removed by LEFT ANTI join — the not-in-subquery pattern as a
    shuffle-free-on-the-small-side anti join."""
    li = load(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    p = load(spark, sf, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    bad = load(spark, sf, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"],
                "left_anti")
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .select(
            "p_brand", "p_type",
            F.col("p_size").cast("bigint").alias("p_size"),
            F.col("supplier_cnt").cast("bigint").alias("supplier_cnt"),
        )
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


SQL_SUPPLIER_PART_BREADTH = """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand != 'Brand#5'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_dormant_wealth_report(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy-but-dormant accounts — customers
    whose balance beats the positive-balance average yet placed no
    URGENT order, bucketed by customer-key digit (the country-code
    analog).  Composes a scalar subquery (global average over a
    filtered scan) with a LEFT ANTI join (NOT EXISTS)."""
    c = load(spark, sf, "customer").select("c_custkey", "c_acctbal")
    urgent = load(spark, sf, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    # the threshold compare is EXACT cross-multiplication in cents
    # (bal*n > sum), never a divided average: Spark AVG(decimal)
    # stays decimal while DuckDB's goes double, and a borderline
    # balance could flip between the two roundings
    cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents).alias("sum_c"),
        F.count(F.lit(1)).alias("n_c"),
    )
    return (
        c.select("c_custkey", "c_acctbal", cents.alias("bal_c"))
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("bal_c") * F.col("n_c") > F.col("sum_c"))
        .join(urgent, c["c_custkey"] == urgent["o_custkey"], "left_anti")
        .groupBy((F.col("c_custkey") % 10).cast("bigint").alias("key_digit"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            _dec_sum(F.col("c_acctbal"), 2, "totacctbal"),
        )
        .orderBy("key_digit")
    )


SQL_DORMANT_WEALTH_REPORT = """
WITH stats AS (
  SELECT SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS sum_c,
         COUNT(*) AS n_c
  FROM customer WHERE c_acctbal > 0
)
SELECT CAST(c_custkey % 10 AS BIGINT) AS key_digit,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         AS totacctbal
FROM customer CROSS JOIN stats
WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * n_c
      > sum_c
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY 1
ORDER BY key_digit
"""


QUERIES = (
    ("conversion_latency", q_conversion_latency, SQL_CONVERSION_LATENCY),
    ("rfm_segmentation", q_rfm_segmentation, SQL_RFM_SEGMENTATION),
    ("quantile_binning", q_quantile_binning, SQL_QUANTILE_BINNING),
    ("snapshot_diff_orders", q_snapshot_diff_orders, SQL_SNAPSHOT_DIFF_ORDERS),
    ("customer_entity_resolution", q_customer_entity_resolution,
     SQL_CUSTOMER_ENTITY_RESOLUTION),
    ("scd2_customer_history", q_scd2_customer_history,
     SQL_SCD2_CUSTOMER_HISTORY),
    ("order_rank_functions", q_order_rank_functions, SQL_ORDER_RANK_FUNCTIONS),
    ("price_histogram", q_price_histogram, SQL_PRICE_HISTOGRAM),
    ("lineitem_moments", q_lineitem_moments, SQL_LINEITEM_MOMENTS),
    ("user_activity_streaks", q_user_activity_streaks,
     SQL_USER_ACTIVITY_STREAKS),
    ("lineitem_hash_sample", q_lineitem_hash_sample, SQL_LINEITEM_HASH_SAMPLE),
    ("orders_stratified_sample", q_orders_stratified_sample,
     SQL_ORDERS_STRATIFIED_SAMPLE),
    ("customer_string_funcs", q_customer_string_funcs,
     SQL_CUSTOMER_STRING_FUNCS),
    ("signup_purchase_funnel", q_signup_purchase_funnel,
     SQL_SIGNUP_PURCHASE_FUNNEL),
    ("event_date_spine", q_event_date_spine, SQL_EVENT_DATE_SPINE),
    ("order_metrics_melt", q_order_metrics_melt, SQL_ORDER_METRICS_MELT),
    ("important_part_value", q_important_part_value, SQL_IMPORTANT_PART_VALUE),
    ("customer_order_distribution", q_customer_order_distribution,
     SQL_CUSTOMER_ORDER_DISTRIBUTION),
    ("supplier_part_breadth", q_supplier_part_breadth,
     SQL_SUPPLIER_PART_BREADTH),
    ("dormant_wealth_report", q_dormant_wealth_report,
     SQL_DORMANT_WEALTH_REPORT),
)
SPARK_QUERIES, ORACLE_SQL = registry(QUERIES)
