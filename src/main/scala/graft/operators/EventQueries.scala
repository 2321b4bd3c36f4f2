package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GlobalRank
import graft.sources.Tables

/** Event-stream (batch) workload over the `events` table: time-bucket
  * aggregation, JSON prop extraction, gap-based sessionization.
  *
  * Timestamp determinism with the oracle: the physical `ts` encoding
  * has shifted across testdata generations (ns-precision parquet read
  * as nanos longs under `nanosAsLong`; now µs-precision TIMESTAMP_NTZ)
  * while DuckDB always reads it as a timestamp — so every
  * comparison/grouping goes through `Tables.events`' normalized
  * `ts_us` epoch-micros BIGINT (== `epoch_us(ts)` on the oracle side,
  * both floor for positive epochs), never raw timestamps. The
  * type-dispatch lives in Tables.epochMicros; EventSchemaSpec pins
  * that every query here returns identical rows on BOTH physical
  * encodings. Money-style sums go through DECIMAL as usual.
  *
  * The streaming (incremental) versions of these live in
  * graft.streaming — the reference has no incremental processing at
  * all (SURVEY §1.1), so those are additive and not oracle-gated.
  */
object EventQueries {

  private def events(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)

  /** Normalized epoch-micros BIGINT (Tables.events appends it for any
    * physical ts encoding). */
  private def tsMicros = col("ts_us")

  /** ts → whole days since epoch (the retention/WAU cohort bucket).
    * Integral DIV — `/` would go through double. */
  private def tsDay = expr("ts_us DIV 86400000000")

  /** Attribution range join: for every click, how many purchases the
    * same user made within the following hour — the (t, t+Δ] range
    * join that goes quadratic if written naively (Spark plans a
    * non-equi join as BNLJ: every click × every purchase per user).
    *
    * Scale shape: BUCKETIZED range join. Purchases are exploded to
    * their hour bucket and the preceding one, so a click joins on the
    * EQUI key (user_id, its own bucket) — any qualifying purchase
    * (click.ts < p.ts ≤ click.ts + 1 h) lands in one of those two
    * buckets — then the exact range predicate filters residuals. Cost
    * is 2× the purchase rows through one hash join instead of a
    * per-user cross product; Δ tunes the bucket width. The left join
    * keeps zero-purchase clicks (count(p) counts only matches). */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val HourUs = 3600000000L
    val e = events(spark, dir).withColumn("us", tsMicros)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("us").as("c_us"),
        expr(s"us DIV $HourUs").as("bkt"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("p_us"),
        explode(array(expr(s"us DIV $HourUs"),
          expr(s"us DIV $HourUs") - 1)).as("bkt"))
    clicks.join(purchases, Seq("user_id", "bkt"), "left")
      .groupBy(col("event_id"))
      .agg(count(when(col("p_us") > col("c_us") &&
        col("p_us") <= col("c_us") + HourUs, 1)).as("n_purchases"))
      .orderBy(col("event_id"))
  }

  val eventsAttributionSql: String =
    """SELECT c.event_id,
      |  COUNT(CASE WHEN epoch_us(p.ts) > epoch_us(c.ts)
      |    AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000 THEN 1 END)
      |    AS n_purchases
      |FROM events c
      |LEFT JOIN events p
      |  ON p.user_id = c.user_id AND p.event_type = 'purchase'
      |WHERE c.event_type = 'click'
      |GROUP BY c.event_id
      |ORDER BY c.event_id""".stripMargin

  /** Hourly tumbling-window counts/sums per event type. */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(
        date_format(timestamp_micros(tsMicros), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .orderBy(col("hour"), col("event_type"))

  val eventsHourlySql: String =
    """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY hour, event_type
      |ORDER BY hour, event_type""".stripMargin

  /** JSON prop extraction + aggregation (the protocol layer's
    * JSON-value dynamism, relationally). */
  def eventsJson(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val eventsJsonSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Gap-based sessionization: a new session starts after a >30-min
    * silence per user. Two windows over one user-keyed shuffle:
    * lag → boundary flag → running sum = session id; then per-session
    * rollup. The classic pattern mrjob cannot express without
    * SORT_VALUES + stateful reducers (SURVEY §2.4). */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 30L * 60 * 1000000
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("event_id").asc)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), tsMicros.as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("boundary",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("boundary")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** As-of join: for every 'error' event, the user's most recent
    * 'signup' at-or-before it. Spark has no ASOF JOIN operator; the
    * guide's preference (a) — compose built-ins — applies: tag-union
    * both sides, one user-keyed window, `last(_, ignoreNulls)` carries
    * the newest left-side timestamp forward. ONE shuffle on user_id,
    * no range-join explosion — this shape holds at 100 TB (an actual
    * range join would be quadratic per user without range bucketing).
    * Ties: a signup at the exact error micro sorts first (tag 0 <
    * tag 1) and therefore counts as "before". */
  def eventsAsof(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(col("user_id"), col("event_id"),
      col("event_type"), tsMicros.as("us"))
    val tagged = e.filter(col("event_type").isin("signup", "error"))
      .withColumn("tag", when(col("event_type") === "signup", 0).otherwise(1))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").asc, col("tag").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_signup_us",
        last(when(col("tag") === 0, col("us")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id").as("error_event_id"), col("user_id"),
        col("us").as("error_us"), col("last_signup_us"),
        (col("us") - col("last_signup_us")).as("gap_us"))
      .orderBy(col("error_event_id"))
  }

  val eventsAsofSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |  FROM events WHERE event_type IN ('signup', 'error')),
      |tagged AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END AS tag
      |  FROM e),
      |carried AS (
      |  SELECT user_id, event_id, us, tag,
      |    last_value(CASE WHEN tag = 0 THEN us END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY us ASC, tag ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_us
      |  FROM tagged)
      |SELECT event_id AS error_event_id, user_id, us AS error_us,
      |  last_signup_us, us - last_signup_us AS gap_us
      |FROM carried WHERE tag = 1
      |ORDER BY error_event_id""".stripMargin

  /** Interval (range) join via TIME-BUCKETING: for every 'click',
    * every 'purchase' by the same user within the following hour,
    * aggregated per user. Spark has no native range-join operator —
    * the naive `a.user = b.user AND b.us BETWEEN a.us AND a.us + Δ`
    * formulation plans the range as a post-join filter over the full
    * per-user cross product (quadratic in per-user event count). The
    * scale-correct shape makes the RANGE part of the JOIN KEY: with
    * bucket width == window length Δ, a match's purchase bucket is
    * always the click's bucket or the one after, so the probe side
    * explodes to exactly TWO (user, bucket) keys and the join is a
    * plain equi-join on (user_id, bucket) + a cheap residual range
    * filter. Candidates are bounded by per-(user, hour) density — at
    * 100 TB the shuffle stays linear in events and a hot hour of one
    * user is the only skew unit (AQE skew-split handles it), where
    * the naive plan's unit is a user's whole history. Each true pair
    * is emitted exactly once (a purchase has one bucket).
    * Equivalence of the two formulations is PlanSpec + spec-pinned;
    * the oracle replays the naive predicate in DuckDB. */
  def eventsIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 3600000000L // 1 h window == bucket width
    val e = events(spark, dir)
      .select(col("user_id"), col("event_type"), tsMicros.as("us"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("a_us"))
      .withColumn("bkt", explode(array(
        expr(s"a_us DIV $winUs"), expr(s"a_us DIV $winUs + 1"))))
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("b_us"),
        expr(s"b_us DIV $winUs").as("bkt"))
    clicks.join(buys, Seq("user_id", "bkt"))
      .where(col("b_us") >= col("a_us") &&
        col("b_us") - col("a_us") <= winUs)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("b_us") - col("a_us")).as("sum_gap_us"),
        max(col("b_us") - col("a_us")).as("max_gap_us"))
      .orderBy(col("user_id"))
  }

  val eventsIntervalJoinSql: String =
    """SELECT a.user_id, COUNT(*) AS n_pairs,
      |  CAST(SUM(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS sum_gap_us,
      |  MAX(epoch_us(b.ts) - epoch_us(a.ts)) AS max_gap_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      |  AND a.event_type = 'click' AND b.event_type = 'purchase'
      |  AND epoch_us(b.ts) >= epoch_us(a.ts)
      |  AND epoch_us(b.ts) - epoch_us(a.ts) <= 3600000000
      |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin

  /** Pivot: per-user event-type counts as columns. Spark `pivot` with
    * an explicit value list (never the implicit distinct-scan variant
    * at scale); the oracle is the equivalent conditional aggregation. */
  def eventsPivot(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy(col("user_id"))
  }

  val eventsPivotSql: String =
    """SELECT user_id,
      |  COUNT(*) FILTER (event_type = 'click') AS click,
      |  COUNT(*) FILTER (event_type = 'error') AS error,
      |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (event_type = 'view') AS view
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Exact per-group median (lower element for even n — position
    * (n+1) div 2) via row_number: deterministic, one shuffle per group
    * key, no interpolation-formula drift between engines. */
  def eventsMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n + 1) DIV 2"))
      .select(col("event_type"), col("value").as("median_value"),
        col("n").as("n_events"))
      .orderBy(col("event_type"))
  }

  val eventsMedianSql: String =
    """SELECT event_type, value AS median_value, n AS n_events FROM (
      |  SELECT event_type, value, event_id,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events) t
      |WHERE rn = (n + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** Approximate per-group QUANTILES — the sketch companion to the
    * exact [[eventsMedian]]: p50/p95/p99 of `value` per event_type via
    * Spark's `percentile_approx` (the Greenwald-Khanna sketch).
    * Exact percentiles need the full per-group sort eventsMedian pays;
    * the GK sketch is fixed-size and MERGEABLE — partial sketches
    * combine map-side like any partial agg, so at 100 TB this is one
    * ordinary partial+final aggregation with no global sort anywhere
    * (the same scale argument as hll_distinct vs q6_distinct).
    * Sketch-defined output is merge-order-dependent, so it is never
    * SQL-replayable: since r12 its catalog presence is the
    * hash-checked [[eventsQuantilesAudit]] row (the named
    * events_quantiles row is the oracled exact spelling,
    * [[eventsQuantilesExact]]); the spec additionally pins the GK
    * rank-error contract (≤ n/accuracy) against the exact sorted
    * quantiles, mirroring the HLL 5%-error gate. */
  def eventsQuantiles(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame = {
    val qs = array(lit(0.5), lit(0.95), lit(0.99))
    events(spark, dir)
      .groupBy(col("event_type"))
      // count(value), not count(*): percentile_approx ignores NULL
      // values, so the sketch's ε·n guarantee (and the audit row's
      // rank gate) is over the NON-NULL count — an all-rows n would
      // silently widen rstar on a corpus with NULL values (r8 advice)
      .agg(count(col("value")).as("n_events"),
        percentile_approx(col("value"), qs, lit(accuracy)).as("q"))
      .select(col("event_type"), col("n_events"),
        element_at(col("q"), 1).as("p50"),
        element_at(col("q"), 2).as("p95"),
        element_at(col("q"), 3).as("p99"))
      .orderBy(col("event_type"))
  }

  /** Registered audit row for the GK sketch (round-7 verdict #5): the
    * sketch's output cannot be SQL-replayed (merge-order-dependent
    * internal state), but its ACCURACY CONTRACT can be hash-checked —
    * percentile_approx guarantees the returned value's true rank is
    * within n/accuracy of the target rank (the GK ε·n bound,
    * Greenwald & Khanna 2001). The engine measures that for real:
    * each approximate quantile's true rank interval (lo, hi] — values
    * strictly below / at-or-below it — must intersect
    * [(q − ε)·n, (q + ε)·n]. `within_gate` is the measured verdict;
    * the oracle emits the guarantee (TRUE) plus the exactly-replayable
    * n_events, so a sketch violating its ε breaks the driver's hash
    * compare. One corpus scan for the sketch (the registered row's
    * plan) + one for the rank counts (a 3-row broadcast join, partial
    * agg on the bounded (type, pct) key space). */
  def eventsQuantilesAudit(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame = {
    // value IS NOT NULL: the rank basis must match the sketch's —
    // NULLs contribute neither to percentile_approx nor to n_events
    // (count(value)), so they must not sit in the rank scan either
    // (the lo/hi whens would map them to 0 anyway; filtering keeps
    // the three bases — sketch, n, ranks — one definition)
    val e = events(spark, dir).select(col("event_type"), col("value"))
      .where(col("value").isNotNull)
    val melted = eventsQuantiles(spark, dir, accuracy)
      .select(col("event_type"), col("n_events"),
        expr("stack(3, CAST(50 AS BIGINT), p50, CAST(95 AS BIGINT), " +
          "p95, CAST(99 AS BIGINT), p99) AS (pct, av)"))
    val ranked = e.join(broadcast(melted), Seq("event_type"))
      .groupBy(col("event_type"), col("pct"), col("n_events"))
      .agg(
        sum(when(col("value") < col("av"), 1L).otherwise(0L)).as("lo"),
        sum(when(col("value") <= col("av"), 1L).otherwise(0L)).as("hi"))
    // left-join back FROM melted (r9 advice): an event_type whose
    // values are ALL NULL has n_events=0 and no surviving rank rows —
    // the inner join would drop it while the oracle still emits a
    // (type, pct, 0, TRUE) row. Restore it with lo=hi=0 and a
    // vacuously-true gate (no data, nothing to straddle). Both sides
    // of this repair join are |types|×3 — broadcast, never a shuffle.
    melted.select(col("event_type"), col("pct"), col("n_events"))
      .join(broadcast(ranked), Seq("event_type", "pct", "n_events"), "left")
      .withColumn("lo", coalesce(col("lo"), lit(0L)))
      .withColumn("hi", coalesce(col("hi"), lit(0L)))
      // target rank r* = ⌈q·n⌉ — Spark's QuantileSummaries.query
      // convention — with a 2·ε·n band: the sketch guarantees its
      // INTERNAL (minRank, maxRank) straddle r* within ε·n, and the
      // merged summary's rank spread is itself ≤ ε·n, so the TRUE
      // dataset rank can sit up to 2·ε·n from r* (measured: −2 at
      // n≈19.9k where ε·n≈1.99 — exactly the merge term; a 1·ε·n gate
      // mis-flags correct sketches). Gate:
      // (lo, hi] ∩ [r* − 2ε·n, r* + 2ε·n] ≠ ∅, all-integer after
      // scaling by accuracy.
      .withColumn("rstar",
        expr("(pct * n_events + 99) DIV 100")) // ceil, positive args
      .select(col("event_type"), col("pct"), col("n_events"),
        (col("n_events") === 0L ||
         (col("hi") * accuracy >=
           col("rstar") * accuracy - col("n_events") * 2L &&
          (col("lo") + 1L) * accuracy <=
           col("rstar") * accuracy + col("n_events") * 2L))
          .as("within_gate"))
      .orderBy(col("event_type"), col("pct"))
  }

  val eventsQuantilesAuditSql: String =
    """SELECT event_type, pct, COUNT(value) AS n_events, TRUE AS within_gate
      |FROM events
      |CROSS JOIN (VALUES (CAST(50 AS BIGINT)), (CAST(95 AS BIGINT)),
      |  (CAST(99 AS BIGINT))) p(pct)
      |GROUP BY event_type, pct
      |ORDER BY event_type, pct""".stripMargin

  /** Exact leave-one-out KS drift per EVENT TYPE over the value
    * distribution (integer cents) — [[TextAnalysis.ksOfHist]]'s
    * algebra applied to the metrics domain: "did purchase amounts /
    * click values shift for one event type vs everything else" is the
    * same early-warning gate drift_ks runs on document lengths, and
    * the operator REUSES the scoring path verbatim (one histogram
    * pass, every window over the |types|×|support| grid — the
    * domain-bounded shape). value→cents uses the
    * events_quantiles_exact conversion, so the histogram domain is
    * integers both engines agree on. */
  def eventsDriftKs(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(col("event_type").as("source"),
      round(col("value") * 100d).cast("long").as("c"))
    graft.operators.TextAnalysis.ksOfHist(
        e.groupBy(col("source"), col("c")).agg(count(lit(1)).as("cnt")))
      .select(col("source").as("event_type"),
        col("n_docs").as("n_events"), col("ks_ppm"))
      .orderBy(col("event_type"))
  }

  val eventsDriftKsSql: String =
    graft.operators.TextAnalysis.driftKsSqlOver(
      "SELECT event_type AS source, CAST(round(value * 100) AS BIGINT) AS c FROM events",
      "event_type", "n_events")

  /** EXACT per-group quantiles — registered as THE `events_quantiles`
    * row since r12 (the GK sketch [[eventsQuantiles]] is its audited
    * approximate companion): p50/p95/p99 of value cents per event
    * type, the [[GlobalRank.cuts]] kernel grouped by type. One scan:
    * the histogram feeds both the running count and `n`. A
    * corpus-sorting percentile would shuffle 100 TB; this shuffles
    * the value domain. */
  def eventsQuantilesExact(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100d).cast("long").as("c"))
    GlobalRank.cuts(e, Seq("event_type"), "c", desc = false,
        ("p50_cents", 1, 2), ("p95_cents", 19, 20), ("p99_cents", 99, 100))
      .withColumnRenamed("n", "n_events")
      .orderBy(col("event_type"))
  }

  val eventsQuantilesExactSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |hist AS (
      |  SELECT event_type, c, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, c,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum
      |  FROM hist),
      |n AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1)
      |SELECT cum.event_type, MAX(n.n) AS n_events,
      |  MIN(CASE WHEN cum * 2 >= n THEN c END) AS p50_cents,
      |  MIN(CASE WHEN cum * 20 >= n * 19 THEN c END) AS p95_cents,
      |  MIN(CASE WHEN cum * 100 >= n * 99 THEN c END) AS p99_cents
      |FROM cum JOIN n USING (event_type)
      |GROUP BY cum.event_type
      |ORDER BY cum.event_type""".stripMargin

  /** Inter-event gap distribution — the measurement that justifies a
    * sessionization threshold (events_sessionize hard-codes 30 min;
    * this op is how you'd pick it): per-user consecutive-event gaps
    * in whole seconds, summarized as exact p50/p90/p99/max by the
    * global [[GlobalRank.cuts]] kernel (max is the p100 cut).
    *
    * Scale: one user shuffle for the lag window, then the kernel over
    * distinct gap-seconds values, never the event stream. Global cuts
    * run the distributed prefix scan, not a one-task window:
    * gap-seconds is time-span-bounded, and a multi-year 100 TB event
    * log has ~10⁸ distinct second values. */
  def eventsGapStats(spark: SparkSession, dir: String): DataFrame = {
    val gaps = events(spark, dir)
      .select(col("user_id"), col("event_id"), tsMicros.as("us"))
      .withColumn("gap_sec",
        expr("(us - lag(us) OVER (PARTITION BY user_id " +
          "ORDER BY us, event_id)) DIV 1000000"))
      .filter(col("gap_sec").isNotNull)
    GlobalRank.cuts(gaps, Nil, "gap_sec", desc = false,
        ("p50_sec", 1, 2), ("p90_sec", 9, 10), ("p99_sec", 99, 100),
        ("max_sec", 1, 1))
      .withColumnRenamed("n", "n_gaps")
  }

  val eventsGapStatsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |g AS (
      |  SELECT (us - lag(us) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id)) // 1000000 AS gap_sec
      |  FROM e),
      |gaps AS (SELECT gap_sec FROM g WHERE gap_sec IS NOT NULL),
      |hist AS (SELECT gap_sec, COUNT(*) AS cnt FROM gaps GROUP BY 1),
      |cum AS (
      |  SELECT gap_sec, SUM(cnt) OVER (ORDER BY gap_sec) AS cum FROM hist),
      |n AS (SELECT COUNT(*) AS n FROM gaps)
      |SELECT MAX(n.n) AS n_gaps,
      |  MIN(CASE WHEN cum * 2 >= n THEN gap_sec END) AS p50_sec,
      |  MIN(CASE WHEN cum * 10 >= n * 9 THEN gap_sec END) AS p90_sec,
      |  MIN(CASE WHEN cum * 100 >= n * 99 THEN gap_sec END) AS p99_sec,
      |  MAX(gap_sec) AS max_sec
      |FROM cum CROSS JOIN n""".stripMargin

  val eventsSessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |b AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w > 30 * 60 * 1000000
      |         THEN 1 ELSE 0 END AS boundary
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)),
      |s AS (
      |  SELECT user_id, us,
      |    CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM b)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(us) AS start_us, MAX(us) AS end_us
      |FROM s
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Ordered conversion funnel signup → view → click → purchase:
    * users counted at each stage they complete IN ORDER (each stage's
    * completion time = earliest event of that type strictly after the
    * previous stage's completion).
    *
    * Scale shape: ONE shuffle. A single groupBy(user_id) collects the
    * per-type sorted timestamp lists (per-user event counts are
    * human-bounded, so the lists fit task memory — the sessionize
    * argument), then the stage walk is pure codegen'd array algebra:
    * `get(filter(xs, _ > prev), 0)` per stage, no second shuffle, no
    * join chain. The alternative 4-round min-agg/join ladder costs 4
    * shuffles of the event table for identical semantics. */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("us", tsMicros)
    val listOf = (t: String) => sort_array(collect_list(
      when(col("event_type") === t, col("us"))))
    val per = e.groupBy(col("user_id")).agg(
      min(when(col("event_type") === "signup", col("us"))).as("s"),
      listOf("view").as("vs"), listOf("click").as("cs"),
      listOf("purchase").as("ps"))
      // get(), not element_at(): empty-list lookup must yield null
      // (stage not reached), not an ANSI out-of-bounds error
      .withColumn("v", get(filter(col("vs"), _ > col("s")), lit(0)))
      .withColumn("c", get(filter(col("cs"), _ > col("v")), lit(0)))
      .withColumn("p", get(filter(col("ps"), _ > col("c")), lit(0)))
    per.agg(count(col("s")).as("n1"), count(col("v")).as("n2"),
        count(col("c")).as("n3"), count(col("p")).as("n4"))
      .selectExpr("stack(4, 1, 'signup', n1, 2, 'view', n2, " +
        "3, 'click', n3, 4, 'purchase', n4) AS (stage_idx, stage, n_users)")
      .orderBy(col("stage_idx"))
  }

  val eventsFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |per AS (
      |  SELECT user_id,
      |    MIN(us) FILTER (WHERE event_type = 'signup') AS s,
      |    list_sort(list(us) FILTER (WHERE event_type = 'view')) AS vs,
      |    list_sort(list(us) FILTER (WHERE event_type = 'click')) AS cs,
      |    list_sort(list(us) FILTER (WHERE event_type = 'purchase')) AS ps
      |  FROM e GROUP BY user_id),
      |w1 AS (SELECT *, list_filter(vs, x -> x > s)[1] AS v FROM per),
      |w2 AS (SELECT *, list_filter(cs, x -> x > v)[1] AS c FROM w1),
      |w3 AS (SELECT *, list_filter(ps, x -> x > c)[1] AS p FROM w2)
      |SELECT 1 AS stage_idx, 'signup' AS stage, COUNT(s) AS n_users FROM w3
      |UNION ALL
      |SELECT 2, 'view', COUNT(v) FROM w3
      |UNION ALL
      |SELECT 3, 'click', COUNT(c) FROM w3
      |UNION ALL
      |SELECT 4, 'purchase', COUNT(p) FROM w3
      |ORDER BY stage_idx""".stripMargin

  /** Cohort retention: users grouped by first-seen day (any event),
    * counted once per (cohort, day-offset) they return on. Day =
    * micros DIV 86400e6 — an integer bucket both engines floor
    * identically (ts is positive).
    *
    * Scale shape: one window min over the user partition (same
    * hash-partitioning a groupBy would shuffle anyway), a distinct on
    * the already-partitioned (user, offset) pairs, and a final
    * fixed-cardinality (days × offsets) agg. */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events(spark, dir)
      .select(col("user_id"),
        tsDay.as("day"))
      .select(col("user_id"), col("day"),
        min(col("day")).over(w).as("cohort_day"))
      .select(col("user_id"), col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  val eventsRetentionSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT e.user_id, cohort_day, day - cohort_day AS day_offset
      |  FROM e JOIN c USING (user_id))
      |SELECT cohort_day, day_offset, COUNT(*) AS n_users
      |FROM a GROUP BY cohort_day, day_offset
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** Trailing-7-day active users per day (WAU): the sliding-window
    * COUNT DISTINCT that naïvely needs a self-range-join.
    *
    * Scale shape: each distinct (user, day) EXPLODES into the 7
    * window-end days it contributes to (fixed 7× row inflation — the
    * events_attribution bucketize trick applied to a sliding window),
    * then distinct + a day-keyed agg. Linear, no range join, no
    * per-day re-scan; window length only scales the constant. Output
    * is restricted to days that actually appear (no phantom tail past
    * max(day)). */
  def eventsWau(spark: SparkSession, dir: String): DataFrame = {
    val active = events(spark, dir)
      .select(col("user_id"),
        tsDay.as("day"))
      .distinct()
    val days = active.select(col("day")).distinct()
    active
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .join(days, Seq("day")) // drop window ends past the data range
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
      .orderBy(col("day"))
  }

  val eventsWauSql: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |c AS (
      |  SELECT DISTINCT user_id, day + o.i AS day2
      |  FROM e, UNNEST(range(0, 7)) o(i)),
      |d AS (SELECT DISTINCT day FROM e)
      |SELECT day2 AS day, COUNT(*) AS wau
      |FROM c JOIN d ON c.day2 = d.day
      |GROUP BY day2 ORDER BY day2""".stripMargin

  /** CUBE aggregation — all four grouping sets of
    * (event_type, hour-of-day) in one pass: the OLAP dashboard shape
    * (q9 covers ROLLUP; this covers the full lattice). Roll-up marker
    * rows are identified via GROUPING() — not COALESCE over the NULL
    * markers, which would conflate a genuine NULL event_type/ts data
    * row with the 'ALL' roll-up — and normalized to 'ALL'/-1 on both
    * engines.
    *
    * Scale: Catalyst plans CUBE as one Expand (4× map-side inflation)
    * + one partial+final agg — one shuffle total, vs four separate
    * scans of a 100 TB table. Same argument as table_profile's
    * multi-distinct. */
  def eventsCube(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        hour(timestamp_micros(tsMicros)).cast("long").as("hod"),
        col("value"))
      .cube(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"),
        grouping(col("event_type")).as("g_et"),
        grouping(col("hod")).as("g_hod"))
      .select(
        when(col("g_et") === 1, lit("ALL")).otherwise(col("event_type"))
          .as("event_type"),
        when(col("g_hod") === 1, lit(-1L)).otherwise(col("hod")).as("hod"),
        col("n"), col("total_value"))
      .orderBy(col("event_type"), col("hod"))

  val eventsCubeSql: String =
    """SELECT
      |  CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
      |       ELSE event_type END AS event_type,
      |  CASE WHEN GROUPING(CAST(hour(ts) AS BIGINT)) = 1 THEN -1
      |       ELSE CAST(hour(ts) AS BIGINT) END AS hod,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY CUBE (event_type, CAST(hour(ts) AS BIGINT))
      |ORDER BY event_type, hod""".stripMargin

  /** Z-score anomaly detection — flag events whose value sits more
    * than 1.5σ from their event-type mean (the monitoring-pipeline
    * outlier pass). The whole contract is EXACT integer algebra so
    * both engines agree bit-for-bit: with per-type totals n, sx=Σc,
    * sx2=Σc² over integer cents c,
    *   z² = (n·c − sx)² / (n·sx2 − sx²)  (… = ((c−μ)/σ)² / n² cancel)
    * so the flag is (n·c − sx)²·10⁶ > T·(n·sx2 − sx²) with T =
    * 2.25·10⁶ — no division by σ, no float anywhere; reported z²_ppm
    * uses the same integral DIV. Squares ride 128-bit DECIMAL/HUGEINT
    * on both engines; exact while |n·c − sx| < ~1.8·10¹⁶ (the
    * DECIMAL(38,0) ceiling on d²·10⁶ — beyond it Spark nulls the
    * product, so shard the stats window before that point).
    *
    * Scale: one partial+final agg to 5 stat rows, broadcast join
    * back, codegen'd filter — the tf_idf shape; nothing quadratic,
    * no window. */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val cents = round(col("value") * 100d).cast("long")
    val e = events(spark, dir)
      .select(col("event_id"), col("event_type"), cents.as("c"))
    val stats = e.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"), sum(col("c")).as("sx"),
      // widen BEFORE squaring: c·c in LONG wraps silently past
      // c ≈ 2³¹·⁵ cents while DuckDB errors — either way the engines
      // diverge; DECIMAL squares agree everywhere
      sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sx2"))
    e.join(broadcast(stats), Seq("event_type"))
      // decimal-first products: n·c in LONG would already overflow at
      // 100 TB row counts before the cast could widen it
      .withColumn("d", expr("CAST(n AS DECIMAL(38,0)) * c - sx"))
      .withColumn("num", expr("d * d * 1000000"))
      .withColumn("den", expr("CAST(n AS DECIMAL(38,0)) * sx2 - " +
        "CAST(sx AS DECIMAL(38,0)) * sx"))
      .filter(expr("num > 2250000 * den"))
      .select(col("event_id"), col("event_type"), col("c").as("value_cents"),
        expr("CAST(num DIV den AS BIGINT)").as("z2_ppm"))
      .orderBy(col("event_id"))
  }

  val eventsAnomalySql: String =
    """WITH e AS (
      |  SELECT event_id, event_type,
      |    CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |s AS (
      |  SELECT event_type, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS sx,
      |    SUM(CAST(c AS HUGEINT) * c) AS sx2
      |  FROM e GROUP BY 1),
      |j AS (
      |  SELECT e.event_id, e.event_type, e.c,
      |    (CAST(s.n AS HUGEINT) * e.c - s.sx)
      |      * (CAST(s.n AS HUGEINT) * e.c - s.sx) * 1000000 AS num,
      |    CAST(s.n AS HUGEINT) * s.sx2 - CAST(s.sx AS HUGEINT) * s.sx AS den
      |  FROM e JOIN s USING (event_type))
      |SELECT event_id, event_type, c AS value_cents,
      |  CAST(num // den AS BIGINT) AS z2_ppm
      |FROM j
      |WHERE num > 2250000 * den
      |ORDER BY event_id""".stripMargin

  /** Trailing moving average — per user, mean value over the last 5
    * events (the monitoring/feature-engineering rolling window).
    * Exact integer contract: DECIMAL cent sums through an integral
    * DIV to milli-units, so no cross-engine float-divide drift; ties
    * on ts break by event_id.
    *
    * Scale: one shuffle on user_id, then the frame is a running
    * ROWS window inside each partition — constant memory per group
    * (Spark's bounded-frame WindowExec buffers only the 5-row
    * frame). */
  def eventsMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id")).rowsBetween(-4, 0)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts_us"),
        col("value").cast("decimal(18,2)").as("v"))
      .withColumn("n_in_window", count(lit(1)).over(w))
      .withColumn("sv", sum(col("v")).over(w))
      // milli sum goes through BIGINT BEFORE the integral divide:
      // DuckDB's `//` is integral ONLY for integer operands — on
      // DECIMAL/DOUBLE it is PLAIN division in the pinned DuckDB
      // (measured: -7.0 // 2 = -3.5), and the final BIGINT cast
      // would then ROUND the quotient where Spark's DIV truncates.
      // On INTEGER operands `//` truncates toward zero exactly like
      // Spark DIV (measured: -7 // 2 = -3), so a plain BIGINT `//`
      // would already agree — the oracle still spells out
      // ((a - a % b) // b): exactly divisible, so no operand-type
      // drift back to DECIMAL/DOUBLE can change the result.
      .withColumn("avg_value_milli",
        expr("CAST(sv * 1000 AS BIGINT) DIV n_in_window"))
      .select(col("user_id"), col("event_id"), col("n_in_window"),
        col("avg_value_milli"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val eventsMovingAvgSql: String =
    """WITH w AS (
      |  SELECT user_id, event_id,
      |    COUNT(*) OVER win AS n_in_window,
      |    SUM(CAST(value AS DECIMAL(18,2))) OVER win AS sv
      |  FROM events
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
      |, m AS (
      |  SELECT user_id, event_id, n_in_window,
      |    CAST(sv * 1000 AS BIGINT) AS svm
      |  FROM w)
      |SELECT user_id, event_id, n_in_window,
      |  (svm - svm % n_in_window) // n_in_window AS avg_value_milli
      |FROM m
      |ORDER BY user_id, event_id""".stripMargin

  /** Winsorized (clamped-tail) robust aggregate per event type: values
    * clamped to the EXACT [p05, p99] cents bounds, then summed — the
    * outlier-robust metric a feature/reward pipeline reports when a
    * handful of extreme values would otherwise own the mean. Exact
    * discrete quantile bounds from the [[GlobalRank.cuts]] kernel
    * grouped by type, NOT percentile_approx — the clamp bound is part
    * of the metric's definition, so it must be deterministic.
    *
    * Scale shape: the |types|-row bounds table is broadcast back, so
    * the event stream takes exactly two linear passes (the kernel's
    * histogram agg, the clamp+sum agg), both partial+final, and never
    * a corpus sort. All integer math: cents are
    * exact, sums fit BIGINT, the milli average is an integral DIV of
    * positive operands (the eventsMovingAvg sign discipline). */
  def eventsWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("event_type"),
        round(col("value") * 100d).cast("long").as("c"))
    val bounds = GlobalRank.cuts(e, Seq("event_type"), "c", desc = false,
      ("p05_cents", 1, 20), ("p99_cents", 99, 100)).drop("n")
    e.join(broadcast(bounds), Seq("event_type"))
      .withColumn("w", greatest(col("p05_cents"),
        least(col("p99_cents"), col("c"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("p05_cents")).as("p05_cents"),
        max(col("p99_cents")).as("p99_cents"),
        sum(col("c")).as("sum_cents"),
        sum(col("w")).as("winsor_sum_cents"))
      .withColumn("winsor_avg_milli",
        expr("(winsor_sum_cents * 10) DIV n_events"))
      .orderBy(col("event_type"))
  }

  val eventsWinsorizeSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |hist AS (
      |  SELECT event_type, c, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, c,
      |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum
      |  FROM hist),
      |n AS (SELECT event_type, COUNT(*) AS n FROM e GROUP BY 1),
      |bounds AS (
      |  SELECT cum.event_type,
      |    MIN(CASE WHEN cum * 20 >= n THEN c END) AS p05_cents,
      |    MIN(CASE WHEN cum * 100 >= n * 99 THEN c END) AS p99_cents
      |  FROM cum JOIN n USING (event_type)
      |  GROUP BY cum.event_type)
      |SELECT e.event_type, COUNT(*) AS n_events,
      |  MAX(b.p05_cents) AS p05_cents,
      |  MAX(b.p99_cents) AS p99_cents,
      |  CAST(SUM(e.c) AS BIGINT) AS sum_cents,
      |  CAST(SUM(GREATEST(b.p05_cents, LEAST(b.p99_cents, e.c)))
      |    AS BIGINT) AS winsor_sum_cents,
      |  CAST(SUM(GREATEST(b.p05_cents, LEAST(b.p99_cents, e.c)))
      |    AS BIGINT) * 10 // COUNT(*) AS winsor_avg_milli
      |FROM e JOIN bounds b USING (event_type)
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin
}
