package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.sources.Tables

/** Distributed global rank — the single-partition-window killer.
  *
  * `row_number().over(Window.orderBy(...))` with no partition key
  * funnels the WHOLE relation through one task: fine on a histogram,
  * wrong on anything corpus-shaped (the SimHash vocab-rank window
  * sorts a vocabulary that grows with the corpus — ~10⁷ rows at
  * 100 TB — through a single thread). This is the rank-offsets job
  * batchPlan and lengthCurriculum pioneered, factored into ONE
  * spelling: a range repartition on the sort key (distributed sort,
  * same total order as the window), a per-partition count collect
  * (≤ #partitions longs over the wire), then a partition-local
  * running index seeded at the partition's offset. Two passes over
  * the sorted shuffle files, no global funnel anywhere.
  *
  * The rank equals the window's rank EXACTLY as long as `sortCols`
  * is a TOTAL order (distinct keys, or a unique tiebreaker column):
  * any range split of a totally-ordered relation assigns
  * offset + local index = global index, independent of where the
  * sampled partition boundaries land — which is also why the result
  * is deterministic across runs and engines (the DuckDB oracle's
  * `row_number() OVER (ORDER BY ...)` sees the identical order;
  * Spark compares strings by UTF-8 binary, matching DuckDB's
  * collation on the ASCII-token corpora and the committed oracles). */
object GlobalRank {

  /** Target rows per range-sort task: rank work here is ~10–20 µs a
    * row (string range-compare + quadratic-hash consumers dominate),
    * so ~25k rows keeps tasks in the low-hundreds-of-ms band at any
    * scale (measured: the 10× simhash vocab, 600k rows, ran 9.5 s of
    * CPU — 16 µs/row). */
  private val RowsPerRankTask = 25000L

  /** The one two-pass prefix scan under every public entry: df +
    * `outCol` = `base` + the INCLUSIVE running sum, in the total order
    * of `sortCols`, of a per-row weight — 1 when `value` is absent (a
    * rank), else the long `value`, nulls counting 0 like sum(). Also
    * returns the sum of all weights (the row count for a rank).
    * Exact for any `sortCols` that is a total order (distinct keys —
    * e.g. histogram keys — or a unique tiebreaker): any range split
    * assigns offset + local prefix = global prefix, independent of
    * where the sampled partition boundaries land. */
  private def prefixScan(df: DataFrame, outCol: String, value: Option[Column],
      base: Long, sortCols: Seq[Column]): (DataFrame, Long) = {
    val vCol = s"__${outCol}_v"
    // Materialize the input ONCE before the range shuffle:
    // repartitionByRange runs a separate range-bounds SAMPLING job
    // over its input, and un-checkpointed that job re-executes the
    // whole upstream subtree (measured: ppl_filter's bigram-LM chain
    // ran twice, +0.9 s at sf0.1; the simhash vocab distinct likewise).
    val mat = value.fold(df)(v => df.withColumn(vCol, v.cast(LongType)))
      .localCheckpoint()
    // EXPLICIT, SIZE-ADAPTIVE partition count (r15): without a number
    // the range exchange is AQE-coalescible, and at the 10× probe the
    // ~9 MB blow-up vocabulary was coalesced by BYTES to a SINGLE
    // partition — re-creating the one-task funnel this job exists to
    // kill (measured in dedup_simhash: a 1-task, 2.5 s-CPU stage
    // doing the whole sort + quadHash; 32-way it is 0.4 s of wall). A
    // fixed defaultParallelism over-splits fixture-scale inputs
    // instead (+0.3 s per simhash row at sf0.1), so the count over the
    // checkpoint picks the width. Prefixes are provably independent of
    // where the range bounds land, so the output is bit-identical at
    // any partition count.
    val np = Tables.width(df.sparkSession, mat.count(), RowsPerRankTask)
    // The checkpoint inherits its producer's AQE-coalesced layout —
    // usually ONE partition at fixture scale — and the range
    // exchange's MAP side (serialize + bound-search every row) runs
    // at the source's width, so without the re-spread the heavy map
    // stayed a single 1.9 s task at the 10× probe no matter what the
    // reduce width was. A round-robin hop over already-materialized
    // bytes is cheap and only paid when the count says the relation
    // deserves width.
    val src = if (np > 1) mat.repartition(np) else mat
    val parts = src.repartitionByRange(np, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val vi = if (value.isDefined) parts.schema.fieldIndex(vCol) else -1
    // null-skipping like sum(): getLong on a null cell throws mid-job
    def weight(r: Row): Long =
      if (vi < 0) 1L else if (r.isNullAt(vi)) 0L else r.getLong(vi)
    val rdd = parts.rdd
    // Long fold, not Iterator.size: size returns Int, so a shuffle
    // partition past 2^31 rows would silently wrap and corrupt every
    // downstream offset — the exact regime this job exists for.
    val offsets = rdd.mapPartitions(
      it => Iterator(it.foldLeft(0L)((s, r) => s + weight(r))),
      preservesPartitioning = true).collect().scanLeft(0L)(_ + _)
    val scanned = rdd.mapPartitionsWithIndex { case (pi, it) =>
      var s = offsets(pi)
      it.map { row => s += weight(row); Row.fromSeq(row.toSeq :+ (s + base)) }
    }
    val out = df.sparkSession.createDataFrame(scanned,
      parts.schema.add(outCol, LongType, nullable = false))
    (if (value.isDefined) out.drop(vCol) else out, offsets.last)
  }

  /** df + `rankCol` = 0-based global rank in the total order of
    * `sortCols`, plus the relation's total row count (a by-product
    * of the offsets pass — callers that need N avoid a second agg). */
  def withRank0AndCount(df: DataFrame, rankCol: String,
      sortCols: Column*): (DataFrame, Long) =
    prefixScan(df, rankCol, None, -1L, sortCols)

  /** df + `rankCol` = 0-based global rank. */
  def withRank0(df: DataFrame, rankCol: String,
      sortCols: Column*): DataFrame =
    withRank0AndCount(df, rankCol, sortCols: _*)._1

  /** df + `rankCol` = 1-based global rank (the `row_number()` twin —
    * drop-in for the vocab-rank windows). */
  def withRank1(df: DataFrame, rankCol: String,
      sortCols: Column*): DataFrame =
    prefixScan(df, rankCol, None, 0L, sortCols)._1

  /** df + `cumCol` = INCLUSIVE prefix sum of `valueCol` (long) in the
    * total order of `sortCols` — the drop-in for
    * `sum(v).over(Window.orderBy(...))` (the r12 verdict's ppl_filter
    * finding: a value-HISTOGRAM bounds that window by distinct
    * values, but a micro-nat score domain is ~min(N, 2·10⁷) — at
    * 100 TB that is still one WindowExec partition sorting ~10⁷ rows
    * through a single thread). Null values count 0, like sum(). */
  def withRunningSum(df: DataFrame, cumCol: String, valueCol: Column,
      sortCols: Column*): DataFrame =
    prefixScan(df, cumCol, Some(valueCol), 0L, sortCols)._1

  /** The value histogram with its running count — the shared body of
    * every exact-quantile row: `(groups…, value, cnt, cum, n)`, where
    * `cnt` counts `df`'s rows at (groups…, value), `cum` is the
    * INCLUSIVE running count in `value` order (descending when `desc`)
    * within the group, and `n` is the group's total, summed from the
    * histogram (never a second aggregate over `df`). With groups, both
    * are windows over histogram rows partitioned by the groups — the
    * value domain per group, never the corpus — and a row with a null
    * group key belongs to no group (the equi-join `USING (group)`
    * contract of every oracle). With none, `cum` is
    * [[withRunningSum]]'s prefix scan, whose total is `n`, so no
    * unpartitioned window funnels a large value domain (micro-nat
    * scores, gap seconds) through one task. */
  private[graft] def cumHist(df: DataFrame, groups: Seq[String],
      value: String, desc: Boolean): DataFrame = {
    val order = if (desc) col(value).desc else col(value).asc
    val hist = (if (groups.isEmpty) df else df.na.drop(groups))
      .groupBy(groups.map(col) :+ col(value): _*)
      .agg(count(lit(1)).as("cnt"))
    if (groups.nonEmpty) {
      val w = Window.partitionBy(groups.map(col): _*)
      hist.withColumn("cum", sum(col("cnt")).over(w.orderBy(order)))
        .withColumn("n", sum(col("cnt")).over(w))
    } else {
      val (cum, n) = prefixScan(hist, "cum", Some(col("cnt")), 0L, Seq(order))
      cum.withColumn("n", lit(n))
    }
  }

  /** Exact discrete quantiles (quantile_disc: all-integer, no
    * interpolation, ties never split) over [[cumHist]]:
    * `(groups…, n, name…)`, one row per group. Each `(name, num, den)`
    * cut is the FIRST value in order whose running count covers the
    * fraction, `den·cum ≥ num·n` — the min such value ascending, the
    * max descending; `(1, 1)` is the last value (p100). */
  private[graft] def cuts(df: DataFrame, groups: Seq[String], value: String,
      desc: Boolean, qs: (String, Int, Int)*): DataFrame = {
    val first: Column => Column = if (desc) max(_) else min(_)
    cumHist(df, groups, value, desc)
      .groupBy(groups.map(col): _*)
      .agg(max(col("n")).as("n"), qs.map { case (name, num, den) =>
        first(when(col("cum") * den >= col("n") * num, col(value))).as(name)
      }: _*)
  }
}
