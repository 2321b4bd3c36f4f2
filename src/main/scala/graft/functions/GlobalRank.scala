package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
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

  /** df + `rankCol` = 0-based global rank in the total order of
    * `sortCols`, plus the relation's total row count (a by-product
    * of the offsets pass — callers that need N avoid a second agg). */
  /** Target rows per range-sort task: rank work here is ~10–20 µs a
    * row (string range-compare + quadratic-hash consumers dominate),
    * so ~25k rows keeps tasks in the low-hundreds-of-ms band at any
    * scale (measured: the 10× simhash vocab, 600k rows, ran 9.5 s of
    * CPU — 16 µs/row). */
  private val RowsPerRankTask = 25000L

  def withRank0AndCount(df: DataFrame, rankCol: String,
      sortCols: Column*): (DataFrame, Long) = {
    val spark = df.sparkSession
    // EXPLICIT, SIZE-ADAPTIVE partition count (r15): without a number
    // the range exchange is AQE-coalescible, and at the 10× probe the
    // ~9 MB blow-up vocabulary was coalesced by BYTES to a SINGLE
    // partition — re-creating the one-task funnel this job exists to
    // kill (measured in dedup_simhash: a 1-task, 2.5 s-CPU stage
    // doing the whole sort + quadHash; 32-way it is 0.4 s of wall). A
    // fixed defaultParallelism over-splits fixture-scale inputs
    // instead (+0.3 s per simhash row at sf0.1), so the count picks
    // the width — off a localCheckpoint, which the range sampler
    // wants anyway (repartitionByRange SAMPLES its input with a
    // separate job; un-checkpointed, that job re-executes the whole
    // upstream subtree, e.g. the vocab distinct, a second time).
    // Ranks are provably independent of where the range bounds land,
    // so the output is bit-identical at any partition count.
    val mat = df.localCheckpoint()
    val n = mat.count()
    val np = Tables.width(spark, n, RowsPerRankTask)
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
    val rdd = parts.rdd
    // Long fold, not Iterator.size: size returns Int, so a shuffle
    // partition past 2^31 rows would silently wrap and corrupt every
    // downstream offset — the exact regime this job exists for.
    val counts = rdd.mapPartitions(
      it => Iterator(it.foldLeft(0L)((n, _) => n + 1L)),
      preservesPartitioning = true).collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val ranked = rdd.mapPartitionsWithIndex { case (pi, it) =>
      var r = offsets(pi)
      it.map { row =>
        val out = Row.fromSeq(row.toSeq :+ r)
        r += 1
        out
      }
    }
    (spark.createDataFrame(ranked,
      parts.schema.add(rankCol, LongType, nullable = false)),
      offsets.last)
  }

  /** df + `rankCol` = 0-based global rank. */
  def withRank0(df: DataFrame, rankCol: String,
      sortCols: Column*): DataFrame =
    withRank0AndCount(df, rankCol, sortCols: _*)._1

  /** df + `rankCol` = 1-based global rank (the `row_number()` twin —
    * drop-in for the vocab-rank windows). */
  def withRank1(df: DataFrame, rankCol: String,
      sortCols: Column*): DataFrame = {
    import org.apache.spark.sql.functions.col
    withRank0(df, s"__${rankCol}0", sortCols: _*)
      .withColumn(rankCol, col(s"__${rankCol}0") + 1L)
      .drop(s"__${rankCol}0")
  }

  /** df + `cumCol` = INCLUSIVE prefix sum of `valueCol` (long) in the
    * total order of `sortCols` — the running-sum twin of
    * [[withRank0]], and the drop-in for
    * `sum(v).over(Window.orderBy(...))` (the r12 verdict's ppl_filter
    * finding: a value-HISTOGRAM bounds that window by distinct
    * values, but a micro-nat score domain is ~min(N, 2·10⁷) — at
    * 100 TB that is still one WindowExec partition sorting ~10⁷ rows
    * through a single thread). Same two-pass shape: range-partitioned
    * distributed sort, per-partition SUMS collected (≤ #partitions
    * longs), partition-local running sum seeded at the prefix offset.
    * Exact for any `sortCols` that is a total order (distinct keys —
    * e.g. histogram keys — or a unique tiebreaker). */
  def withRunningSum(df: DataFrame, cumCol: String, valueCol: Column,
      sortCols: Column*): DataFrame = {
    import org.apache.spark.sql.functions.col
    val spark = df.sparkSession
    // Materialize the input ONCE before the range shuffle: callers
    // pass value HISTOGRAMS (distinct-value aggregates, ≪ their
    // corpus — ~320 MB at the 100 TB ppl domain), but the upstream
    // aggregate chain can be expensive, and repartitionByRange runs a
    // separate range-bounds SAMPLING job over its input — without the
    // checkpoint that job re-executes the whole upstream (measured:
    // ppl_filter's bigram-LM chain ran twice, +0.9 s at sf0.1).
    val tagged = df.withColumn(s"__${cumCol}_v",
      valueCol.cast(LongType))
      .localCheckpoint()
    // explicit size-adaptive N for the same AQE-coalescing reason as
    // withRank0 (the count is one job over the checkpoint above),
    // with the same pre-spread of the checkpoint's map side — prefix
    // sums are likewise split-point-independent
    val npS = Tables.width(spark, tagged.count(), RowsPerRankTask)
    val srcS = if (npS > 1) tagged.repartition(npS) else tagged
    val parts = srcS.repartitionByRange(npS, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val vi = parts.schema.fieldIndex(s"__${cumCol}_v")
    val rdd = parts.rdd
    // null-skipping like sum() (r13 advice): cast of a null value
    // stays null, and getLong on a null cell throws mid-job; current
    // callers pass count() aggregates (never null), but this helper
    // is the designated drop-in for ANY sum().over(Window.orderBy)
    def longAt(r: Row): Long = if (r.isNullAt(vi)) 0L else r.getLong(vi)
    val sums = rdd.mapPartitions(
      it => Iterator(it.foldLeft(0L)((s, r) => s + longAt(r))),
      preservesPartitioning = true).collect()
    val offsets = sums.scanLeft(0L)(_ + _)
    val summed = rdd.mapPartitionsWithIndex { case (pi, it) =>
      var s = offsets(pi)
      it.map { row =>
        s += longAt(row)
        Row.fromSeq(row.toSeq :+ s)
      }
    }
    spark.createDataFrame(summed,
      parts.schema.add(cumCol, LongType, nullable = false))
      .drop(s"__${cumCol}_v")
  }
}
