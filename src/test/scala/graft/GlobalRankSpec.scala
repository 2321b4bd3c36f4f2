package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GlobalRank

/** The distributed rank-offsets job must equal the single-partition
  * window it replaces (r11: the SimHash/CMS vocab ranks moved off
  * `row_number().over(Window.orderBy(...))`). */
class GlobalRankSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.Sf0001

  test("withRank1 equals row_number over the same total order on the " +
    "real vocabulary") {
    val vocab = graft.sources.Tables.load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .distinct()
    val viaWindow = vocab
      .withColumn("vid",
        row_number().over(Window.orderBy(col("tok"))).cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaRank = GlobalRank.withRank1(vocab, "vid", col("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaRank.nonEmpty)
    assert(viaRank === viaWindow)
  }

  test("withRank0AndCount: rank is a 0-based permutation, count is " +
    "the relation size, and the result is partitioning-invariant") {
    import spark.implicits._
    val df = (0 until 257).map(i => ((i * 131) % 257).toLong)
      .toDF("k").repartition(7)
    val (ranked, n) = GlobalRank.withRank0AndCount(df, "r", col("k"))
    assert(n === 257L)
    val pairs = ranked.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.map(_._2).sorted.toSeq === (0L until 257L))
    // rank order == key order (k is a permutation of 0..256)
    pairs.foreach { case (k, r) => assert(k === r) }
  }

  test("empty input ranks to an empty frame with count 0") {
    import spark.implicits._
    val (ranked, n) = GlobalRank.withRank0AndCount(
      Seq.empty[Long].toDF("k"), "r", col("k"))
    assert(n === 0L)
    assert(ranked.count() === 0L)
  }

  test("withRunningSum equals sum().over(Window.orderBy) on a real " +
    "value histogram (the ppl_filter/events_gap_stats replacement)") {
    // the exact relation the r12 verdict #3 rewrite feeds it: a
    // (value, count) histogram with distinct keys — a total order
    val hist = graft.sources.Tables.load(spark, dir, "documents")
      .groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val viaWindow = hist
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("v"))))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val viaJob = GlobalRank.withRunningSum(hist.repartition(5), "cum",
        col("c"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(viaJob.nonEmpty)
    assert(viaJob === viaWindow)
  }

  test("withRunningSum skips null values like sum() (r13 advice: the " +
    "helper is the designated drop-in for any sum().over(orderBy))") {
    import spark.implicits._
    val hist = Seq((1L, Some(2L)), (2L, None), (3L, Some(5L)),
      (4L, None), (5L, Some(1L)))
      .toDF("v", "c").repartition(3)
    val cum = GlobalRank.withRunningSum(hist, "cum", col("c"), col("v"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // null contributes 0 and the row still appears, exactly as
    // sum(c).over(Window.orderBy(v)) treats it
    assert(cum === Map(1L -> 2L, 2L -> 2L, 3L -> 7L, 4L -> 7L, 5L -> 8L))
  }

  test("withRunningSum on an empty histogram is empty") {
    import spark.implicits._
    val out = GlobalRank.withRunningSum(
      Seq.empty[(Long, Long)].toDF("v", "c"), "cum", col("c"), col("v"))
    assert(out.count() === 0L)
    assert(out.columns.toSeq === Seq("v", "c", "cum"))
  }

  test("cuts and cumHist equal a brute-force sorted-array replay: " +
    "grouped ascending and descending, global, ties across a cut, a " +
    "cut landing exactly on num·n/den, a one-row group, empty input") {
    import spark.implicits._
    // a: the p50 ties straddle the cut (cum jumps 1 → 4 across
    // n/2 = 2.5); b: p50 lands exactly on num·n/den (cum = 2 = 4·1/2);
    // c: one row; d: a spread with repeats; a null key is no group
    val rows = Seq("a" -> 1L, "a" -> 2L, "a" -> 2L, "a" -> 2L, "a" -> 3L,
      "b" -> 10L, "b" -> 20L, "b" -> 30L, "b" -> 40L, "c" -> 7L,
      (null: String) -> 5L) ++
      (0 until 60).map(i => "d" -> ((i * 37) % 11).toLong)
    val df = rows.toDF("g", "v").repartition(3)
    val qs = Seq(("p10", 1, 10), ("p50", 1, 2), ("p75", 3, 4),
      ("p100", 1, 1))
    // the value at 1-based position ⌈num·n/den⌉ of the sorted array
    def replay(xs: Seq[Long]): Seq[Long] = xs.length.toLong +:
      qs.map { case (_, num, den) => xs((xs.length * num + den - 1) / den - 1) }
    for (desc <- Seq(false, true)) {
      def sorted(xs: Seq[Long]) = if (desc) xs.sorted.reverse else xs.sorted
      val want = rows.filter(_._1 != null).groupBy(_._1)
        .map { case (g, xs) => g -> replay(sorted(xs.map(_._2))) }
      val got = GlobalRank.cuts(df, Seq("g"), "v", desc, qs: _*).collect()
        .map(r => r.getString(0) -> (1 to 5).map(r.getLong)).toMap
      assert(got === want, s"grouped, desc = $desc")
      val all = GlobalRank.cuts(df, Nil, "v", desc, qs: _*).collect()
        .map(r => (0 to 4).map(r.getLong)).toSeq
      assert(all === Seq(replay(sorted(rows.map(_._2)))),
        s"global, desc = $desc")
    }
    // cumHist: cnt rows at v, cum rows at or before v, n the group size
    GlobalRank.cumHist(df, Seq("g"), "v", desc = false).collect()
      .foreach { r =>
        val v = r.getAs[Long]("v")
        val xs = rows.filter(_._1 == r.getAs[String]("g")).map(_._2)
        assert((r.getAs[Long]("cnt"), r.getAs[Long]("cum"),
          r.getAs[Long]("n")) === (xs.count(_ == v).toLong,
          xs.count(_ <= v).toLong, xs.length.toLong))
      }
    // empty input: no groups, and the global cut is the one all-null
    // row every SQL aggregate over an empty relation gives
    val empty = Seq.empty[(String, Long)].toDF("g", "v")
    assert(GlobalRank.cuts(empty, Seq("g"), "v", desc = false, qs: _*)
      .count() === 0L)
    val none = GlobalRank.cuts(empty, Nil, "v", desc = false, qs: _*)
      .collect()
    assert(none.length === 1 && (0 until 5).forall(none(0).isNullAt))
  }
}
