package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.{MapSideCombine, MrPipeline, MrStep}

/** Combiner contract edge cases — the reference's harness test matrix
  * explicitly covers combiners yielding 0 and 2+ values
  * (tests/spark/test_harness.py:244-883 list). */
class CombinerSemanticsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("MapSideCombine combines per-key runs") {
    val in = Iterator(("a", 1), ("b", 10), ("a", 2), ("b", 20), ("a", 3))
    val out = new MapSideCombine[String, Int](in,
      (_, vs) => Iterator.single(vs.sum)).toList
    assert(out.toMap == Map("a" -> 6, "b" -> 30))
  }

  test("MapSideCombine spills when key cardinality exceeds MaxKeys") {
    val n = MapSideCombine.MaxKeys + 100
    val in = (0 until n).iterator.map(i => (i, 1))
    var runs = 0
    val out = new MapSideCombine[Int, Int](in, (_, vs) => {
      runs += 1
      Iterator.single(vs.sum)
    }).toList
    assert(out.length == n, "every key survives a spill")
    assert(out.map(_._2).forall(_ == 1))
    assert(runs == n)
  }

  test("MapSideCombine flushes a hot key's buffer at FlushAt") {
    val hot = Iterator.fill(MapSideCombine.FlushAt * 3)(("k", 1L))
    var maxRun = 0
    val out = new MapSideCombine[String, Long](hot, (_, vs) => {
      val list = vs.toList
      maxRun = math.max(maxRun, list.length)
      Iterator.single(list.sum)
    }).toList
    assert(out == List(("k", MapSideCombine.FlushAt * 3L)))
    assert(maxRun <= MapSideCombine.FlushAt,
      s"buffer grew to $maxRun without flushing")
  }

  test("combiner yielding ZERO values drops the key before the shuffle") {
    import spark.implicits._
    val data = spark.createDataset(
      Seq(("keep", 1L), ("keep", 2L), ("drop", 5L))).repartition(1)
    val step = MrStep[String, Long, String, Long, String, Long](
      mapper = (k, v) => Iterator.single((k, v)),
      combiner = Some((k: String, vs: Iterator[Long]) =>
        if (k == "drop") { vs.foreach(_ => ()); Iterator.empty }
        else Iterator.single(vs.sum)),
      reducer = (k, vs) => Iterator.single((k, vs.sum)))
    val got = MrPipeline.fromDataset(data).step(step).ds.collect().toMap
    assert(got == Map("keep" -> 3L))
  }

  test("combiner yielding TWO values feeds both to the reducer") {
    import spark.implicits._
    val data = spark.createDataset(Seq(("k", 2L), ("k", 3L))).repartition(1)
    val step = MrStep[String, Long, String, Long, String, Long](
      mapper = (k, v) => Iterator.single((k, v)),
      combiner = Some((_: String, vs: Iterator[Long]) => {
        val s = vs.sum
        Iterator(s, s * 100) // emit the sum twice at different scales
      }),
      reducer = (k, vs) => Iterator.single((k, vs.sum)))
    val got = MrPipeline.fromDataset(data).step(step).ds.collect().toMap
    assert(got == Map("k" -> 505L)) // 5 + 500
  }

  test("mapOnly step skips the shuffle entirely") {
    import spark.implicits._
    val data = spark.createDataset(Seq(("a", 1), ("b", 2)))
    val out = MrPipeline.fromDataset(data).step(MrStep.mapOnly(
      (k: String, v: Int) => Iterator.single((k.toUpperCase, v * 2))))
    assert(out.ds.collect().toMap == Map("A" -> 2, "B" -> 4))
    val plan = out.ds.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"map-only step shuffled:\n$plan")
  }
}
