package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConcurrentLegs

/** The §2.6 overlap helper four composition rows lean on (ingest_door,
  * source_card, rrf_hybrid, pretrain_pipeline): concurrent
  * materialization must be a pure execution-ordering change — same
  * rows per leg, legs returned in input order, results
  * checkpoint-backed so downstream consumers stop re-running the leg
  * subtrees. */
class ConcurrentLegsSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("materialize returns each leg's exact rows, in input order, " +
    "checkpoint-backed") {
    val docs = graft.sources.Tables.load(spark, SparkFixture.Sf0001, "documents")
    val legs = Seq(
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n")),
      docs.groupBy(col("source")).agg(max(col("doc_id")).as("m")),
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id")))
    val expected = legs.map(_.collect().map(_.toString).sorted.toSeq)
    val mats = ConcurrentLegs.materialize(legs)
    assert(mats.size == legs.size)
    mats.zip(expected).foreach { case (m, e) =>
      // checkpoint-backed: the plan reads an RDD, not the source files
      val p = m.queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"), s"not checkpointed:\n$p")
      assert(m.collect().map(_.toString).sorted.toSeq == e)
    }
  }

  test("single-leg and empty inputs degrade sanely") {
    val one = graft.sources.Tables.load(spark, SparkFixture.Sf0001, "documents")
      .select(col("doc_id")).limit(3)
    val Seq(m) = ConcurrentLegs.materialize(Seq(one))
    assert(m.count() == 3)
    assert(ConcurrentLegs.materialize(Nil).isEmpty)
  }

  test("a failing leg surfaces its own exception and cancels its " +
    "siblings' Spark jobs") {
    val sc = spark.sparkContext
    val boom = udf { (x: Long) =>
      if (x == 3L) throw new IllegalStateException("leg boom") else x
    }
    val slow = udf { (x: Long) => Thread.sleep(200L); x }
    // two 20 s sibling tasks leave two of the four local cores to the
    // failing leg, so it fails while the sibling's job is running
    val sibling = spark.range(0L, 200L, 1L, 2).select(slow(col("id")))
    val failing = spark.range(0L, 8L, 1L, 2).select(boom(col("id")))
    try {
      val e = intercept[Throwable](
        ConcurrentLegs.materialize(Seq(sibling, failing)))
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage == "leg boom"), s"not the failing leg's error: $e")
      val deadline = System.nanoTime() + 5000000000L
      while (sc.statusTracker.getActiveJobIds().nonEmpty &&
          System.nanoTime() < deadline) Thread.sleep(100L)
      assert(sc.statusTracker.getActiveJobIds().isEmpty,
        "a sibling leg's job kept running after materialize threw")
    } finally sc.cancelAllJobs()
  }
}
