package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.operators.VecSearch

/** The vector-search kernel against brute-force Scala scans over
  * `Long` dots: seeded fixed-point vectors with planted exact ties
  * (duplicate vectors and exact 2× multiples, which give bit-equal
  * cosines) so the (cos DESC, id ASC) tie-break is exercised. */
class VecSearchSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val Dim = 8
  private val N = 40
  private val Queries = 5L

  /** Seeded 1e-6 fixed-point vectors by id: ids 10 and 11 copy id 9,
    * id 12 is 2× id 9, id 20 copies query 0 and id 21 is 2× query 0,
    * id 30 copies query 3. */
  private def vectors(seed: Long): Map[Long, Array[Long]] = {
    val rnd = new Random(seed)
    val base = (0 until N).map(i => i.toLong ->
      Array.fill(Dim)(rnd.nextInt(1000001).toLong - 500000L)).toMap
    base ++ Map(10L -> base(9L), 11L -> base(9L),
      12L -> base(9L).map(_ * 2), 20L -> base(0L),
      21L -> base(0L).map(_ * 2), 30L -> base(3L))
  }

  /** (vec_id, embedding, label) with label = id % 4; each float
    * quantizes back to its fixed-point value exactly. */
  private def frame(vs: Map[Long, Array[Long]]): DataFrame = {
    import spark.implicits._
    vs.toSeq.sortBy(_._1).map { case (id, v) =>
      (id, v.map(x => (x * 1e-6).toFloat).toSeq, id % 4)
    }.toDF("vec_id", "embedding", "label")
  }

  private def dot(a: Array[Long], b: Array[Long]): Long =
    a.indices.map(i => a(i) * b(i)).sum

  /** The engine's cosine, evaluated the same way in plain Scala. */
  private def cosine(a: Array[Long], b: Array[Long]): Double =
    dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) *
      math.sqrt(dot(b, b).toDouble))

  test("side quantizes each float back to its fixed-point value and " +
    "carries its Long squared norm") {
    val vs = vectors(7L)
    val got = VecSearch.side(frame(vs), col("vec_id"), "x", col("label"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[Long](2).toArray.toSeq, r.getLong(3)))
      .toMap
    assert(got.keySet == vs.keySet)
    vs.foreach { case (id, v) =>
      assert(got(id) == ((id % 4, v.toSeq, dot(v, v))), s"side of $id")
    }
  }

  test("rankCos equals a brute-force (cos DESC, id ASC) scan, with " +
    "planted exact ties and k up to past the partition size") {
    for (seed <- Seq(7L, 8L); k <- Seq(1, 3, 4, N + 5)) {
      val vs = vectors(seed)
      val e = frame(vs)
      val q = VecSearch.side(e.filter(col("vec_id") < Queries),
        col("vec_id").as("q_vec_id"), "q")
      val c = VecSearch.side(e, col("vec_id").as("c_vec_id"), "c")
      val ranked = VecSearch.rankCos(
        q.join(c, col("q_vec_id") =!= col("c_vec_id")), k)
      assert(ranked.schema("rank").dataType == LongType)
      val got = ranked.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val want = (0L until Queries).flatMap { qi =>
        vs.keys.filter(_ != qi).toSeq
          .map(ci => (ci, cosine(vs(qi), vs(ci))))
          .sortBy { case (ci, cs) => (-cs, ci) }
          .take(k).zipWithIndex
          .map { case ((ci, cs), i) => (qi, ci, i + 1L, cs) }
      }
      assert(got == want, s"seed $seed, k $k")
      // the planted ties really are ties, and the smaller id wins
      assert(cosine(vs(0L), vs(20L)) == cosine(vs(0L), vs(21L)))
      if (k >= 2) {
        assert(want.filter(_._1 == 0L).take(2).map(_._2) == Seq(20L, 21L))
      }
      if (k >= N + 5) assert(got.count(_._1 == 0L) == vs.size - 1)
    }
  }

  test("topK ranks ascending and descending with id ASC ties, per key") {
    import spark.implicits._
    val rows = Seq((1L, 5L, 10L), (1L, 5L, 3L), (1L, 2L, 7L), (1L, 9L, 1L),
      (2L, 4L, 4L), (2L, 4L, 2L)).toDF("g", "s", "id")
    def ranked(desc: Boolean, k: Int) =
      VecSearch.topK(rows, Seq("g"), "s", "id", k, desc)
        .select("g", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(ranked(desc = true, 2) ==
      Set((1L, 1L, 1L), (1L, 3L, 2L), (2L, 2L, 1L), (2L, 4L, 2L)))
    assert(ranked(desc = false, 2) ==
      Set((1L, 7L, 1L), (1L, 3L, 2L), (2L, 2L, 1L), (2L, 4L, 2L)))
    assert(ranked(desc = false, 10).size == 6)
  }

  test("blockPairs equals a brute-force within-block scan at tau") {
    for (seed <- Seq(7L, 8L); tau <- Seq(-1.0, 0.3, 0.99)) {
      val vs = vectors(seed)
      val got = VecSearch.blockPairs(
          VecSearch.side(frame(vs), col("vec_id"), "", col("label")),
          "vec_id", "label", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      val ids = vs.keys.toSeq.sorted
      val want = for {
        i <- ids; j <- ids
        if i < j && i % 4 == j % 4
        cs = cosine(vs(i), vs(j))
        if cs >= tau
      } yield (i, j, cs)
      assert(got == want, s"seed $seed, tau $tau")
    }
    // the planted copies 9/10/11/12 span blocks 1, 2, 3 and 0: no pair
    // of them is in one block, so at tau 0.99 none of them pairs
    assert(VecSearch.blockPairs(
        VecSearch.side(frame(vectors(7L)), col("vec_id"), "", col("label")),
        "vec_id", "label", 0.99)
      .filter(col("i").isin(9L, 10L, 11L, 12L) &&
        col("j").isin(9L, 10L, 11L, 12L)).count() == 0)
  }
}
