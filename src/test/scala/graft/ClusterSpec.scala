package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ClusterOps

/** Semantic gates for the k-means / SemDeDup family. The DuckDB differ
  * proves cross-engine equality; these prove the ENGINE side computes
  * the published algorithm (pure-Scala Lloyd replay) and pin the
  * cluster-blocking recall trade on the fixture. */
class ClusterSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.Sf0001

  test("scale-invariant audits (r11): co-clustered identity + " +
    "coverage read all-true, and each check catches its failure mode") {
    import org.apache.spark.sql.functions.col
    val scaled = ClusterOps.semDedupScaledAudit(spark, dir).head()
    assert(scaled.getBoolean(1), "co-clustered identity must hold")
    assert(scaled.getBoolean(2), "assignment must cover every vector")
    val sl = ClusterOps.semDedupShortlistAudit(spark, dir).head()
    assert(sl.getBoolean(1) && sl.getBoolean(2) && sl.getBoolean(3))
    // failure mode 1: a LOST co-clustered pair flips recall_ok —
    // corrupt the scaled pair set by dropping one recovered pair
    val k = ClusterOps.scaledK(
      spark.read.parquet(s"$dir/embeddings.parquet").count(),
      ClusterOps.TargetClusterSize)
    val asg = ClusterOps.kmeansAssign(spark, dir, k)
    val ref = ClusterOps.semDedup(spark, dir).localCheckpoint()
    val got = ClusterOps.semDedupScaled(spark, dir).localCheckpoint()
    val one = got.limit(1)
    val corrupted = got.join(one.select(col("i"), col("j")),
      Seq("i", "j"), "left_anti")
    val bad = ClusterOps.coClusteredAudit(spark, dir, ref, asg, corrupted)
      .head()
    assert(!bad.getBoolean(1),
      "dropping a recovered pair must flip recall_ok")
    assert(bad.getBoolean(2), "coverage is unaffected by the pair drop")
    // failure mode 2: a PARTIAL assignment flips assigned_ok
    val partial = asg.filter(col("vec_id") % 2 === 0)
    val bad2 = ClusterOps.coClusteredAudit(spark, dir, ref, partial, got)
      .head()
    assert(!bad2.getBoolean(2),
      "a half-empty assignment must flip assigned_ok")
  }

  test("kmeans_assign matches a pure-Scala replay of integer Lloyd") {
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect().map { r =>
        r.getAs[Long]("vec_id") ->
          r.getSeq[Float](r.fieldIndex("embedding")).toArray
      }.sortBy(_._1)
    // quantize + shift exactly as the engine does
    val q = raw.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1000000d) + ClusterOps.Shift)
    }
    val (a, b) = operators.TextQueries.sampleHashConstants(ClusterOps.ClusterSeed)
    val p = operators.TextQueries.SamplePrime
    def hk(id: Long): Long = Math.floorMod(Math.floorMod(id, p) * a + b, p)
    val qMap = q.toMap
    // cluster ids are STABLE across rounds (an emptied cluster drops
    // out without renumbering the rest) — keyed map, not a Seq
    var cents: Map[Int, Array[Long]] =
      q.sortBy { case (id, _) => (hk(id), id) }
        .take(ClusterOps.K).zipWithIndex
        .map { case ((_, v), cl) => cl -> v.clone }.toMap
    def dist(v: Array[Long], c: Array[Long]): Long =
      v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
    var assign: Map[Long, (Int, Long)] = Map.empty
    for (i <- 1 to ClusterOps.Iters) {
      assign = q.map { case (id, v) =>
        val best = cents.toSeq.map { case (cl, c) => (dist(v, c), cl) }.min
        id -> (best._2, best._1)
      }.toMap
      if (i < ClusterOps.Iters) {
        cents = assign.groupBy(_._2._1).map { case (cl, m) =>
          val members = m.keys.toSeq.map(qMap)
          cl -> Array.tabulate(ClusterOps.Dim) { d =>
            members.map(_(d)).sum / members.size
          }
        }
      }
    }
    val got = ClusterOps.kmeansAssign(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getAs[Long]("dist_q"))).toMap
    assert(got == assign)
  }

  test("semdedup pairs are a subset of brute-force pairs; recall pinned") {
    val brute = AllPairsReference.dedupEmbeddingAllPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val got = ClusterOps.semDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(brute),
      "a within-cluster pair must also pass the global threshold")
    val recall = got.size.toDouble / brute.size
    assert(recall >= 0.25,
      f"cluster-blocking recall $recall%.2f collapsed below the pinned floor")
  }

  test("semdedup_scaled degenerates to EXACT all-pairs when one cluster " +
    "covers the corpus (k ∝ N contract, k=1 case)") {
    // targetClusterSize ≥ N ⇒ k = 1 ⇒ the within-cluster join IS the
    // all-pairs join — blocking must be a pure candidate restriction,
    // never a change to the pair semantics
    val brute = AllPairsReference.dedupEmbeddingAllPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"),
        r.getAs[Double]("cos"))).toSet
    val got = ClusterOps.semDedupScaled(spark, dir,
      targetClusterSize = 1000000L).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"),
        r.getAs[Double]("cos"))).toSet
    assert(got == brute)
  }

  test("semdedup_scaled at default config: subset of brute force, recall " +
    "floor holds") {
    val brute = AllPairsReference.dedupEmbeddingAllPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val got = ClusterOps.semDedupScaled(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(brute),
      "a within-cluster pair must also pass the global threshold")
    assert(got.size.toDouble / brute.size >= 0.25,
      "bounded-cluster-size blocking recall collapsed below the floor")
  }

  test("semdedup_shortlist with nprobe ≥ C equals the exhaustive " +
    "assignment exactly (the ann_lsh bits=0 idiom)") {
    // an all-cells shortlist prunes nothing: every fine centroid is a
    // candidate for every vector, so the argmin — and therefore the
    // pair set — must be byte-identical to semdedup_scaled
    val exhaustive = ClusterOps.semDedupScaled(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"),
        r.getAs[Double]("cos"))).toSet
    val got = ClusterOps.semDedupShortlist(spark, dir,
      nprobe = Int.MaxValue).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"),
        r.getAs[Double]("cos"))).toSet
    assert(got == exhaustive)
  }

  test("semdedup_shortlist at default nprobe: subset of brute force, " +
    "recall floor vs the exhaustive assignment holds") {
    val brute = AllPairsReference.dedupEmbeddingAllPairs(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val exhaustive = ClusterOps.semDedupScaled(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    val got = ClusterOps.semDedupShortlist(spark, dir).collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(brute),
      "a shortlist-cluster pair must also pass the global threshold")
    // IVF's recall trade is against the exhaustive ASSIGNMENT, not the
    // all-pairs ground truth: most vectors keep their nearest fine
    // centroid, so most exhaustive pairs survive
    val kept = got.intersect(exhaustive).size.toDouble /
      math.max(1, exhaustive.size)
    assert(kept >= 0.5,
      f"shortlist assignment kept only $kept%.2f of exhaustive pairs")
  }
}
