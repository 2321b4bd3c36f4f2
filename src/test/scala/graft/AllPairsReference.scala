package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.operators.DedupOps.{docs, shingleSets}
import graft.operators.SimilarityOps.emb

/** Unbounded all-pairs ground truths the bounded near-dup contracts
  * are checked against (DedupSimilaritySpec, ClusterSpec). No row
  * calls them: a corpus-wide pair scan does not survive a 100×
  * scale-up. */
object AllPairsReference {

  /** The all-pairs-within-block form of [[graft.operators.DedupOps.dedupJaccard]] — kept ONLY as
    * the spec-side ground truth (DedupSpec asserts the LSH path returns
    * the identical pair set); block × block products do not survive a
    * 100× scale-up, so this is never a registered driver query. */
  def dedupJaccardAllPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("lang"), col("source"),
      array_distinct(transform(split(col("text"), " "), t => xxhash64(t)))
        .as("toks"))
    val a = d.select(col("lang"), col("source"), col("doc_id").as("i"),
      col("toks").as("ti"))
    val b = d.select(col("lang"), col("source"), col("doc_id").as("j"),
      col("toks").as("tj"))
    val inter = size(array_intersect(col("ti"), col("tj")))
    val uni = size(col("ti")) + size(col("tj")) - inter
    a.join(b, Seq("lang", "source"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        (inter.cast("double") / uni.cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("i"), col("j"))
  }

  /** SPEC-ONLY ground truth for [[graft.operators.DedupOps.dedupMinhash]]: the unbounded
    * all-pairs 3-shingle Jaccard scan (mirrors [[dedupJaccardAllPairs]]
    * — never registered; a corpus-wide pair scan dies at 100×). */
  def shingleJaccardAllPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val sh = shingleSets(docs(spark, dir))
    val inter = graft.functions.SortedIntersectCount.count(
      col("si"), col("sj"))
    val uni = size(col("si")) + size(col("sj")) - inter
    sh.select(col("doc_id").as("i"), col("shs").as("si"))
      .join(sh.select(col("doc_id").as("j"), col("shs").as("sj")),
        col("i") < col("j"))
      .select(col("i"), col("j"),
        (inter.cast("double") / uni.cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("i"), col("j"))
  }

  /** SPEC-ONLY ground truth: all (i < j) pairs with cosine ≥
    * `threshold` — the unbounded exact range search. This is the
    * oracle the bounded contracts are validated against in
    * DedupSimilaritySpec, exactly as `dedupJaccardAllPairs` serves
    * `dedupJaccard`. It is deliberately NOT in the driver catalog: an
    * O(N²) cartesian pair scan is a scale-killer regardless of how
    * evenly the tiles distribute (2k vectors → 2M pairs; 200k → 20G).
    *
    * Why no LSH can rescue exact low-τ search: measured on this
    * corpus, true pairs at τ = 0.4 sit at cosine 0.40–0.60, where a
    * random hyperplane agrees with probability only 1 − θ/π ≈ 0.63 per
    * bit — sign-LSH needs ~24 tables of 2 bits for recall ≈ 1, which
    * emits MORE candidate work than the N²/2 scan it replaces. Exact
    * range search at that radius is inherently ~quadratic; production
    * contracts must bound it (blocking key → [[graft.operators.SimilarityOps.dedupEmbeddingBlocked]])
    * or raise the threshold (LSH → [[graft.operators.SimilarityOps.dedupEmbeddingLsh]]). */
  def dedupEmbeddingAllPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame = {
    val e = emb(spark, dir)
    val a = e.select(col("vec_id").as("i"),
        VectorOps.quantize(col("embedding")).as("iv"))
      .withColumn("ina", VectorOps.norm2Q(col("iv")))
    val b = e.select(col("vec_id").as("j"),
        VectorOps.quantize(col("embedding")).as("jv"))
      .withColumn("jnb", VectorOps.norm2Q(col("jv")))
    a.join(b, col("i") < col("j"))
      .select(col("i"), col("j"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("iv"), col("jv")),
          col("ina"), col("jnb")).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("i"), col("j"))
  }
}
