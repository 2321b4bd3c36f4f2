package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SortedIntersectCount

/** The bucket self-join behind every near-duplicate pair list (MinHash
  * bands, SimHash chunks, containment and prefix shingles, media
  * fingerprint chunks), split the V-SMART-Join way into a candidate
  * phase shared by every measure and a per-measure verify phase.
  * Callers: [[DedupOps]] `dedupJaccardCompute`, `minhashPairs`,
  * `containmentPairs`, `prefixJoinPairs` (`ingestPairs` uses the
  * [[jaccard]] verify alone) and `simhashPairs` through [[hamming]];
  * [[MultimodalOps]]' image and audio fingerprint graphs through
  * [[hamming]]. Cosine pairs over embedding vectors live in
  * [[VecSearch]].
  *
  * Why the numbered repartition sits ABOVE the checkpoint: a
  * `localCheckpoint` discards its plan's output partitioning, so a
  * repartition below it is a wasted exchange and the executed plan
  * re-exchanges BOTH join sides — where AQE then byte-coalesces the
  * pair expansion to a few tasks. Above it, the exchange is planned
  * once, reused by both aliases (ReusedExchange), and, being
  * REPARTITION_BY_NUM, is exempt from AQE coalescing, so the CPU-dense
  * bucket join keeps the session's full width. */
private[graft] object PairJoin {

  /** Rows materialized once and hash-bucketed on `keys`. */
  final case class Buckets(rows: DataFrame, keys: Seq[String]) {

    /** The buckets self-joined as `x`/`y` on equal keys and `cond`. */
    def pairs(cond: Column): DataFrame =
      rows.as("x").join(rows.as("y"),
        keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) && cond)
  }

  /** `rows` checkpointed once, then repartitioned on `keys` into
    * defaultParallelism partitions. */
  def buckets(rows: DataFrame, keys: String*): Buckets =
    Buckets(rows.localCheckpoint().repartition(
      rows.sparkSession.sparkContext.defaultParallelism, keys.map(col): _*),
      keys)

  /** `(i, j, jaccard)` for the id pairs in `pairs`, over the sorted
    * `set` column that `iSets` and `jSets` hold per `doc_id`. */
  def jaccard(pairs: DataFrame, set: String, iSets: DataFrame,
      jSets: DataFrame, i: String = "i", j: String = "j"): DataFrame = {
    val inter = SortedIntersectCount.count(col("si"), col("sj"))
    val uni = size(col("si")) + size(col("sj")) - inter
    pairs
      .join(iSets.select(col("doc_id").as(i), col(set).as("si")), Seq(i))
      .join(jSets.select(col("doc_id").as(j), col(set).as("sj")), Seq(j))
      .select(col(i), col(j),
        (inter.cast("double") / uni.cast("double")).as("jaccard"))
  }

  /** `(i, j, hamming)` for the `id` pairs of `fps` under `cond(x, y)`
    * whose fingerprints differ in at most `maxHam` bits. The
    * fingerprint is the `words` of each row, as (long column, bit
    * width); each word is cut into `chunkBits`-wide chunks (Manku et
    * al.'s pigeonhole tables, WWW 2007), the rows self-join on equal
    * (chunk, value), and the candidates are verified by the exact XOR
    * popcount summed over the words.
    *
    * Complete by pigeonhole: the chunks partition every bit, so a
    * pair differing in at most `maxHam` bits touches at most `maxHam`
    * chunks; with more chunks than that, some chunk is identical and
    * the pair meets in its bucket. The result therefore equals the
    * all-pairs scan, and the layout is rejected up front unless every
    * width is a whole number of chunks and `maxHam` < the chunk
    * count. */
  def hamming(fps: DataFrame, id: String, words: Seq[(String, Int)],
      chunkBits: Int, maxHam: Int,
      cond: (Column, Column) => Column): DataFrame = {
    require(words.forall(_._2 % chunkBits == 0),
      s"word widths ${words.map(_._2)} are not whole $chunkBits-bit chunks")
    val chunks = words.flatMap { case (w, width) =>
      (0 until width by chunkBits).map(s => shiftrightunsigned(col(w), s)
        .bitwiseAND(lit((1L << chunkBits) - 1)))
    }
    require(maxHam < chunks.size,
      s"$maxHam differing bits can touch all ${chunks.size} chunks")
    val chunked = fps.select((id +: words.map(_._1)).distinct.map(col) :+
        posexplode(array(chunks: _*)): _*)
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "cv")
    buckets(chunked, "chunk", "cv")
      .pairs(cond(col(s"x.$id"), col(s"y.$id")))
      .select(col(s"x.$id").as("i"), col(s"y.$id").as("j"),
        words.map { case (w, _) =>
          bit_count(col(s"x.$w").bitwiseXOR(col(s"y.$w")))
        }.reduce(_ + _).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
  }
}
