package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SortedIntersectCount

/** The bucket self-join behind every near-duplicate pair list (MinHash
  * bands, SimHash chunks, containment and prefix shingles, media
  * fingerprint chunks), split the V-SMART-Join way into a candidate
  * phase shared by every measure and a per-measure verify phase.
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
}
