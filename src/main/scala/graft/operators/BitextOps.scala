package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps
import graft.sources.Tables

/** Margin-based candidate mining over the embedding corpus — the
  * scoring rule parallel-corpus mining runs (Artetxe & Schwenk 2019,
  * "Margin-based Parallel Corpus Mining with Multilingual Sentence
  * Embeddings"; the CCMatrix/LASER pipeline): raw cosine is a poor
  * mining score because "hub" vectors are near EVERYTHING (high
  * average similarity inflates all their pairs), so each candidate
  * pair (x, y) is scored RELATIVE to both endpoints' neighborhoods:
  *
  *   margin(x, y) = cos(x, y) / ((avgNNk(x) + avgNNk(y)) / 2)
  *
  * — the "ratio" margin, eq. (3) of the paper. A hub y has a high
  * avgNNk(y), so its pairs are demoted; a pair that stands out from
  * BOTH neighborhoods scores > 1.
  *
  * Corpus model: the two "languages" are the even/odd vec_id halves
  * of `embeddings` (the deterministic side-split idiom —
  * dedup_ingest's doc_id%10 slice). Queries are the bounded even-side
  * slice (vec_id < 2·[[BitextQueryCount]], the annTopK broadcast-query
  * contract).
  *
  * Determinism: cosines quantize to floor(cos·10⁹) BIGINT immediately
  * (one IEEE divide on exact integer dot/norms — both engines compute
  * the identical double, so the floor matches bit-for-bit; summing
  * happens AFTER quantization, in exact integer arithmetic, because a
  * float SUM is accumulation-order-dependent across engines). The
  * margin is integer ppm: 10⁶·2K·cos_q9 DIV (asum + bsum), restricted
  * to positive cos and positive neighborhood mass so Spark's
  * truncating DIV and DuckDB's flooring // agree (mining thresholds
  * at margin > 1, so the positive restriction is vacuous in
  * practice).
  *
  * Scale shape: two linear corpus passes, each a broadcast
  * small-side join (queries, then the ≤ Q·K forward candidates) with
  * per-key WindowGroupLimit top-K — O(N·Q + N·Q·K) dots, no
  * corpus×corpus pairing anywhere. At 100 TB both neighbor scans
  * swap for the persisted IVF index ([[SimilarityOps.annIvfTopK]]'s
  * `ivfSearch` tail) without touching the margin arithmetic. */
object BitextOps {

  /** Queries = even vec_ids below 2·this (8 queries). */
  val BitextQueryCount = 8
  /** Neighborhood size K for both margin terms. */
  val MarginK = 4

  private def q9(cos: Column): Column = floor(cos * lit(1e9))

  /** The margin pipeline over any (id, vec array<float>) src/tgt
    * frames — factored so specs can plant hub structure. `queries`
    * must be a bounded subset of src ids. */
  private[graft] def marginOf(src: DataFrame, tgt: DataFrame,
      queryMax: Long): DataFrame = {
    def side(df: DataFrame, p: String): DataFrame = VecSearch.side(
      df.withColumnRenamed("vec", "embedding"), col("id").as(s"${p}_id"), p)
    val s = side(src, "s")
    val t = side(tgt, "t")
    val q = s.filter(col("s_id") < queryMax)
      .select(col("s_id").as("q_id"), col("sv").as("qv"),
        col("sn").as("qn"))
    val fwd = VecSearch.topK(broadcast(q)
        .join(t, col("q_id") =!= col("t_id"))
        .select(col("q_id"), col("t_id"),
          q9(VecSearch.cos("q", "t")).as("cos_q9")),
        Seq("q_id"), "cos_q9", "t_id", MarginK)
      .localCheckpoint() // ≤ Q·K rows, consumed three times below
    val aq = fwd.groupBy(col("q_id")).agg(sum(col("cos_q9")).as("asum"))
    val candv = fwd.select(col("t_id")).distinct().join(t, Seq("t_id"))
    val back = VecSearch.topK(broadcast(candv)
        .join(s, col("t_id") =!= col("s_id"))
        .select(col("t_id"), col("s_id"),
          q9(VecSearch.cos("t", "s")).as("cos_q9")),
        Seq("t_id"), "cos_q9", "s_id", MarginK)
      .groupBy(col("t_id")).agg(sum(col("cos_q9")).as("bsum"))
    val wm = Window.partitionBy(col("q_id"))
      .orderBy(col("margin_ppm").desc, col("t_id").asc)
    fwd.join(aq, Seq("q_id")).join(back, Seq("t_id"))
      .filter(col("cos_q9") > 0L && (col("asum") + col("bsum")) > 0L)
      .withColumn("margin_ppm", expr(
        s"1000000 * ${2 * MarginK} * cos_q9 DIV (asum + bsum)"))
      .withColumn("rank", row_number().over(wm).cast("long"))
      .select(col("q_id").as("q_vec_id"), col("t_id").as("t_vec_id"),
        col("rank"), col("cos_q9"), col("margin_ppm"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  /** Registered row: margin-scored mining candidates, even→odd halves
    * of the embeddings table. */
  def bitextMargin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    val src = e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val tgt = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    marginOf(src, tgt, 2L * BitextQueryCount)
  }

  val bitextMarginSql: String = {
    val k = MarginK
    s"""WITH s AS (
       |  SELECT vec_id AS s_id, ${VectorOps.QuantizeSql} AS sv
       |  FROM embeddings WHERE vec_id % 2 = 0),
       |t AS (
       |  SELECT vec_id AS t_id, ${VectorOps.QuantizeSql} AS tv
       |  FROM embeddings WHERE vec_id % 2 = 1),
       |q AS (SELECT s_id AS q_id, sv AS qv FROM s
       |      WHERE s_id < ${2 * BitextQueryCount}),
       |fwd0 AS (
       |  SELECT q_id, t_id,
       |    CAST(floor((CAST(list_sum(list_transform(list_zip(qv, tv),
       |        z -> z[1] * z[2])) AS DOUBLE) /
       |      (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) *
       |       sqrt(CAST(list_sum(list_transform(tv, x -> x * x)) AS DOUBLE))))
       |      * 1000000000.0) AS BIGINT) AS cos_q9
       |  FROM q, t WHERE q_id <> t_id),
       |fwd AS (
       |  SELECT q_id, t_id, cos_q9 FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cos_q9 DESC, t_id ASC) AS r FROM fwd0) z
       |  WHERE r <= $k),
       |aq AS (SELECT q_id, SUM(cos_q9) AS asum FROM fwd GROUP BY q_id),
       |cand AS (SELECT DISTINCT t_id FROM fwd),
       |bk0 AS (
       |  SELECT t.t_id, s.s_id,
       |    CAST(floor((CAST(list_sum(list_transform(list_zip(t.tv, s.sv),
       |        z -> z[1] * z[2])) AS DOUBLE) /
       |      (sqrt(CAST(list_sum(list_transform(t.tv, x -> x * x)) AS DOUBLE)) *
       |       sqrt(CAST(list_sum(list_transform(s.sv, x -> x * x)) AS DOUBLE))))
       |      * 1000000000.0) AS BIGINT) AS cos_q9
       |  FROM cand JOIN t ON cand.t_id = t.t_id, s
       |  WHERE t.t_id <> s.s_id),
       |bq AS (
       |  SELECT t_id, SUM(cos_q9) AS bsum FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY t_id
       |      ORDER BY cos_q9 DESC, s_id ASC) AS r FROM bk0) z
       |  WHERE r <= $k GROUP BY t_id),
       |m AS (
       |  SELECT fwd.q_id, fwd.t_id, fwd.cos_q9,
       |    CAST(1000000 * ${2 * k} * fwd.cos_q9 // (aq.asum + bq.bsum)
       |      AS BIGINT) AS margin_ppm
       |  FROM fwd JOIN aq ON fwd.q_id = aq.q_id
       |  JOIN bq ON fwd.t_id = bq.t_id
       |  WHERE fwd.cos_q9 > 0 AND aq.asum + bq.bsum > 0)
       |SELECT q_id AS q_vec_id, t_id AS t_vec_id,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |    ORDER BY margin_ppm DESC, t_id ASC) AS BIGINT) AS rank,
       |  cos_q9, margin_ppm
       |FROM m
       |ORDER BY q_vec_id, rank""".stripMargin
  }
}
