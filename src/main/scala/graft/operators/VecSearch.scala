package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps

/** The vector-search kernel behind every cosine top-K, IVF probe and
  * cosine pair list — the vector half of the V-SMART-Join split whose
  * set and bit-vector half is [[PairJoin]]: each caller supplies its
  * own candidate phase (broadcast query scan, IVF cells, LSH buckets,
  * blocking key), and every candidate pair is verified and ranked
  * here. Callers: [[SimilarityOps]] (ann_topk, hard_negatives,
  * ann_matryoshka, the IVF assignment/probe/rerank, the LSH rerank and
  * verify, mmr_rerank, dedup_embedding), [[ClusterOps]]' within-cluster
  * SemDeDup pairs, [[ScalarQuantOps]]' int8 shortlist and re-rank,
  * [[PqOps]]' ADC shortlist and L2 re-rank, and [[BitextOps]]' margin
  * neighbourhoods.
  *
  * Norms are precomputed per side: a side quantizes its vectors once
  * ([[VectorOps.quantize]], 1e-6 fixed point) and carries the integer
  * squared norm next to them, so a candidate pair pays one codegen'd
  * integer dot and the cosine is one IEEE divide of exact integers —
  * bit-identical in the DuckDB replays, which is what lets every
  * cosine row hash-match its oracle.
  *
  * Ties: every rank orders by (score, id ASC) — score DESC for
  * cosines, ASC for distances — so an exact tie picks the smaller id
  * in both engines (cell ASC for IVF probes). Ranks are `long`
  * `row_number`s filtered by `rank <= k` directly above the window,
  * the shape Spark's InferWindowGroupLimit turns into a map-side
  * WindowGroupLimit: each task forwards only its local top-k per
  * partition key into the window exchange. */
private[graft] object VecSearch {

  /** `(id, keep…, ${p}v, ${p}n)`: `e`'s `embedding` quantized and its
    * squared norm. */
  def side(e: DataFrame, id: Column, p: String, keep: Column*): DataFrame =
    e.select((id +: keep) :+
        VectorOps.quantize(col("embedding")).as(s"${p}v"): _*)
      .withColumn(s"${p}n", VectorOps.norm2Q(col(s"${p}v")))

  /** Cosine between the sides prefixed `a` and `b` (`"q"` reads
    * `qv`/`qn`; `"x."` reads `x.v`/`x.n`). */
  def cos(a: String, b: String): Column =
    VectorOps.cosineFrom(VectorOps.dotQ(col(s"${a}v"), col(s"${b}v")),
      col(s"${a}n"), col(s"${b}n"))

  /** `rows` with a `rank` column, keeping the best `k` per `by` by
    * (`score` DESC — ASC when `desc` is false — then `id` ASC). */
  def topK(rows: DataFrame, by: Seq[String], score: String, id: String,
      k: Int, desc: Boolean = true): DataFrame =
    rows.withColumn("rank", row_number().over(Window
        .partitionBy(by.map(col): _*)
        .orderBy(if (desc) col(score).desc else col(score).asc, col(id).asc))
        .cast("long"))
      .filter(col("rank") <= k)

  /** The cosine top-`k` per `q_vec_id` of `pairs`, which hold a `q`
    * and a `c` side: `(q_vec_id, qCarry…, c_vec_id, cCarry…, rank,
    * cos)` sorted by (q_vec_id, rank). */
  def rankCos(pairs: DataFrame, k: Int, qCarry: Seq[String] = Nil,
      cCarry: Seq[String] = Nil): DataFrame = {
    val ids = ("q_vec_id" +: qCarry :+ "c_vec_id") ++ cCarry
    topK(pairs.select(ids.map(col) :+ cos("q", "c").as("cos"): _*),
        Seq("q_vec_id"), "cos", "c_vec_id", k)
      .select((ids :+ "rank" :+ "cos").map(col): _*)
      .orderBy(col("q_vec_id"), col("rank"))
  }

  /** The DuckDB twin of [[rankCos]] over the brute-force pairs of the
    * `embeddings` rows matching `qWhere` and `cWhere`, joined by `from`
    * over `q` and `c`; with a `label` expression each side also selects
    * it as `q_label`/`c_label`. */
  def rankCosSql(qWhere: String, cWhere: String, from: String, k: Int,
      label: Option[String] = None, qCarry: Seq[String] = Nil,
      cCarry: Seq[String] = Nil): String = {
    def sideCte(p: String, where: String) =
      s"""$p AS (
         |  SELECT vec_id AS ${p}_vec_id, ${label.fold("")(l =>
        s"$l AS ${p}_label,\n    ")}${VectorOps.QuantizeSql} AS ${p}v
         |  FROM embeddings${if (where.isEmpty) "" else s" WHERE $where"})"""
        .stripMargin
    val ids = (("q_vec_id" +: qCarry :+ "c_vec_id") ++ cCarry).mkString(", ")
    s"""WITH ${sideCte("q", qWhere)},
       |${sideCte("c", cWhere)},
       |p AS (
       |  SELECT $ids,
       |    CAST(list_sum(list_transform(list_zip(qv, cv), z -> z[1] * z[2])) AS DOUBLE) /
       |    (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) *
       |     sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))) AS cos
       |  FROM $from),
       |r AS (
       |  SELECT $ids, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, c_vec_id ASC) AS rank
       |  FROM p)
       |SELECT $ids, rank, cos FROM r
       |WHERE rank <= $k
       |ORDER BY q_vec_id, rank""".stripMargin
  }

  /** All `(i, j, cos)` pairs of `rows` (an `id`, a `block` key and a
    * side with prefix `""`) in one block with i < j and cos ≥ `tau`,
    * sorted by (i, j): a hash equi-join on the block key, so the
    * verify work is Σ block², never N². */
  def blockPairs(rows: DataFrame, id: String, block: String,
      tau: Double): DataFrame = {
    def end(s: String) = rows.select(col(block).as(s"${s}b"), col(id).as(s),
      col("v").as(s"${s}v"), col("n").as(s"${s}n"))
    end("i").join(end("j"), col("ib") === col("jb") && col("i") < col("j"))
      .select(col("i"), col("j"), cos("i", "j").as("cos"))
      .filter(col("cos") >= tau)
      .orderBy(col("i"), col("j"))
  }
}
