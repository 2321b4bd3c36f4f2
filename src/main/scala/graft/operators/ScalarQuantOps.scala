package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.sources.Tables

/** Int8 scalar quantization of embedding vectors (FAISS
  * `ScalarQuantizer` QT_8bit / llama.cpp Q8-style symmetric absmax):
  * each vector stores one `scale = absmax/127` plus 8-bit codes
  * `q_i = round(x_i/scale)` — a 4× cut vs float32 (8× vs the
  * fixed-point longs the oracle path uses), which at 100 TB is the
  * difference between an in-memory ANN shard and a spilling one.
  *
  * Two catalog rows:
  *  - `embed_quantize`: the compressed representation itself plus
  *    `err_max` (max per-dimension absolute reconstruction error —
  *    bounded by scale/2, pinned in ScalarQuantSpec) so a pipeline can
  *    gate on quantization damage before swapping the fp32 column out.
  *  - `ann_int8`: top-k cosine where the SHORTLIST is computed purely
  *    on int8 codes — cosine is scale-invariant, so the per-vector
  *    scales cancel and the shortlist score is exact integer
  *    arithmetic — followed by an exact fixed-point re-rank of the
  *    shortlist (same two-phase shape as [[PqOps]] ADC + re-rank).
  *
  * Everything is deterministic and DuckDB-replayable: float→double
  * cast, absmax, one double divide, `floor(x+0.5)` (identical
  * half-up rounding in both engines; Spark's `round` HALF_UPs away
  * from zero, DuckDB rounds half-even, so neither engine's `round`
  * is used), then integer sums.
  *
  * Reference analog: none (mrjob has no vector data model) — this is
  * part of the training-data-pipeline extension surface (SURVEY §2.4).
  */
object ScalarQuantOps {

  /** Shortlist size for [[annInt8]] — int8 cosine ranks the true
    * top-K reliably within ~3K candidates at this resolution;
    * ScalarQuantSpec pins shortlist≥N ≡ brute force. */
  val Shortlist = 9

  /** Embedding width the testdata contract pins (SchemaContractSpec);
    * the oracle's range(0, Dim) replay needs it as a literal. */
  val Dim = 64

  /** Output width for [[embedProject]] — 4× compression on top of the
    * int8 codes' 4×. */
  val ProjDim = 16

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** Adds `scale`, `qvec`, `err_max` columns for the vector column.
    *
    * STAGED through real projections, not one nested expression: the
    * absmax `scale` must be an attribute by the time the per-element
    * lambdas reference it — inlined, it re-evaluates per ELEMENT and
    * the duplicated subtree quadruples the generated code (first cut
    * measured 4.4 s on a 2 000×64 table, all codegen). CollapseProject
    * keeps non-cheap multi-referenced aliases staged, so the shape
    * survives the optimizer. */
  private def withQuant(df: DataFrame, v: String): DataFrame = df
    .withColumn("__vd", transform(col(v), _.cast("double")))
    .withColumn("scale",
      array_max(transform(col("__vd"), x => abs(x))) / lit(127.0d))
    .withColumn("qvec",
      when(col("scale") === 0d,
        transform(col("__vd"), _ => lit(0).cast("int")))
      .otherwise(transform(col("__vd"),
        x => floor(x / col("scale") + lit(0.5d)).cast("int"))))
    .withColumn("err_max",
      when(col("scale") === 0d, lit(0.0d)).otherwise(
        array_max(zip_with(col("qvec"), col("__vd"), (qi, xi) =>
          abs(qi.cast("double") * col("scale") - xi)))))
    .drop("__vd")

  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    withQuant(emb(spark, dir), "embedding")
      .select("vec_id", "scale", "qvec", "err_max")
      .orderBy(col("vec_id"))

  /** Driver-facing shape of [[embedQuantize]]: identical rows, with the
    * int8 code array rendered as one comma-joined exact-integer string.
    * The driver's comparator sorts columns through pandas, which cannot
    * hash array cells (r5 gate crash) — integers render byte-identically
    * in both engines, so the string form hash-matches while the
    * array-typed [[embedQuantize]] stays the composition API
    * ([[annInt8]] consumes `qvec` directly). */
  def embedQuantizeFlat(spark: SparkSession, dir: String): DataFrame =
    embedQuantize(spark, dir)
      .withColumn("qvec", concat_ws(",", col("qvec").cast("array<string>")))

  /** The DuckDB fragments mirroring [[quantCols]], kept adjacent so
    * the two can't drift. `%V%` is the vector expression. */
  private def scaleSql(v: String) =
    s"list_max(list_transform($v, x -> abs(CAST(x AS DOUBLE)))) / 127.0"
  private def qvecSql(v: String, scale: String) =
    s"""CASE WHEN $scale = 0 THEN list_transform($v, x -> 0)
       |ELSE list_transform($v,
       |  x -> CAST(floor(CAST(x AS DOUBLE) / $scale + 0.5) AS INTEGER))
       |END""".stripMargin
  private def errSql(v: String, q: String, scale: String) =
    s"""CASE WHEN $scale = 0 THEN 0.0
       |ELSE list_max(list_transform(list_zip($q, $v),
       |  z -> abs(CAST(z[1] AS DOUBLE) * $scale - CAST(z[2] AS DOUBLE))))
       |END""".stripMargin

  val embedQuantizeSql: String =
    s"""WITH s AS (
       |  SELECT vec_id, embedding, ${scaleSql("embedding")} AS scale
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id, embedding, scale,
       |    ${qvecSql("embedding", "scale")} AS qvec
       |  FROM s)
       |SELECT vec_id, scale, array_to_string(qvec, ',') AS qvec,
       |  ${errSql("embedding", "qvec", "scale")} AS err_max
       |FROM q ORDER BY vec_id""".stripMargin

  /** The deterministic Achlioptas ±1 sign matrix for [[embedProject]]:
    * sign(i, j) = +1 iff the first hex digit of md5("i_j") is < 8 —
    * an engine-agnostic derivation (DuckDB rebuilds it digit-by-digit
    * from its own md5, the hll_md5 trick), so the projection needs no
    * RNG state shipped anywhere. k rows (output dims) × d columns. */
  private[graft] def signMatrix(d: Int, k: Int): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until k).map { j =>
      (0 until d).map { i =>
        val h = md.digest(s"${i}_${j}".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) < 8) 1L else -1L
      }
    }
  }

  /** Johnson-Lindenstrauss sign random projection (Achlioptas 2003
    * "Database-friendly random projections": R_ij ∈ {±1} preserves
    * pairwise distances in expectation like the Gaussian matrix) over
    * the int8 CODE table: proj_j = Σ_i q_i · sign(i, j) — EXACT
    * integer arithmetic end-to-end (|q|≤127, d=64 ⇒ |proj_j| ≤ 8128),
    * so the whole row hash-matches the DuckDB replay; `scale` rides
    * along so downstream consumers can reconstruct magnitudes
    * (projected cosine itself is scale-invariant).
    *
    * Why it earns a catalog row: this is the COARSE index layer under
    * the quantization stack — d=64 int8 codes (64 B) → k=16 integer
    * sketches that cost d/k = 4× fewer multiply-adds per candidate
    * dot, the standard first-pass filter in front of [[annInt8]]'s
    * code-space shortlist at 100 TB.
    *
    * Scale shape: ZERO shuffles — one codegen'd projection per row
    * (transform over a k×d LITERAL matrix; the 1 024 driver-side md5s
    * are a constant, not data-dependent), partition-preserving, so it
    * composes with any downstream bucketing. ScalarQuantSpec pins a
    * pure-Scala golden replay, integer linearity, the JL norm contract
    * E[‖Pu‖²] = k·‖u‖² (mean ratio within ±10% over the corpus), and
    * a cosine-correlation floor against true cosine on a fixed pair
    * sample — NOT a top-k recall floor: on this near-isotropic
    * synthetic corpus the true cosine spread is tight (±0.47) and a
    * k=16 sketch reorders close neighbors, which is exactly why the
    * production stack uses it as a coarse FILTER in front of
    * [[annInt8]]'s code-space shortlist, never as the final rank. */
  def embedProject(spark: SparkSession, dir: String,
      k: Int = ProjDim): DataFrame = {
    val signs = typedLit(signMatrix(Dim, k))
    withQuant(emb(spark, dir), "embedding")
      .select(col("vec_id"), col("scale"),
        transform(signs, row =>
          aggregate(zip_with(col("qvec"), row,
            (q, s) => q.cast("long") * s), lit(0L), (acc, x) => acc + x))
          .as("proj"))
      .orderBy(col("vec_id"))
  }

  /** Driver-facing shape of [[embedProject]] — same rows, `proj`
    * comma-joined to a string (see [[embedQuantizeFlat]]). */
  def embedProjectFlat(spark: SparkSession, dir: String,
      k: Int = ProjDim): DataFrame =
    embedProject(spark, dir, k)
      .withColumn("proj", concat_ws(",", col("proj").cast("array<string>")))

  val embedProjectSql: String =
    s"""WITH s AS (
       |  SELECT vec_id, embedding, ${scaleSql("embedding")} AS scale
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id, scale,
       |    ${qvecSql("embedding", "scale")} AS qvec
       |  FROM s)
       |SELECT vec_id, scale,
       |  array_to_string(list_transform(range(0, $ProjDim), j ->
       |    CAST(list_sum(list_transform(range(0, $Dim), i ->
       |      CAST(qvec[CAST(i AS INTEGER) + 1] AS BIGINT) *
       |      (CASE WHEN substring(md5(CAST(i AS VARCHAR) || '_' ||
       |          CAST(j AS VARCHAR)), 1, 1)
       |        IN ('0','1','2','3','4','5','6','7')
       |        THEN 1 ELSE -1 END))) AS BIGINT)), ',') AS proj
       |FROM q ORDER BY vec_id""".stripMargin

  /** Top-k cosine via int8 shortlist + exact fixed-point re-rank.
    *
    * Plan shape (PlanSpec-pinned): the fixed-cardinality query side
    * broadcasts; the candidate stream pays ONE integer dot per row on
    * 8-bit codes (¼ the bytes of the fp32 scan); the per-query
    * shortlist and final top-k are WindowGroupLimit-pruned map-side.
    * At 100 TB the codes table is the resident index and the fp32
    * re-rank touches only Q×Shortlist rows. */
  def annInt8(spark: SparkSession, dir: String,
      shortlist: Int = Shortlist): DataFrame = {
    // codes are stored 8-bit-valued; widen to long only at the dot
    // (ArrayDotProduct's exact-integer element type); the codes ride as
    // the `qb`/`cb` sides, the fixed-point vectors as `q`/`c`
    val coded = withQuant(emb(spark, dir), "embedding")
      .select(col("vec_id"), col("embedding"),
        col("qvec").cast("array<bigint>").as("bv"))
      .withColumn("bn", VectorOps.norm2Q(col("bv")))
    def codes(p: String) =
      Seq(col("bv").as(s"${p}bv"), col("bn").as(s"${p}bn"))
    val queries = VecSearch.side(
      coded.filter(col("vec_id") < SimilarityOps.QueryCount),
      col("vec_id").as("q_vec_id"), "q", codes("q"): _*)
    val cands = VecSearch.side(coded, col("vec_id").as("c_vec_id"), "c",
      codes("c"): _*)
    val short = VecSearch.topK(broadcast(queries)
        .join(cands, col("q_vec_id") =!= col("c_vec_id"))
        .select(col("q_vec_id"), col("c_vec_id"), col("qv"), col("qn"),
          col("cv"), col("cn"), VecSearch.cos("qb", "cb").as("icos")),
      Seq("q_vec_id"), "icos", "c_vec_id", shortlist)
    VecSearch.rankCos(short, SimilarityOps.K)
  }

  val annInt8Sql: String = {
    s"""WITH s AS (
       |  SELECT vec_id, embedding, ${scaleSql("embedding")} AS scale
       |  FROM embeddings),
       |coded AS (
       |  SELECT vec_id, embedding,
       |    ${qvecSql("embedding", "scale")} AS qvec
       |  FROM s),
       |q AS (
       |  SELECT vec_id AS q_vec_id, qvec AS q_qvec,
       |    ${VectorOps.QuantizeSql} AS q_fx
       |  FROM coded WHERE vec_id < ${SimilarityOps.QueryCount}),
       |c AS (
       |  SELECT vec_id AS c_vec_id, qvec,
       |    ${VectorOps.QuantizeSql} AS c_fx
       |  FROM coded),
       |short AS (
       |  SELECT q_vec_id, c_vec_id, q_fx, c_fx,
       |    ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY
       |      CAST(list_sum(list_transform(list_zip(q_qvec, qvec),
       |        z -> CAST(z[1] AS BIGINT) * z[2])) AS DOUBLE) /
       |      (sqrt(CAST(list_sum(list_transform(q_qvec,
       |         x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) *
       |       sqrt(CAST(list_sum(list_transform(qvec,
       |         x -> CAST(x AS BIGINT) * x)) AS DOUBLE))) DESC,
       |      c_vec_id ASC) AS srank
       |  FROM q, c WHERE q_vec_id <> c_vec_id),
       |rer AS (
       |  SELECT q_vec_id, c_vec_id,
       |    CAST(list_sum(list_transform(list_zip(q_fx, c_fx),
       |      z -> z[1] * z[2])) AS DOUBLE) /
       |    (sqrt(CAST(list_sum(list_transform(q_fx, x -> x * x)) AS DOUBLE)) *
       |     sqrt(CAST(list_sum(list_transform(c_fx, x -> x * x)) AS DOUBLE)))
       |      AS cos
       |  FROM short WHERE srank <= $Shortlist),
       |r AS (
       |  SELECT q_vec_id, c_vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |      ORDER BY cos DESC, c_vec_id ASC) AS rank
       |  FROM rer)
       |SELECT q_vec_id, c_vec_id, rank, cos FROM r
       |WHERE rank <= ${SimilarityOps.K}
       |ORDER BY q_vec_id, rank""".stripMargin
  }
}
