package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps
import graft.sources.{ArtifactStore, Tables}

/** Similarity search over the `embeddings` table (vec_id,
  * embedding: array<float>, label) — the approximate-nearest-neighbor
  * operators a training-data pipeline needs (BASELINE.json north star;
  * no analog in the reference, which has no vector data model).
  *
  * Two paths, same contract:
  *  - [[annTopK]]: brute-force cosine top-k — the exactness baseline.
  *    Query set is broadcast; candidates stream; per-query top-k is a
  *    window over a key-partitioned shuffle. O(Q·N) — correct at any N
  *    when Q is small, and the oracle for the approximate path.
  *  - [[annLshTopK]]: random-hyperplane LSH (SimHash for vectors) —
  *    the 100 TB path. Each vector gets B bucket ids (one per table);
  *    join on bucket id prunes the candidate set from N to the
  *    colliding few, then exact cosine re-ranks. No N² anywhere:
  *    cost is Σ bucket² per table, and planes are a tiny broadcast
  *    literal. Deterministic: planes come from a fixed-seed RNG.
  */
object SimilarityOps {

  /** Number of query vectors for the benchmark queries (vec_id < Q). */
  val QueryCount = 8
  val K = 3

  private[graft] def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** Brute-force deterministic cosine top-k: for each query vector,
    * the K nearest other vectors. */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // quantize + norm once per side; the pair loop only pays one dot
    val cand = e.select(col("vec_id").as("c_vec_id"),
        VectorOps.quantize(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.norm2Q(col("cv")))
    val queries = e.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q_vec_id"),
        VectorOps.quantize(col("embedding")).as("qv"))
      .withColumn("qn", VectorOps.norm2Q(col("qv")))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos").desc, col("c_vec_id").asc)
    broadcast(queries)
      .join(cand, col("q_vec_id") =!= col("c_vec_id"))
      .select(col("q_vec_id"), col("c_vec_id"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("qv"), col("cv")),
          col("qn"), col("cn")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_vec_id"), col("c_vec_id"), col("rank"), col("cos"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  val annTopKSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_vec_id, ${VectorOps.QuantizeSql} AS qv
       |  FROM embeddings WHERE vec_id < $QueryCount),
       |c AS (
       |  SELECT vec_id AS c_vec_id, ${VectorOps.QuantizeSql} AS cv
       |  FROM embeddings),
       |p AS (
       |  SELECT q_vec_id, c_vec_id,
       |    CAST(list_sum(list_transform(list_zip(qv, cv), z -> z[1] * z[2])) AS DOUBLE) /
       |    (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) *
       |     sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))) AS cos
       |  FROM q, c WHERE q_vec_id <> c_vec_id),
       |r AS (
       |  SELECT q_vec_id, c_vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, c_vec_id ASC) AS rank
       |  FROM p)
       |SELECT q_vec_id, c_vec_id, rank, cos FROM r
       |WHERE rank <= $K
       |ORDER BY q_vec_id, rank""".stripMargin

  /** Dimension prefixes evaluated by [[annMatryoshka]]. */
  val MatryoshkaDims = Seq(8, 16, 32, 64)

  /** Matryoshka (truncated-dimension) retrieval evaluation — for each
    * dimension prefix d ∈ [[MatryoshkaDims]], the per-query recall of
    * cosine top-K computed on the FIRST d components against the
    * full-dimension ground truth (Kusupati et al. 2022, "Matryoshka
    * Representation Learning": serve truncated embeddings, keep most
    * of the recall — the dim-vs-cost dial every vector store tunes).
    * recall_ppm = 10⁶·|topK_d ∩ topK_full| DIV K, integer.
    *
    * Scale shape: ONE broadcast-queries × candidates pass computes all
    * four prefix cosines per pair in a single projection (stack —
    * integer prefix dots via codegen'd [[VectorOps.dotQ]] on slices,
    * norms precomputed per side per dim); per-(dim, query) top-K is a
    * WindowGroupLimit-pruned rank; the recall join is K·Q·|dims|
    * rows. O(Q·N·Σd) total — the same one-scan contract as
    * [[annTopK]], which is the d=64 leg by construction. */
  def annMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    def sliced(v: Column, side: String): Seq[(Int, Column, Column)] =
      MatryoshkaDims.map { d =>
        val sv = slice(v, 1, d)
        (d, sv.as(s"${side}v$d"), VectorOps.norm2Q(sv).as(s"${side}n$d"))
      }
    val cand = e.select(col("vec_id").as("c_vec_id") +:
      sliced(VectorOps.quantize(col("embedding")), "c")
        .flatMap(t => Seq(t._2, t._3)): _*)
    val queries = e.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q_vec_id") +:
        sliced(VectorOps.quantize(col("embedding")), "q")
          .flatMap(t => Seq(t._2, t._3)): _*)
    val withCos = broadcast(queries)
      .join(cand, col("q_vec_id") =!= col("c_vec_id"))
      .select(Seq(col("q_vec_id"), col("c_vec_id")) ++
        MatryoshkaDims.map(d => VectorOps.cosineFrom(
          VectorOps.dotQ(col(s"qv$d"), col(s"cv$d")),
          col(s"qn$d"), col(s"cn$d")).as(s"cos$d")): _*)
      .select(col("q_vec_id"), col("c_vec_id"),
        expr("stack(" + MatryoshkaDims.size + ", " +
          MatryoshkaDims.map(d => s"CAST($d AS BIGINT), cos$d")
            .mkString(", ") + ") AS (dim, cos)"))
    val w = Window.partitionBy(col("dim"), col("q_vec_id"))
      .orderBy(col("cos").desc, col("c_vec_id").asc)
    val topk = withCos
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("dim"), col("q_vec_id"), col("c_vec_id"))
      .localCheckpoint() // feeds itself (the d=64 ground-truth join)
    val gt = topk.filter(col("dim") === lit(64L))
      .select(col("q_vec_id"), col("c_vec_id"), lit(1L).as("hit"))
    topk.join(gt, Seq("q_vec_id", "c_vec_id"), "left")
      .groupBy(col("dim"), col("q_vec_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("overlap"))
      .select(col("dim"), col("q_vec_id"),
        expr(s"1000000 * overlap DIV $K").as("recall_ppm"))
      .orderBy(col("dim"), col("q_vec_id"))
  }

  /** DuckDB replay: one block per dimension prefix (list slice),
    * UNION ALL, rank, then the overlap join against the d=64 leg. */
  val annMatryoshkaSql: String = {
    val legs = MatryoshkaDims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim, q_vec_id, c_vec_id,
         |  ROW_NUMBER() OVER (PARTITION BY q_vec_id
         |    ORDER BY CAST(list_sum(list_transform(list_zip(qv[1:$d], cv[1:$d]), z -> z[1] * z[2])) AS DOUBLE) /
         |      (sqrt(CAST(list_sum(list_transform(qv[1:$d], x -> x * x)) AS DOUBLE)) *
         |       sqrt(CAST(list_sum(list_transform(cv[1:$d], x -> x * x)) AS DOUBLE))) DESC,
         |      c_vec_id ASC) AS rank
         |FROM q, c WHERE q_vec_id <> c_vec_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id AS q_vec_id, ${VectorOps.QuantizeSql} AS qv
       |  FROM embeddings WHERE vec_id < $QueryCount),
       |c AS MATERIALIZED (
       |  SELECT vec_id AS c_vec_id, ${VectorOps.QuantizeSql} AS cv
       |  FROM embeddings),
       |ranked AS MATERIALIZED (
       |$legs),
       |topk AS MATERIALIZED (
       |  SELECT dim, q_vec_id, c_vec_id FROM ranked WHERE rank <= $K),
       |gt AS (SELECT q_vec_id, c_vec_id FROM topk WHERE dim = 64)
       |SELECT t.dim, t.q_vec_id,
       |  CAST(1000000 * COUNT(g.c_vec_id) // $K AS BIGINT) AS recall_ppm
       |FROM topk t LEFT JOIN gt g
       |  ON g.q_vec_id = t.q_vec_id AND g.c_vec_id = t.c_vec_id
       |GROUP BY t.dim, t.q_vec_id
       |ORDER BY t.dim, t.q_vec_id""".stripMargin
  }

  /** Negatives per query for [[hardNegatives]]. */
  val NegK = 5

  /** Hard-negative mining for contrastive training — for each query
    * vector, the [[NegK]] most cosine-similar vectors whose `label`
    * DIFFERS from the query's. In-batch random negatives are easy;
    * retrieval/embedding training wants the nearest wrong-label
    * examples (Karpukhin et al. 2020 DPR §5.2 "hard negatives";
    * Xiong et al. 2021 ANCE mines them with a global ANN index).
    *
    * Same scale contract as [[annTopK]]: the fixed-cardinality query
    * set is broadcast, candidates stream through one codegen'd integer
    * dot per row, and the per-query top-k window is WindowGroupLimit-
    * pruned map-side before the rank shuffle. The label-inequality
    * predicate rides the broadcast join (label differs ⇒ vec differs,
    * so no self-pair check is needed). At 100 TB the candidate stream
    * comes from the bucketed ANN paths ([[annLshTopK]] / [[annIvfTopK]])
    * instead of the full scan; this exact form is that composition's
    * oracle. Reference analog: none (no vector data model in mrjob). */
  def hardNegatives(spark: SparkSession, dir: String,
      k: Int = NegK): DataFrame = {
    val e = emb(spark, dir)
    val cand = e.select(col("vec_id").as("c_vec_id"),
        col("label").as("c_label"),
        VectorOps.quantize(col("embedding")).as("cv"))
      .withColumn("cn", VectorOps.norm2Q(col("cv")))
    val queries = e.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q_vec_id"), col("label").as("q_label"),
        VectorOps.quantize(col("embedding")).as("qv"))
      .withColumn("qn", VectorOps.norm2Q(col("qv")))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos").desc, col("c_vec_id").asc)
    broadcast(queries)
      .join(cand, col("q_label") =!= col("c_label"))
      .select(col("q_vec_id"), col("q_label"), col("c_vec_id"),
        col("c_label"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("qv"), col("cv")),
          col("qn"), col("cn")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_vec_id"), col("q_label"), col("c_vec_id"),
        col("c_label"), col("rank"), col("cos"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  val hardNegativesSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_vec_id, label AS q_label,
       |    ${VectorOps.QuantizeSql} AS qv
       |  FROM embeddings WHERE vec_id < $QueryCount),
       |c AS (
       |  SELECT vec_id AS c_vec_id, label AS c_label,
       |    ${VectorOps.QuantizeSql} AS cv
       |  FROM embeddings),
       |p AS (
       |  SELECT q_vec_id, q_label, c_vec_id, c_label,
       |    CAST(list_sum(list_transform(list_zip(qv, cv), z -> z[1] * z[2])) AS DOUBLE) /
       |    (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) *
       |     sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))) AS cos
       |  FROM q, c WHERE q_label <> c_label),
       |r AS (
       |  SELECT q_vec_id, q_label, c_vec_id, c_label, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, c_vec_id ASC) AS rank
       |  FROM p)
       |SELECT q_vec_id, q_label, c_vec_id, c_label, rank, cos FROM r
       |WHERE rank <= $NegK
       |ORDER BY q_vec_id, rank""".stripMargin

  /** Registered exact embedding near-dup contract: all (i < j) pairs
    * WITHIN THE SAME `label` BLOCK with cosine ≥ `threshold` — the
    * standard blocking trick from entity resolution: exact search is
    * affordable when a metadata key first partitions the corpus, and
    * the plan is a plain hash equi-join on the blocking key (shuffle
    * ∝ N, compare work ∝ Σ blockᵢ², never N²). With B balanced blocks
    * that is N²/B — and at 100 TB the blocking key is precisely the
    * thing a pipeline has (source, shard, language, content-type), so
    * block sizes stay bounded as the corpus grows. Cross-block
    * near-dups are the high-threshold LSH path's job
    * ([[dedupEmbeddingLsh]]); unblocked exact low-τ search is
    * unbounded by nature and lives only as the spec ground truth
    * (`AllPairsReference.dedupEmbeddingAllPairs`). Per-pair cost is
    * one codegen'd integer dot on pre-quantized, pre-normed vectors. */
  def dedupEmbeddingBlocked(spark: SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame = {
    val e = emb(spark, dir)
    val a = e.select(col("label").as("bl"), col("vec_id").as("i"),
        VectorOps.quantize(col("embedding")).as("iv"))
      .withColumn("ina", VectorOps.norm2Q(col("iv")))
    val b = e.select(col("label").as("br"), col("vec_id").as("j"),
        VectorOps.quantize(col("embedding")).as("jv"))
      .withColumn("jnb", VectorOps.norm2Q(col("jv")))
    a.join(b, col("bl") === col("br") && col("i") < col("j"))
      .select(col("i"), col("j"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("iv"), col("jv")),
          col("ina"), col("jnb")).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy(col("i"), col("j"))
  }

  /** Embedding near-dup pairs at a HIGH threshold via hyperplane-LSH
    * buckets + exact cosine verification — the sub-quadratic 100 TB
    * dedup path (candidates ∝ Σ bucket², never N²).
    *
    * 16 tables × 8 bits: a true pair at cosine c collides in one table
    * with probability (1 − θ/π)⁸, so at the planted-dup regime
    * (c ≥ 0.98, bit-agreement 0.94) P(miss) = (1 − 0.94⁸)¹⁶ ≈ 6·10⁻⁷,
    * while background pairs (c ≈ 0.1) collide anywhere with
    * probability ≈ 16 · 0.53⁸ ≈ 1%. Verification is exact, so
    * precision is 1; recall at the threshold is seed-deterministic and
    * pinned by the planted-dup spec (DedupSimilaritySpec). */
  def dedupEmbeddingLsh(d: DataFrame, threshold: Double = 0.9,
      tables: Int = 16, bits: Int = 8, dim: Int = 64): DataFrame = {
    val e = d.select(col("vec_id"),
        lshBucketArray(col("embedding"), tables, bits, dim).as("bkts"),
        VectorOps.quantize(col("embedding")).as("v"))
      .withColumn("n2", VectorOps.norm2Q(col("v")))
    // ONE self-join on (table, bucket) via posexplode — not `tables`
    // unioned joins (16 separate join stages cost ~5 s of pure
    // scheduling at local scale and 16 shuffles on a cluster)
    val keyed = e.select(col("vec_id"), posexplode(col("bkts")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bk")
    val cands = keyed.as("x").join(keyed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bk") === col("y.bk") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("i"), col("y.vec_id").as("j"))
      .distinct()
    val side = e.select(col("vec_id"), col("v"), col("n2"))
    cands
      .join(side.select(col("vec_id").as("i"), col("v").as("iv"),
        col("n2").as("ina")), Seq("i"))
      .join(side.select(col("vec_id").as("j"), col("v").as("jv"),
        col("n2").as("jnb")), Seq("j"))
      .select(col("i"), col("j"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("iv"), col("jv")),
          col("ina"), col("jnb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Driver-facing LSH embedding-dedup query: summary row over the
    * pairs at cosine ≥ 0.9 (none exist in the synthetic corpus — max
    * measured pair cosine is 0.60 — so this documents the production
    * contract while the planted-dup spec proves the mechanism). */
  def dedupEmbeddingLshQuery(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingLsh(emb(spark, dir)).agg(
      count(lit(1)).as("n_pairs"),
      coalesce(round(max(col("cos")), 6), lit(0d)).as("max_cos"))

  val dedupEmbeddingSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, ${VectorOps.QuantizeSql} AS v FROM embeddings),
       |p AS (
       |  SELECT a.vec_id AS i, b.vec_id AS j,
       |    CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
       |    (sqrt(CAST(list_sum(list_transform(a.v, x -> x * x)) AS DOUBLE)) *
       |     sqrt(CAST(list_sum(list_transform(b.v, x -> x * x)) AS DOUBLE))) AS cos
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
       |SELECT i, j, cos FROM p WHERE cos >= 0.4
       |ORDER BY i, j""".stripMargin

  // ---------------- LSH path (the scale design) ----------------

  /** Deterministic random hyperplanes as an Achlioptas ±1 SIGN matrix
    * (Achlioptas 2003 "Database-friendly random projections": R ∈
    * {±1} preserves the sign-LSH collision geometry like a Gaussian):
    * sign(t, b, d) = +1 iff the first hex digit of md5("t_b_d") < 8 —
    * the [[ScalarQuantOps.signMatrix]] derivation with the table
    * index prepended. ENGINE-AGNOSTIC where the pre-r8 fixed-seed
    * Gaussian was JVM-only: DuckDB rebuilds the identical matrix from
    * its own md5, which is what lets ann_lsh_probe and
    * dedup_embedding_lsh be FULLY ORACLED at their production
    * parameters instead of rows-only (round-8: every bucket bit is
    * SQL-replayable). A tiny literal the plan broadcasts to every
    * task, as before. */
  def hyperplanes(tables: Int, bits: Int,
      dim: Int): Array[Array[Array[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(tables, bits, dim) { (t, b, d) =>
      val h = md.digest(s"${t}_${b}_${d}".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    }
  }

  /** All LSH bucket ids for `vec` as one array<int> column — one fused
    * [[graft.functions.HyperplaneBuckets]] pass (the tables × bits
    * per-plane [[graft.functions.ArrayDotProduct]] projection form
    * spent seconds in codegen for microseconds of math).
    *
    * Buckets hash the QUANTIZED vector (|q| ≤ ~5.3·10⁵, so every
    * ±1-weighted partial sum stays ≤ 3.4·10⁷ — exact in the
    * Expression's double accumulator with no rounding anywhere), not
    * the raw floats: float summation order is engine-defined, and the
    * oracle replay must reproduce each bucket bit EXACTLY. Bit b is
    * set iff the signed integer dot > 0, which DuckDB replays as an
    * integer comparison. */
  def lshBucketArray(vec: Column, tables: Int, bits: Int,
      dim: Int = 64): Column =
    graft.functions.HyperplaneBuckets.buckets(
      transform(VectorOps.quantize(vec), x => x.cast("double")),
      hyperplanes(tables, bits, dim))

  // ---------------- IVF path (cluster-pruned search) ----------------

  /** IVF (inverted-file) cell assignment: `cells` seed vectors act as
    * coarse centroids (chosen deterministically — the `cells` vectors
    * with the smallest seeded id hash, i.e. a seeded uniform sample of
    * the corpus); every vector joins against the broadcast centroid
    * set (fixed small cardinality — THIS broadcast is bounded by
    * construction, unlike a vocab) and keeps its best-cosine cell.
    * Returns (vec_id, cell, v, n2). */
  private def ivfVecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"), VectorOps.quantize(col("embedding")).as("v"))
      .withColumn("n2", VectorOps.norm2Q(col("v")))

  /** The coarse centroid set: a seeded uniform sample of `cells`
    * corpus vectors, as (cell, cv, cn). The sampling hash is
    * md5(vec_id || '_' || seed) — engine-agnostic (the hll_md5 /
    * signMatrix trick) where the pre-r8 xxhash64 was JVM-only, so the
    * WHOLE IVF probe path (centroid choice → assignment → probed
    * cells → rerank) is SQL-replayable and ann_ivf_probe is fully
    * oracled at its approximate production setting (round-8).
    * Exactness rows (probes == cells) never depended on WHICH vectors
    * seed the cells, so their outputs are unchanged. */
  def ivfCentroids(e: DataFrame, cells: Int = 16,
      seed: Long = 42L): DataFrame =
    ivfVecs(e)
      .withColumn("hk",
        md5(concat(col("vec_id").cast("string"), lit(s"_$seed"))))
      .orderBy(col("hk"), col("vec_id")).limit(cells)
      .select(col("vec_id").as("cell"), col("v").as("cv"),
        col("n2").as("cn"))

  def ivfAssign(e: DataFrame, cells: Int = 16,
      seed: Long = 42L): DataFrame =
    ivfAssignTo(e, ivfCentroids(e, cells, seed))

  /** Assignment against a caller-supplied centroid set — lets callers
    * that also probe centroids (annIvfTopK) build the subplan ONCE
    * instead of paying the centroid scan+sort twice. */
  def ivfAssignTo(e: DataFrame, cents: DataFrame): DataFrame = {
    val vecs = ivfVecs(e)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cell_cos").desc, col("cell").asc)
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("n2"), col("cell"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("v"), col("cv")),
          col("n2"), col("cn")).as("cell_cos"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cell"), col("v"), col("n2"))
  }

  /** IVF top-k: each query probes its `probes` best cells and
    * exact-reranks only the vectors in those cells — search cost
    * ∝ probes/cells of the corpus instead of all of it, and the
    * partition key (cell) is the shuffle key, so a 100× corpus just
    * means more cells. probes == cells degrades gracefully to exact
    * brute force (the spec pins that equality against [[annTopK]]);
    * probes < cells is the approximate production setting. */
  /** Per-(session, dir, cells, seed) memo of the built corpus IVF
    * index — (centroids, cell-assigned vectors), both checkpointed.
    * ann_ivf_topk / ann_ivf_probe / ann_filtered each rebuilt the
    * identical assignment (a full corpus pass) per query; in
    * production the cell-bucketed assignment IS the stored index
    * artifact (what `buildIvfIndex` persists for the ingest rows), so
    * materializing it once per corpus and probing it per query is the
    * honest shape, not a shortcut. Probing stays per-query. */
  private[graft] val ivfMemo = new Memo[(String, Int, Long),
    (DataFrame, DataFrame)]

  /** Since round 8 the session memo fronts PERSISTED parquet
    * artifacts (centroids + cell assignment — the stored IVF index a
    * production vector store maintains), keyed by the embeddings
    * table's content fingerprint and (cells, seed): a fresh session
    * probing the same corpus reads the index instead of rebuilding the
    * assignment pass ([[graft.sources.ArtifactStore]]; the
    * clusterLabels treatment applied to the index). */
  private[graft] def corpusIvf(spark: SparkSession, dir: String,
      cells: Int, seed: Long = 42L): (DataFrame, DataFrame) =
    ivfMemo(spark, (dir, cells, seed)) {
      def stored(kind: String)(build: => DataFrame) =
        ArtifactStore.stored(spark, dir, "embeddings", kind,
          s"cells=$cells", s"seed=$seed")(build)
      // build both relations from ONE centroid subplan when cold: the
      // assignment artifact embeds the centroid choice, so the two are
      // written in dependency order (cents first)
      val cents = stored("ivf_cents")(
        ivfCentroids(emb(spark, dir), cells, seed))
      (cents, stored("ivf_assigned")(ivfAssignTo(emb(spark, dir), cents)))
    }

  /** Bench PREP hook: materialize the registered-config IVF index
    * (load-or-build through the artifact store) untimed. */
  private[graft] def prewarm(spark: SparkSession, dir: String): Unit = {
    val (cents, assigned) = corpusIvf(spark, dir, cells = 16)
    cents.count(); assigned.count()
    ()
  }

  def annIvfTopK(spark: SparkSession, dir: String, cells: Int = 16,
      probes: Int = 4): DataFrame = {
    val (cents, assigned) = corpusIvf(spark, dir, cells)
    val queries = assigned.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q_vec_id"), col("v").as("qv"),
        col("n2").as("qn"))
    ivfSearch(queries, cents, assigned, probes, cells)
  }

  /** Metadata-FILTERED vector search through the IVF index: top-k
    * cosine among candidates satisfying a predicate (here: same
    * `label` as the query — the tenant/collection-scoped search every
    * production vector store must answer). The predicate is applied
    * INSIDE the probed cells ("pre-filtering" in the
    * filtered-vector-search taxonomy, e.g. Qdrant/Milvus docs; Wang
    * et al. 2021 Milvus §6.2), not after the top-k — post-filtering
    * k results and then dropping mismatches collapses recall whenever
    * the predicate is selective, since the k survivors may all fail
    * it. Registered at probes == cells, where the probed set is
    * provably the whole corpus and the result is EXACTLY the
    * filtered brute-force top-k → fully oracled against the
    * label-constrained exact SQL; probes < cells is the approximate
    * production setting (same contract as [[annIvfTopK]]).
    *
    * Scale shape: identical to [[annIvfTopK]] (broadcast centroid
    * probe, cell equi-join, WindowGroupLimit top-k) plus one
    * label-equality conjunct riding the cell join — at 100 TB with
    * the corpus bucketed by (cell, label), the predicate prunes
    * partitions before any dot is paid. */
  def annIvfFiltered(spark: SparkSession, dir: String, cells: Int = 16,
      probes: Int = 16): DataFrame = {
    val e = emb(spark, dir)
    val (cents, assigned) = corpusIvf(spark, dir, cells)
    val labeled = assigned
      .join(e.select(col("vec_id"), col("label")), Seq("vec_id"))
    val queries = labeled.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q_vec_id"), col("v").as("qv"),
        col("n2").as("qn"), col("label").as("q_label"))
    val pw = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("probe_cos").desc, col("cell").asc)
    val probed = queries.crossJoin(broadcast(cents))
      .select(col("q_vec_id"), col("qv"), col("qn"), col("q_label"),
        col("cell"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("qv"), col("cv")),
          col("qn"), col("cn")).as("probe_cos"))
      .withColumn("rk", row_number().over(pw))
      .filter(col("rk") <= probes)
      .select(col("q_vec_id"), col("qv"), col("qn"), col("q_label"),
        col("cell"))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos").desc, col("c_vec_id").asc)
    probed.join(labeled.select(col("cell"), col("vec_id").as("c_vec_id"),
        col("v").as("cv"), col("n2").as("cn"),
        col("label").as("c_label")), Seq("cell"))
      .filter(col("q_vec_id") =!= col("c_vec_id") &&
        col("q_label") === col("c_label"))
      .select(col("q_vec_id"),
        col("q_label").cast("long").as("q_label"), col("c_vec_id"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("qv"), col("cv")),
          col("qn"), col("cn")).as("cos"))
      .dropDuplicates("q_vec_id", "c_vec_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_vec_id"), col("q_label"), col("c_vec_id"),
        col("rank"), col("cos"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  val annIvfFilteredSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_vec_id, CAST(label AS BIGINT) AS q_label,
       |    ${VectorOps.QuantizeSql} AS qv
       |  FROM embeddings WHERE vec_id < $QueryCount),
       |c AS (
       |  SELECT vec_id AS c_vec_id, CAST(label AS BIGINT) AS c_label,
       |    ${VectorOps.QuantizeSql} AS cv
       |  FROM embeddings),
       |p AS (
       |  SELECT q_vec_id, q_label, c_vec_id,
       |    CAST(list_sum(list_transform(list_zip(qv, cv), z -> z[1] * z[2])) AS DOUBLE) /
       |    (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) *
       |     sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))) AS cos
       |  FROM q JOIN c ON q_vec_id <> c_vec_id AND q_label = c_label),
       |r AS (
       |  SELECT q_vec_id, q_label, c_vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, c_vec_id ASC) AS rank
       |  FROM p)
       |SELECT q_vec_id, q_label, c_vec_id, rank, cos FROM r
       |WHERE rank <= $K
       |ORDER BY q_vec_id, rank""".stripMargin

  /** The IVF probe + exact-rerank tail shared by [[annIvfTopK]] and
    * [[annIngest]]: `queries` (q_vec_id, qv, qn) each probe their
    * `probes` best-cosine cells of `cents`, then exact-rerank only the
    * `assigned` vectors in those cells. */
  private def ivfSearch(queries: DataFrame, cents: DataFrame,
      assigned: DataFrame, probes: Int, cells: Int = 16): DataFrame = {
    val pw = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("probe_cos").desc, col("cell").asc)
    val probed = queries.crossJoin(broadcast(cents))
      .select(col("q_vec_id"), col("qv"), col("qn"), col("cell"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("qv"), col("cv")),
          col("qn"), col("cn")).as("probe_cos"))
      .withColumn("rk", row_number().over(pw))
      .filter(col("rk") <= probes)
      .select(col("q_vec_id"), col("qv"), col("qn"), col("cell"))
    // r15 (§2.5): `cell` is a LOW-CARDINALITY join key — at the
    // registered cells=16 the rerank join hashes into ≤16 reduce
    // buckets no matter how many cores exist (measured at the 10×
    // probe: the batch×live cosine work of ann_ingest ran as a
    // 7-task stage, 109 s of CPU behind a 32 s straggler). Salt the
    // key: each probed (query) row takes ONE deterministic salt from
    // its q_vec_id hash, the assigned side is replicated across all
    // salts, and the join keys on (cell, salt) — every (q, c) pair
    // still matches exactly once (at q's salt), so the pair set is
    // bit-identical. The salt count ADAPTS: ceil-free integer
    // 4·parallelism/cells, clamped to [1, parallelism] — a production
    // index (cells ~ √N ≫ cores) gets nSalt = 1, i.e. NO salt column,
    // no replication, the exact pre-r15 plan; only a fixture-scale
    // cell count pays the small assigned-side replication to unlock
    // full-width reduce tasks.
    val dp = queries.sparkSession.sparkContext.defaultParallelism
    val nSalt = math.max(1, math.min(dp, 4 * dp / math.max(1, cells)))
    val cside = assigned.select(col("cell"),
      col("vec_id").as("c_vec_id"), col("v").as("cv"),
      col("n2").as("cn"))
    // Both sides carry an EXPLICIT repartition(dp) on the join key:
    // the join's inputs are KBs-to-MBs (queries×probes rows and the
    // replicated assigned side) while its OUTPUT is the quadratic
    // pair expansion, so AQE's byte-based coalescing — blind to
    // output CPU — squashed the salted join back to 6 reduce tasks
    // (measured at the 10× probe: 31.5 s CPU behind a 7.9 s wall). A
    // user REPARTITION_BY_NUM is exempt from coalescing and the two
    // sides co-partition, so the join gets exactly dp full-width
    // tasks and no extra exchange.
    val paired = if (nSalt <= 1) probed.join(cside, Seq("cell"))
      else probed
        .withColumn("salt", pmod(xxhash64(col("q_vec_id")),
          lit(nSalt.toLong)))
        .repartition(dp, col("cell"), col("salt"))
        .join(cside.withColumn("salt", explode(array(
          (0 until nSalt).map(s => lit(s.toLong)): _*)))
          .repartition(dp, col("cell"), col("salt")),
          Seq("cell", "salt"))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos").desc, col("c_vec_id").asc)
    // No dropDuplicates on (q_vec_id, c_vec_id): ivfAssignTo keeps
    // exactly ONE cell per vector (row_number rk === 1), so a (q, c)
    // pair can match in at most one probed cell and the pair set is
    // structurally distinct already (r15; oracle-verified). The old
    // defensive dedup cost a full pair-set exchange AND kept the
    // rank-k WindowGroupLimit partial from running directly above the
    // join — with it gone, each join task forwards only its local
    // top-K per query into the window exchange instead of every pair
    // (534 MB → KBs on the 10× probe leg).
    paired
      .filter(col("q_vec_id") =!= col("c_vec_id"))
      .select(col("q_vec_id"), col("c_vec_id"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("qv"), col("cv")),
          col("qn"), col("cn")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_vec_id"), col("c_vec_id"), col("rank"), col("cos"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  /** LSH-bucketed ANN: collide on any table's bucket, exact-rerank the
    * candidates. Approximate (recall < 1) at production parameters —
    * the shape that survives 100 TB: shuffle is per-bucket, never N².
    * Registered twice: `ann_lsh_topk` at (tables=1, bits=0), where
    * every vector shares bucket 0 so the candidate set is provably
    * complete and the result is EXACTLY brute-force top-k — that row
    * is fully oracled against the exact top-k SQL and pins the
    * end-to-end mechanics (bucket keying, posexplode join, rerank,
    * rank tie-breaks); and `ann_lsh_probe` at the production
    * parameters (rows-only + ScalaTest well-formedness/recall gates,
    * since production recall is seed-defined). */
  def annLshTopK(spark: SparkSession, dir: String,
      tables: Int = 4, bits: Int = 8): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"),
        lshBucketArray(col("embedding"), tables, bits).as("bkts"),
        VectorOps.quantize(col("embedding")).as("v"))
      .withColumn("n2", VectorOps.norm2Q(col("v")))
    // ONE (table, bucket) equi-join via posexplode — the shape proven
    // in dedupEmbeddingLsh; the earlier per-table form planned `tables`
    // separate join stages + a union (4 shuffles on a cluster and ~1 s
    // of pure stage scheduling at local scale for the same candidates).
    val keyed = e.select(col("vec_id"), posexplode(col("bkts")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bk")
    val cands = keyed.filter(col("vec_id") < QueryCount)
      .withColumnRenamed("vec_id", "q_vec_id")
      .join(keyed.withColumnRenamed("vec_id", "c_vec_id"),
        Seq("tbl", "bk"))
      .filter(col("q_vec_id") =!= col("c_vec_id"))
      .select(col("q_vec_id"), col("c_vec_id"))
      .distinct()
    val side = e.select(col("vec_id"), col("v"), col("n2"))
    val w = Window.partitionBy(col("q_vec_id"))
      .orderBy(col("cos").desc, col("c_vec_id").asc)
    cands
      .join(side.select(col("vec_id").as("q_vec_id"), col("v").as("qv"),
        col("n2").as("qn")), Seq("q_vec_id"))
      .join(side.select(col("vec_id").as("c_vec_id"), col("v").as("cv"),
        col("n2").as("cn")), Seq("c_vec_id"))
      .select(col("q_vec_id"), col("c_vec_id"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("qv"), col("cv")),
          col("qn"), col("cn")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_vec_id"), col("c_vec_id"), col("rank"), col("cos"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  /** Deterministic arrival slice for [[annIngest]] — the embeddings
    * counterpart of DedupOps' ingest slice. */
  val IngestVecMod = 10L
  val IngestVecRem = 3L

  /** Incremental ANN at INGEST time: each vector of an arriving batch
    * (vec_id % 10 == 3) finds its top-[[K]] nearest LIVE vectors
    * through the live corpus' IVF index — the per-arrival operator an
    * embedding pipeline runs for online near-dup / neighbor lookup,
    * the vector counterpart of DedupOps.dedupIngest.
    *
    * The index (coarse centroids + cell assignment) is built from the
    * LIVE side only; at 100 TB it is computed once, stored partitioned
    * by cell, and only the BATCH pays per arrival: batch·cells probe
    * dots + a cell equi-join into the probed cells' vectors — never a
    * corpus rescan, never batch×corpus. Registered at probes == cells,
    * where the probe set provably covers every cell and the result
    * EQUALS the brute-force batch×live top-k the oracle computes (the
    * ann_ivf_topk exactness trick; the spec pins the equality);
    * probes < cells is the approximate production setting
    * demonstrated by ann_ivf_probe. */
  def annIngest(spark: SparkSession, dir: String, cells: Int = 16,
      probes: Int = 16): DataFrame = {
    val e = emb(spark, dir)
    val isNew = col("vec_id") % IngestVecMod === IngestVecRem
    ivfProbe(e.filter(isNew), buildIvfIndex(e.filter(!isNew), cells),
      probes)
  }

  /** The live-corpus IVF structure [[annIngest]] probes — factored so
    * the streaming twin ([[graft.streaming.IngestStreaming
    * .annIngestStream]]) can build it ONCE, persist both relations,
    * and probe it per micro-batch. */
  case class IvfIndex(cents: DataFrame, assigned: DataFrame)

  def buildIvfIndex(live: DataFrame, cells: Int = 16): IvfIndex = {
    val cents = ivfCentroids(live, cells)
    IvfIndex(cents, ivfAssignTo(live, cents))
  }

  /** Probe a prebuilt live index with an arriving embedding batch —
    * the per-arrival work of [[annIngest]], shared verbatim with the
    * streaming twin: per-batch cost ∝ batch·cells probe dots +
    * probed-cell join, never a corpus rescan. */
  def ivfProbe(batch: DataFrame, idx: IvfIndex,
      probes: Int = 16, cells: Int = 16): DataFrame =
    ivfSearch(ivfVecs(batch)
        .select(col("vec_id").as("q_vec_id"), col("v").as("qv"),
          col("n2").as("qn")),
      idx.cents, idx.assigned, probes, cells)

  val annIngestSql: String =
    s"""WITH q AS (
       |  SELECT vec_id AS q_vec_id, ${VectorOps.QuantizeSql} AS qv
       |  FROM embeddings WHERE vec_id % $IngestVecMod = $IngestVecRem),
       |c AS (
       |  SELECT vec_id AS c_vec_id, ${VectorOps.QuantizeSql} AS cv
       |  FROM embeddings WHERE vec_id % $IngestVecMod <> $IngestVecRem),
       |p AS (
       |  SELECT q_vec_id, c_vec_id,
       |    CAST(list_sum(list_transform(list_zip(qv, cv), z -> z[1] * z[2])) AS DOUBLE) /
       |    (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) *
       |     sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))) AS cos
       |  FROM q, c),
       |r AS (
       |  SELECT q_vec_id, c_vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_vec_id ORDER BY cos DESC, c_vec_id ASC) AS rank
       |  FROM p)
       |SELECT q_vec_id, c_vec_id, rank, cos FROM r
       |WHERE rank <= $K
       |ORDER BY q_vec_id, rank""".stripMargin

  /** Embedding QA profile — the sanity pass a pipeline runs BEFORE
    * indexing or training on a vector table: per label, the vector
    * count, dimension bounds (a ragged dim is a broken producer),
    * zero-vector count (cosine is undefined on them — they poison
    * every similarity op upstream of this check), and the quantized
    * squared-norm range/mean (collapsed or exploding norms flag a bad
    * encoder checkpoint). All integer: norms ride [[VectorOps.quantize]]
    * so the oracle matches bit-for-bit.
    *
    * One scan → one partial+final agg keyed by the bounded label set;
    * per-task partials are |labels| rows, so 100× the vectors is 100×
    * the scan and nothing else. */
  def embeddingQa(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    e.select(col("label"),
        size(col("embedding")).cast("long").as("dims"),
        VectorOps.norm2Q(VectorOps.quantize(col("embedding"))).as("n2"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dims")).as("min_dims"),
        max(col("dims")).as("max_dims"),
        sum(when(col("n2") === 0, 1L).otherwise(0L)).as("n_zero"),
        min(col("n2")).as("min_norm2"),
        max(col("n2")).as("max_norm2"),
        expr("sum(n2) DIV count(1)").as("avg_norm2"))
      .orderBy(col("label"))
  }

  val embeddingQaSql: String =
    s"""SELECT label,
       |  COUNT(*) AS n_vecs,
       |  MIN(dims) AS min_dims, MAX(dims) AS max_dims,
       |  CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       |  MIN(n2) AS min_norm2, MAX(n2) AS max_norm2,
       |  CAST(SUM(n2) // COUNT(*) AS BIGINT) AS avg_norm2
       |FROM (
       |  SELECT label, CAST(len(embedding) AS BIGINT) AS dims,
       |    CAST(list_sum(list_transform(${VectorOps.QuantizeSql},
       |      t -> t * t)) AS BIGINT) AS n2
       |  FROM embeddings) t
       |GROUP BY label
       |ORDER BY label""".stripMargin

  // ---------------- MMR diversified re-rank ----------------

  /** Candidate pool per query for [[mmrRerank]]. */
  val MmrCand = 10
  /** Diversified results returned per query. */
  val MmrK = 3
  /** Relevance weight λ (similarity-to-selected weight is 1−λ). */
  val MmrLambda = 0.7

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    * from each query's [[MmrCand]]-candidate cosine pool, greedily
    * select [[MmrK]] results maximizing
    * λ·rel(q,c) − (1−λ)·max_{s∈S} sim(c,s) — the diversification
    * pass RAG retrieval runs so the k passages aren't near-duplicates
    * of each other (directly composable with the near-dup problem
    * this engine's dedup stack measures).
    *
    * Determinism: rel and sim are the engine-agreed integer-dot
    * cosines ([[VectorOps.cosineFrom]]); the MMR combination is
    * literal-double arithmetic on them (λ = 0.7 parses to the same
    * IEEE double in both engines, products/subtraction are correctly
    * rounded) with ties broken on c_vec_id — so the greedy trace is
    * bit-identical and the row is FULLY ORACLED via unrolled
    * selection rounds in DuckDB.
    *
    * Scale shape: candidate generation is the ANN index's job (the
    * pool here is the exact top-[[MmrCand]], provably what
    * [[annIvfTopK]] at probes=cells returns); MMR itself touches
    * Q×C rel rows and Q×C² pairwise sims — query-bounded, never
    * corpus-bounded — and each greedy round is a window over
    * per-query partitions (WindowGroupLimit-prunable, no global
    * sort). The [[MmrK]] rounds are a statically-bounded job DAG over
    * those few rows (the BpeOps bounded-round idiom). */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val sided = e.select(col("vec_id"),
        VectorOps.quantize(col("embedding")).as("v"))
      .withColumn("n2", VectorOps.norm2Q(col("v")))
    val queries = sided.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q"), col("v").as("qv"), col("n2").as("qn"))
    val wRel = Window.partitionBy(col("q"))
      .orderBy(col("rel").desc, col("c").asc)
    // per-query candidate pool: exact top-MmrCand with vectors carried
    // for the pairwise sims below
    val cand = broadcast(queries)
      .join(sided, col("q") =!= col("vec_id"))
      .select(col("q"), col("vec_id").as("c"), col("v"), col("n2"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("qv"), col("v")),
          col("qn"), col("n2")).as("rel"))
      .withColumn("cr", row_number().over(wRel))
      .filter(col("cr") <= MmrCand)
      .select(col("q"), col("c"), col("v"), col("n2"), col("rel"))
      .localCheckpoint() // feeds the pair-sim self-join + every round
    val pairSim = cand.as("a").join(cand.as("b"),
        col("a.q") === col("b.q") && col("a.c") =!= col("b.c"))
      .select(col("a.q").as("q"), col("a.c").as("c1"), col("b.c").as("c2"),
        VectorOps.cosineFrom(VectorOps.dotQ(col("a.v"), col("b.v")),
          col("a.n2"), col("b.n2")).as("sim"))
      .localCheckpoint() // Q×C² rows, reused every round
    val rel = cand.select(col("q"), col("c"), col("rel"))

    var selected = rel
      .withColumn("rk", row_number().over(wRelOn(col("q"), col("rel"),
        col("c"))))
      .filter(col("rk") === 1)
      .select(col("q"), col("c"), lit(1L).as("round"),
        col("rel").as("score"))
      .localCheckpoint()
    (2 to MmrK).foreach { r =>
      val remaining = rel.join(selected.select(col("q"), col("c")),
        Seq("q", "c"), "left_anti")
      val maxSim = pairSim
        .join(selected.select(col("q"), col("c").as("c2")), Seq("q", "c2"))
        .groupBy(col("q"), col("c1").as("c"))
        .agg(max(col("sim")).as("maxsim"))
      val scored = remaining.join(maxSim, Seq("q", "c"))
        .withColumn("score", lit(MmrLambda) * col("rel") -
          lit(1.0 - MmrLambda) * col("maxsim"))
      val pick = scored
        .withColumn("rk", row_number().over(wRelOn(col("q"), col("score"),
          col("c"))))
        .filter(col("rk") === 1)
        .select(col("q"), col("c"), lit(r.toLong).as("round"), col("score"))
      selected = selected.unionAll(pick).localCheckpoint()
    }
    selected
      .select(col("q").as("q_vec_id"), col("c").as("c_vec_id"),
        col("round"), col("score"))
      .orderBy(col("q_vec_id"), col("round"))
  }

  private def wRelOn(q: Column, s: Column, c: Column) =
    Window.partitionBy(q).orderBy(s.desc, c.asc)

  // -------- full SQL replays of the APPROXIMATE probe paths --------
  // (round-8: the md5 centroid sampling + md5 sign planes make every
  // step of the production-parameter probes engine-agnostic, so the
  // three formerly rows-only similarity rows are fully oracled)

  /** Quantized-vector + norm CTE shared by the probe replays. */
  private lazy val nCte: String =
    s"""n AS MATERIALIZED (
       |  SELECT vec_id, ${VectorOps.QuantizeSql} AS v,
       |    CAST(list_sum(list_transform(${VectorOps.QuantizeSql},
       |      x -> x * x)) AS BIGINT) AS n2
       |  FROM embeddings)""".stripMargin

  private def cosSql(av: String, an: String, bv: String,
      bn: String): String =
    s"""CAST(list_sum(list_transform(list_zip($av, $bv),
       |      z -> z[1] * z[2])) AS DOUBLE) /
       |    (sqrt(CAST($an AS DOUBLE)) * sqrt(CAST($bn AS DOUBLE)))"""
      .stripMargin

  /** The IVF probe chain at the REGISTERED approximate setting
    * (cells = 16, probes = 4), ending in `r` = ranked candidates per
    * query: centroid sample (md5 order), argmax cell assignment,
    * top-`probes` probed cells per query, exact rerank inside the
    * probed cells — each step mirroring [[ivfAssignTo]]/[[ivfSearch]]
    * tie-for-tie ((cos DESC, cell/c_vec_id ASC) everywhere). */
  private lazy val ivfProbeCtes: String =
    s"""$nCte,
       |cents AS MATERIALIZED (
       |  SELECT vec_id AS cell, v AS cv, n2 AS cn FROM n
       |  ORDER BY md5(CAST(vec_id AS VARCHAR) || '_42'), vec_id
       |  LIMIT 16),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cell, v, n2 FROM (
       |    SELECT n.vec_id, c.cell, n.v, n.n2,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |        ${cosSql("n.v", "n.n2", "c.cv", "c.cn")} DESC,
       |        c.cell ASC) AS rk
       |    FROM n CROSS JOIN cents c) t
       |  WHERE rk = 1),
       |probed AS MATERIALIZED (
       |  SELECT q_vec_id, qv, qn, cell FROM (
       |    SELECT n.vec_id AS q_vec_id, n.v AS qv, n.n2 AS qn, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |        ${cosSql("n.v", "n.n2", "c.cv", "c.cn")} DESC,
       |        c.cell ASC) AS rk
       |    FROM n CROSS JOIN cents c
       |    WHERE n.vec_id < $QueryCount) t
       |  WHERE rk <= 4),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT p.q_vec_id, a.vec_id AS c_vec_id,
       |    ${cosSql("p.qv", "p.qn", "a.v", "a.n2")} AS cos
       |  FROM probed p JOIN asg a
       |    ON a.cell = p.cell AND a.vec_id <> p.q_vec_id),
       |r AS MATERIALIZED (
       |  SELECT q_vec_id, c_vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY q_vec_id
       |      ORDER BY cos DESC, c_vec_id ASC) AS rank
       |  FROM cand)""".stripMargin

  val annIvfProbeSql: String =
    s"""WITH $ivfProbeCtes
       |SELECT q_vec_id, c_vec_id, rank, cos FROM r
       |WHERE rank <= $K
       |ORDER BY q_vec_id, rank""".stripMargin

  /** ±1 sign-plane + bucket CTEs for `tables` LSH tables of `bits`
    * bits over the 64-dim quantized vectors: bucket bit b of table t
    * is set iff the signed INTEGER dot with sign row (t, b) is > 0 —
    * exactly [[graft.functions.HyperplaneBuckets]] over
    * [[hyperplanes]]. The bucket VALUE encoding only needs to be a
    * bijection of the bit vector (buckets are compared for equality,
    * never shipped), and Σ 2^b is the engine's own packing. */
  private def lshBkCtes(tables: Int, bits: Int): String =
    s"""sgn AS MATERIALIZED (
       |  SELECT t, b, list_transform(range(64), d ->
       |    CASE WHEN substring(md5(CAST(t AS VARCHAR) || '_' ||
       |        CAST(b AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)
       |      IN ('0','1','2','3','4','5','6','7') THEN 1 ELSE -1 END)
       |      AS s
       |  FROM range($tables) r1(t), range($bits) r2(b)),
       |bk AS MATERIALIZED (
       |  SELECT n.vec_id, sgn.t AS tbl,
       |    SUM(CASE WHEN list_sum(list_transform(list_zip(n.v, sgn.s),
       |      z -> z[1] * z[2])) > 0
       |      THEN 1 << CAST(sgn.b AS INT) ELSE 0 END) AS bkv
       |  FROM n, sgn GROUP BY n.vec_id, sgn.t)""".stripMargin

  val annLshProbeSql: String =
    s"""WITH $nCte,
       |${lshBkCtes(tables = 4, bits = 8)},
       |cands AS MATERIALIZED (
       |  SELECT DISTINCT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id
       |  FROM bk q JOIN bk c
       |    ON q.tbl = c.tbl AND q.bkv = c.bkv AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $QueryCount),
       |r AS MATERIALIZED (
       |  SELECT cd.q_vec_id, cd.c_vec_id,
       |    ${cosSql("qn.v", "qn.n2", "cn.v", "cn.n2")} AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY cd.q_vec_id ORDER BY
       |      ${cosSql("qn.v", "qn.n2", "cn.v", "cn.n2")} DESC,
       |      cd.c_vec_id ASC) AS rank
       |  FROM cands cd
       |  JOIN n qn ON qn.vec_id = cd.q_vec_id
       |  JOIN n cn ON cn.vec_id = cd.c_vec_id)
       |SELECT q_vec_id, c_vec_id, rank, cos FROM r
       |WHERE rank <= $K
       |ORDER BY q_vec_id, rank""".stripMargin

  /** Replay of [[dedupEmbeddingLshQuery]] at the production
    * parameters (16 tables × 8 bits, τ = 0.9): bucket-collision
    * candidates, exact cosine verify, summary agg. */
  val dedupEmbeddingLshSql: String =
    s"""WITH $nCte,
       |${lshBkCtes(tables = 16, bits = 8)},
       |cands AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
       |  FROM bk a JOIN bk b
       |    ON a.tbl = b.tbl AND a.bkv = b.bkv AND a.vec_id < b.vec_id),
       |p AS (
       |  SELECT cd.i, cd.j,
       |    ${cosSql("ni.v", "ni.n2", "nj.v", "nj.n2")} AS cos
       |  FROM cands cd
       |  JOIN n ni ON ni.vec_id = cd.i
       |  JOIN n nj ON nj.vec_id = cd.j)
       |SELECT COUNT(*) AS n_pairs,
       |  COALESCE(round(MAX(cos), 6), 0) AS max_cos
       |FROM p WHERE cos >= 0.9""".stripMargin

  // -------- driver-visible recall audits (round-7 verdict #5) -------

  /** Per-query recall of an approximate top-k against the exact
    * top-k, as integer ppm (the annMatryoshka recall algebra). */
  private def recallOf(approx: DataFrame, exact: DataFrame): DataFrame =
    approx.select(col("q_vec_id"), col("c_vec_id"))
      .join(exact.select(col("q_vec_id"), col("c_vec_id"),
        lit(1L).as("hit")), Seq("q_vec_id", "c_vec_id"), "left")
      .groupBy(col("q_vec_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("overlap"))
      .select(col("q_vec_id"),
        expr(s"1000000 * overlap DIV $K").as("recall_ppm"))
      .orderBy(col("q_vec_id"))

  /** Registered audit row: measured recall_ppm of the APPROXIMATE
    * ann_ivf_probe setting against the exact top-k — the quality
    * number the rows-only registration used to leave spec-only, now
    * hash-checked by the driver (both legs replay in DuckDB). */
  def annIvfProbeRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(annIvfTopK(spark, dir), annTopK(spark, dir))

  /** Registered audit row: measured recall_ppm of the ann_lsh_probe
    * production parameters against the exact top-k. */
  def annLshProbeRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(annLshTopK(spark, dir), annTopK(spark, dir))

  private def recallTailSql(exactFrom: String): String =
    s"""topk AS (SELECT q_vec_id, c_vec_id FROM r WHERE rank <= $K),
       |ex AS ($exactFrom)
       |SELECT t.q_vec_id,
       |  CAST(1000000 * COUNT(e.c_vec_id) // $K AS BIGINT) AS recall_ppm
       |FROM topk t LEFT JOIN ex e
       |  ON e.q_vec_id = t.q_vec_id AND e.c_vec_id = t.c_vec_id
       |GROUP BY t.q_vec_id
       |ORDER BY t.q_vec_id""".stripMargin

  /** Exact top-k as a subquery over the shared `n` CTE. */
  private lazy val exactTopkSql: String =
    s"""SELECT q_vec_id, c_vec_id FROM (
       |    SELECT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${cosSql("q.v", "q.n2", "c.v", "c.n2")} DESC,
       |        c.vec_id ASC) AS rk
       |    FROM n q JOIN n c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $QueryCount) t
       |  WHERE rk <= $K""".stripMargin

  val annIvfProbeRecallSql: String =
    s"""WITH $ivfProbeCtes,
       |${recallTailSql(exactTopkSql)}""".stripMargin

  val annLshProbeRecallSql: String =
    s"""WITH $nCte,
       |${lshBkCtes(tables = 4, bits = 8)},
       |cands AS MATERIALIZED (
       |  SELECT DISTINCT q.vec_id AS q_vec_id, c.vec_id AS c_vec_id
       |  FROM bk q JOIN bk c
       |    ON q.tbl = c.tbl AND q.bkv = c.bkv AND q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $QueryCount),
       |r AS MATERIALIZED (
       |  SELECT cd.q_vec_id, cd.c_vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY cd.q_vec_id ORDER BY
       |      ${cosSql("qn.v", "qn.n2", "cn.v", "cn.n2")} DESC,
       |      cd.c_vec_id ASC) AS rank
       |  FROM cands cd
       |  JOIN n qn ON qn.vec_id = cd.q_vec_id
       |  JOIN n cn ON cn.vec_id = cd.c_vec_id),
       |${recallTailSql(exactTopkSql)}""".stripMargin

  val mmrRerankSql: String = {
    val selRounds = (2 to MmrK).map { r =>
      val prev = (1 until r).map(i => s"SELECT q, c FROM sel$i")
        .mkString(" UNION ALL ")
      s"""ms$r AS MATERIALIZED (
         |  SELECT ps.q, ps.c1 AS c, MAX(ps.sim) AS maxsim
         |  FROM ps JOIN ($prev) s ON s.q = ps.q AND s.c = ps.c2
         |  GROUP BY 1, 2),
         |sc$r AS MATERIALIZED (
         |  SELECT rel.q, rel.c,
         |    $MmrLambda * rel.rel - ${1.0 - MmrLambda} * ms$r.maxsim
         |      AS score
         |  FROM rel JOIN ms$r ON ms$r.q = rel.q AND ms$r.c = rel.c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM ($prev) s WHERE s.q = rel.q AND s.c = rel.c)),
         |sel$r AS MATERIALIZED (
         |  SELECT q, c, CAST($r AS BIGINT) AS round, score FROM (
         |    SELECT q, c, score, ROW_NUMBER() OVER (PARTITION BY q
         |      ORDER BY score DESC, c ASC) AS rk FROM sc$r)
         |  WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH sided AS MATERIALIZED (
       |  SELECT vec_id, ${VectorOps.QuantizeSql} AS v,
       |    CAST(list_sum(list_transform(${VectorOps.QuantizeSql},
       |      t -> t * t)) AS BIGINT) AS n2
       |  FROM embeddings),
       |cand AS MATERIALIZED (
       |  SELECT q, c, v, n2, rel FROM (
       |    SELECT qs.vec_id AS q, cs.vec_id AS c, cs.v, cs.n2,
       |      CAST(list_sum(list_transform(list_zip(qs.v, cs.v),
       |        z -> z[1] * z[2])) AS DOUBLE) /
       |      (sqrt(CAST(qs.n2 AS DOUBLE)) * sqrt(CAST(cs.n2 AS DOUBLE)))
       |        AS rel,
       |      ROW_NUMBER() OVER (PARTITION BY qs.vec_id ORDER BY
       |        CAST(list_sum(list_transform(list_zip(qs.v, cs.v),
       |          z -> z[1] * z[2])) AS DOUBLE) /
       |        (sqrt(CAST(qs.n2 AS DOUBLE)) * sqrt(CAST(cs.n2 AS DOUBLE)))
       |          DESC, cs.vec_id ASC) AS cr
       |    FROM (SELECT * FROM sided WHERE vec_id < $QueryCount) qs
       |    JOIN sided cs ON cs.vec_id <> qs.vec_id)
       |  WHERE cr <= $MmrCand),
       |rel AS MATERIALIZED (SELECT q, c, rel FROM cand),
       |ps AS MATERIALIZED (
       |  SELECT a.q, a.c AS c1, b.c AS c2,
       |    CAST(list_sum(list_transform(list_zip(a.v, b.v),
       |      z -> z[1] * z[2])) AS DOUBLE) /
       |    (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
       |      AS sim
       |  FROM cand a JOIN cand b ON a.q = b.q AND a.c <> b.c),
       |sel1 AS MATERIALIZED (
       |  SELECT q, c, CAST(1 AS BIGINT) AS round, rel AS score FROM (
       |    SELECT q, c, rel, ROW_NUMBER() OVER (PARTITION BY q
       |      ORDER BY rel DESC, c ASC) AS rk FROM rel)
       |  WHERE rk = 1),
       |$selRounds
       |SELECT q AS q_vec_id, c AS c_vec_id, round, score
       |FROM (${(1 to MmrK).map(i => s"SELECT * FROM sel$i")
          .mkString(" UNION ALL ")})
       |ORDER BY q_vec_id, round""".stripMargin
  }
}
