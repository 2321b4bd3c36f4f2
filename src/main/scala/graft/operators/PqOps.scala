package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorOps
import graft.sources.Tables

/** Product-quantization ANN (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the 100 TB embedding-search
  * path beyond IVF cells and hyperplane LSH: split each vector into
  * [[M]] subspaces, k-means each subspace into [[Ks]] codewords, store
  * every vector as M small codes, and answer queries in two stages:
  * (1) asymmetric distance (ADC) over the code table — the query stays
  * a raw vector, each candidate costs M lookups into a per-query table
  * (LUT) of subspace distances — keeps the best [[Shortlist]]
  * candidates; (2) exact integer-L2 re-rank of that constant-size
  * shortlist (the paper's §VI re-ranking) produces the final top-[[K]].
  *
  * Why this matters at scale: a 64-dim float vector is 256 B; its PQ
  * code here is M=8 codes (one byte each in storage terms). The ANN
  * scan therefore reads the CODE table — a ~32× smaller relation than
  * the raw embeddings — plus a broadcast LUT of Q·M·[[Ks]] rows; raw
  * vectors are touched only by the re-rank, which reads exactly
  * Q·[[Shortlist]] of them via equi-joins. Codebook training runs on
  * a sample; encoding is one linear pass.
  *
  * Recall is a fixture-measured, spec-pinned property (like semdedup's
  * blocking recall): the hash oracle proves the METHOD exact — DuckDB
  * replays codebooks, codes, ADC, and re-rank bit-identically — while
  * PqSpec pins the measured recall@K against the spec-only brute-force
  * L2 ground truth.
  *
  * Everything is fixed-point integer math on the [[ClusterOps]]
  * contract (quantize at 1e-6, shift positive, truncating integer
  * centroid means, argmin ties toward the lower code), so codebooks,
  * codes, LUT, and ADC distances are bit-identical across engines and
  * the row is FULLY ORACLED — the DuckDB side unrolls the per-subspace
  * Lloyd recurrence exactly like `kmeansAssignSql`. [[Ks]]/[[PqIters]]
  * are pinned small because the oracle unrolls one CTE pair per
  * (subspace, round); a production run passes (m, ks, iters) through
  * the parameters — real deployments use Ks = 256 — and the plan shape
  * is unchanged (the same argument as kmeans K=8 / semdedup).
  *
  * Scale shape, per stage: codebook training fuses all M subspaces
  * into ONE Lloyd loop — vectors explode once into (vec_id, m, sv)
  * rows, centroids key by (m, cl), so each round is a single corpus
  * pass joining a broadcast M·Ks centroid table (linear, map-side
  * combinable), never M separate passes; encoding is the same argmin
  * once;
  * ADC scoring is codes ⋈ broadcast LUT (equi-join on (m, code) —
  * never a cartesian) then a partial-aggregable per-(query, vec) sum;
  * the per-query top-k rides the rank window. No stage shuffles raw
  * vectors after the one-time encode.
  */
object PqOps {

  /** Subspace count (the PQ "m"). Dim must divide evenly. */
  val M = 8
  val SubDim = ClusterOps.Dim / M // 8
  /** Codewords per subspace — production uses 256; pinned small for
    * the unrolled oracle (one CTE pair per subspace × round). */
  val Ks = 16
  val PqIters = 3
  /** ADC shortlist size fed to the exact re-rank — a CONSTANT re-rank
    * budget per query (Q·Shortlist raw-vector distance evals total),
    * independent of corpus size: the shortlist fraction shrinks as N
    * grows while ADC keeps the scan codes-only. */
  val Shortlist = 100
  val Seed = 42L
  val K = SimilarityOps.K
  val QueryCount = SimilarityOps.QueryCount

  /** Target (vec_id, m) rows per task for the Lloyd-loop relation —
    * same convention as GraphOps.EdgesPerLoopTask: the per-round
    * join/argmin work is ~ns per row, so ~250k rows (~25 MB with the
    * subvector payload) keeps tasks in the low-ms range at any
    * scale. */
  private val RowsPerLoopTask = 250000L

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** Quantized-and-shifted vector — the shared [[ClusterOps]]
    * contract, one definition per engine side. */
  private def quantizeShift(v: Column): Column =
    ClusterOps.quantizeShift(v)

  /** Train + encode + ADC-shortlist + exact re-rank: top-[[K]] per
    * query vector (vec_id < [[QueryCount]], self excluded). Output:
    * (q_vec_id, c_vec_id, rank, d2) with d2 the EXACT quantized-L2
    * distance of the re-ranked winner — all BIGINT, deterministic,
    * hash-oracled. */
  def pqTopK(spark: SparkSession, dir: String, m: Int = M, ks: Int = Ks,
      iters: Int = PqIters, shortlist: Int = Shortlist): DataFrame = {
    require(ClusterOps.Dim % m == 0, s"dim ${ClusterOps.Dim} % $m != 0")
    require(iters >= 1, s"pqTopK needs >= 1 Lloyd round, got $iters")
    val subDim = ClusterOps.Dim / m
    val e = emb(spark, dir)
      .select(col("vec_id"), quantizeShift(col("embedding")).as("v"))
      .persist()
    val hk = TextQueries.seededHashCol(col("vec_id"), Seed)

    // ALL subspaces train in ONE Lloyd loop: vectors explode once into
    // (vec_id, m, sv) rows and centroids key by (m, cl), so every round
    // is ONE corpus pass (argmin joins broadcast m·ks centroids on m)
    // — not M separate passes; the recurrence per subspace is exactly
    // ClusterOps.kmeansAssign's, init = the same ks seed vectors
    // (sliced) for every subspace, so the oracle replays one shared
    // ordering
    val subSlices = (mm: Column) =>
      array((0 until m).map(sub =>
        slice(mm, sub * subDim + 1, subDim)): _*)
    // r15 (§2.2/§2.4): hash-partition the exploded corpus by the
    // argmin key ONCE, before the persist. Every Lloyd round (and the
    // final encode) runs groupBy(vec_id, m) over a broadcast join that
    // PRESERVES this partitioning, so all `iters + 1` argmin
    // aggregations become exchange-free complete aggregations — one
    // up-front shuffle of the (vec_id, m, sv) relation replaces
    // iters+1 per-round shuffles of the same rows. The partition
    // count is SIZE-ADAPTIVE (the pagerank treatment): a cached plan's
    // partitioning is frozen (AQE never re-coalesces it), so a fixed
    // `repartition(cols)` would pin defaultParallelism 1-row tasks
    // under every loop stage at fixture scale (measured: 3.31 →
    // 4.70 s). Deriving it from the vector count — the count also
    // materializes `e`'s persist, which the cents init and re-rank
    // reread anyway — schedules 1-task loop stages here while a
    // 10⁹-vector corpus still gets full parallelism.
    val esParts = Tables.width(spark, e.count() * m, RowsPerLoopTask)
    val es = e.select(col("vec_id"),
        posexplode(subSlices(col("v"))).as(Seq("sm", "sv")))
      .select(col("vec_id"), col("sm").cast("long").as("m"), col("sv"))
      .withColumn("n2", VectorOps.norm2Q(col("sv")))
      .repartition(esParts, col("vec_id"), col("m"))
      .persist()
    var cents = e.select(col("vec_id"), col("v"), hk.as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(ks)
      .select(col("v"),
        (row_number().over(Window.orderBy(col("hk"), col("vec_id"))) - 1)
          .as("cl"))
      .select(col("cl"), posexplode(subSlices(col("v"))).as(Seq("sm", "cv")))
      .select(col("sm").cast("long").as("m"), col("cl"), col("cv"))
      .withColumn("cn", VectorOps.norm2Q(col("cv")))
      .localCheckpoint()
    var assign: DataFrame = null
    for (i <- 1 to iters) {
      // r15 (§2.4): the update step used to RE-JOIN `assign` back to
      // `es` on (vec_id, m) just to recover the winner's subvector —
      // a hash join of two N·m-row relations (two exchanges + the join
      // itself) every round. Every candidate row of a (vec_id, m)
      // argmin group carries the SAME sv, so the winner's sv can ride
      // the argmin struct instead: (dist, cl) is unique within a group
      // (one row per centroid), so appending sv to the min-struct never
      // participates in the comparison and the selected code is
      // bit-identical. Per update round the (vec_id, m)-keyed work
      // drops from THREE exchanges (argmin groupBy + both sides of the
      // assign⋈es hash join) to ONE argmin groupBy — which now carries
      // sv, roughly the bytes the join's es side shuffled anyway. The
      // final round (codes only) keeps the narrow struct — no point
      // paying sv bytes through the last exchange.
      val cand = es.join(broadcast(cents), Seq("m"))
        .select(col("vec_id"), col("m"),
          (col("n2") + col("cn") -
            lit(2L) * VectorOps.dotQ(col("sv"), col("cv"))).as("dist"),
          col("cl"), col("sv"))
      if (i < iters) {
        val win = cand
          .groupBy(col("vec_id"), col("m"))
          .agg(min(struct(col("dist"), col("cl"), col("sv"))).as("mm"))
        // r15 (§2.4): element-wise centroid mean in ONE aggregation.
        // The old chain exploded every winner's sv into (d, qv) rows,
        // aggregated per (m, cl, d), then re-assembled the array via a
        // second (m, cl) agg with array_sort(collect_list) — two
        // exchanges and an N·m·subDim row explosion per round. Per-d
        // sums over the sv ARRAY compute the same truncating integer
        // mean (cnt is per-(m, cl), identical for every d since each
        // winner contributes all subDim positions; `s DIV cnt` on the
        // shift-positive quantized values is unchanged), and the array
        // literal preserves d-order just as the array_sort did. One
        // exchange per round, no explode, no collect_list.
        cents = win
          .groupBy(col("m"), col("mm.cl").as("cl"))
          .agg(count(lit(1)).as("cnt"),
            (0 until subDim).map(d =>
              sum(element_at(col("mm.sv"), d + 1)).as(s"s$d")): _*)
          .select(col("m"), col("cl"),
            array((0 until subDim).map(d =>
              expr(s"s$d DIV cnt")): _*).as("cv"))
          .withColumn("cn", VectorOps.norm2Q(col("cv")))
          .localCheckpoint() // ≤ m·ks rows: truncates iterative lineage
      } else {
        assign = cand
          .groupBy(col("vec_id"), col("m"))
          .agg(min(struct(col("dist"), col("cl"))).as("mm"))
          .select(col("vec_id"), col("m"), col("mm.cl").as("code"))
      }
    }
    val codes = assign.select(col("vec_id"), col("m"),
      col("code").cast("long").as("code"))
    val centsAll = cents.select(col("m"), col("cl").cast("long").as("cl"),
      col("cv"))

    // per-query LUT: dist²(q_sub, codeword) for every (query, m, code)
    // — Q·m·ks rows, broadcast; the only place raw query vectors meet
    // codewords
    val qs = e.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q_vec_id"), col("v"))
    val lut = qs.crossJoin(broadcast(centsAll))
      .select(col("q_vec_id"), col("m").as("lm"), col("cl").as("lcl"),
        aggregate(
          zip_with(
            slice(col("v"), (col("m") * subDim + 1).cast("int"),
              lit(subDim)),
            col("cv"), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x).as("pd"))
    val sl = codes
      .join(broadcast(lut),
        col("m") === col("lm") && col("code") === col("lcl"))
      .filter(col("vec_id") =!= col("q_vec_id"))
      .groupBy(col("q_vec_id"), col("vec_id"))
      .agg(sum(col("pd")).as("adc_dist"))
      .withColumn("arank", row_number().over(
        Window.partitionBy(col("q_vec_id"))
          .orderBy(col("adc_dist"), col("vec_id"))))
      .filter(col("arank") <= shortlist)
      .select(col("q_vec_id"), col("vec_id").as("c_vec_id"))
    // exact integer-L2 re-rank of the constant-size shortlist — the
    // ONLY stage that touches raw vectors after encoding, and it reads
    // exactly Q·Shortlist of them via equi-joins (never a corpus scan)
    val qv = e.filter(col("vec_id") < QueryCount)
      .select(col("vec_id").as("q_vec_id"), col("v").as("qv2"))
    val out = broadcast(sl)
      .join(e.select(col("vec_id").as("c_vec_id"), col("v").as("cv2")),
        Seq("c_vec_id"))
      .join(broadcast(qv), Seq("q_vec_id"))
      .select(col("q_vec_id"), col("c_vec_id"),
        aggregate(
          zip_with(col("qv2"), col("cv2"), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x).as("d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_vec_id"))
          .orderBy(col("d2"), col("c_vec_id"))).cast("long"))
      .filter(col("rank") <= K)
      .select(col("q_vec_id"), col("c_vec_id"), col("rank"), col("d2"))
      .localCheckpoint()
    es.unpersist()
    e.unpersist()
    out.orderBy(col("q_vec_id"), col("rank"))
  }

  /** The identical chain in DuckDB: per subspace, the unrolled Lloyd
    * recurrence (s{m}c0 → s{m}a{i}/s{m}c{i}), then codes ∪ cents →
    * LUT → ADC sum → per-query rank. */
  val pqTopKSql: String = {
    val hkSql = TextQueries.seededHashSqlExpr("vec_id", Seed)
    val qsh = ClusterOps.quantizeShiftSql
    val distSql = "CAST(list_sum(list_transform(list_zip(e.sv, c.cv), " +
      "z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
    val perSub = (0 until M).map { sub =>
      val lo = sub * SubDim + 1
      val hi = (sub + 1) * SubDim
      val rounds = (1 to PqIters).map { i =>
        val assign =
          s"""s${sub}a$i AS (
             |  SELECT vec_id, cl, dist FROM (
             |    SELECT vec_id, cl, dist, row_number() OVER (
             |      PARTITION BY vec_id ORDER BY dist, cl) AS rn
             |    FROM (SELECT e.vec_id, c.cl, $distSql AS dist
             |          FROM s$sub e CROSS JOIN s${sub}c${i - 1} c) d) t
             |  WHERE rn = 1)""".stripMargin
        val update =
          s""",s${sub}c$i AS (
             |  SELECT cl, list(qm ORDER BY d) AS cv FROM (
             |    SELECT a.cl, ee.d, CAST(SUM(ee.qv) AS BIGINT) // COUNT(*) AS qm
             |    FROM s${sub}a$i a JOIN s${sub}e ee ON a.vec_id = ee.vec_id
             |    GROUP BY a.cl, ee.d) mm
             |  GROUP BY cl)""".stripMargin
        if (i < PqIters) assign + update else assign
      }.mkString(",\n")
      s"""s$sub AS (SELECT vec_id, v[$lo:$hi] AS sv FROM q),
         |s${sub}e AS (
         |  SELECT vec_id, d, sv[CAST(d AS INT)] AS qv
         |  FROM s$sub CROSS JOIN range(1, ${SubDim + 1}) t(d)),
         |s${sub}c0 AS (
         |  SELECT row_number() OVER (ORDER BY $hkSql, vec_id) - 1 AS cl,
         |    sv AS cv
         |  FROM (SELECT vec_id, sv FROM s$sub ORDER BY $hkSql, vec_id
         |        LIMIT $Ks) s),
         |$rounds""".stripMargin
    }.mkString(",\n")
    val codesU = (0 until M).map(sub =>
      s"SELECT vec_id, CAST($sub AS BIGINT) AS m, CAST(cl AS BIGINT) AS code " +
        s"FROM s${sub}a$PqIters").mkString(" UNION ALL ")
    val centsU = (0 until M).map(sub =>
      s"SELECT CAST($sub AS BIGINT) AS m, CAST(cl AS BIGINT) AS cl, cv " +
        s"FROM s${sub}c${PqIters - 1}").mkString(" UNION ALL ")
    s"""WITH q AS (
       |  SELECT vec_id, $qsh AS v FROM embeddings),
       |$perSub,
       |codes AS ($codesU),
       |cents AS ($centsU),
       |qs AS (SELECT vec_id AS q_vec_id, v FROM q WHERE vec_id < $QueryCount),
       |lut AS (
       |  SELECT q_vec_id, c.m, c.cl,
       |    CAST(list_sum(list_transform(list_zip(
       |      array_slice(qs.v, CAST(c.m * $SubDim + 1 AS INT),
       |                  CAST((c.m + 1) * $SubDim AS INT)), c.cv),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS pd
       |  FROM qs CROSS JOIN cents c),
       |sc AS (
       |  SELECT l.q_vec_id, c.vec_id AS c_vec_id,
       |    CAST(SUM(l.pd) AS BIGINT) AS adc_dist
       |  FROM codes c JOIN lut l ON l.m = c.m AND l.cl = c.code
       |  WHERE c.vec_id <> l.q_vec_id
       |  GROUP BY 1, 2),
       |sl AS (
       |  SELECT q_vec_id, c_vec_id FROM (
       |    SELECT q_vec_id, c_vec_id,
       |      row_number() OVER (PARTITION BY q_vec_id
       |        ORDER BY adc_dist, c_vec_id) AS arank
       |    FROM sc) t
       |  WHERE arank <= $Shortlist),
       |rr AS (
       |  SELECT s.q_vec_id, s.c_vec_id,
       |    CAST(list_sum(list_transform(list_zip(a.v, b.v),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d2
       |  FROM sl s
       |  JOIN q a ON a.vec_id = s.q_vec_id
       |  JOIN q b ON b.vec_id = s.c_vec_id),
       |f AS (
       |  SELECT q_vec_id, c_vec_id, d2,
       |    CAST(row_number() OVER (PARTITION BY q_vec_id
       |      ORDER BY d2, c_vec_id) AS BIGINT) AS rank
       |  FROM rr)
       |SELECT q_vec_id, c_vec_id, rank, d2 FROM f
       |WHERE rank <= $K
       |ORDER BY q_vec_id, rank""".stripMargin
  }
}
