package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Text-analysis operators for a training-data pipeline (BASELINE.json
  * extension surface): language ID, quality scoring, token counting,
  * document fingerprinting. All pure column expressions (codegen'd),
  * all with DuckDB oracles — integer counts and deterministic double
  * ratios only.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Stopword-marker sets per language for the n-gram/marker heuristic
    * language ID. (On this synthetic corpus most docs hit the English
    * set; the operator itself is corpus-agnostic.) */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "un"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une", "dans"),
    "de" -> Seq("der", "die", "das", "und", "ein", "nicht", "ist"))

  /** Marker-hit count, widened to long (DuckDB len() is BIGINT — keep
    * parquet schemas identical on both sides of the oracle). */
  private def hits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers: _*))).cast("long")

  /** The (n, d, s, c) quality counters shared by [[qualityScore]],
    * [[corpusClean]] and [[lengthCurriculum]]: token count, distinct
    * token count, stopword hits, summed token length. ONE definition
    * (plus the SQL twin below) so the three call sites cannot drift —
    * the cross-engine-twin rule from [[TextQueries.seededHashCol]]. */
  private def qualityPartCols(toks: Column): Seq[Column] = Seq(
    size(toks).cast("long").as("n"),
    size(array_distinct(toks)).cast("long").as("d"),
    hits(toks, TextQueries.StopWords).as("s"),
    aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (acc, x) => acc + x).as("c"))

  /** DuckDB twin of [[qualityPartCols]] — the four counter exprs over a
    * `ts` token-list column, for embedding in an inner SELECT. */
  private val QualityPartsSql: String = {
    val stopIn = TextQueries.StopWords.map(w => s"'$w'")
      .mkString("(", ", ", ")")
    s"""CAST(len(ts) AS BIGINT) AS n,
       |      CAST(len(list_distinct(ts)) AS BIGINT) AS d,
       |      CAST(len(list_filter(ts, t -> t IN $stopIn)) AS BIGINT) AS s,
       |      CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS c""".stripMargin
  }

  /** The quality formula over (n, d, s, c), integer ppm — the single
    * source of truth for the weights; Spark spelling (DIV). */
  private val QualityPpmExpr: String =
    "(50 * d + 30 * (n - s) + least(2 * c, 20 * n)) * 1000000 DIV (100 * n)"

  /** DuckDB twin of [[QualityPpmExpr]] (`//` truncates on BIGINT). */
  private val QualityPpmSqlExpr: String =
    "(50 * d + 30 * (n - s) + least(2 * c, 20 * n)) * 1000000 // (100 * n)"

  /** (doc_id, quality_ppm) over any (doc_id, text, …) frame — the
    * quality formula shared VERBATIM by the batch [[qualityScore]]
    * row (same [[qualityPartCols]] + [[QualityPpmExpr]]) and the
    * ingest door ([[IngestDoor.doorFrame]] /
    * [[graft.streaming.IngestStreaming.ingestDoorStream]]), so the
    * door's quality gate cannot drift from the standalone row. */
  private[graft] def qualityPpmOf(d: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    d.select(col("doc_id") +: qualityPartCols(toks): _*)
      .select(col("doc_id"), expr(QualityPpmExpr).as("quality_ppm"))
  }

  /** Language ID: count marker-word hits per language, pick the argmax
    * with a fixed priority tie-break (en > es > fr > de), 'und' when
    * nothing hits. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val hitCols = Seq(col("doc_id"), col("lang").as("labeled_lang")) ++
      LangMarkers.map { case (l, ms) => hits(toks, ms).as(s"${l}_hits") }
    val withHits = docs(spark, dir).select(hitCols: _*)
    val best = LangMarkers.map(_._1).map(l => col(s"${l}_hits"))
      .reduce((a, b) => greatest(a, b))
    val predicted = when(best === 0, lit("und"))
      .otherwise(LangMarkers.map(_._1).foldRight(lit("und"): Column) {
        case (l, rest) => when(col(s"${l}_hits") === best, lit(l))
          .otherwise(rest)
      })
    withHits.withColumn("predicted_lang", predicted)
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val hitExprs = LangMarkers.map { case (l, ms) =>
      val in = ms.map(m => s"'$m'").mkString("(", ", ", ")")
      s"len(list_filter(string_split(text, ' '), t -> t IN $in)) AS ${l}_hits"
    }.mkString(",\n  ")
    val best = "greatest(en_hits, es_hits, fr_hits, de_hits)"
    val cases = LangMarkers.map(_._1)
      .map(l => s"WHEN ${l}_hits = $best THEN '$l'").mkString(" ")
    s"""SELECT doc_id, labeled_lang, en_hits, es_hits, fr_hits, de_hits,
       |  CASE WHEN $best = 0 THEN 'und' $cases ELSE 'und' END AS predicted_lang
       |FROM (
       |  SELECT doc_id, lang AS labeled_lang,
       |  $hitExprs
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  /** Quality score: length/stopword/type-token ratios combined into a
    * deterministic score.
    *
    * All ratio outputs are INTEGER parts-per-million (`1e6 * a DIV b`)
    * rather than rounded doubles: `round(double, 6)` proved
    * engine-divergent at a half boundary (Spark rounds the exact
    * binary expansion via BigDecimal HALF_UP; DuckDB rounds in
    * floating arithmetic — one sf0.1 row differed by 1e-6). Integer
    * division of identical longs cannot drift.
    *
    * quality = 0.5·ttr + 0.3·(1−stop_ratio) + 0.2·min(avg_len/10, 1)
    * expressed over the common denominator 100·n:
    * (50·d + 30·(n−s) + min(2·c, 20·n)) · 1e6 DIV (100·n). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    docs(spark, dir)
      .select(col("doc_id") +: qualityPartCols(toks): _*)
      .select(
        col("doc_id"),
        col("n").as("n_tokens"),
        col("d").as("n_distinct"),
        col("s").as("stop_hits"),
        expr("1000000 * d DIV n").as("ttr_ppm"),
        expr("1000000 * s DIV n").as("stop_ppm"),
        expr("1000 * c DIV n").as("avg_len_milli"),
        expr(QualityPpmExpr).as("quality_ppm"))
      .orderBy(col("doc_id"))
  }

  val qualityScoreSql: String =
    s"""SELECT doc_id,
       |  n AS n_tokens, d AS n_distinct, s AS stop_hits,
       |  1000000 * d // n AS ttr_ppm,
       |  1000000 * s // n AS stop_ppm,
       |  1000 * c // n AS avg_len_milli,
       |  $QualityPpmSqlExpr AS quality_ppm
       |FROM (
       |  SELECT doc_id,
       |      $QualityPartsSql
       |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents) x) t
       |ORDER BY doc_id""".stripMargin

  /** The end-to-end corpus-cleaning job — the composition a real
    * training-data pipeline runs as ONE query: quality-score filter
    * (same ppm math as [[qualityScore]]) → language keep-set →
    * exact dedup (min-doc_id survivor per text). Fully oracled; one
    * scan, one window shuffle on the dedup key — the whole clean is
    * two exchanges at any scale. */
  def corpusClean(spark: SparkSession, dir: String,
      minQualityPpm: Long = 600000L,
      keepLangs: Seq[String] = Seq("en", "de", "fr", "es")): DataFrame = {
    val toks = split(col("text"), " ")
    val scored = docs(spark, dir)
      .select(Seq(col("doc_id"), col("lang"), col("text")) ++
        qualityPartCols(toks): _*)
      .withColumn("quality_ppm", expr(QualityPpmExpr))
      .filter(col("quality_ppm") >= minQualityPpm &&
        col("lang").isInCollection(keepLangs))
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n").as("n_tokens"),
        col("quality_ppm"))
      .orderBy(col("doc_id"))
  }

  val corpusCleanSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, text, n, quality_ppm FROM (
       |    SELECT doc_id, lang, text, n, d, s, c,
       |      $QualityPpmSqlExpr AS quality_ppm
       |    FROM (
       |      SELECT doc_id, lang, text,
       |      $QualityPartsSql
       |      FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS ts
       |            FROM documents) x) y) z
       |  WHERE quality_ppm >= 600000
       |    AND lang IN ('en', 'de', 'fr', 'es')),
       |deduped AS (
       |  SELECT doc_id, lang, n AS n_tokens, quality_ppm,
       |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
       |  FROM scored)
       |SELECT doc_id, lang, n_tokens, quality_ppm
       |FROM deduped WHERE rn = 1
       |ORDER BY doc_id""".stripMargin

  /** The END-TO-END pretraining assembly — the composition the whole
    * operator catalog exists for, as ONE registered query:
    * corpus_clean (quality+language gate, exact-dedup survivor) →
    * near-dup survivors ([[DedupOps.clusterLabels]] — the memoized
    * Jaccard cluster chain, consumed not recomputed) → per-source
    * top-P quality selection computed over the SURVIVING corpus →
    * decontamination against the doc_id%97 benchmark slice (bench
    * docs leave the corpus too — they're the eval set) → per-source
    * concat-and-chunk sequence packing of what remains. Every stage
    * reuses the exact contract its standalone row oracles; the
    * composed DuckDB replay chains those same CTEs.
    *
    * Scale shape: TWO corpus scans total — one for the quality gate,
    * one for the shingle expansion (localCheckpoint'd so bench and
    * corpus sides share it) — which equals the heaviest constituent
    * stage (decontaminate alone scans twice); PlanSpec pins that scan
    * count. The near-dup labels arrive as a checkpointed relation
    * (zero additional scans), the top-P thresholds are
    * histogram-sized, the pack window shuffles once on source. */
  def pretrainPipeline(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    // A: quality + language gate, exact-dedup min-id survivor
    val scored = docs(spark, dir)
      .select(Seq(col("doc_id"), col("lang"), col("source"),
        col("text")) ++ qualityPartCols(toks): _*)
      .withColumn("quality_ppm", expr(QualityPpmExpr))
      .filter(col("quality_ppm") >= 600000L &&
        col("lang").isInCollection(Seq("en", "de", "fr", "es")))
    val wDedup = Window.partitionBy(col("text")).orderBy(col("doc_id").asc)
    val s1 = scored.withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("n").as("n_tok"),
        col("quality_ppm"))
    // B: drop near-dup cluster losers (labels computed once per
    // session+dir — the dedup_clusters/dedup_soft/near_dup_clean memo)
    val losers = DedupOps.clusterLabels(spark, dir)
      .filter(col("doc_id") =!= col("keep_id")).select(col("doc_id"))
    // s2 feeds the histogram, the per-source totals AND the final
    // filter — localCheckpoint'd so the quality-gate scan runs ONCE
    // (un-materialized, each consumer re-ran the whole stage-A
    // subtree: a measured 6-parquet-scan plan). Narrow survivor
    // metadata (4 columns), the standard between-stage materialization.
    // r15 (§2.6): s2 and the stage-D shingle expansion below are
    // INDEPENDENT subtrees (each its own corpus scan; `sh` does not
    // read s2) that were eagerly checkpointed one after the other —
    // materialize them concurrently so the pipeline's two heavy scans
    // overlap instead of running back-to-back. Leg plans unchanged ⇒
    // rows bit-identical.
    val Seq(s2, sh) = ConcurrentLegs.materialize(Seq(
      s1.join(losers, Seq("doc_id"), "left_anti"),
      docs(spark, dir)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .select(col("doc_id"),
          explode(array_distinct(DedupOps.shingleHashes64(col("ts"))))
            .as("g"))))
    // C: per-source top-P thresholds over the surviving corpus (the
    // qualityTopP histogram idiom — no doc-level window)
    val hist = s2.groupBy(col("source"), col("quality_ppm"))
      .agg(count(lit(1)).as("c"))
    val cum = hist.select(col("source"), col("quality_ppm"),
      sum(col("c")).over(Window.partitionBy(col("source"))
        .orderBy(col("quality_ppm").desc)).as("cum"))
    val nPer = s2.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val thr = cum.join(nPer, Seq("source"))
      .filter(col("cum") * 100 >= col("n") * QualityTopPct)
      .groupBy(col("source")).agg(max(col("quality_ppm")).as("thr"))
    val s3 = s2.join(broadcast(thr), Seq("source"))
      .filter(col("quality_ppm") >= col("thr"))
    // D: decontaminate — one shingle expansion feeds both sides
    // (`sh`, materialized above concurrently with s2)
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(col("g")).distinct()
    val contaminated = sh.join(s3.select(col("doc_id")), Seq("doc_id"))
      .filter(col("doc_id") % 97 =!= 0)
      .join(bench, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= 3).select(col("doc_id"))
    val s4 = s3.filter(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // E: concat-and-chunk pack per source over the final survivors
    val wPack = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    s4.withColumn("start_tok",
        coalesce(sum(col("n_tok")).over(wPack), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tok"), col("start_tok"),
        expr(s"start_tok DIV ${PipelineOps.PackLen}").as("seq_first"),
        expr(s"(start_tok + n_tok - 1) DIV ${PipelineOps.PackLen}")
          .as("seq_last"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** Composed replay: the same five stage contracts chained as CTEs —
    * quality gate + exact dedup (corpus_clean), recursive-closure
    * near-dup labels (near_dup_clean), surviving-corpus top-P
    * histogram (quality_topp), string-shingle decontamination
    * (decontaminate; hash-vs-string equivalence under 64-bit
    * collision-freedom as there), per-source pack window (seq_pack).
    * `lazy` is load-bearing: [[QualityTopPct]] is declared later in
    * this object, and a strict val here would interpolate its
    * pre-initialization 0 (caught by a 64-vs-20-row oracle mismatch). */
  lazy val pretrainPipelineSql: String =
    s"""WITH RECURSIVE qscored AS (
       |  SELECT doc_id, lang, source, text, n, quality_ppm FROM (
       |    SELECT doc_id, lang, source, text, n, d, s, c,
       |      $QualityPpmSqlExpr AS quality_ppm
       |    FROM (
       |      SELECT doc_id, lang, source, text,
       |      $QualityPartsSql
       |      FROM (SELECT doc_id, lang, source, text,
       |              string_split(text, ' ') AS ts
       |            FROM documents) x) y) z
       |  WHERE quality_ppm >= 600000
       |    AND lang IN ('en', 'de', 'fr', 'es')),
       |s1 AS (
       |  SELECT doc_id, source, n AS n_tok, quality_ppm FROM (
       |    SELECT doc_id, source, n, quality_ppm,
       |      ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id ASC) AS rn
       |    FROM qscored) w WHERE rn = 1),
       |${DedupOps.jaccardReachCtes("j")},
       |jdrop AS (
       |  SELECT a AS doc_id FROM jreach GROUP BY a HAVING MIN(b) <> a),
       |s2 AS (
       |  SELECT * FROM s1
       |  WHERE doc_id NOT IN (SELECT doc_id FROM jdrop)),
       |ccum AS (
       |  SELECT source, quality_ppm,
       |    SUM(c) OVER (PARTITION BY source ORDER BY quality_ppm DESC) AS cum
       |  FROM (SELECT source, quality_ppm, COUNT(*) AS c FROM s2
       |        GROUP BY source, quality_ppm) h),
       |cn AS (SELECT source, COUNT(*) AS n FROM s2 GROUP BY source),
       |cthr AS (
       |  SELECT source, MAX(quality_ppm) AS thr
       |  FROM ccum JOIN cn USING (source)
       |  WHERE cum * 100 >= n * $QualityTopPct
       |  GROUP BY source),
       |s3 AS (
       |  SELECT s2.* FROM s2 JOIN cthr t ON s2.source = t.source
       |  WHERE s2.quality_ppm >= t.thr),
       |sdoc AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts, text FROM documents),
       |shl AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ts) < 3 THEN [text]
       |         ELSE list_transform(range(1, len(ts) - 1),
       |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS sh
       |  FROM sdoc),
       |bench AS (
       |  SELECT DISTINCT unnest(sh) AS g FROM shl WHERE doc_id % 97 = 0),
       |corp AS (
       |  SELECT doc_id, unnest(list_distinct(sh)) AS g FROM shl
       |  WHERE doc_id % 97 <> 0),
       |contam AS (
       |  SELECT c.doc_id FROM corp c JOIN bench b USING (g)
       |  GROUP BY c.doc_id HAVING COUNT(*) >= 3),
       |s4 AS (
       |  SELECT * FROM s3 WHERE doc_id % 97 <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
       |o AS (
       |  SELECT source, doc_id, n_tok,
       |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS start_tok
       |  FROM s4)
       |SELECT source, doc_id, n_tok, start_tok,
       |  start_tok // ${PipelineOps.PackLen} AS seq_first,
       |  (start_tok + n_tok - 1) // ${PipelineOps.PackLen} AS seq_last
       |FROM o
       |ORDER BY source, doc_id""".stripMargin

  /** Boilerplate ratio — the C4-style cleaning signal: a word trigram
    * appearing in ≥ `minDocs` distinct documents is boilerplate
    * (template/navigation text); each document is scored by the ppm of
    * its trigram occurrences that are boilerplate. High-ratio docs are
    * template shells.
    *
    * Scale: trigram doc-frequency is one distinct-agg over exploded
    * trigrams; the boilerplate set joins back UNHINTED (vocab³-bounded
    * — AQE broadcasts only if measured small); the per-doc ratio is an
    * integer-ppm DIV. The trigram KEY is the chained-xxhash64 of the
    * token triple ([[DedupOps.shingleHashes64]], the decontaminate /
    * dedup_minhash idiom): the occurrence stream shuffles twice (DF
    * agg + join-back), so an 8-byte long key instead of a rebuilt
    * trigram STRING cuts both shuffles' volume ~3× and drops the
    * arrays_zip/slice/concat allocation chain; collision-free at
    * corpus trigram cardinalities (P ≈ n²/2⁶⁵), so counts equal the
    * string-keyed DuckDB oracle's exactly. */
  def boilerplateRatio(spark: SparkSession, dir: String,
      minDocs: Long = 20L): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    val occ = toks.filter(size(col("ts")) >= 3)
      .select(col("doc_id"),
        explode(DedupOps.shingleHashes64(col("ts"))).as("tri"))
    val boiler = occ.select(col("doc_id"), col("tri")).distinct()
      .groupBy(col("tri")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("tri"))
    occ.join(boiler.withColumn("is_boiler", lit(1L)), Seq("tri"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
      .select(col("doc_id"), col("n_trigrams"), col("n_boiler"),
        expr("1000000 * n_boiler DIV n_trigrams").as("boiler_ppm"))
      .orderBy(col("doc_id"))
  }

  val boilerplateRatioSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |occ AS (
      |  SELECT doc_id,
      |    g[1] || ' ' || g[2] || ' ' || g[3] AS tri
      |  FROM (
      |    SELECT doc_id, unnest(list_zip(ts[1:length(ts)-2],
      |      ts[2:length(ts)-1], ts[3:length(ts)])) AS g
      |    FROM toks WHERE length(ts) >= 3) t),
      |boiler AS (
      |  SELECT tri FROM (
      |    SELECT tri, COUNT(DISTINCT doc_id) AS df FROM occ GROUP BY tri) b
      |  WHERE df >= 20)
      |SELECT doc_id,
      |  COUNT(*) AS n_trigrams,
      |  CAST(COUNT(boiler.tri) AS BIGINT) AS n_boiler,
      |  1000000 * COUNT(boiler.tri) // COUNT(*) AS boiler_ppm
      |FROM occ LEFT JOIN boiler USING (tri)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Per-document negative log-likelihood under the corpus's own
    * bigram language model — the LM-quality filter (CCNet-style) a
    * training pipeline uses to rank documents by fluency: documents
    * whose bigrams are corpus-typical score low, repetitive or
    * vocabulary-noise docs score high.
    *
    * Model: P(w2|w1) = c(w1,w2) / c(w1·) over the corpus, no smoothing
    * needed (every doc bigram was counted into the model). Scores are
    * exact integer sums of once-quantized per-bigram micro-nats (the
    * quantized-ln rule), then an integer-DIV average.
    *
    * Scale: the bigram table is vocab²-bounded — joined UNHINTED (AQE
    * decides); the per-doc sum is a partial-agg hash aggregate, so the
    * whole query is two aggregations and one shuffle join. */
  def docPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = d.select(col("doc_id"), split(col("text"), " ").as("ts"))
    val occ = toks.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1).as("w1"),
        slice(col("ts"), lit(2), size(col("ts")) - 1).as("w2"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val uni = occ.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val lp = big.join(uni, Seq("w1"))
      .select(col("w1"), col("w2"),
        round(log(col("c12").cast("double") / col("c1").cast("double"))
          * -1000000d).cast("long").as("nll_micro"))
    occ.join(lp, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("nll_micro")).as("total_nll_micro"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("total_nll_micro DIV n_bigrams").as("avg_nll_micro"))
      .orderBy(col("doc_id"))
  }

  val docPerplexitySql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |occ AS (
      |  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
      |    SELECT doc_id,
      |      unnest(list_zip(ts[1:length(ts)-1], ts[2:length(ts)])) AS p
      |    FROM toks WHERE length(ts) >= 2) t),
      |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY 1, 2),
      |uni AS (SELECT w1, COUNT(*) AS c1 FROM occ GROUP BY 1),
      |lp AS (
      |  SELECT big.w1, big.w2,
      |    CAST(round(ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) * -1000000)
      |      AS BIGINT) AS nll_micro
      |  FROM big JOIN uni ON big.w1 = uni.w1)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(nll_micro) AS BIGINT) // COUNT(*) AS avg_nll_micro
      |FROM occ JOIN lp ON occ.w1 = lp.w1 AND occ.w2 = lp.w2
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Interpolated Kneser-Ney bigram LM estimation (Kneser & Ney 1995;
    * Chen & Goodman 1999 eq. 18) — the LM-TRAINING artifact next to
    * [[docPerplexity]]'s scoring pass: for every bigram seen ≥ 2
    * times,
    * `P_KN(w2|w1) = (c12 − D)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/N1+(··)`
    * with D = 0.75 — the discounted ML estimate interpolated with the
    * CONTINUATION probability (how many distinct contexts w2 follows,
    * not how often), the correction that makes KN the standard n-gram
    * smoother. Emitted as `round(P·10⁶)` micro-ints (the ln-free
    * cousin of the docPerplexity contract — both engines evaluate one
    * identical double expression over identical integer counts).
    *
    * Scale shape: one exploded bigram stream feeding three partial-agg
    * shuffles (bigram counts; context totals + distinct-successor
    * counts, one groupBy; distinct-predecessor counts), two equi-joins
    * back on w1/w2, and the global bigram-type count as a single-row
    * broadcast. Linear in corpus tokens; the c12 ≥ 2 floor is the
    * standard count-pruning that keeps the emitted model
    * bounded-by-content, and discounting already charges that mass. */
  def knBigram(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = d.select(col("doc_id"), split(col("text"), " ").as("ts"))
    val occ = toks.filter(size(col("ts")) >= 2)
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1).as("w1"),
        slice(col("ts"), lit(2), size(col("ts")) - 1).as("w2"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    // context totals and distinct-successor counts in ONE pass over
    // the bigram-type relation (c1 = Σ c12 over w2; nf = row count)
    val ctx = big.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nf"))
    val pre = big.groupBy(col("w2")).agg(count(lit(1)).as("nb"))
    val na = big.agg(count(lit(1)).as("na"))
    big.filter(col("c12") >= 2)
      .join(ctx, Seq("w1")).join(pre, Seq("w2"))
      .crossJoin(broadcast(na))
      .select(col("w1"), col("w2"), col("c12"),
        round(((col("c12").cast("double") - lit(0.75d)) /
            col("c1").cast("double") +
          lit(0.75d) * col("nf").cast("double") / col("c1").cast("double") *
            (col("nb").cast("double") / col("na").cast("double")))
          * lit(1000000d)).cast("long").as("pkn_micro"))
      .orderBy(col("w1"), col("w2"))
  }

  val knBigramSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |occ AS (
      |  SELECT p[1] AS w1, p[2] AS w2 FROM (
      |    SELECT unnest(list_zip(ts[1:length(ts)-1], ts[2:length(ts)])) AS p
      |    FROM toks WHERE length(ts) >= 2) t),
      |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY 1, 2),
      |ctx AS (
      |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS nf
      |  FROM big GROUP BY w1),
      |pre AS (SELECT w2, COUNT(*) AS nb FROM big GROUP BY w2),
      |na AS (SELECT COUNT(*) AS na FROM big)
      |SELECT w1, w2, c12,
      |  CAST(round(((CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE) +
      |    0.75 * CAST(nf AS DOUBLE) / CAST(c1 AS DOUBLE) *
      |    (CAST(nb AS DOUBLE) / CAST(na AS DOUBLE))) * 1000000)
      |    AS BIGINT) AS pkn_micro
      |FROM big JOIN ctx USING (w1) JOIN pre USING (w2) CROSS JOIN na
      |WHERE c12 >= 2
      |ORDER BY w1, w2""".stripMargin

  /** Token counting: whitespace tokens vs a BPE-ish regex tokenizer
    * (letter runs | digit runs | single non-alnum), plus a chars/token
    * compression proxy. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val pattern = "[a-z']+|[0-9]+|[^a-z0-9 ]"
    docs(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(pattern), lit(0)))
          .cast("long").as("re_tokens"),
        length(col("text")).cast("long").as("len"))
      // integer milli-ratio, not round(double): see qualityScore
      .select(col("doc_id"), col("ws_tokens"), col("re_tokens"),
        expr("1000 * len DIV re_tokens").as("chars_per_token_milli"))
      .orderBy(col("doc_id"))
  }

  val tokenCountSql: String =
    """SELECT doc_id, ws_tokens, re_tokens,
      |  1000 * len // re_tokens AS chars_per_token_milli
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |    CAST(len(regexp_extract_all(text, '[a-z'']+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
      |    CAST(length(text) AS BIGINT) AS len
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** Text scrubbing (PII-shaped normalization pass): redact digit runs
    * and '@'-containing tokens, then collapse ADJACENT repeated
    * tokens — the cleanup stage of a training-data pipeline as pure
    * codegen'd regex + array ops (regex patterns are RE2-compatible;
    * the collapse is an indexed array filter on BOTH engines, because
    * the regex form `(\w+) \1` needs backreferences RE2 refuses).
    * Collapsing AFTER redaction is deliberate: "call 555 or 556"
    * becomes "call <num> or <num>" (no collapse — not adjacent) while
    * "555 556" unifies to one "<num>", exactly the dedup a redaction
    * pass is for. token_delta counts the collapsed tokens (the two
    * regex substitutions are token-count-preserving by construction
    * — neither pattern nor replacement can add or remove a space, a
    * review catch: the previous delta was identically zero). */
  def textScrub(spark: SparkSession, dir: String): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(col("text"), "[0-9]+", "<num>"),
      "[^ ]*@[^ ]*", "<email>")
    docs(spark, dir)
      .select(col("doc_id"), col("text"), split(scrubbed, " ").as("ts"))
      // keep token i (0-based) iff first or different from predecessor
      // (element_at is 1-based, so element_at(ts, i) IS the predecessor)
      .select(col("doc_id"),
        array_join(filter(col("ts"),
          (t, i) => i === 0 || t =!= element_at(col("ts"), i)), " ")
          .as("scrubbed"),
        col("text"), col("ts"))
      .select(col("doc_id"), col("scrubbed"),
        (size(col("ts")) - size(split(col("scrubbed"), " ")))
          .cast("long").as("token_delta"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_num_runs"))
      .orderBy(col("doc_id"))
  }

  val textScrubSql: String =
    """WITH s AS (
      |  SELECT doc_id, text,
      |    string_split(regexp_replace(regexp_replace(text,
      |      '[0-9]+', '<num>', 'g'), '[^ ]*@[^ ]*', '<email>', 'g'),
      |      ' ') AS ts
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, text, ts,
      |    array_to_string(list_filter(ts,
      |      (t, i) -> i = 1 OR t <> ts[i-1]), ' ') AS scrubbed
      |  FROM s)
      |SELECT doc_id, scrubbed,
      |  CAST(len(ts) - len(string_split(scrubbed, ' ')) AS BIGINT)
      |    AS token_delta,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_runs
      |FROM c
      |ORDER BY doc_id""".stripMargin

  /** Word co-occurrence with PMI: pairs of words appearing in the same
    * document, scored by pointwise mutual information
    * ln(p(a,b) / (p(a)·p(b))).
    *
    * Scale design: a pair can only reach `co_docs >= minPairDocs` if
    * BOTH words individually have `df >= minPairDocs`, so docTokens is
    * semi-joined against the frequent vocab BEFORE pairing — the
    * long-tail tokens that generate almost all of the O(len²)-per-doc
    * pair space never enter the self-join. The df relations are
    * vocab-sized (unbounded at 100 TB) → no broadcast hints; the
    * frequent-vocab semi-join and the df equi-joins are ordinary
    * shuffle joins AQE may downgrade to broadcasts when small. */
  def wordPmi(spark: SparkSession, dir: String,
      minPairDocs: Long = 50): DataFrame = {
    val d = docs(spark, dir)
    val n = d.select(count(lit(1)).as("n"))
    val docTokens = d.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("w"))
    val df = docTokens.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // frequency pushdown: only words that could form a surviving pair
    val hotTokens = docTokens.join(
      df.filter(col("df") >= minPairDocs).select(col("w")),
      Seq("w"), "left_semi")
    val pairs = hotTokens.as("x")
      .join(hotTokens.as("y"), col("x.doc_id") === col("y.doc_id") &&
        col("x.w") < col("y.w"))
      .groupBy(col("x.w").as("w1"), col("y.w").as("w2"))
      .agg(count(lit(1)).as("co_docs"))
      .filter(col("co_docs") >= minPairDocs)
    pairs
      .join(df.select(col("w").as("w1"), col("df").as("df1")), Seq("w1"))
      .join(df.select(col("w").as("w2"), col("df").as("df2")), Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("co_docs"), col("df1"), col("df2"),
        // each factor widens to double BEFORE the multiply — the LONG
        // products co_docs·n and df1·df2 overflow at 100 TB doc counts
        round(log(col("co_docs").cast("double") * col("n").cast("double") /
          (col("df1").cast("double") * col("df2").cast("double"))) * 1000000d)
          .cast("long").as("pmi_micro"))
      .orderBy(col("w1"), col("w2"))
  }

  val wordPmiSql: String =
    """WITH d AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      |  FROM documents),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |df AS (SELECT w, COUNT(*) AS df FROM d GROUP BY w),
      |pairs AS (
      |  SELECT x.w AS w1, y.w AS w2, COUNT(*) AS co_docs
      |  FROM d x JOIN d y ON x.doc_id = y.doc_id AND x.w < y.w
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 50)
      |SELECT w1, w2, co_docs, f1.df AS df1, f2.df AS df2,
      |  CAST(round(ln(CAST(co_docs AS DOUBLE) * CAST(n.n AS DOUBLE) /
      |    (CAST(f1.df AS DOUBLE) * CAST(f2.df AS DOUBLE))) * 1000000) AS BIGINT) AS pmi_micro
      |FROM pairs
      |JOIN df f1 ON f1.w = pairs.w1
      |JOIN df f2 ON f2.w = pairs.w2
      |CROSS JOIN n
      |ORDER BY w1, w2""".stripMargin

  /** Document fingerprint: rolling polynomial hash over the token
    * stream (mod 1000003 to stay in exact integer range in both
    * engines) — order-sensitive, unlike the token-set fingerprint. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val tokVals = transform(split(col("text"), " "),
      t => (length(t) * 131 + ascii(t)).cast("long") % 1000003L)
    val fp = aggregate(tokVals, lit(7L),
      (h, t) => (h * 8191L + t) % 1000003L)
    docs(spark, dir).select(col("doc_id"), fp.as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  val docFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(7 AS BIGINT),
      |      list_transform(string_split(text, ' '),
      |        t -> CAST(length(t) * 131 + ascii(t) AS BIGINT) % 1000003)),
      |    (h, t) -> (h * 8191 + t) % 1000003) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** DOMAIN-MIXING weights — the data-mixing step after cleaning:
    * per-source document/token totals, each source's share of corpus
    * tokens (integer ppm via integral DIV), and the α-weighted
    * sampling weight in LOG space, `0.7·ln(n_tokens)` in integer
    * micro-nats (α = 0.7 tempers big sources, the standard
    * LLaMA-style mixture reweighting; samplers exponentiate and
    * normalize). Log space because ln-quantized-once-per-small-domain
    * is the established cross-engine-exact pattern (ORACLE-DETERMINISM
    * rule; word_pmi/doc_perplexity use it), whereas pow(n, 0.7) would
    * stack two libm roundings.
    *
    * Scale shape: one partial+final agg over the corpus, a
    * fixed-cardinality per-source relation, and a single-row total
    * broadcast — linear, canonical. */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val per = docs(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).as("tot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("CAST(1000000 AS DECIMAL(38,0)) * n_tokens DIV tot")
          .cast("long").as("token_share_ppm"),
        expr("CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 0.7 * 1000000)" +
          " AS BIGINT)").as("log_weight_micro"))
      .orderBy(col("source"))
  }

  val domainMixSql: String =
    """WITH s AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM s)
      |SELECT source, n_docs, n_tokens,
      |  CAST(CAST(1000000 AS HUGEINT) * n_tokens // tot AS BIGINT)
      |    AS token_share_ppm,
      |  CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 0.7 * 1000000) AS BIGINT)
      |    AS log_weight_micro
      |FROM s CROSS JOIN t
      |ORDER BY source""".stripMargin

  /** MIXTURE SAMPLING — domainMix's weights APPLIED: the seeded
    * per-source downsampling that materializes an α-tempered training
    * mixture (p_s ∝ n_s^α, α = 0.7). Achieving a tempered share by
    * SUBSAMPLING only (no upsampling) means keep-rate ∝ n_s^(α−1),
    * normalized so the largest rate is 1: r_s = (n_min/n_s)^(1−α) —
    * the smallest source passes through whole, larger sources are
    * thinned toward the tempered share (the LLaMA/UniMax resampling
    * rule).
    * Keep decision: the seeded affine permutation of doc_id over
    * Z_P ([[TextQueries.seededSample]]'s cross-engine-exact hash)
    * taken mod 10⁶ against the source's integer rate_ppm — both
    * engines compute the identical keep set, so the sampled corpus is
    * fully oracled. The per-source rate quantizes exp∘ln ONCE per
    * source (the transcendental-once-per-small-domain determinism
    * rule domainMix already relies on).
    *
    * Scale shape: one partial+final agg for per-source token totals
    * (fixed-cardinality), a single-row max broadcast, one broadcast
    * join of the rate table against the corpus scan, and a codegen'd
    * filter — linear, one shuffle, no skew (the filter is
    * hash-uniform within every source). */
  def mixSample(spark: SparkSession, dir: String,
      seed: Long = 7L): DataFrame = {
    val per = docs(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("n_tokens"))
    val mn = per.agg(min(col("n_tokens")).as("mn"))
    val rates = per.crossJoin(broadcast(mn))
      .select(col("source"),
        least(lit(1000000L),
          expr("CAST(round(exp(0.3 * (ln(CAST(mn AS DOUBLE)) - " +
            "ln(CAST(n_tokens AS DOUBLE)))) * 1000000) AS BIGINT)"))
          .as("rate_ppm"))
    docs(spark, dir)
      .join(broadcast(rates), Seq("source"))
      .filter(TextQueries.seededHashCol(col("doc_id"), seed) % 1000000L <
        col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("lang"), col("rate_ppm"))
      .orderBy(col("doc_id"))
  }

  val mixSampleSql: String = {
    s"""WITH s AS (
       |  SELECT source,
       |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |m AS (SELECT MIN(n_tokens) AS mn FROM s),
       |r AS (
       |  SELECT source, LEAST(1000000,
       |    CAST(round(exp(0.3 * (ln(CAST(mn AS DOUBLE)) -
       |      ln(CAST(n_tokens AS DOUBLE)))) * 1000000) AS BIGINT)) AS rate_ppm
       |  FROM s CROSS JOIN m)
       |SELECT d.doc_id, d.source, d.lang, r.rate_ppm
       |FROM documents d JOIN r USING (source)
       |WHERE ${TextQueries.seededHashSqlExpr("d.doc_id", 7L)} % 1000000
       |  < rate_ppm
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Gopher-style REPETITION filter (Rae et al. 2021 "Scaling
    * Language Models" quality rules, the repetition subset): per doc,
    * the most-frequent-bigram coverage and the duplicate-token
    * fraction, as integer ppm (integral DIV — engine-exact on both
    * oracle sides), plus the repetitive flag at the
    * top-bigram > 6% OR dup-token > 60% thresholds. Repetitive docs
    * (boilerplate loops, keyword stuffing, degenerate generations)
    * are dropped before LM training.
    *
    * Scale shape: one explode + two hash aggregates (bigram counts
    * partial-agg map-side, then per-doc max/sum) + an equi-join back
    * to the per-doc token stats — linear, one shuffle per agg. The
    * bigram array is built from a MATERIALIZED token-array column
    * across a projection boundary (the nested-HOF re-evaluation trap)
    * and passed to explode as an expression (the
    * InferFiltersFromGenerate trap). */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
    val tok = d.select(col("doc_id"),
      size(col("ts")).cast("long").as("n_tok"),
      size(array_distinct(col("ts"))).cast("long").as("n_dis"))
    val bg = d.select(col("doc_id"),
      explode(when(size(col("ts")) < 2,
          array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(col("ts")) - 1),
          i => concat_ws(" ", element_at(col("ts"), i),
            element_at(col("ts"), i + 1))))).as("b"))
    val agg = bg.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top"), sum(col("c")).as("tot"))
    agg.join(tok, Seq("doc_id"))
      .select(col("doc_id"),
        expr("1000000 * top DIV tot").as("top_bigram_ppm"),
        expr("1000000 * (n_tok - n_dis) DIV n_tok").as("dup_token_ppm"))
      .withColumn("repetitive",
        col("top_bigram_ppm") > 60000 || col("dup_token_ppm") > 600000)
      .orderBy(col("doc_id"))
  }

  val repetitionFilterSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(ts)),
      |      i -> ts[i] || ' ' || ts[i+1])) AS b
      |  FROM d),
      |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
      |agg AS (
      |  SELECT doc_id, MAX(c) AS top, CAST(SUM(c) AS BIGINT) AS tot
      |  FROM bc GROUP BY 1),
      |tok AS (
      |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
      |    CAST(len(list_distinct(ts)) AS BIGINT) AS n_dis
      |  FROM d)
      |SELECT a.doc_id,
      |  1000000 * top // tot AS top_bigram_ppm,
      |  1000000 * (n_tok - n_dis) // n_tok AS dup_token_ppm,
      |  (1000000 * top // tot > 60000 OR
      |   1000000 * (n_tok - n_dis) // n_tok > 600000) AS repetitive
      |FROM agg a JOIN tok t ON a.doc_id = t.doc_id
      |ORDER BY a.doc_id""".stripMargin

  /** Eval-set DECONTAMINATION — the n-gram overlap removal every
    * serious training pipeline runs before training (the GPT-3/C4
    * procedure: drop a training doc when it shares n-grams with the
    * benchmark/eval set): flag corpus docs sharing ≥ `minOverlap`
    * distinct 3-shingles with the union of benchmark shingles. The
    * benchmark set here is the deterministic doc_id % 97 == 0 slice —
    * a seeded stand-in for an external eval corpus, which keeps the
    * whole query a pure function of `documents` and hence fully
    * oracled.
    *
    * Scale shape: explode to distinct shingle hashes per doc (64-bit —
    * collision-free, so the DuckDB string-shingle oracle matches
    * exactly), ONE equi-join on the shingle hash against the distinct
    * benchmark-shingle set (AQE broadcasts it when it measures small —
    * eval sets usually are — with a shuffle join as the general path),
    * then one per-doc count aggregate. Linear in corpus size; no pair
    * scan anywhere. */
  /** Per-doc distinct 3-shingle hashes — token array materialized
    * first; the shingle-hash array expression goes to explode
    * directly (both measured HOF traps avoided), and hashing chains
    * token triples — no shingle strings are built. Shared by the
    * batch row and the streaming door
    * ([[graft.streaming.IngestStreaming.decontaminateStream]]). */
  private[graft] def docShingles(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"),
        explode(array_distinct(DedupOps.shingleHashes64(col("ts"))))
          .as("g"))

  /** The distinct benchmark shingle set (the doc_id%97 eval slice). */
  private[graft] def benchShingles(d: DataFrame): DataFrame =
    docShingles(d.filter(col("doc_id") % 97 === 0))
      .select(col("g")).distinct()

  /** Contamination scoring of any (doc_id, text) frame against a
    * bench shingle set — the stage both the batch row and every
    * streaming micro-batch run verbatim. */
  private[graft] def contaminationHits(d: DataFrame, bench: DataFrame,
      minOverlap: Int): DataFrame =
    docShingles(d.filter(col("doc_id") % 97 =!= 0))
      .join(bench, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minOverlap)

  def decontaminate(spark: SparkSession, dir: String,
      minOverlap: Int = 3): DataFrame = {
    val d = docs(spark, dir)
    contaminationHits(d, benchShingles(d), minOverlap)
      .orderBy(col("doc_id"))
  }

  /** The 3-shingle CTE chain — `d(doc_id, ts, text)` then
    * `s(doc_id, sh)` — the SQL twin of [[docShingles]]' shingle
    * definition (string shingles; the 64-bit hash is
    * collision-free so counts match), shared by [[decontaminateSql]]
    * and the ingest-door composition ([[IngestDoor.ingestDoorSql]]).
    * Embed as `WITH $shingleCtesSql, ...`. */
  private[graft] val shingleCtesSql: String =
    """d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts, text FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ts) < 3 THEN [text]
      |         ELSE list_transform(range(1, len(ts) - 1),
      |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS sh
      |  FROM d)""".stripMargin

  val decontaminateSql: String =
    s"""WITH $shingleCtesSql,
      |bench AS (
      |  SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 97 = 0),
      |corpus AS (
      |  SELECT doc_id, unnest(list_distinct(sh)) AS g FROM s
      |  WHERE doc_id % 97 <> 0),
      |hit AS (
      |  SELECT c.doc_id, COUNT(*) AS n_hits
      |  FROM corpus c JOIN bench b USING (g)
      |  GROUP BY c.doc_id)
      |SELECT doc_id, n_hits FROM hit WHERE n_hits >= 3
      |ORDER BY doc_id""".stripMargin

  /** Cross-SOURCE contamination matrix — for every pair of sources,
    * how many distinct 3-shingles they share and the shingle-set
    * Jaccard (ppm): the corpus-audit a mixture designer runs before
    * trusting per-source weights ([[domainMixWeights]]), since two
    * "different" sources that mirror each other double-count their
    * mass. Same shingle definition as [[decontaminate]] (chained
    * xxhash64 triples, whole-text fallback for <3-token docs) so the
    * DuckDB string-shingle oracle matches exactly.
    *
    * Scale shape: distinct (source, shingle-hash) — one explode + one
    * distinct shuffle, corpus-linear — then a self-equi-join on the
    * hash with `src_a < src_b`. Join fan-out is Σ_h C(s_h, 2) ≤
    * |distinct shingles| · S²/2: linear in corpus size with an
    * S²-bounded constant, where S is the source taxonomy (a mixture
    * vocabulary — tens, like [[domainMixWeights]]'s — not an unbounded
    * key space). Per-source totals are one more partial agg; the
    * Jaccard is an integer-ppm DIV on non-negative counts (floor ==
    * truncate, so DuckDB `//` and Spark `DIV` agree without the
    * sign-safe rewrite events_moving_avg needs). Only pairs with ≥1
    * shared shingle appear — the inner-join contract, matching the
    * dedup pair-list convention. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sh = docs(spark, dir)
      .select(col("source"), split(col("text"), " ").as("ts"))
      .select(col("source"),
        explode(array_distinct(DedupOps.shingleHashes64(col("ts"))))
          .as("g"))
      .distinct()
    val per = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter_shingles"))
    pairs
      .join(per.select(col("source").as("src_a"), col("n").as("na")),
        Seq("src_a"))
      .join(per.select(col("source").as("src_b"), col("n").as("nb")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter_shingles"),
        expr("1000000 * inter_shingles DIV (na + nb - inter_shingles)")
          .as("jaccard_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val sourceOverlapSql: String =
    """WITH d AS (
      |  SELECT source, string_split(text, ' ') AS ts, text FROM documents),
      |s AS (
      |  SELECT source,
      |    CASE WHEN len(ts) < 3 THEN [text]
      |         ELSE list_transform(range(1, len(ts) - 1),
      |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS sh
      |  FROM d),
      |occ AS (
      |  SELECT DISTINCT source, unnest(sh) AS g FROM s),
      |per AS (
      |  SELECT source, COUNT(*) AS n FROM occ GROUP BY source),
      |pr AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    COUNT(*) AS inter_shingles
      |  FROM occ a JOIN occ b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT pr.src_a, pr.src_b, pr.inter_shingles,
      |  1000000 * pr.inter_shingles // (pa.n + pb.n - pr.inter_shingles)
      |    AS jaccard_ppm
      |FROM pr
      |JOIN per pa ON pr.src_a = pa.source
      |JOIN per pb ON pr.src_b = pb.source
      |ORDER BY src_a, src_b""".stripMargin

  /** Deterministic seeded train/val/test split (90/5/5) with per-
    * (source, split) doc and token totals — the assignment step every
    * training pipeline runs before writing shards.
    *
    * The split decision reuses the affine-permutation hash
    * (TextQueries.sampleHashConstants): h = ((id mod P)·a+b) mod P is
    * a PERMUTATION of Z_P both engines compute exactly, so assignment
    * is reproducible cross-engine (no engine-defined rand/xxhash) and
    * per-doc independent — a doc's split never changes when the
    * corpus grows, the property that keeps eval sets stable across
    * crawl snapshots.
    *
    * Scale shape: one scan, one partial+final agg to a
    * sources×3-cardinality result. The assignment itself is a
    * codegen'd expression — at 100 TB the same expression tags shards
    * on write (partitionBy("split")) with zero extra shuffles. */
  def trainValSplit(spark: SparkSession, dir: String,
      seed: Long = 11L): DataFrame = {
    docs(spark, dir)
      .select(col("source"),
        (TextQueries.seededHashCol(col("doc_id"), seed) % 1000000L)
          .as("h"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .select(col("source"),
        when(col("h") < 900000L, lit("train"))
          .when(col("h") < 950000L, lit("val"))
          .otherwise(lit("test")).as("split"),
        col("n_tok"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("split"))
  }

  val trainValSplitSql: String =
    s"""SELECT source,
       |  CASE WHEN h < 900000 THEN 'train'
       |       WHEN h < 950000 THEN 'val' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
       |FROM (
       |  SELECT source,
       |    ${TextQueries.seededHashSqlExpr("doc_id", 11L)} % 1000000 AS h,
       |    len(string_split(text, ' ')) AS n_tok
       |  FROM documents) t
       |GROUP BY source, split
       |ORDER BY source, split""".stripMargin

  /** Split-leakage audit — the quantitative case for CLUSTER-AWARE
    * splitting: a per-doc hash split (trainValSplit's rule) lets
    * near-duplicate pairs straddle train/eval, the train-test
    * contamination Lee et al. 2021 (§6, arXiv:2107.06499) measured in
    * deployed corpora; hashing the near-dup CLUSTER id instead keeps
    * every cluster on one side BY CONSTRUCTION. This row runs both
    * rules and counts, for each, the near-dup pairs (the oracled
    * [[DedupOps.dedupJaccard]] contract) whose endpoints land in
    * different splits — `doc_hash` shows the leak, `cluster_hash`
    * provably reads 0 (same cluster ⇒ same hash input), and the
    * oracle re-derives BOTH through the recursive-closure labels, so
    * the zero is a checked consistency property of hash ∘ closure,
    * not an assumption.
    *
    * Scale shape: labels arrive memoized/persisted
    * ([[DedupOps.clusterLabels]] — zero new pair-scale work), the
    * split tags are codegen'd expressions on one corpus scan, and the
    * straddle count joins the OUTPUT-BOUNDED pair list to two narrow
    * (doc_id, split) lookups — at 100 TB this is exactly the shard
    * assignment a training pipeline writes, with the audit as two
    * counters on the side. */
  def splitLeakageOf(docIds: DataFrame, labels: DataFrame,
      pairs: DataFrame, seed: Long = 11L): DataFrame = {
    def splitOf(h: Column): Column =
      when(h < 900000L, lit("train")).when(h < 950000L, lit("val"))
        .otherwise(lit("test"))
    val base = docIds.select(col("doc_id"))
      .join(labels.select(col("doc_id"), col("keep_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("keep_id"), col("doc_id")))
      .select(col("doc_id"),
        splitOf(TextQueries.seededHashCol(col("doc_id"), seed)
          % 1000000L).as("split_doc"),
        splitOf(TextQueries.seededHashCol(col("cluster_id"), seed)
          % 1000000L).as("split_cluster"))
    val joined = pairs.select(col("i"), col("j"))
      .join(base.select(col("doc_id").as("i"), col("split_doc").as("di"),
        col("split_cluster").as("ci")), Seq("i"))
      .join(base.select(col("doc_id").as("j"), col("split_doc").as("dj"),
        col("split_cluster").as("cj")), Seq("j"))
    val st = joined.agg(
      coalesce(sum(when(col("di") =!= col("dj"), 1L).otherwise(0L)),
        lit(0L)).as("s_doc"),
      coalesce(sum(when(col("ci") =!= col("cj"), 1L).otherwise(0L)),
        lit(0L)).as("s_cl"))
    val counts = base.agg(
      sum(when(col("split_doc") === "train", 1L).otherwise(0L))
        .as("d_train"),
      sum(when(col("split_doc") === "val", 1L).otherwise(0L)).as("d_val"),
      sum(when(col("split_doc") === "test", 1L).otherwise(0L))
        .as("d_test"),
      sum(when(col("split_cluster") === "train", 1L).otherwise(0L))
        .as("c_train"),
      sum(when(col("split_cluster") === "val", 1L).otherwise(0L))
        .as("c_val"),
      sum(when(col("split_cluster") === "test", 1L).otherwise(0L))
        .as("c_test"))
    counts.crossJoin(broadcast(st)) // single-row aggregate sides
      .select(expr("stack(2, " +
        "'doc_hash', d_train, d_val, d_test, s_doc, " +
        "'cluster_hash', c_train, c_val, c_test, s_cl) " +
        "AS (split_kind, n_train, n_val, n_test, straddle_pairs)"))
      .orderBy(col("split_kind"))
  }

  /** Registered row: the leakage audit over the corpus, consuming the
    * memoized near-dup labels and pair list. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    splitLeakageOf(docs(spark, dir).select(col("doc_id")),
      DedupOps.clusterLabels(spark, dir),
      DedupOps.dedupJaccard(spark, dir))

  val splitLeakageSql: String = {
    val hd = TextQueries.seededHashSqlExpr("doc_id", 11L)
    val hc = TextQueries.seededHashSqlExpr("cluster_id", 11L)
    s"""WITH RECURSIVE ${DedupOps.jaccardReachCtes()},
       |lab AS (SELECT a AS doc_id, MIN(b) AS keep_id FROM reach GROUP BY a),
       |base0 AS (
       |  SELECT dd.doc_id, COALESCE(l.keep_id, dd.doc_id) AS cluster_id
       |  FROM documents dd LEFT JOIN lab l ON dd.doc_id = l.doc_id),
       |hbase AS (
       |  SELECT doc_id, ($hd) % 1000000 AS hd, ($hc) % 1000000 AS hc
       |  FROM base0),
       |base AS (
       |  SELECT doc_id,
       |    CASE WHEN hd < 900000 THEN 'train'
       |         WHEN hd < 950000 THEN 'val' ELSE 'test' END AS split_doc,
       |    CASE WHEN hc < 900000 THEN 'train'
       |         WHEN hc < 950000 THEN 'val' ELSE 'test' END AS split_cluster
       |  FROM hbase),
       |st AS (
       |  SELECT
       |    COALESCE(SUM(CASE WHEN bi.split_doc <> bj.split_doc
       |      THEN 1 ELSE 0 END), 0) AS s_doc,
       |    COALESCE(SUM(CASE WHEN bi.split_cluster <> bj.split_cluster
       |      THEN 1 ELSE 0 END), 0) AS s_cl
       |  FROM p JOIN base bi ON p.i = bi.doc_id
       |  JOIN base bj ON p.j = bj.doc_id),
       |cnt AS (
       |  SELECT
       |    SUM(CASE WHEN split_doc = 'train' THEN 1 ELSE 0 END) AS d_train,
       |    SUM(CASE WHEN split_doc = 'val' THEN 1 ELSE 0 END) AS d_val,
       |    SUM(CASE WHEN split_doc = 'test' THEN 1 ELSE 0 END) AS d_test,
       |    SUM(CASE WHEN split_cluster = 'train' THEN 1 ELSE 0 END) AS c_train,
       |    SUM(CASE WHEN split_cluster = 'val' THEN 1 ELSE 0 END) AS c_val,
       |    SUM(CASE WHEN split_cluster = 'test' THEN 1 ELSE 0 END) AS c_test
       |  FROM base)
       |SELECT 'doc_hash' AS split_kind, CAST(d_train AS BIGINT) AS n_train,
       |  CAST(d_val AS BIGINT) AS n_val, CAST(d_test AS BIGINT) AS n_test,
       |  CAST(s_doc AS BIGINT) AS straddle_pairs FROM cnt, st
       |UNION ALL
       |SELECT 'cluster_hash', CAST(c_train AS BIGINT),
       |  CAST(c_val AS BIGINT), CAST(c_test AS BIGINT),
       |  CAST(s_cl AS BIGINT) FROM cnt, st
       |ORDER BY split_kind""".stripMargin
  }

  /** SOURCE CARD — the per-source datasheet row ("Datasheets for
    * Datasets", Gebru et al. 2021, reduced to its quantitative core):
    * one row per source bundling the statistics a corpus consumer
    * reads before mixing — volume (docs/tokens/share), mean quality,
    * duplicate n-gram mass, length-profile drift vs the rest of the
    * corpus, and language spread. A COMPOSITION row in the
    * pretrain_pipeline/media_pipeline tradition: every column is an
    * already-oracled constituent ([[domainMix]], [[qualityScore]],
    * [[DedupOps.ngramDupMass]], [[driftKs]]) chained verbatim, so the
    * oracle composes their committed SQL as subqueries and the card
    * cannot drift from the standalone rows.
    *
    * Scale shape: every constituent is one linear scan + a
    * source-cardinality agg; the final joins are equi-joins on the
    * bounded source key. */
  def sourceCard(spark: SparkSession, dir: String): DataFrame = {
    val mix = domainMix(spark, dir)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("token_share_ppm"))
    val q = docs(spark, dir).select(col("doc_id"), col("source"))
      .join(qualityScore(spark, dir)
        .select(col("doc_id"), col("quality_ppm")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(expr("CAST(sum(quality_ppm) DIV count(1) AS BIGINT)")
        .as("mean_quality_ppm"))
    val dup = DedupOps.ngramDupMass(spark, dir)
      .select(col("source"), col("rep_ppm").as("dup_rep_ppm"))
    val ks = driftKs(spark, dir).select(col("source"), col("ks_ppm"))
    val langs = docs(spark, dir).groupBy(col("source"))
      .agg(countDistinct(col("lang")).as("n_langs"))
    // Five INDEPENDENT constituent legs, each its own scan+agg chain —
    // materialize them concurrently (guide §2.6, r14 verdict #4) so
    // the card's wall is the slowest leg, not the sum of five
    // sequential small-stage chains. Per-leg plans unchanged ⇒ rows
    // bit-identical; the bounded-source-key joins then read the
    // checkpointed legs.
    val Seq(mixM, qM, dupM, ksM, langsM) =
      ConcurrentLegs.materialize(Seq(mix, q, dup, ks, langs))
    mixM.join(qM, Seq("source")).join(dupM, Seq("source"))
      .join(ksM, Seq("source")).join(langsM, Seq("source"))
      .orderBy(col("source"))
  }

  /** Composed replay: the constituents' committed SQL as subqueries
    * (the rrf_hybrid chaining idiom). */
  lazy val sourceCardSql: String =
    s"""WITH q AS (
       |  SELECT d.source,
       |    CAST(SUM(t.quality_ppm) // COUNT(*) AS BIGINT)
       |      AS mean_quality_ppm
       |  FROM ($qualityScoreSql) t
       |  JOIN documents d ON t.doc_id = d.doc_id
       |  GROUP BY d.source),
       |langs AS (
       |  SELECT source, COUNT(DISTINCT lang) AS n_langs
       |  FROM documents GROUP BY source)
       |SELECT m.source, m.n_docs, m.n_tokens, m.token_share_ppm,
       |  q.mean_quality_ppm, dup.rep_ppm AS dup_rep_ppm, ks.ks_ppm,
       |  langs.n_langs
       |FROM ($domainMixSql) m
       |JOIN q USING (source)
       |JOIN (${DedupOps.ngramDupMassSql}) dup USING (source)
       |JOIN ($driftKsSql) ks USING (source)
       |JOIN langs USING (source)
       |ORDER BY source""".stripMargin

  /** CCNet-style perplexity filtering: keep the 75% most-fluent docs
    * under the corpus bigram LM (docPerplexity scores), i.e. docs with
    * avg_nll_micro ≤ the exact p75 threshold in quantile_disc
    * semantics (ties at the threshold all kept — deterministic, no
    * per-tie ordering).
    *
    * The threshold is computed the SCALABLE exact way: a value
    * HISTOGRAM (groupBy avg_nll_micro — distinct scores ≪ docs), a
    * DISTRIBUTED running sum over the sorted distinct values
    * ([[graft.functions.GlobalRank.withRunningSum]] — r12 verdict #3:
    * the micro-nat score domain is ~min(N, 2·10⁷), so the previous
    * unpartitioned `sum().over(Window.orderBy)` could funnel ~10⁷
    * histogram rows through ONE WindowExec task at 100 TB; the
    * rank-offsets job keeps the same exact prefix sums with no global
    * funnel), min value whose cumulative count covers 3n/4, then one
    * broadcast threshold filter over the scores. No global sort of
    * the corpus ever happens — the 100 TB alternative for looser
    * tolerance is percentile_approx (see eventsQuantiles), but
    * p75-on-integers is exactly computable at scale with this
    * histogram shape. */
  def pplFilter(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the per-doc scores ONCE (r14): left as a view, the
    // whole bigram-LM chain (two vocab² aggs + the corpus join) is
    // planned under THREE consumers — the histogram, the corpus
    // count, and the final filter — and each executed it from the
    // scan (measured: 3 executions of the ~0.5 s chain under the
    // 2.3 s row). The checkpoint is |docs| skinny (doc_id, score)
    // rows — the same bytes the final filter must read anyway.
    val ppl = docPerplexity(spark, dir)
      .select(col("doc_id"), col("avg_nll_micro"))
      .localCheckpoint()
    val hist = ppl.groupBy(col("avg_nll_micro"))
      .agg(count(lit(1)).as("c"))
    val cum = graft.functions.GlobalRank.withRunningSum(hist, "cum",
      col("c"), col("avg_nll_micro"))
    // n = the LAST prefix sum (Σ histogram counts ≡ |ppl| exactly) —
    // read from the materialized running-sum frame instead of a third
    // pass over the scoring chain
    val n = cum.agg(max(col("cum")).as("n"))
    val thr = cum.crossJoin(broadcast(n))
      .filter(col("cum") * 4 >= col("n") * 3)
      .agg(min(col("avg_nll_micro")).as("thr"))
    ppl.crossJoin(broadcast(thr))
      .filter(col("avg_nll_micro") <= col("thr"))
      .select(col("doc_id"), col("avg_nll_micro"))
      .orderBy(col("doc_id"))
  }

  val pplFilterSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |occ AS (
      |  SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM (
      |    SELECT doc_id,
      |      unnest(list_zip(ts[1:length(ts)-1], ts[2:length(ts)])) AS p
      |    FROM toks WHERE length(ts) >= 2) t),
      |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY 1, 2),
      |uni AS (SELECT w1, COUNT(*) AS c1 FROM occ GROUP BY 1),
      |lp AS (
      |  SELECT big.w1, big.w2,
      |    CAST(round(ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) * -1000000)
      |      AS BIGINT) AS nll_micro
      |  FROM big JOIN uni ON big.w1 = uni.w1),
      |ppl AS (
      |  SELECT doc_id,
      |    CAST(SUM(nll_micro) AS BIGINT) // COUNT(*) AS avg_nll_micro
      |  FROM occ JOIN lp ON occ.w1 = lp.w1 AND occ.w2 = lp.w2
      |  GROUP BY doc_id),
      |cum AS (
      |  SELECT avg_nll_micro, SUM(c) OVER (ORDER BY avg_nll_micro) AS cum
      |  FROM (SELECT avg_nll_micro, COUNT(*) AS c FROM ppl
      |        GROUP BY avg_nll_micro) h),
      |t AS (
      |  SELECT MIN(avg_nll_micro) AS thr FROM cum
      |  WHERE cum * 4 >= (SELECT COUNT(*) FROM ppl) * 3)
      |SELECT doc_id, avg_nll_micro FROM ppl, t
      |WHERE avg_nll_micro <= thr
      |ORDER BY doc_id""".stripMargin

  /** Fraction (percent) of each source kept by [[qualityTopP]]. */
  val QualityTopPct = 30

  /** Per-source top-p% quality selection — the per-domain curation
    * pass (FineWeb/RefinedWeb-style: thresholds are set per domain
    * because quality-score distributions differ wildly across
    * sources; a single global cut would empty some domains and keep
    * junk from others). Keeps every doc whose [[qualityScore]] ppm is
    * ≥ its source's top-[[QualityTopPct]]% threshold, ties at the
    * threshold ALL kept (quantile_disc semantics — deterministic, no
    * per-tie ordering).
    *
    * Scale shape: the [[pplFilter]] histogram idiom applied PER GROUP —
    * per-(source, ppm) histogram (distinct ppm values ≤ 10⁶ per
    * source, ≪ docs), a descending running sum over histogram rows
    * partitioned by source (never over docs), per-source thresholds
    * (source-cardinality rows, broadcast back), one filter. No
    * corpus sort, no doc-level window — the naive per-source
    * `row_number()` would sort every domain's full doc set. */
  def qualityTopP(spark: SparkSession, dir: String,
      pct: Int = QualityTopPct): DataFrame = {
    val toks = split(col("text"), " ")
    val scored = docs(spark, dir)
      .select(Seq(col("doc_id"), col("source")) ++
        qualityPartCols(toks): _*)
      .select(col("doc_id"), col("source"),
        expr(QualityPpmExpr).as("quality_ppm"))
    val hist = scored.groupBy(col("source"), col("quality_ppm"))
      .agg(count(lit(1)).as("c"))
    val cum = hist.select(col("source"), col("quality_ppm"),
      sum(col("c")).over(Window.partitionBy(col("source"))
        .orderBy(col("quality_ppm").desc)).as("cum"))
    val n = scored.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val thr = cum.join(n, Seq("source"))
      .filter(col("cum") * 100 >= col("n") * pct)
      .groupBy(col("source")).agg(max(col("quality_ppm")).as("thr"))
    scored.join(broadcast(thr), Seq("source"))
      .filter(col("quality_ppm") >= col("thr"))
      .select(col("doc_id"), col("source"), col("quality_ppm"))
      .orderBy(col("doc_id"))
  }

  val qualityTopPSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source, $QualityPpmSqlExpr AS quality_ppm
       |  FROM (
       |    SELECT doc_id, source,
       |        $QualityPartsSql
       |    FROM (SELECT doc_id, source, string_split(text, ' ') AS ts
       |          FROM documents) x) t),
       |cum AS (
       |  SELECT source, quality_ppm,
       |    SUM(c) OVER (PARTITION BY source ORDER BY quality_ppm DESC) AS cum
       |  FROM (SELECT source, quality_ppm, COUNT(*) AS c FROM scored
       |        GROUP BY source, quality_ppm) h),
       |n AS (SELECT source, COUNT(*) AS n FROM scored GROUP BY source),
       |thr AS (
       |  SELECT source, MAX(quality_ppm) AS thr
       |  FROM cum JOIN n USING (source)
       |  WHERE cum * 100 >= n * $QualityTopPct
       |  GROUP BY source)
       |SELECT doc_id, scored.source, quality_ppm
       |FROM scored JOIN thr ON scored.source = thr.source
       |WHERE quality_ppm >= thr
       |ORDER BY doc_id""".stripMargin

  /** Curriculum assignment: length bucket (fixed token-count
    * boundaries — the batch-packing bins a trainer groups sequences
    * into) plus quality-quartile curriculum stage (stage 1 = lowest
    * quality quartile, trained first in an easy-to-hard curriculum;
    * quality_ppm is the [[qualityScore]] formula).
    *
    * The stage is EXACT NTILE(4) over (quality_ppm, doc_id) — but
    * computed the scalable way: a global NTILE window is a
    * one-reducer corpus sort, so the engine instead uses the
    * distributed exact-rank idiom: range-partition on the COMPOSITE
    * key (quality_ppm, doc_id) — doc_id is unique, so partitions stay
    * balanced even when the whole corpus shares one quality_ppm value
    * (equal composite keys can't pile into one range) — sort within
    * partitions, then add per-partition row offsets (one lightweight
    * count job over the sorted shuffle output, whose files are reused
    * by the main pass as a skipped stage). rank0 is the exact global
    * rank; NTILE's bucket arithmetic (first N mod 4 buckets take
    * ⌈N/4⌉ rows) replays in integer math with N from the same offsets
    * job. The DuckDB oracle runs the naive NTILE spelling, so the
    * equivalence is hash-checked end-to-end, and NtileSpec pins it
    * against Spark's own ntile on small data.
    *
    * Scale shape: one corpus scan into the range shuffle (plus the
    * range partitioner's sampling pass); every partition bounded by
    * the range split regardless of quality_ppm skew; never a
    * one-reducer sort, never an unbounded window group. */
  def lengthCurriculum(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val scored = docs(spark, dir)
      .select(col("doc_id") +: qualityPartCols(toks): _*)
      .select(col("doc_id"), col("n"),
        expr(QualityPpmExpr).as("quality_ppm"))
    val (withRank, nn) = graft.functions.GlobalRank.withRank0AndCount(
      scored, "rank0", col("quality_ppm"), col("doc_id"))
    // NTILE(4): the first nn%4 buckets hold nn DIV 4 + 1 rows, the
    // rest nn DIV 4 (max(...,1) guards the nn<4 fixture case, where
    // the ELSE branch is never taken but is still evaluated)
    val big = nn / 4 + 1
    val small = math.max(nn / 4, 1L)
    val boundary = (nn % 4) * big
    withRank
      .withColumn("stage", expr(
        s"CAST(CASE WHEN rank0 < $boundary THEN rank0 DIV $big " +
          s"ELSE ${nn % 4} + (rank0 - $boundary) DIV $small " +
          "END + 1 AS BIGINT)"))
      .select(col("doc_id"), col("n").as("n_tokens"),
        expr("CAST(CASE WHEN n < 40 THEN 0 WHEN n < 56 THEN 1 " +
          "WHEN n < 72 THEN 2 ELSE 3 END AS BIGINT)").as("len_bucket"),
        col("quality_ppm"), col("stage"))
      .orderBy(col("doc_id"))
  }

  val lengthCurriculumSql: String = {
    s"""WITH q AS (
       |  SELECT doc_id, n,
       |    $QualityPpmSqlExpr AS quality_ppm
       |  FROM (
       |    SELECT doc_id,
       |      $QualityPartsSql
       |    FROM (SELECT doc_id, string_split(text, ' ') AS ts
       |          FROM documents) x) t)
       |SELECT doc_id, n AS n_tokens,
       |  CAST(CASE WHEN n < 40 THEN 0 WHEN n < 56 THEN 1
       |       WHEN n < 72 THEN 2 ELSE 3 END AS BIGINT) AS len_bucket,
       |  quality_ppm,
       |  CAST(NTILE(4) OVER (ORDER BY quality_ppm, doc_id) AS BIGINT) AS stage
       |FROM q
       |ORDER BY doc_id""".stripMargin
  }

  /** Corpus novelty score: for each doc, the fraction of its distinct
    * 3-shingles whose FIRST occurrence (min doc_id) in the corpus is
    * this doc — "how much new content does this doc add", the
    * dedup-aware signal a corpus-ordering / pruning pass ranks by
    * (a doc of entirely already-seen shingles is redundant even when
    * no single pair clears a Jaccard threshold).
    *
    * Engine shingles are chained-xxhash64 over the token array (the
    * DedupOps idiom — hashes never surface in the output, the oracle
    * replays the same semantics on shingle STRINGS); first-seen is a
    * window MIN over the shingle partition, so the exploded stream
    * shuffles ONCE on shingle hash (vs groupBy-then-join-back, which
    * shuffles it twice), then the per-doc aggregation is the second,
    * doc-keyed shuffle. All linear in corpus shingles.
    */
  def noveltyScore(spark: SparkSession, dir: String): DataFrame = {
    val occ = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"),
        explode(array_distinct(DedupOps.shingleHashes64(col("ts"))))
          .as("sh"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
    occ.withColumn("first_doc", min(col("doc_id")).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        expr("1000000 * n_novel DIV n_shingles").as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  val noveltyScoreSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts, text FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ts) < 3 THEN [text]
      |         ELSE list_transform(range(1, len(ts) - 1),
      |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS sh
      |  FROM d),
      |u AS (SELECT doc_id, unnest(list_distinct(sh)) AS sh FROM s),
      |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM u GROUP BY sh)
      |SELECT u.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(SUM(CASE WHEN f.first_doc = u.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  CAST(1000000 * SUM(CASE WHEN f.first_doc = u.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS novelty_ppm
      |FROM u JOIN f USING (sh)
      |GROUP BY u.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Character-class composition per doc — the charset-QA pass a
    * corpus pipeline runs to catch mojibake, binary spill, and
    * markup-heavy documents before tokenization: ppm of lowercase /
    * uppercase / digit / whitespace (space, tab, CR, LF) characters
    * (remainder = other, i.e. punctuation, symbols, and non-ASCII —
    * the mojibake/binary signal) plus the dominant class over ALL
    * FIVE counters under a fixed precedence tie-break
    * (lower > upper > digit > space > other), so a pure-mojibake doc
    * reports dominant='other', not a spurious ASCII class. One scan,
    * all codegen'd length(regexp_replace) counters — no explode, no
    * shuffle except the final sort. */
  def charClasses(spark: SparkSession, dir: String): DataFrame =
    charClassesOf(docs(spark, dir))

  /** [[charClasses]] over any (doc_id, text) frame — split out so the
    * spec can pin the dominant='other' (mojibake/binary) branch on a
    * synthetic doc the fixture corpus may not contain. */
  private[graft] def charClassesOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("long")
          .as("n_lower"),
        length(regexp_replace(col("text"), "[^A-Z]", "")).cast("long")
          .as("n_upper"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long")
          .as("n_digit"),
        length(regexp_replace(col("text"), "[^ \\t\\n\\r]", "")).cast("long")
          .as("n_space"))
      .withColumn("n_other",
        expr("n_chars - n_lower - n_upper - n_digit - n_space"))
      .select(col("doc_id"), col("n_chars"),
        expr("1000000 * n_lower DIV greatest(n_chars, 1)").as("lower_ppm"),
        expr("1000000 * n_upper DIV greatest(n_chars, 1)").as("upper_ppm"),
        expr("1000000 * n_digit DIV greatest(n_chars, 1)").as("digit_ppm"),
        expr("1000000 * n_space DIV greatest(n_chars, 1)").as("space_ppm"),
        expr("1000000 * n_other DIV greatest(n_chars, 1)").as("other_ppm"),
        expr("CASE WHEN n_lower >= n_upper AND n_lower >= n_digit AND " +
          "n_lower >= n_space AND n_lower >= n_other THEN 'lower' " +
          "WHEN n_upper >= n_digit AND n_upper >= n_space AND " +
          "n_upper >= n_other THEN 'upper' " +
          "WHEN n_digit >= n_space AND n_digit >= n_other THEN 'digit' " +
          "WHEN n_space >= n_other THEN 'space' ELSE 'other' END")
          .as("dominant"))
      .orderBy(col("doc_id"))

  val charClassesSql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_lower,
      |    CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT) AS n_upper,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
      |    CAST(length(regexp_replace(text, '[^ \t\n\r]', '', 'g')) AS BIGINT) AS n_space
      |  FROM documents),
      |c2 AS (
      |  SELECT *, n_chars - n_lower - n_upper - n_digit - n_space AS n_other
      |  FROM c)
      |SELECT doc_id, n_chars,
      |  1000000 * n_lower // greatest(n_chars, 1) AS lower_ppm,
      |  1000000 * n_upper // greatest(n_chars, 1) AS upper_ppm,
      |  1000000 * n_digit // greatest(n_chars, 1) AS digit_ppm,
      |  1000000 * n_space // greatest(n_chars, 1) AS space_ppm,
      |  1000000 * n_other // greatest(n_chars, 1) AS other_ppm,
      |  CASE WHEN n_lower >= n_upper AND n_lower >= n_digit AND
      |    n_lower >= n_space AND n_lower >= n_other THEN 'lower'
      |    WHEN n_upper >= n_digit AND n_upper >= n_space AND
      |      n_upper >= n_other THEN 'upper'
      |    WHEN n_digit >= n_space AND n_digit >= n_other THEN 'digit'
      |    WHEN n_space >= n_other THEN 'space' ELSE 'other' END AS dominant
      |FROM c2
      |ORDER BY doc_id""".stripMargin

  // ------------- DSIR importance resampling -------------

  /** Target distribution for [[dsirSelect]]: docs from this source
    * stand in for the high-quality target corpus (in production: the
    * Wikipedia/books slice DSIR reweights raw web data toward). */
  val DsirTargetSource = "src0"
  val DsirSeed = 1307L
  val DsirTop = 100

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * NeurIPS): score every raw document by the log importance weight
    * `ln p_target(x) − ln p_raw(x)` under two unigram bag-of-words
    * models with Laplace smoothing, then draw a target-distributed
    * subset WITHOUT replacement via Gumbel-top-k (Kool et al. 2019:
    * adding i.i.d. Gumbel noise to each log weight and taking the
    * top-k is an exact sample ∝ w). Here the Gumbel draw is the
    * seeded affine permutation u = (h+1)/(P+2), g = −ln(−ln u) — fully
    * deterministic, so the WHOLE pipeline including the random draw is
    * SQL-oracle-able (the seeded_sample trick applied to importance
    * sampling).
    *
    * Cross-engine exactness: per-word log-likelihood ratios are
    * `round(ln(ratio)·10⁶)` micro-ints (the [[docPerplexity]]
    * precedent — one ln per word on identical doubles), summed as
    * BIGINT per doc; the Gumbel key is micro-rounded the same way, so
    * ranking compares BIGINTs, never raw floats. The ratio is formed
    * in DOUBLE ((ct+1)(sr+V)) / ((cr+1)(st+V)) — products of counts
    * would overflow BIGINT at web scale.
    *
    * Scale shape: the two LM builds are single groupBy passes over the
    * exploded corpus (the target side filtered first — predicate
    * pushed to the scan); model totals ride a single-row broadcast;
    * per-doc scoring is one vocab-keyed equi-join + partial agg
    * (linear, no vocab-sized broadcast — the word_pmi contract); the
    * final top-k is a TakeOrdered, never a global sort. Production
    * DSIR hashes words into 10⁴ buckets to BOUND the model relation;
    * that is one `pmod(hash(w), NB)` substitution with identical plan
    * shape — unhashed words keep the oracle exact here (both engines'
    * hash primitives differ). Reference analog: none — training-data
    * extension surface (BASELINE.json). */
  def dsirSelect(spark: SparkSession, dir: String,
      targetSource: String = DsirTargetSource,
      top: Int = DsirTop): DataFrame = {
    val toks = docs(spark, dir).select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("w"))
    val raw = toks.groupBy(col("w")).agg(count(lit(1)).as("cr"))
    val tgt = toks.filter(col("source") === targetSource)
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))
    // single-row model totals (sr/st = token totals, v = vocab size);
    // st via the joined model so an absent target source reads 0
    val model = raw.join(tgt, Seq("w"), "left")
      .select(col("w"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val tot = model.agg(sum(col("cr")).as("sr"), sum(col("ct")).as("st"),
      count(lit(1)).as("v"))
    val llr = model.crossJoin(broadcast(tot))
      .select(col("w"),
        round(log((col("ct").cast("double") + lit(1d)) *
            (col("sr") + col("v")).cast("double") /
            ((col("cr").cast("double") + lit(1d)) *
              (col("st") + col("v")).cast("double")))
          * lit(1000000d)).cast("long").as("llr_micro"))
    val scored = toks.join(llr, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("llr_micro")).as("dsir_micro"))
    val h = TextQueries.seededHashCol(col("doc_id"), DsirSeed)
    val p = TextQueries.SamplePrime
    val keyed = scored.withColumn("g_micro",
        round(-log(-log((h.cast("double") + lit(1d)) / lit((p + 2).toDouble)))
          * lit(1000000d)).cast("long"))
      .withColumn("key_micro", col("dsir_micro") + col("g_micro"))
    keyed.orderBy(col("key_micro").desc, col("doc_id").asc).limit(top)
      .withColumn("sel_rank", row_number().over(Window
        .orderBy(col("key_micro").desc, col("doc_id").asc)).cast("long"))
      .select(col("sel_rank"), col("doc_id"), col("n_toks"),
        col("dsir_micro"), col("key_micro"))
      .orderBy(col("sel_rank"))
  }

  val dsirSelectSql: String = {
    val hSql = TextQueries.seededHashSqlExpr("doc_id", DsirSeed)
    val p = TextQueries.SamplePrime
    s"""WITH toks AS (
       |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |raw AS (SELECT w, COUNT(*) AS cr FROM toks GROUP BY w),
       |tgt AS (SELECT w, COUNT(*) AS ct FROM toks
       |        WHERE source = '$DsirTargetSource' GROUP BY w),
       |model AS (
       |  SELECT raw.w, cr, COALESCE(ct, 0) AS ct
       |  FROM raw LEFT JOIN tgt ON raw.w = tgt.w),
       |tot AS (
       |  SELECT CAST(SUM(cr) AS BIGINT) AS sr, CAST(SUM(ct) AS BIGINT) AS st,
       |    COUNT(*) AS v
       |  FROM model),
       |llr AS (
       |  SELECT w,
       |    CAST(round(ln((CAST(ct AS DOUBLE) + 1) * CAST(sr + v AS DOUBLE) /
       |      ((CAST(cr AS DOUBLE) + 1) * CAST(st + v AS DOUBLE))) * 1000000)
       |      AS BIGINT) AS llr_micro
       |  FROM model CROSS JOIN tot),
       |scored AS (
       |  SELECT doc_id, COUNT(*) AS n_toks,
       |    CAST(SUM(llr_micro) AS BIGINT) AS dsir_micro
       |  FROM toks JOIN llr USING (w)
       |  GROUP BY doc_id),
       |keyed AS (
       |  SELECT doc_id, n_toks, dsir_micro,
       |    dsir_micro + CAST(round(-ln(-ln(
       |      (CAST($hSql AS DOUBLE) + 1) / ${(p + 2).toDouble}))
       |      * 1000000) AS BIGINT) AS key_micro
       |  FROM scored)
       |SELECT CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id ASC)
       |    AS BIGINT) AS sel_rank,
       |  doc_id, n_toks, dsir_micro, key_micro
       |FROM keyed
       |ORDER BY key_micro DESC, doc_id ASC
       |LIMIT $DsirTop""".stripMargin
  }

  /** Cross-source quality calibration: each doc's quality score
    * re-expressed as its percentile WITHIN its source, integer ppm.
    * Per-domain quality signals drift (a median news doc outscores a
    * top-decile forum doc on raw ppm), so mixture policies that
    * compare across sources first rank within the domain — the same
    * motivation as [[qualityTopP]]'s per-source threshold, emitted
    * here as a continuous score: pct_ppm = 10⁶ · |{docs in source with
    * strictly lower quality}| DIV n_source (ties share a percentile).
    *
    * Scale shape: the pplFilter value-HISTOGRAM idiom, per source —
    * one partial-agg shuffle builds the (source, quality_ppm) → count
    * histogram, the running sum windows over HISTOGRAM rows (bounded
    * by the ppm value domain, never corpus-length — a source is never
    * sorted), and one equi-join maps scores back to docs. A 100×
    * corpus grows only the first partial agg. */
  def qualityCalibrate(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val scored = docs(spark, dir)
      .select(Seq(col("doc_id"), col("source")) ++
        qualityPartCols(toks): _*)
      .select(col("doc_id"), col("source"),
        expr(QualityPpmExpr).as("quality_ppm"))
    val hist = scored.groupBy(col("source"), col("quality_ppm"))
      .agg(count(lit(1)).as("cnt"))
    val wLess = Window.partitionBy(col("source"))
      .orderBy(col("quality_ppm"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = hist
      .withColumn("n_less", coalesce(sum(col("cnt")).over(wLess), lit(0L)))
      .withColumn("n_src", sum(col("cnt")).over(wAll))
    scored.join(ranked, Seq("source", "quality_ppm"))
      .select(col("doc_id"), col("source"), col("quality_ppm"),
        expr("1000000 * n_less DIV n_src").as("pct_ppm"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replays the naive windowed spelling — RANK()-1 counts the
    * strictly-lower docs, proving the histogram form equivalent. */
  val qualityCalibrateSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source, $QualityPpmSqlExpr AS quality_ppm
       |  FROM (
       |    SELECT doc_id, source,
       |      $QualityPartsSql
       |    FROM (SELECT doc_id, source, string_split(text, ' ') AS ts
       |          FROM documents) x) t)
       |SELECT doc_id, source, quality_ppm,
       |  1000000 * (RANK() OVER (PARTITION BY source ORDER BY quality_ppm)
       |    - 1) // (COUNT(*) OVER (PARTITION BY source)) AS pct_ppm
       |FROM scored
       |ORDER BY doc_id""".stripMargin

  /** Per-source lexical-diversity profile: type-token ratio and
    * distinct-trigram mass — the corpus-audit numbers that flag a
    * template-heavy or boilerplate-dominated source before it is
    * weighted into a mixture (a source can pass per-doc quality gates
    * while every doc is the SAME doc; low distinct-trigram mass is
    * that signal at the source level, the aggregate cousin of
    * [[noveltyScore]]).
    *
    * Scale shape: trigram identity is the chained-xxhash64 8-byte key
    * ([[boilerplateRatio]]'s trick — string trigram shuffle keys drove
    * its 10× probe to 5.0×); distinct counts are two-stage partial
    * aggs (groupBy (source, key) then groupBy source), never a
    * count_distinct over an unbounded set in one buffer. Everything is
    * linear in corpus tokens; output is |sources| rows. The oracle
    * counts distinct STRING trigrams — equality holds because 64-bit
    * collisions among ~10⁵ distinct trigrams have probability ≈ 10⁻¹⁰
    * (the dedup_minhash collision-free-hash argument). */
  def sourceDiversity(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val toks = d.select(col("source"),
        explode(split(col("text"), " ")).as("tok"))
    val tokStats = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"))
    val tris = d.select(col("source"), col("text"))
      .withColumn("ts", split(col("text"), " "))
      .filter(size(col("ts")) >= 3)
      .select(col("source"), explode(
        transform(sequence(lit(0), size(col("ts")) - 3),
          i => xxhash64(xxhash64(xxhash64(element_at(col("ts"), i + 1)),
            element_at(col("ts"), i + 2)), element_at(col("ts"), i + 3))))
        .as("tri"))
    val triStats = tris.groupBy(col("source"), col("tri"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_trigrams"),
        count(lit(1)).as("n_distinct_trigrams"))
    val nDocs = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    nDocs.join(tokStats, Seq("source")).join(triStats, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("n_distinct_tokens"), col("n_trigrams"),
        col("n_distinct_trigrams"),
        expr("1000000 * n_distinct_tokens DIV n_tokens").as("ttr_ppm"),
        expr("1000000 * n_distinct_trigrams DIV n_trigrams")
          .as("tri_ttr_ppm"))
      .orderBy(col("source"))
  }

  val sourceDiversitySql: String =
    """WITH d AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS ts
      |  FROM documents),
      |tokt AS (
      |  SELECT source, CAST(SUM(len(ts)) AS BIGINT) AS n_tokens
      |  FROM d GROUP BY source),
      |tokd AS (
      |  SELECT d.source, COUNT(DISTINCT t.tok) AS n_distinct_tokens
      |  FROM d, UNNEST(d.ts) AS t(tok) GROUP BY d.source),
      |tri AS (
      |  SELECT d.source,
      |    COUNT(*) AS n_trigrams,
      |    COUNT(DISTINCT g.tri) AS n_distinct_trigrams
      |  FROM d, UNNEST(list_transform(range(1, len(d.ts) - 1),
      |    i -> d.ts[i] || ' ' || d.ts[i+1] || ' ' || d.ts[i+2])) AS g(tri)
      |  WHERE len(d.ts) >= 3
      |  GROUP BY d.source),
      |nd AS (SELECT source, COUNT(*) AS n_docs FROM documents
      |       GROUP BY source)
      |SELECT nd.source, nd.n_docs, tokt.n_tokens,
      |  tokd.n_distinct_tokens, tri.n_trigrams, tri.n_distinct_trigrams,
      |  CAST(1000000 * tokd.n_distinct_tokens // tokt.n_tokens
      |    AS BIGINT) AS ttr_ppm,
      |  CAST(1000000 * tri.n_distinct_trigrams // tri.n_trigrams
      |    AS BIGINT) AS tri_ttr_ppm
      |FROM nd JOIN tokt USING (source) JOIN tokd USING (source)
      |  JOIN tri USING (source)
      |ORDER BY nd.source""".stripMargin

  /** Shannon character entropy per document, integer micro-nats —
    * the CCNet-family junk detector `quality_score`'s ratios miss:
    * low entropy flags repeated-char padding / template boilerplate /
    * single-char floods even when length and punctuation look normal.
    *
    * Scale shape: ZERO shuffles. The entropy is a per-row scalar
    * computed by the codegen'd [[graft.functions.CharEntropyMicro]]
    * expression inside the scan stage (a char-level explode+groupBy
    * would shuffle one row per CHARACTER — a full-corpus-sized
    * shuffle at 100 TB); the only exchange is the output ORDER BY,
    * which the driver-gate's sorted compare needs anyway.
    *
    * Determinism: per-char terms quantized to micro-nat LONGs before
    * the order-independent integer sum (the tf_idf idf_micro idiom);
    * final divide is integral with positive operands. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        graft.functions.CharEntropyMicro.entropy(col("text"))
          .as("entropy_micro"))
      .orderBy(col("doc_id"))

  val charEntropySql: String =
    """WITH ch AS (
      |  SELECT doc_id, substr(text, CAST(g AS INT), 1) AS c
      |  FROM documents, UNNEST(range(1, length(text) + 1)) AS t(g)),
      |cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
      |terms AS (
      |  SELECT doc_id,
      |    CAST(SUM(CAST(round(k * ln(CAST(k AS DOUBLE)) * 1000000)
      |      AS BIGINT)) AS BIGINT) AS s
      |  FROM cnt GROUP BY 1),
      |n AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars
      |      FROM documents)
      |SELECT n.doc_id, n.n_chars,
      |  CASE WHEN n.n_chars = 0 THEN 0
      |    ELSE CAST(round(ln(CAST(n.n_chars AS DOUBLE)) * 1000000) AS BIGINT)
      |      - (terms.s // n.n_chars) END AS entropy_micro
      |FROM n LEFT JOIN terms USING (doc_id)
      |ORDER BY n.doc_id""".stripMargin

  /** EXACT two-sample Kolmogorov-Smirnov drift per source: the sup
    * distance between a source's `n_chars` empirical CDF and the CDF
    * of ALL OTHER sources (leave-one-out — comparing against a pool
    * that contains the source itself dilutes the very drift being
    * measured), reported in integer ppm. The ingest-QA gate a 100 TB
    * pipeline runs before admitting a new crawl snapshot or vendor
    * drop: a length-profile shift is the cheapest early warning that
    * a source changed extraction, truncation, or boilerplate behavior
    * (quality_calibrate ranks WITHIN sources; this detects a source
    * whose whole distribution moved).
    *
    * Exactness: the KS sup runs over every support point with
    * cross-multiplied INTEGER CDFs — |scum·(n−ns) − (gcum−scum)·ns| —
    * so there is no float CDF, no interpolation, and both engines
    * agree to the last ppm (integral DIV of positive operands, the
    * eventsMovingAvg sign discipline); products ride DECIMAL(38,0) /
    * HUGEINT (the events_anomaly widening) since cum·n reaches N²
    * past BIGINT at real corpus counts.
    *
    * Scale shape: histogram aggs are one partial+final shuffle each;
    * every window runs over DOMAIN-BOUNDED rows — the global CDF over
    * distinct n_chars values, the per-source CDF over the
    * |sources|×|support| grid (the grid is a broadcast cross join of
    * two fixed-domain relations, never corpus-sized; the
    * events_gap_stats cross-join-broadcast idiom) — so the corpus is
    * touched by exactly one linear histogram pass. */
  def driftKs(spark: SparkSession, dir: String): DataFrame =
    ksBySource(docs(spark, dir))

  /** Core of [[driftKs]] over any (source, n_chars) frame — factored
    * for the planted-corpus spec (identical ⇒ 0; disjoint ⇒ 10⁶). */
  def ksBySource(docsDf: DataFrame): DataFrame = {
    val d = docsDf.select(col("source"), col("n_chars").as("c"))
    // EVERY derived relation (per-source totals, support, global CDF,
    // corpus count) re-aggregates the HISTOGRAM, not the corpus, so
    // the corpus genuinely contributes ONE scan (ksOfHist checkpoints
    // the histogram) — without materialization Catalyst re-scans the
    // parquet under each derived subtree (the filter-pushdown
    // differences defeat ReuseExchange; measured 5 column-pruned
    // corpus scans in the unmaterialized plan)
    ksOfHist(d.groupBy(col("source"), col("c"))
      .agg(count(lit(1)).as("cnt")))
  }

  /** The KS algebra over a (source, c, cnt) histogram — factored so
    * the streaming twin ([[graft.streaming.IngestStreaming
    * .driftHistStream]] maintains the histogram as bounded stream
    * state) hands its cells to the IDENTICAL scoring path.
    *
    * The input is eagerly `localCheckpoint`ed, NOT `persist`ed:
    * (a) the five derived subtrees then read the materialized
    * domain-bounded rows instead of re-running the upstream plan;
    * (b) checkpoint blocks are reference-tracked and freed by the
    * ContextCleaner once the result is unreachable, where a
    * CacheManager `persist` with no unpersist path would pin storage
    * per invocation for the session lifetime; and (c) the checkpoint
    * is a LogicalRDD — a MultiInstanceRelation — so the self-joins
    * below resolve even for inputs whose leaf cannot deduplicate
    * attributes (a streaming memory-sink view trips Catalyst's
    * conflicting-reference check if handed here raw). */
  def ksOfHist(histDf: DataFrame): DataFrame = {
    val shist = histDf.localCheckpoint()
    val ns = shist.groupBy(col("source")).agg(sum(col("cnt")).as("ns"))
    val support = shist.select(col("c")).distinct()
    val gcum = shist.groupBy(col("c")).agg(sum(col("cnt")).as("gcnt"))
      .select(col("c"),
        sum(col("gcnt")).over(Window.orderBy(col("c"))).as("gcum"))
    val tot = shist.agg(sum(col("cnt")).as("n"))
    val scum = ns.crossJoin(broadcast(support))
      .join(shist, Seq("source", "c"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("scum", sum(col("cnt")).over(
        Window.partitionBy(col("source")).orderBy(col("c"))))
    scum.join(broadcast(gcum), Seq("c"))
      .crossJoin(broadcast(tot))
      .withColumn("dist", expr(
        "ABS(CAST(scum AS DECIMAL(38,0)) * (n - ns) - " +
          "CAST(gcum - scum AS DECIMAL(38,0)) * ns)"))
      .groupBy(col("source"))
      .agg(max(col("ns")).as("n_docs"), max(col("n")).as("n_all"),
        max(col("dist")).as("ks_num"))
      // single-source corpus: n_all == n_docs leaves no "rest" CDF to
      // drift from — 0 by definition, never a NULL through a 0 DIV 0
      .withColumn("ks_ppm", expr(
        "CASE WHEN n_all = n_docs THEN CAST(0 AS BIGINT) ELSE " +
          "CAST((ks_num * 1000000) DIV (CAST(n_docs AS DECIMAL(38,0)) * " +
          "(n_all - n_docs)) AS BIGINT) END"))
      .select(col("source"), col("n_docs"), col("ks_ppm"))
      .orderBy(col("source"))
  }

  /** The KS-score SQL over any (source, c) CTE — factored so the
    * events-value twin ([[EventQueries.eventsDriftKs]]) replays the
    * identical algebra over a different domain. `keyAlias`/`nAlias`
    * rename the output columns for the consumer's schema. */
  def driftKsSqlOver(srcSelect: String, keyAlias: String,
      nAlias: String): String =
    s"""WITH d AS ($srcSelect),
      |sup AS (SELECT DISTINCT c FROM d),
      |ns AS (SELECT source, COUNT(*) AS ns FROM d GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n FROM d),
      |shist AS (SELECT source, c, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
      |scum AS (
      |  SELECT g.source, g.ns, g.c,
      |    SUM(COALESCE(s.cnt, 0)) OVER (
      |      PARTITION BY g.source ORDER BY g.c) AS scum
      |  FROM (SELECT ns.source, ns.ns, sup.c FROM ns CROSS JOIN sup) g
      |  LEFT JOIN shist s ON s.source = g.source AND s.c = g.c),
      |gcum AS (
      |  SELECT c, SUM(gcnt) OVER (ORDER BY c) AS gcum
      |  FROM (SELECT c, COUNT(*) AS gcnt FROM d GROUP BY 1)),
      |j AS (
      |  SELECT scum.source, scum.ns, tot.n,
      |    ABS(CAST(scum.scum AS HUGEINT) * (tot.n - scum.ns) -
      |        CAST(gcum.gcum - scum.scum AS HUGEINT) * scum.ns) AS dist
      |  FROM scum JOIN gcum USING (c) CROSS JOIN tot)
      |SELECT source AS $keyAlias, MAX(ns) AS $nAlias,
      |  CASE WHEN MAX(n) = MAX(ns) THEN CAST(0 AS BIGINT)
      |    ELSE CAST((MAX(dist) * 1000000) //
      |      (CAST(MAX(ns) AS HUGEINT) * (MAX(n) - MAX(ns))) AS BIGINT)
      |  END AS ks_ppm
      |FROM j GROUP BY source ORDER BY $keyAlias""".stripMargin

  val driftKsSql: String = driftKsSqlOver(
    "SELECT source, n_chars AS c FROM documents", "source", "n_docs")

}
