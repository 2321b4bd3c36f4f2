package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** The mrjob example workload (SURVEY §2.3) re-expressed declaratively
  * over the `documents` table.
  *
  * Reference semantics (cited per query) come from
  * /root/reference/mrjob/examples/; execution is Spark-first: tokenize
  * with built-in array functions (codegen'd, no UDFs), aggregate with
  * partial+final hash agg (what mrjob's combiner+reducer hand-build,
  * mrjob/spark/harness.py:439-509), broadcast small lookup sets (what
  * mrjob ships as task files), and use window functions where the
  * reference needed SORT_VALUES marker-key tricks.
  *
  * Tokenization contract with the oracle: documents.text is
  * single-space separated lowercase words (driver synthetic data), so
  * `split(text, ' ')` here == `string_split(text, ' ')` in DuckDB.
  */
object TextQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Stop-word set for most_used_word — analog of the FILES-shipped
    * stop_words.txt broadcast membership test
    * (mr_most_used_word.py:33-59). Small dim → broadcast anti join. */
  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  private def stopWordsSqlList: String =
    StopWords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** word_freq: the classic word count (mr_word_freq_count.py:23-33).
    * explode → groupBy → count; map-side partial agg replaces the
    * combiner. */
  def wordFreq(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("word"))

  val wordFreqSql: String =
    """SELECT word, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |GROUP BY word
      |ORDER BY word""".stripMargin

  /** wc: chars/words/lines totals (mr_wc.py:19-41) — global agg, no
    * grouping; mapper_final's in-task counting is the map-side partial
    * sum Spark does automatically. */
  def wc(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).agg(
      count(lit(1)).as("lines"),
      sum(size(split(col("text"), " "))).as("words"),
      sum(length(col("text"))).as("chars"))

  val wcSql: String =
    """SELECT COUNT(*) AS lines,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS words,
      |  CAST(SUM(length(text)) AS BIGINT) AS chars
      |FROM documents""".stripMargin

  /** most_used_word (mr_most_used_word.py:32-88): count words, drop
    * stop words (broadcast anti membership), take the global argmax
    * with a deterministic tie-break — sort-limit, not a single
    * reducer. */
  def mostUsedWord(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(!col("word").isInCollection(StopWords))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(1)

  val mostUsedWordSql: String =
    s"""SELECT word, COUNT(*) AS n
       |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
       |WHERE word NOT IN ${stopWordsSqlList}
       |GROUP BY word
       |ORDER BY n DESC, word ASC
       |LIMIT 1""".stripMargin

  /** grep (mr_grep.py:21-38): pure selection, pushed to the scan. */
  def grep(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("text").contains("window") && col("lang") === "en")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  val grepSql: String =
    """SELECT doc_id, lang, n_chars
      |FROM documents
      |WHERE text LIKE '%window%' AND lang = 'en'
      |ORDER BY doc_id""".stripMargin

  /** next_word_stats (mr_next_word_stats.py:28-96): bigram counts plus
    * the share of each next word. The reference needs SORT_VALUES and a
    * ('prev','*') marker key so the total arrives first; here the total
    * is a window sum over the grouped counts — one shuffle, no marker
    * rows. */
  def nextWordStats(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(split(col("text"), " ").as("ts"))
    val pairs = toks
      .filter(size(col("ts")) >= 2)
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1).as("prev_word"),
        slice(col("ts"), lit(2), size(col("ts")) - 1).as("word"))).as("p"))
      .select(col("p.prev_word"), col("p.word"))
    val counts = pairs.groupBy(col("prev_word"), col("word"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("prev_word"))
    counts
      .withColumn("total", sum(col("n")).over(w))
      .withColumn("pct",
        col("n").cast("double") / col("total").cast("double"))
      .orderBy(col("prev_word"), col("word"))
  }

  val nextWordStatsSql: String =
    """WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
      |pairs AS (
      |  SELECT unnest(list_zip(ts[1:length(ts)-1], ts[2:length(ts)])) AS p
      |  FROM toks WHERE length(ts) >= 2),
      |counts AS (
      |  SELECT p[1] AS prev_word, p[2] AS word, COUNT(*) AS n
      |  FROM pairs GROUP BY 1, 2)
      |SELECT prev_word, word, n,
      |  CAST(SUM(n) OVER (PARTITION BY prev_word) AS BIGINT) AS total,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_word) AS DOUBLE) AS pct
      |FROM counts
      |ORDER BY prev_word, word""".stripMargin

  /** sort_and_group (tests/mr_sort_and_group.py:18-26): values
    * collected per key in sorted order — collect_set + sort_array
    * replaces the SORT_VALUES shuffle contract. Output contract is the
    * comma-joined string (not a list column): the reference emits a
    * serialized line per key anyway, and a scalar column keeps the
    * row hashable for any downstream consumer. */
  def sortAndGroup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("lang"))
      .agg(array_join(sort_array(collect_set(col("source"))), ",")
          .as("sources"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  val sortAndGroupSql: String =
    """SELECT lang,
      |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
      |  COUNT(*) AS n_docs
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** count_lines_by_file (mr_count_lines_by_file.py:19-26): per-input
    * grouping; `source` stands in for mapreduce.map.input.file (the
    * real input_file_name() variant is inputFileCounts below). */
  def countBySource(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"))

  val countBySourceSql: String =
    """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** File-group count of the deterministic input layout below. */
  val InputFixtureBuckets = 8

  /** Deterministic multi-file text layout derived from `documents`:
    * one line per doc, file group = doc_id % [[InputFixtureBuckets]]
    * (a partitionBy dir per group). Written once per sf dir
    * (marker-checked), GraftFs-resolved like the WET fixture. */
  def ensureInputFixture(spark: SparkSession, dir: String): String = {
    val out = graft.sources.GraftFs.scratchDir(spark,
      "graft_infiles_v1_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
    val fs = graft.sources.GraftFs(spark)
    if (!fs.exists(s"$out/_SUCCESS")) {
      docs(spark, dir)
        .select(col("doc_id").cast("string").as("value"),
          (col("doc_id") % InputFixtureBuckets).as("bucket"))
        .write.mode("overwrite").partitionBy("bucket").text(out)
    }
    out
  }

  /** input_file_name() parity for mapreduce.map.input.file
    * (harness.py:306-325) — per-input-group row counts. Oracle-able via
    * the phone_to_url fixture trick: the inputs are the deterministic
    * file layout of [[ensureInputFixture]] (a pure function of
    * `documents`), so the engine side round-trips through REAL file
    * paths — read text files, take input_file_name(), map path → input
    * group — while the expected counts are plain SQL over the table.
    * Aggregation is at the partition-dir granularity because the part-
    * file NAMES inside a group are writer-nondeterministic (task ids),
    * exactly like mapreduce.map.input.file over a dir of splits. */
  /** True iff the glob matches at least one path — an EMPTY corpus
    * writes only `_SUCCESS` (no partition dirs), and reading a
    * zero-match glob throws PATH_NOT_FOUND instead of yielding an
    * empty frame (empty-corpus totality sweep, r7). */
  private def globNonEmpty(spark: SparkSession, pattern: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.globStatus(p)
    st != null && st.nonEmpty
  }

  def inputFileCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val fix = ensureInputFixture(spark, dir)
    if (!globNonEmpty(spark, s"$fix/bucket=*"))
      return Seq.empty[(String, Long)].toDF("file", "n_rows")
    spark.read.text(s"$fix/bucket=*")
      .select(regexp_extract(input_file_name(), "(bucket=\\d+)", 1).as("file"))
      .groupBy(col("file")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("file"))
  }

  val inputFileCountsSql: String =
    s"""SELECT 'bucket=' || CAST(doc_id % $InputFixtureBuckets AS VARCHAR) AS file,
       |  COUNT(*) AS n_rows
       |FROM documents
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** log_sampler (mr_log_sampler.py:32-120): the reference reservoir-
    * samples with a seeded RNG; distributed + oracle-deterministic
    * analog is a systematic hash sample (same idea at 100 TB: sampling
    * must not funnel through one reducer). */
  def sample(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(col("doc_id") % 17 === 3)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))

  val sampleSql: String =
    """SELECT doc_id, lang, source
      |FROM documents
      |WHERE doc_id % 17 = 3
      |ORDER BY doc_id""".stripMargin

  /** Seeded random sample — the log_sampler parity the systematic
    * [[sample]] doesn't give (mr_log_sampler.py:32-120 reservoir-samples
    * n items with a seeded RNG). Distributed equivalent: order by a
    * seeded affine hash of the id and keep the n smallest — a uniform
    * seeded sample that never funnels through one reducer (TakeOrdered
    * does per-partition top-n before the merge). The hash is
    * (id mod P)·A + B mod P with seed-derived A, B over prime
    * P = 2³¹−1 — a permutation of Z_P that BOTH engines can compute,
    * so the sample is fully oracled, unlike an engine-defined
    * xxhash64 key. Every operand stays under 2⁶² for ANSI mode. */
  val SamplePrime: Long = 2147483647L

  def sampleHashConstants(seed: Long): (Long, Long) = {
    val rng = new scala.util.Random(seed)
    (math.abs(rng.nextLong() % (SamplePrime - 1)) + 1,
      math.abs(rng.nextLong() % SamplePrime))
  }

  /** The seeded affine permutation as ONE shared Column helper:
    * `pmod(pmod(id, P)·a + b, P)` — non-negative for ANY id sign.
    * Every seeded-hash consumer (samples, splits, mixtures, k-means
    * init, SimHash's first layer) must build the hash HERE so the
    * Scala and SQL twins cannot drift apart site by site. */
  def seededHashCol(idCol: Column, seed: Long): Column = {
    val (a, b) = sampleHashConstants(seed)
    pmod(pmod(idCol, lit(SamplePrime)) * a + b, lit(SamplePrime))
  }

  /** The DuckDB twin of [[seededHashCol]]. The inner
    * `((id % P) + P) % P` mirrors Spark's pmod exactly: DuckDB `%` is
    * C-style (sign of the dividend), so a plain `id % P` diverges
    * from pmod on negative ids — a live regime, since corpusMerge /
    * tableDiff mint a NEGATIVE doc_id insert namespace. For
    * non-negative ids this reduces to the historical plain-% form,
    * so existing oracles are value-identical. */
  def seededHashSqlExpr(idExpr: String, seed: Long): String = {
    val (a, b) = sampleHashConstants(seed)
    s"((($idExpr) % $SamplePrime + $SamplePrime) % $SamplePrime" +
      s" * $a + $b) % $SamplePrime"
  }

  def seededSample(spark: SparkSession, dir: String, n: Int = 25,
      seed: Long = 42L): DataFrame = {
    docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        seededHashCol(col("doc_id"), seed).as("__h"))
      .orderBy(col("__h"), col("doc_id"))
      .limit(n)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  val seededSampleSql: String =
    s"""SELECT doc_id, lang, source FROM (
       |  SELECT doc_id, lang, source
       |  FROM documents
       |  ORDER BY ${seededHashSqlExpr("doc_id", 42L)}, doc_id
       |  LIMIT 25) t
       |ORDER BY doc_id""".stripMargin

  /** words_containing_u (mr_words_containing_u_freq_count.py:24-34):
    * word freq restricted to words containing 'u'. The reference does
    * this with a `grep u` mapper_pre_filter shell substep; the engine
    * expresses the pre-filter declaratively so it rides the scan
    * (the shell form is `MrStep.mapperPreFilter`). */
  def wordsContainingU(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word").contains("u"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("word"))

  val wordsContainingUSql: String =
    """SELECT word, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |WHERE word LIKE '%u%'
      |GROUP BY word
      |ORDER BY word""".stripMargin

  /** nick_nack (examples/mr_nick_nack.py:28-48): word counts routed to
    * a SEPARATE output file per first letter — the
    * MultipleValueOutputFormat workload, whose Spark-native form is
    * `write.partitionBy`. The query writes the partitioned layout to
    * scratch (marker-cached per sf dir), reads it BACK through the
    * partition-discovery scan, and returns per-letter totals — so the
    * gate covers the actual multi-output file round-trip, while the
    * result stays SQL-derivable straight from `documents`. */
  def nickNack(spark: SparkSession, dir: String): DataFrame = {
    // version-tagged, GraftFs-resolved scratch (same rationale as
    // PhoneToUrl's fixture): works on any FileSystem scheme the
    // cluster reads — a bare java.io.tmpdir write breaks off local mode
    val out = graft.sources.GraftFs.scratchDir(spark,
      "graft_nicknack_v1_" + dir.replaceAll("[^A-Za-z0-9.]", "_"))
    val fs = graft.sources.GraftFs(spark)
    if (!fs.exists(s"$out/_SUCCESS")) {
      docs(spark, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .select(substring(col("word"), 1, 1).as("first_letter"),
          concat_ws("\t", col("word"), col("n")).as("value"))
        .write.mode("overwrite").partitionBy("first_letter").text(out)
    }
    if (!globNonEmpty(spark, s"$out/first_letter=*")) {
      import spark.implicits._
      return Seq.empty[(String, Long, Long)]
        .toDF("first_letter", "n_words", "total")
    }
    spark.read
      .option("basePath", out).text(s"$out/first_letter=*")
      .select(col("first_letter").cast("string"),
        split(col("value"), "\t").getItem(1).cast("long").as("n"))
      .groupBy(col("first_letter"))
      .agg(count(lit(1)).as("n_words"), sum(col("n")).as("total"))
      .orderBy(col("first_letter"))
  }

  val nickNackSql: String =
    """SELECT substr(word, 1, 1) AS first_letter,
      |  COUNT(*) AS n_words,
      |  CAST(SUM(n) AS BIGINT) AS total
      |FROM (
      |  SELECT word, COUNT(*) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
      |  GROUP BY word) c
      |GROUP BY first_letter
      |ORDER BY first_letter""".stripMargin

  /** Stratified systematic sample: every 5th doc per language in
    * doc_id order — per-stratum sampling with exact per-stratum
    * control (the deterministic analog of sampleBy fractions; at
    * 100 TB the window is one shuffle on the stratum key). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
    docs(spark, dir)
      .select(col("doc_id"), col("lang"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") % 5 === 1)
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy(col("lang"), col("doc_id"))
  }

  val stratifiedSampleSql: String =
    """SELECT doc_id, lang, rn FROM (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id ASC) AS rn
      |  FROM documents) t
      |WHERE rn % 5 = 1
      |ORDER BY lang, doc_id""".stripMargin

  /** n-gram generation (n=3): the general form of the bigram pattern
    * (mr_text_classifier NGRAM handling); counts of word trigrams. */
  def trigramCounts(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(split(col("text"), " ").as("ts"))
    toks.filter(size(col("ts")) >= 3)
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 2).as("w1"),
        slice(col("ts"), lit(2), size(col("ts")) - 2).as("w2"),
        slice(col("ts"), lit(3), size(col("ts")) - 2).as("w3"))).as("g"))
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .orderBy(col("w1"), col("w2"), col("w3"))
  }

  val trigramCountsSql: String =
    """WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
      |grams AS (
      |  SELECT unnest(list_zip(ts[1:length(ts)-2], ts[2:length(ts)-1],
      |    ts[3:length(ts)])) AS g
      |  FROM toks WHERE length(ts) >= 3)
      |SELECT g[1] AS w1, g[2] AS w2, g[3] AS w3, COUNT(*) AS n
      |FROM grams
      |GROUP BY 1, 2, 3
      |HAVING COUNT(*) >= 5
      |ORDER BY w1, w2, w3""".stripMargin

  /** tf-idf (mr_text_classifier.py's ngram scoring distilled, SURVEY
    * §2.3): tf per (doc, term) joined with document frequency — the
    * tag-union reduce-side join done as a real join. df is VOCAB-sized:
    * unbounded at corpus scale (10⁸⁺ distinct terms at 100 TB), so no
    * broadcast hint — tf and df already share `term` partitioning from
    * their aggregations, and AQE may still broadcast when df is
    * actually small. Only the single-row corpus count is hinted. */
  def tfIdf(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // corpus size as a broadcast scalar relation — no driver-side
    // action (a .count() here would run an extra job per invocation)
    val n = d.select(count(lit(1)).as("n"))
    val terms = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      // idf quantized once per term to micro-nats (integer), so the
      // per-row product is exact integer math — round(double, 6) per
      // row diverges between engines at half boundaries
      .withColumn("idf_micro",
        round(log(col("n").cast("double") / col("df").cast("double"))
          * 1000000d).cast("long"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") * col("idf_micro")).as("tf_idf_micro"))
      .orderBy(col("doc_id"), col("term"))
  }

  val tfIdfSql: String =
    """WITH terms AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |  tf.tf * CAST(round(ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) * 1000000) AS BIGINT) AS tf_idf_micro
      |FROM tf JOIN df USING (term) CROSS JOIN n
      |ORDER BY tf.doc_id, tf.term""".stripMargin

  /** Inverted index (the classic MR workload): word → document
    * frequency + a CAPPED sorted posting list. The cap (first 100
    * doc ids) is the scale guard — an uncapped posting string for a
    * corpus-wide word is a GB-sized row at 100 TB; a real index
    * shards postings into fixed-size array chunks, and the capped
    * prefix keeps this query's output row-bounded while still
    * exercising the distinct+group+sort shape. One distinct shuffle
    * on (word, doc) + one word-keyed agg. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .distinct()
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"),
        concat_ws(",", slice(sort_array(collect_set(col("doc_id"))),
          1, 100).cast("array<string>")).as("posting"))
      .orderBy(col("word"))

  val invertedIndexSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |p AS (SELECT DISTINCT doc_id, word FROM w WHERE len(word) > 0)
      |SELECT word, COUNT(*) AS df,
      |  array_to_string(list_sort(list(doc_id))[1:100], ',') AS posting
      |FROM p GROUP BY word
      |ORDER BY word""".stripMargin

  /** Triangle count over the word-adjacency graph (edges = distinct
    * unordered adjacent-word pairs) — the classic distributed graph
    * kernel. The Spark plan uses the Schank-Wagner DEGREE ORDERING:
    * every edge is oriented low→high by (degree, word), wedges are
    * enumerated from each node's out-neighbors only, and a final
    * equi-join closes them. Orientation bounds every node's
    * out-degree by O(√|E|) — on a power-law graph the hub that would
    * generate deg² wedges under naive enumeration generates almost
    * none, which is what keeps the wedge table linear-ish at 100 TB.
    * The count is orientation-invariant (each triangle has exactly
    * one source under any total order), so the oracle can use the
    * plain canonical u<v<w closure. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
    val edges = toks
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
          "i -> named_struct('a', least(element_at(ts, i), element_at(ts, i + 1)), " +
          "'b', greatest(element_at(ts, i), element_at(ts, i + 1))))")).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      // drop self-pairs AND empty tokens (consecutive spaces would
      // inject a "" vertex)
      .filter(col("a") =!= col("b") &&
        length(col("a")) > 0 && length(col("b")) > 0).distinct()
    // degree-ordered orientation: src = lower (deg, word)
    val deg = edges.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val oriented = edges
      .join(deg.withColumnRenamed("v", "a").withColumnRenamed("d", "da"), Seq("a"))
      .join(deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))
    val w1 = oriented.select(col("src"), col("dst").as("x"))
    val w2 = oriented.select(col("src"), col("dst").as("y"))
    val wedges = w1.join(w2, Seq("src")).filter(col("x") < col("y"))
    // close each wedge: is (x, y) an edge? (wedges already satisfy
    // x < y from the filter above; edges carry a < b by construction)
    val closing = edges.select(col("a").as("x"), col("b").as("y"))
    wedges
      .join(closing, Seq("x", "y"))
      .agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_triangles"), col("n_edges"), col("n_nodes"))
  }

  val triangleCountSql: String =
    """WITH t AS (
      |  SELECT string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |pairs AS (
      |  SELECT LEAST(ts[i], ts[i+1]) AS a, GREATEST(ts[i], ts[i+1]) AS b
      |  FROM t, UNNEST(range(1, len(ts))) o(i)),
      |e AS (SELECT DISTINCT a, b FROM pairs
      |      WHERE a <> b AND length(a) > 0 AND length(b) > 0),
      |tri AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3
      |    ON e3.a = e1.a AND e3.b = e2.b),
      |ne AS (SELECT COUNT(*) AS n_edges FROM e),
      |nn AS (SELECT COUNT(*) AS n_nodes FROM
      |  (SELECT DISTINCT v FROM (SELECT a AS v FROM e
      |    UNION SELECT b AS v FROM e)))
      |SELECT n_triangles, n_edges, n_nodes FROM tri, ne, nn""".stripMargin

  // ---------------- dictionary keyword tagging ----------------

  /** The tag dictionary (a fixed topic lexicon — the multi-pattern
    * grep surface: one pass, every pattern at once). */
  val TagKeywords: Seq[String] =
    Seq("spark", "query", "data", "join", "stream", "filter")

  /** Multi-keyword document tagging: per (doc, keyword) hit counts for
    * a dictionary of keywords — the multi-pattern generalization of
    * [[grep]] (one regex, one pass) that content tagging / topic
    * routing pipelines run. Emits only matching (doc, keyword) pairs.
    *
    * Scale: the dictionary is broadcast (fixed-cardinality literal
    * relation — the bounded-side exception PlanSpec allows), tokens
    * stream through one explode + broadcast-hash-join with NO shuffle
    * of the corpus side, then one partial-agg shuffle on
    * (doc_id, keyword). A real engine swaps the equi-join for an
    * Aho-Corasick automaton once patterns are substrings; for
    * token-level dictionaries the join IS the automaton. */
  def keywordTag(spark: SparkSession, dir: String): DataFrame = {
    val kw = spark.createDataFrame(
      TagKeywords.map(Tuple1.apply)).toDF("keyword")
    docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(kw), col("tok") === col("keyword"))
      .groupBy(col("doc_id"), col("keyword"))
      .agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"), col("keyword"))
  }

  val keywordTagSql: String = {
    val inList = TagKeywords.map(k => s"'$k'").mkString(", ")
    s"""SELECT doc_id, tok AS keyword, COUNT(*) AS n_hits
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |      FROM documents) t
       |WHERE tok IN ($inList)
       |GROUP BY doc_id, tok
       |ORDER BY doc_id, keyword""".stripMargin
  }
}
