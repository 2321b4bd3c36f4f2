package graft.operators

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Distributed BPE vocabulary induction (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * the tokenizer-training step of an LM data pipeline, run where it
  * actually scales: over the WORD-FREQUENCY table, not the corpus.
  *
  * Shape: ONE corpus-wide explode+groupBy builds the distinct-word
  * freq table (at 100 TB that is the standard compaction — ~10⁷
  * distinct words regardless of corpus size, each carrying its
  * count), then every merge round is
  *   1. adjacent-pair counts: explode pairs per word × word freq,
  *      partial+final agg (map-side combine does the heavy lifting —
  *      pair cardinality is far below occurrence cardinality);
  *   2. argmax pair with a DETERMINISTIC tie-break (count desc, then
  *      pair lexicographic asc) via sort-limit (TakeOrdered, no
  *      global sort), ONE row to the driver — the algorithm's
  *      inherent sync point, one tiny row per round;
  *   3. apply the merge to every word's segmentation — a codegen'd
  *      regexp_replace with lookaround boundaries (spaces delimit
  *      symbols; lookarounds don't consume the shared delimiter, so
  *      left-to-right non-overlapping replacement matches the
  *      reference algorithm's merge order exactly).
  * Each round's segmentation is `localCheckpoint`ed and the previous
  * round dropped. Checkpointing (not mere persist) is load-bearing:
  * persist caches row data but leaves the LOGICAL plan nesting all k
  * rounds of regexp_replace, so per-round analysis/optimize/codegen
  * doubles (measured: 0.5 s/round through round 9, 47 s by round 16);
  * localCheckpoint truncates the plan to a LogicalRDD leaf and holds
  * per-round cost flat. Driver holds only the merge table (K rows).
  *
  * Cross-engine note: the merge regex needs lookbehind, which RE2
  * (DuckDB) lacks — the oracle substitutes a delimiter-doubling
  * `replace()` equivalence (see [[bpeEncodeSql]]) and unrolls the K
  * data-dependent argmax rounds as materialized CTEs, so BOTH
  * `bpe_vocab` (the merge table, [[bpeVocabSql]]) and `bpe_encode`
  * are fully oracled; the spec additionally pins the merge table
  * against a pure-Scala reference implementation of the published
  * algorithm on planted corpora.
  */
object BpeOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Number of merges the registered rows learn/apply. */
  val Merges = 16

  /** Learn `merges` BPE merges from any (text) frame; returns the
    * merge table (rank, left, right, merged, pair_count). */
  def learnMerges(d: DataFrame, merges: Int): Seq[(Int, String, String, Long)] = {
    val (table, words) = learnLoop(d, merges)
    words.unpersist(blocking = false)
    table
  }

  /** The learner loop, also yielding the final per-word segmentation
    * it just materialized — (merge table, checkpointed (w, seg, freq)
    * vocab). bpeEncode consumes the vocab directly instead of
    * re-deriving it (a review catch: the old path re-exploded the
    * corpus, re-distinct'd the vocab, and re-applied every merge as
    * 16 vocab-wide regex passes of pure duplicated work). The caller
    * OWNS the returned DataFrame's cache and must unpersist it. */
  private def learnLoop(d: DataFrame, merges: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val spark = d.sparkSession
    // distinct-word frequency table; initial segmentation = one
    // symbol per character, space-delimited, with an end-of-word
    // marker so prefix and full-word subwords stay distinct
    var words = d
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      // "(?s)(.)" -> "$1 " spaces every char (split(w, "") leaves a
      // trailing empty element under Spark's limit=-1; DOTALL so a
      // token carrying an embedded line terminator still segments
      // per char — without (?s) "a\nb" became ["a","\nb"], diverging
      // from the per-char reference the spec pins); end-of-word
      // marker keeps prefix and full-word subwords distinct.
      // Contract note: `.` matches a CODE POINT, so non-BMP chars
      // are one symbol here vs two UTF-16 chars in a naive
      // per-Char split — the spec's reference iterates code points.
      .select(col("w"),
        concat(regexp_replace(col("w"), "(?s)(.)", "$1 "), lit("</w>"))
          .as("seg"), col("freq"))
      .localCheckpoint()
    val out = Seq.newBuilder[(Int, String, String, Long)]
    var k = 0
    var exhausted = false
    val dbg = sys.env.contains("SPARK_GRAFT_BPE_DEBUG")
    while (k < merges && !exhausted) {
      val tRound = System.nanoTime()
      val best = words
        .select(col("freq"), split(col("seg"), " ").as("ts"))
        .select(col("freq"), explode(
          when(size(col("ts")) < 2, array().cast("array<string>"))
            .otherwise(transform(sequence(lit(1), size(col("ts")) - 1),
              i => concat_ws(" ", element_at(col("ts"), i),
                element_at(col("ts"), i + 1))))).as("p"))
        .groupBy(col("p")).agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("p").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        out += ((k, a, b, cnt))
        val pat = "(?<= )" + Pattern.quote(a) + " " + Pattern.quote(b) +
          "(?= )"
        val next = words
          .select(col("w"), trim(regexp_replace(
            concat(lit(" "), col("seg"), lit(" ")),
            pat, java.util.regex.Matcher.quoteReplacement(a + b)))
            .as("seg"), col("freq"))
          .localCheckpoint() // eager: materializes + truncates lineage
        words.unpersist(blocking = false)
        words = next
        k += 1
      }
      if (dbg) System.err.println(
        f"[bpe] round $k: ${(System.nanoTime() - tRound) / 1e9}%.2f s")
    }
    (out.result(), words)
  }

  /** Per-(session, dir, merges) memo of the learner-loop products —
    * (merge table, final checkpointed segmentation): the registered
    * `bpe_vocab` and `bpe_encode` rows train the IDENTICAL
    * deterministic recurrence over the identical corpus, and each ran
    * all K rounds from scratch (the clusterLabels/corpusCentroids
    * pattern — a production pipeline trains its tokenizer once). The
    * memo owns the words relation's checkpoint (callers must NOT
    * unpersist it); spec paths that learn over arbitrary frames keep
    * using [[learnMerges]]/[[learnLoop]] directly. */
  private val learnerMemo =
    new Memo[(String, Int), (Seq[(Int, String, String, Long)], DataFrame)]

  private[graft] def learnedForDir(spark: SparkSession, dir: String,
      merges: Int): (Seq[(Int, String, String, Long)], DataFrame) =
    learnerMemo(spark, (dir, merges))(learnLoop(docs(spark, dir), merges))

  /** Registered query: the merge table as a DataFrame. Fully oracled
    * since round 7: [[bpeVocabSql]] reads the (pair, rank, count)
    * rows out of the same unrolled per-round argmax CTEs that already
    * oracle [[bpeEncode]] — the "lookbehind + data-dependent rounds
    * don't fit SQL" rows-only justification was defeated by its own
    * twin (round-6 verdict #2): the merge table IS computed in DuckDB,
    * it just wasn't being emitted. */
  def bpeVocab(spark: SparkSession, dir: String,
      merges: Int = Merges): DataFrame = {
    import spark.implicits._
    learnedForDir(spark, dir, merges)._1
      .map { case (r, a, b, c) => (r.toLong, a, b, a + b, c) }
      .toDF("rank", "left", "right", "merged", "pair_count")
  }

  /** Segment the DISTINCT words of `d` with an already-learned merge
    * list: the 16 rank-ordered merges stack as nested regexp_replace
    * in ONE projection (single analyze/codegen — the per-round
    * blowup that forced localCheckpoint in learnMerges never starts,
    * because nothing here is iteration-dependent). */
  def segmentWords(d: DataFrame,
      table: Seq[(Int, String, String, Long)]): DataFrame = {
    var words = d
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct()
      .select(col("w"),
        // (?s): same embedded-line-terminator contract as learnMerges
        concat(regexp_replace(col("w"), "(?s)(.)", "$1 "), lit("</w>"))
          .as("seg"))
    for ((_, a, b, _) <- table.sortBy(_._1)) {
      val pat = "(?<= )" + Pattern.quote(a) + " " + Pattern.quote(b) +
        "(?= )"
      words = words.select(col("w"), trim(regexp_replace(
        concat(lit(" "), col("seg"), lit(" ")),
        pat, java.util.regex.Matcher.quoteReplacement(a + b))).as("seg"))
    }
    words
  }

  /** Registered query: tokenize the corpus with the learned merges —
    * per-doc word and subword-token counts plus the milli token/word
    * fertility ratio (the number a tokenizer team actually watches).
    *
    * Scale shape: the final segmentation comes straight out of the
    * learner loop's last checkpoint (vocab-bounded; re-deriving it
    * via segmentWords was pure duplicated work), then ONE equi-join
    * maps corpus occurrences to subword counts (word-keyed shuffle;
    * the vocab side is ~10⁷ rows at 100 TB — too big to broadcast,
    * fine to hash-join), one per-doc agg. The learner products come
    * from the per-(session, dir) memo, whose checkpoint outlives this
    * query — no defensive re-checkpoint needed.
    * Fully oracled since round 5 ([[bpeEncodeSql]] unrolls the whole
    * learner loop in DuckDB); the spec additionally pins segmentation
    * against the pure-Scala reference encoder. */
  def bpeEncode(spark: SparkSession, dir: String,
      merges: Int = Merges): DataFrame = {
    val d = docs(spark, dir)
    // memoized learner products — the memo owns the words checkpoint
    val (_, words) = learnedForDir(spark, dir, merges)
    val wtok = words
      .select(col("w"), size(split(col("seg"), " ")).cast("long")
        .as("n_sub"))
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(wtok, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subword_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_subword_tokens"),
        expr("1000 * n_subword_tokens DIV n_words").as("fertility_milli"))
      .orderBy(col("doc_id"))
  }

  /** Full DuckDB oracle for [[bpeEncode]] — the whole learner loop
    * UNROLLED as one CTE chain (the pq_topk Lloyd-unroll trick): per
    * round, a pair-count + argmax CTE (same count-desc / pair-string-asc
    * tie-break as the engine) and a merge-application CTE.
    *
    * The merge application needs left-to-right NON-OVERLAPPING
    * replacement over space-delimited symbols — the engine uses a
    * lookaround regex (zero-width boundaries share the delimiter), but
    * RE2 has no lookbehind. DuckDB's plain `replace()` IS left-to-right
    * non-overlapping — it just consumes its delimiters — so each symbol
    * gets its OWN boundary pair first: doubling the inter-symbol spaces
    * wraps every symbol in ` x `, the pair pattern ` a  b ` consumes
    * exactly the two wraps (neighbors keep theirs), and un-doubling
    * restores canonical form. Equivalence with the lookaround semantics:
    * a replacement never creates a new match site (merged symbol `ab`
    * can't equal `a` — `b` is nonempty), so both scans find the same
    * occurrence set.
    *
    * The initial segmentation indexes the word per CHARACTER via
    * `w[i]` over range(1, len(w)+1) — the engine's `(?s)(.)` regex per
    * code point; identical on this corpus.
    *
    * Exhaustion parity: if the pair table drains before round
    * [[Merges]] (a degenerate corpus whose words fully merge early),
    * the per-round argmax CTE is EMPTY — the LEFT JOIN + CASE keeps
    * the vocabulary unchanged through the remaining rounds, exactly
    * the engine's `exhausted` early-stop (a bare CROSS JOIN would
    * instead annihilate the vocab and return zero rows). */
  /** The shared learner-loop CTE chain (toks → vocab → w0 → K rounds
    * of argmax p$i + merge-application w$i) — the common prefix of
    * [[bpeEncodeSql]] and [[bpeVocabSql]].
    *
    * AS MATERIALIZED is load-bearing: each round references w{i-1}
    * TWICE (pair count + merge application), and DuckDB inlines plain
    * CTEs per reference — 2^Merges re-expansions of the whole chain
    * (the first symptom is fd exhaustion on the parquet scan). */
  private def learnerCtes: String = {
    val rounds = (1 to Merges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT a, b, c FROM (
         |    SELECT g[1] AS a, g[2] AS b, SUM(freq) AS c
         |    FROM (SELECT freq, unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS g
         |          FROM (SELECT freq, string_split(seg, ' ') AS ts FROM w${i - 1}) s
         |          WHERE len(ts) >= 2) z
         |    GROUP BY 1, 2) q
         |  ORDER BY c DESC, a || ' ' || b ASC LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT w, freq,
         |    CASE WHEN p.a IS NULL THEN seg ELSE
         |      trim(replace(replace(' ' || replace(seg, ' ', '  ') || ' ',
         |        ' ' || p.a || '  ' || p.b || ' ', ' ' || p.a || p.b || ' '),
         |        '  ', ' ')) END AS seg
         |  FROM w${i - 1} LEFT JOIN p$i p ON true)""".stripMargin
    }.mkString(",\n")
    s"""toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       |vocab AS (
       |  SELECT w, COUNT(*) AS freq FROM toks WHERE len(w) > 0 GROUP BY w),
       |w0 AS MATERIALIZED (
       |  SELECT w, freq,
       |    array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), ' ')
       |      || ' </w>' AS seg
       |  FROM vocab),
       |$rounds""".stripMargin
  }

  /** Oracle for [[bpeVocab]]: the K merges read straight out of the
    * per-round argmax CTEs. Exhaustion parity holds for free — a
    * drained round's p$i is EMPTY, contributes no UNION ALL row, and
    * leaves w$i unchanged, exactly the engine's early stop. */
  val bpeVocabSql: String = {
    val rows = (1 to Merges).map { i =>
      s"""SELECT CAST(${i - 1} AS BIGINT) AS rank, a AS "left",
         |  b AS "right", a || b AS merged, CAST(c AS BIGINT) AS pair_count
         |FROM p$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    // plain concatenation: learnerCtes is already margin-stripped, and
    // a second outer stripMargin would eat the first '|' of its `||`
    // concatenation operators
    "WITH " + learnerCtes + "\nSELECT * FROM (\n" + rows +
      "\n) m ORDER BY rank"
  }

  val bpeEncodeSql: String = {
    // concatenation, not an outer stripMargin — see bpeVocabSql
    val tail =
      s"""wtok AS (
         |  SELECT w, CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_sub
         |  FROM w$Merges),
         |occ AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |    FROM documents) t
         |  WHERE len(w) > 0),
         |enc AS (
         |  SELECT doc_id, COUNT(*) AS n_words,
         |    CAST(SUM(n_sub) AS BIGINT) AS n_subword_tokens
         |  FROM occ JOIN wtok USING (w)
         |  GROUP BY doc_id)
         |SELECT doc_id, n_words, n_subword_tokens,
         |  (1000 * n_subword_tokens) // n_words AS fertility_milli
         |FROM enc ORDER BY doc_id""".stripMargin
    "WITH " + learnerCtes + ",\n" + tail
  }

  /** TOKENIZER FERTILITY per (source, lang) — subword tokens per
    * whitespace word under the corpus-learned BPE vocabulary, the
    * metric multilingual mixing studies weight by (UniMax, Chung et
    * al. 2023; fertility imbalance is why token-budgeted sampling and
    * word-budgeted sampling disagree across languages/sources). A
    * source whose fertility_milli reads high is more expensive per
    * word under the shared tokenizer — exactly what a token-budget
    * allocator needs to know before applying domain_mix weights.
    *
    * Reuses the memoized/oracled [[bpeEncode]] chain verbatim (the
    * learner products are session-memoized and Bench-prep-trained);
    * the aggregation is one (source, lang)-cardinality hash agg. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir).select(col("doc_id"), col("source"), col("lang"))
      .join(bpeEncode(spark, dir)
        .select(col("doc_id"), col("n_words"), col("n_subword_tokens")),
        Seq("doc_id"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_subword_tokens")).as("n_subword_tokens"))
      .withColumn("fertility_milli",
        expr("1000 * n_subword_tokens DIV n_words"))
      .orderBy(col("source"), col("lang"))
  }

  /** Composed replay: the committed bpe_encode SQL as a subquery (the
    * source_card chaining idiom), re-keyed by (source, lang). */
  lazy val tokenFertilitySql: String =
    // the subquery is substituted AFTER stripMargin: bpe_encode's SQL
    // contains `||` concatenations at line starts, which an outer
    // stripMargin would mangle into bitwise-or
    """SELECT d.source, d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(enc.n_words) AS BIGINT) AS n_words,
      |  CAST(SUM(enc.n_subword_tokens) AS BIGINT) AS n_subword_tokens,
      |  CAST(1000 * SUM(enc.n_subword_tokens) // SUM(enc.n_words)
      |    AS BIGINT) AS fertility_milli
      |FROM (__ENC__) enc
      |JOIN documents d ON enc.doc_id = d.doc_id
      |GROUP BY d.source, d.lang
      |ORDER BY d.source, d.lang""".stripMargin
      .replace("__ENC__", bpeEncodeSql)
}
