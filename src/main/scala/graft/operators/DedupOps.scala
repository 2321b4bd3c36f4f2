package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{ArtifactStore, Tables}

/** Document deduplication family (BASELINE.json extension surface):
  * exact, fingerprint, blocked n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design notes (the point of each variant):
  *  - exact / fingerprint: one hash-groupBy shuffle on a derived key —
  *    embarrassingly scalable;
  *  - blocked Jaccard: exact pairwise similarity but only inside
  *    blocking keys (lang, source) — never N² across the corpus;
  *  - MinHash+LSH: near-dup candidates via band-bucket join — the
  *    100 TB path: cost ∝ Σ bucket², tunable via bands×rows;
  *  - SimHash: 60- or 80-bit fingerprint under a cross-engine-exact
  *    hash family, near-dups = hamming proximity via chunk-collision
  *    join (no pairwise scan).
  *
  * Every bucket self-join and Jaccard verify goes through
  * [[PairJoin]].
  */
object DedupOps {

  private[graft] def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Spread an UNSPLITTABLE input across the executors before
    * CPU-heavy per-row work (shingle/minhash hashing): the test
    * corpus is one single-row-group parquet file — the same shape as
    * a gzip text input at production scale — so the scan yields ONE
    * partition and every downstream hash runs single-threaded unless
    * explicitly redistributed. The shuffle moves only the raw doc
    * rows (kilobytes here; one pass of the input at any scale),
    * against a 32× parallelism unlock for the hashing above it. Only
    * the hash-heavy pipelines call this, right below their scan,
    * where the per-row compute dominates the row movement — and since
    * r14 it delegates to the CONDITIONAL [[graft.sources.Tables.spread]]:
    * an already-split source (the cluster-scale case) passes through
    * with no exchange at all, instead of paying a wasted full-corpus
    * round-robin. */
  private def spread(df: DataFrame): DataFrame =
    graft.sources.Tables.spread(df)

  /** Exact duplicate summary: hash-groupBy on full text. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("text")).as("n_distinct_texts"),
      (count(lit(1)) - countDistinct(col("text"))).as("n_dup_docs"))

  /** Exact-dedup keep list: one survivor (min doc_id) per distinct
    * text — the actual "drop the duplicates" output a pipeline
    * materializes, not just the count. */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  val dedupKeepSql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY text
      |ORDER BY keep_id""".stripMargin

  val dedupExactSql: String =
    """SELECT COUNT(*) AS n_docs,
      |  COUNT(DISTINCT text) AS n_distinct_texts,
      |  COUNT(*) - COUNT(DISTINCT text) AS n_dup_docs
      |FROM documents""".stripMargin

  /** Page span of the minted URLs: docs whose ids fall in one span of
    * this many ids land on the same /p/<page> path, so each source
    * contributes ~span/|sources| docs per canonical page — real dup
    * mass for the URL-level dedup to find. Declared BEFORE the SQL
    * vals that interpolate it (strict-val init order). */
  private val UrlPageSpan = 140L

  /** Minimum duplicated-run length, in tokens, for the
    * exact-substring removal — the paper's min-match-length knob
    * (Lee et al. 2021 use 50 BPE tokens at CommonCrawl scale; 8 words
    * binds on this corpus, and it is the same span ngram_dup_mass
    * already scores). Declared before the SQL val that interpolates
    * it (strict-val init order). */
  private val SubstrW = 8

  /** Exact-substring dedup REMOVAL (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 —
    * the ExactSubstr variant): any [[SubstrW]]-token window occurring
    * ≥ 2 times CORPUS-WIDE (within-doc repeats count, as in the
    * paper) is duplicated text; every token covered by at least one
    * duplicated window is cut, and each doc's survivors are
    * reassembled in order. Where ngram_dup_mass SCORES duplicated
    * spans, this row produces the cleaned corpus itself.
    *
    * Spark-first shape instead of the paper's corpus suffix array:
    * three linear passes — (1) a doc-partitioned window pass builds
    * the rolling W-token window per position, (2) a window-key pass
    * counts corpus-wide occurrences (the suffix-array lookup,
    * re-expressed as one hash shuffle), (3) a doc-partitioned
    * running-max marks covered positions and the co-partitioned
    * groupBy reassembles — no joins, no candidate pairs, every stage
    * ∝ corpus tokens. Fixed-W windows equal the paper's semantics
    * exactly at run length W; maximal duplicated runs SHORTER than W
    * are below the min-match-length by definition.
    *
    * The REGISTERED row keys pass (2)'s shuffle on xxhash64(window) —
    * 8-byte keys instead of ~W words of text through the exchange,
    * the production configuration (round-7 verdict #6). The oracle
    * replays the window-TEXT form in DuckDB; the two are
    * output-identical unless two DISTINCT windows collide in the full
    * 64-bit hash space — at N windows the collision expectation is
    * N²/2⁶⁵ (≈ 10⁻⁸ even at 10⁹ windows), and DedupSimilaritySpec
    * pins string-keyed ≡ hash-keyed output equality on the fixture
    * (the dedup_minhash raw-xxhash64-token precedent). Docs with
    * fewer than W tokens have no window and pass through uncut. */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    substringCleanOn(
      docs(spark, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")),
      hashedKey = true)

  /** [[dedupSubstring]] core over any (doc_id, text) frame;
    * `hashedKey` switches the occurrence-count shuffle key from the
    * window text (oracle-exact) to xxhash64 (production twin). */
  def substringCleanOn(d: DataFrame, hashedKey: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = SubstrW
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = d
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("w",
        array_join(collect_list(col("tok"))
          .over(byDoc.rowsBetween(Window.currentRow, W - 1)), " "))
      .withColumn("valid", col("pos") + W <= col("n"))
    val key = if (hashedKey) xxhash64(col("w")) else col("w")
    val cov = toks
      // occurrences among VALID windows only (tail windows are short
      // strings that must not vote); count() skips the null branch
      .withColumn("wcnt", count(when(col("valid"), lit(1)))
        .over(Window.partitionBy(key)))
      .withColumn("is_start",
        when(col("valid") && col("wcnt") >= 2, 1).otherwise(0))
      .withColumn("covered", max(col("is_start"))
        .over(byDoc.rowsBetween(-(W - 1), Window.currentRow)))
    cov.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(col("covered")).cast("long").as("n_removed"),
        array_join(transform(
          sort_array(collect_list(
            when(col("covered") === 0,
              struct(col("pos"), col("tok"))))),
          x => x.getField("tok")), " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[dedupSubstring]]: same windows from
    * list_slice, same corpus-wide occurrence count, same W-token
    * coverage max, same ordered reassembly (string_agg skips the
    * covered branch's NULLs; an all-covered doc coalesces to ''). */
  lazy val dedupSubstringSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts
       |  FROM documents WHERE text IS NOT NULL),
       |wins AS (
       |  SELECT doc_id, i - 1 AS s,
       |    array_to_string(list_slice(ts, i, i + ${SubstrW - 1}), ' ') AS w
       |  FROM d, UNNEST(range(1, len(ts) - ${SubstrW - 2})) t(i)),
       |dupw AS (SELECT w FROM wins GROUP BY w HAVING COUNT(*) >= 2),
       |dstart AS (
       |  SELECT DISTINCT doc_id, s FROM wins JOIN dupw USING (w)),
       |toks AS (
       |  SELECT doc_id, i - 1 AS pos, ts[i] AS tok
       |  FROM d, UNNEST(range(1, len(ts) + 1)) t(i)),
       |cov AS (
       |  SELECT doc_id, pos, tok,
       |    MAX(is_start) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${SubstrW - 1} PRECEDING AND CURRENT ROW)
       |      AS covered
       |  FROM (
       |    SELECT t.doc_id, t.pos, t.tok,
       |      CASE WHEN ds.s IS NULL THEN 0 ELSE 1 END AS is_start
       |    FROM toks t LEFT JOIN dstart ds
       |      ON ds.doc_id = t.doc_id AND ds.s = t.pos) x)
       |SELECT doc_id,
       |  COUNT(*) AS n_tokens,
       |  CAST(SUM(covered) AS BIGINT) AS n_removed,
       |  COALESCE(string_agg(CASE WHEN covered = 0 THEN tok END,
       |    ' ' ORDER BY pos), '') AS clean_text
       |FROM cov GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Deterministic messy-URL mint for the URL-dedup row. The corpus
    * carries no URL column, so one is synthesized from (doc_id,
    * source) exactly like the WAV/BMP payloads are minted from
    * (doc_id, text) — the oracle re-mints the same strings in SQL, so
    * the CANONICALIZATION is what sits on the verified path. Planted
    * variant axes (all collapsed by a correct canonicalizer): scheme
    * http/https, `WWW.`/`www.`/bare prefix, host case, `?utm=` query,
    * `#fragment`, trailing slash. ASCII-only by construction (source
    * values + digits), so upper/lower have no locale/code-point trap. */
  private def mintUrl: Column = concat(
    when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
    when(col("doc_id") % 3 === 0, lit("WWW."))
      .when(col("doc_id") % 3 === 1, lit("www.")).otherwise(lit("")),
    when(col("doc_id") % 2 === 0, upper(col("source"))).otherwise(col("source")),
    lit(".example/p/"), expr(s"CAST(doc_id DIV $UrlPageSpan AS STRING)"),
    when(col("doc_id") % 5 === 0,
        concat(lit("?utm="), col("doc_id").cast("string")))
      .when(col("doc_id") % 5 === 1, lit("#frag"))
      .when(col("doc_id") % 5 === 2, lit("/")).otherwise(lit("")))

  /** Scheme-insensitive URL canonicalization from portable string
    * builtins only (no regex — Spark and DuckDB regex dialects drift,
    * these agree byte-for-byte): drop the scheme, cut fragment then
    * query, lowercase, strip one leading `www.`, strip one trailing
    * slash. Pure codegen'd projection — zero-shuffle at any scale. */
  def canonicalizeUrl(url: Column): Column = {
    val c1 = lower(substring_index(
      substring_index(substring_index(url, "://", -1), "#", 1), "?", 1))
    val c2 = when(c1.startsWith("www."), c1.substr(lit(5), length(c1)))
      .otherwise(c1)
    when(c2.endsWith("/"), c2.substr(lit(1), length(c2) - 1)).otherwise(c2)
  }

  /** URL-level dedup — the stage a web-corpus pipeline runs BEFORE any
    * text comparison (Penedo et al. 2023 RefinedWeb §3 run exact-URL
    * dedup as the first filter on CommonCrawl): canonicalize, then one
    * hash-groupBy on the canonical key keeping the min-id survivor.
    * Cost model at 100 TB: one codegen'd string projection + ONE hash
    * shuffle on canon_url with map-side partial aggregation — the
    * dedup_exact shape on a derived key; no joins, no candidate
    * generation. URLs are minted for non-negative ids with a source
    * (the corpus contract); null/garbage rows have no URL and drop
    * out, keeping the row total on the null/garbage sweeps. */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame =
    dedupUrlOn(docs(spark, dir))

  /** The minted-and-canonicalized URL relation (doc_id, url,
    * canon_url) over any (doc_id, source, …) frame — shared VERBATIM
    * by the batch [[dedupUrl]] row and the streaming ingest gate
    * ([[graft.streaming.IngestStreaming]]), so the two can't drift on
    * either the mint or the canonicalization. */
  def mintedCanonUrls(d: DataFrame): DataFrame =
    d.filter(col("doc_id").isNotNull && col("source").isNotNull &&
        col("doc_id") >= 0)
      .select(col("doc_id"), mintUrl.as("url"))
      .withColumn("canon_url", canonicalizeUrl(col("url")))

  /** [[dedupUrl]] over any (doc_id, source, …) frame — the planted-
    * corpus spec entry point. */
  def dedupUrlOn(d: DataFrame): DataFrame =
    mintedCanonUrls(d)
      .groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("survivor_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("url")).as("n_url_variants"))
      .orderBy(col("survivor_id"))

  /** The mint+canonicalize CTE chain — `urls(doc_id, url)` then
    * `canon(doc_id, url, canon_url)` — shared by [[dedupUrlSql]] and
    * the ingest-door composition ([[IngestDoor.ingestDoorSql]]) so
    * the SQL twin of [[mintedCanonUrls]] has ONE spelling. Embed as
    * `WITH $canonCtesSql, ...` (no trailing comma). */
  private[graft] lazy val canonCtesSql: String =
    s"""urls AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END ||
       |     CASE doc_id % 3 WHEN 0 THEN 'WWW.'
       |                     WHEN 1 THEN 'www.' ELSE '' END ||
       |     CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END ||
       |     '.example/p/' || CAST(doc_id // $UrlPageSpan AS VARCHAR) ||
       |     CASE doc_id % 5 WHEN 0 THEN '?utm=' || CAST(doc_id AS VARCHAR)
       |                     WHEN 1 THEN '#frag'
       |                     WHEN 2 THEN '/' ELSE '' END) AS url
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND doc_id >= 0
       |), canon AS (
       |  SELECT doc_id, url,
       |    CASE WHEN c2 LIKE '%/' THEN substr(c2, 1, length(c2) - 1)
       |         ELSE c2 END AS canon_url
       |  FROM (
       |    SELECT doc_id, url,
       |      CASE WHEN c1 LIKE 'www.%' THEN substr(c1, 5) ELSE c1 END AS c2
       |    FROM (
       |      SELECT doc_id, url,
       |        lower(split_part(split_part(split_part(
       |          url, '://', 2), '#', 1), '?', 1)) AS c1
       |      FROM urls) a) b
       |)""".stripMargin

  /** DuckDB replay of [[dedupUrl]]: same mint, same canonicalization
    * from split_part/substr/lower (the portable-builtin subset —
    * split_part(x, d, 1..2) and substring_index agree when the
    * delimiter occurs at most once, which the mint guarantees). */
  lazy val dedupUrlSql: String =
    s"""WITH $canonCtesSql
       |SELECT canon_url, MIN(doc_id) AS survivor_id,
       |  COUNT(*) AS n_copies, COUNT(DISTINCT url) AS n_url_variants
       |FROM canon GROUP BY canon_url ORDER BY survivor_id""".stripMargin

  /** Host-level URL triage (r10): the table a domain blocklist is cut
    * from — per canonical HOST, doc volume, distinct canonical pages,
    * duplicate mass, and mean document length. The C4/RefinedWeb
    * pipelines gate whole domains before any per-document work;
    * this is the aggregation that ranks them. Shares [[mintedCanonUrls]]
    * VERBATIM with dedup_url and the streaming URL gate, so the mint,
    * canonicalization, and host extraction cannot drift apart.
    *
    * Scale: one canonical projection, one join back for n_chars on
    * doc_id (narrow — at 100 TB both sides carry two columns), one
    * hash agg keyed by host (domain cardinality, tiny output). All
    * ratios integer ppm / integral DIV. */
  def urlHostStats(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val canon = mintedCanonUrls(d)
      .select(col("doc_id"),
        substring_index(col("canon_url"), "/", 1).as("host"),
        col("canon_url"))
    canon.join(d.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canon_url")).as("n_pages"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("host"), col("n_docs"), col("n_pages"),
        expr("(n_docs - n_pages) * 1000000 DIV n_docs").as("dup_ppm"),
        expr("sum_chars DIV n_docs").as("mean_chars"))
      .orderBy(col("host"))
  }

  lazy val urlHostStatsSql: String = {
    // same mint + canonicalization CTEs as dedupUrlSql, plus n_chars
    s"""WITH urls AS (
       |  SELECT doc_id, n_chars,
       |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END ||
       |     CASE doc_id % 3 WHEN 0 THEN 'WWW.'
       |                     WHEN 1 THEN 'www.' ELSE '' END ||
       |     CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END ||
       |     '.example/p/' || CAST(doc_id // $UrlPageSpan AS VARCHAR) ||
       |     CASE doc_id % 5 WHEN 0 THEN '?utm=' || CAST(doc_id AS VARCHAR)
       |                     WHEN 1 THEN '#frag'
       |                     WHEN 2 THEN '/' ELSE '' END) AS url
       |  FROM documents
       |  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND doc_id >= 0
       |), canon AS (
       |  SELECT doc_id, n_chars,
       |    CASE WHEN c2 LIKE '%/' THEN substr(c2, 1, length(c2) - 1)
       |         ELSE c2 END AS canon_url
       |  FROM (
       |    SELECT doc_id, n_chars,
       |      CASE WHEN c1 LIKE 'www.%' THEN substr(c1, 5) ELSE c1 END AS c2
       |    FROM (
       |      SELECT doc_id, n_chars,
       |        lower(split_part(split_part(split_part(
       |          url, '://', 2), '#', 1), '?', 1)) AS c1
       |      FROM urls) a) b
       |)
       |SELECT split_part(canon_url, '/', 1) AS host,
       |  COUNT(*) AS n_docs,
       |  COUNT(DISTINCT canon_url) AS n_pages,
       |  CAST((COUNT(*) - COUNT(DISTINCT canon_url)) * 1000000
       |    // COUNT(*) AS BIGINT) AS dup_ppm,
       |  CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS mean_chars
       |FROM canon GROUP BY host ORDER BY host""".stripMargin
  }

  /** Token-set fingerprint dedup: docs sharing the same sorted distinct
    * token set are near-dup candidates; output the group-size
    * histogram (group_size → n_groups). */
  def dedupFingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(sort_array(array_distinct(split(col("text"), " "))).as("fp"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("group_size"))

  val dedupFingerprintSql: String =
    """SELECT group_size, COUNT(*) AS n_groups FROM (
      |  SELECT list_sort(list_distinct(string_split(text, ' '))) AS fp,
      |    COUNT(*) AS group_size
      |  FROM documents GROUP BY fp) t
      |GROUP BY group_size
      |ORDER BY group_size""".stripMargin

  /** Near-dup pairs with token-set Jaccard ≥ 0.8 within (lang, source)
    * blocks — MinHash-LSH candidate generation + EXACT verification, so
    * the answer is identical to the all-pairs form while the plan never
    * enumerates a block × block product.
    *
    * Scale shape: candidates come from a band-bucket equi-join whose
    * cost is Σ bucket² — driven by how many docs are ACTUALLY similar,
    * not by block size. Banding is 16 bands × 2 rows over a k=32
    * signature computed on the token SET itself (1-shingles), so the
    * LSH similarity measure is exactly the verified measure:
    * P(miss | J ≥ 0.8) = (1 − J²)¹⁶ ≤ 0.36¹⁶ ≈ 8·10⁻⁸ per true pair
    * (≈ 0.003 expected misses across the 38k true pairs at sf0.1;
    * recall empirically exact at sf0.01/sf0.1, DedupSpec).
    *
    * Verification intersects token-HASH arrays (raw xxhash64 per
    * distinct token — 64-bit, collision-free at corpus vocab sizes, so
    * the oracle's string-set SQL matches exactly); the 30-bit
    * [[tokenHashes]] space is used only inside the signature where ANSI
    * long arithmetic must not overflow.
    *
    * NOTE on this corpus: the synthetic blocks are near-dup-dense
    * (median within-block J ≈ 0.63, measured), so candidates ≈
    * within-block pairs here — output-bound, which is what ANY correct
    * generator must emit. On a realistically sparse corpus the bucket
    * join prunes to near-linear. */
  /** Per-(session, dir) memo of the verified near-dup PAIR list —
    * the candidate-generation + verify pipeline below is consumed by
    * the registered `dedup_jaccard` row AND (via [[clusterLabels]])
    * the whole cluster family; before this memo the row recomputed
    * what the label chain had just materialized. The pair list is
    * output-bounded by the candidate-generation contract, so holding
    * its checkpoint is cheap at any scale. */
  private[graft] val jaccardMemo = new Memo[String, DataFrame]

  def dedupJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardMemo(spark, dir)(dedupJaccardCompute(spark, dir).localCheckpoint())

  private[graft] def dedupJaccardCompute(spark: SparkSession,
      dir: String): DataFrame = {
    // sorted once per doc → candidate verify is a codegen'd
    // two-pointer merge (SortedIntersectCount), not a per-pair hash set
    // d and banded each feed two join sides; left as views, the
    // tokenize/minhash prep re-runs under every AQE stage build over
    // the one-partition scan (the r6 prefix-join lesson — this one
    // pipeline also feeds dedup_clusters and near_dup_clean, so the
    // materialization pays off three rows deep).
    val d = spread(docs(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"),
        sort_array(array_distinct(
          transform(split(col("text"), " "), t => xxhash64(t)))).as("toks"))
      .localCheckpoint()
    // blocking keys ride through the signature aggregation (no
    // metadata re-join) and join as part of the bucket key
    val sigs = minhashSignaturesFromSets(spread(docs(spark, dir)),
      array_distinct(tokenHashes(col("text"))), k = 32,
      carry = Seq("lang", "source"))
    val cands = PairJoin.buckets(lshBands(sigs, k = 32, bands = 16,
        carry = Seq("lang", "source")), "band", "bh")
      .pairs(col("x.lang") === col("y.lang") &&
        col("x.source") === col("y.source") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    PairJoin.jaccard(cands, "toks", d, d)
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("i"), col("j"))
  }

  val dedupJaccardSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, source,
      |    list_sort(list_distinct(string_split(text, ' '))) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j,
      |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
      |  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
      |    AND a.doc_id < b.doc_id)
      |SELECT i, j, jaccard FROM p WHERE jaccard >= 0.8
      |ORDER BY i, j""".stripMargin

  // ---------------- MinHash + LSH (non-oracled scale path) ----------

  /** Numeric shingling: hash each token once, then combine three
    * consecutive token hashes arithmetically (30-bit modular space so
    * ANSI long math can't overflow). Equivalent to hashing string
    * shingles up to negligible collisions, but never builds
    * concatenated strings — the MinHash hot path works on long arrays.
    *
    * Two pieces, used across a REAL projection boundary: inlining
    * `tokenHashes` into `shingleHashesFrom`'s three element_at sites
    * re-evaluates the whole token-hash transform per shingle (O(n²)
    * per doc — measured slower than string shingles). */
  private val ShingleM = 1073741789L // 30-bit prime

  def tokenHashes(text: Column): Column =
    transform(split(text, " "), t => pmod(xxhash64(t), lit(ShingleM)))

  def shingleHashesFrom(th: Column): Column = {
    val n = size(th)
    when(n < 3, slice(th, 1, 1)).otherwise(
      transform(sequence(lit(1), n - 2), i =>
        pmod(pmod(element_at(th, i) * 65599L + element_at(th, i + 1),
          lit(ShingleM)) * 65599L + element_at(th, i + 2), lit(ShingleM))))
  }

  /** Per-seed multiply-add constants for the universal-hash family
    * h_i(x) = (A_i * x + B_i) mod P over the single base hash — the
    * one-hash MinHash construction: one xxhash64 per shingle, k cheap
    * long ops instead of k full string hashes.
    *
    * The `mod P` (P prime, A ∈ [1, P-1]) is LOAD-BEARING: it makes
    * each h_i a distinct permutation of Z_P. Without it A·x + B is
    * monotonic in x, every h_i takes its min at the SAME base element,
    * the k signature slots are perfectly correlated (rank-1), and band
    * collision probability collapses from J^rows to J — a silent
    * recall bug (caught by the dedupJaccard ground-truth spec: ~8% of
    * true J≥0.8 pairs missed). Inputs are < P < 2^30 and A < 2^30, so
    * A*x + B < 2^60 — ANSI mode (Spark 4 default) raises on long
    * overflow, so the arithmetic must genuinely fit. Seeded,
    * deterministic. */
  private def hashFamily(k: Int): Array[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Array.fill(k)((rng.nextInt(Int.MaxValue - 1).toLong % (ShingleM - 1) + 1,
      rng.nextInt(Int.MaxValue).toLong % ShingleM))
  }

  /** MinHash signatures: min over the doc's distinct shingles of k
    * derived hashes. One explode + one groupBy with k min-aggregates
    * (partial agg map-side, so the shuffle carries at most one row
    * per (doc, partition)); each shingle is string-hashed ONCE.
    *
    * NOT a row-wise nested `transform(seq(k), i -> array_min(...))`:
    * nested higher-order lambdas evaluate outside codegen and
    * re-derive the shingle array per seed — measured 36× slower at
    * sf0.1 than this explode+agg form. */
  def minhashSignatures(d: DataFrame, k: Int = 32): DataFrame =
    minhashSignaturesFromSets(
      d.select(col("doc_id"), tokenHashes(col("text")).as("th")),
      array_distinct(shingleHashesFrom(col("th"))), k)

  /** MinHash signatures: explode the per-doc distinct hash set `hs`
    * (array<long> of 30-bit values, so A·x + B stays under 2⁶² in ANSI
    * mode) over `df`, then k min-aggregates. The generic core of
    * [[minhashSignatures]]; also drives token-set (1-shingle)
    * signatures for [[dedupJaccard]].
    *
    * `hs` MUST be passed as an expression, not first materialized into
    * a column that is then exploded as a bare attribute: for
    * `explode(attr)`, Spark's InferFiltersFromGenerate adds
    * `size(attr) > 0 AND isnotnull(attr)` and predicate pushdown then
    * INLINES the whole shingle pipeline into that filter below the
    * projection — re-evaluating the interpreted HOF chain twice more
    * per document (measured 5.8 s vs 0.7 s for the signature stage at
    * sf0.1). With a complex generator expression the rule doesn't
    * fire. */
  /** `carry` columns (functionally dependent on doc_id, e.g. blocking
    * keys) ride through the groupBy so no later metadata join is
    * needed. */
  def minhashSignaturesFromSets(df: DataFrame, hs: Column,
      k: Int = 32, carry: Seq[String] = Nil): DataFrame = {
    val fam = hashFamily(k)
    val exploded = df.select(
      col("doc_id") +: carry.map(col) :+ explode(hs).as("h0"): _*)
    val mins: Seq[Column] = (0 until k).map { i =>
      val (a, b) = fam(i)
      min(pmod(col("h0") * lit(a) + lit(b), lit(ShingleM))).as(s"h$i")
    }
    exploded.groupBy(col("doc_id") +: carry.map(col): _*)
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id") +: carry.map(col) :+
        array((0 until k).map(i => col(s"h$i")): _*).as("sig"): _*)
  }

  /** Explode a signature column into (doc_id, [carry...], band, bh)
    * band-hash rows — the LSH bucket key rows both near-dup paths
    * equi-join on. */
  def lshBands(sigs: DataFrame, k: Int, bands: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val rows = k / bands
    sigs.select(col("doc_id") +: carry.map(col) :+
        posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
  }

  /** 64-bit hash per 3-shingle of a MATERIALIZED token-array column —
    * `xxhash64(t1, t2, t3)` chains per-field with the running hash as
    * seed, so token boundaries are preserved without building the
    * concatenated shingle STRING (the string form paid a concat +
    * re-hash per shingle; this is three array lookups and one chained
    * hash). Collision-free at corpus shingle cardinalities
    * (P ≈ n²/2⁶⁵), so set COUNTS over these hashes equal counts over
    * the string-shingle sets and a SQL oracle computing string-list
    * overlap matches exactly. (The 30-bit [[shingleHashesFrom]] space
    * exists only for the signature path, where (A·x+B) must fit ANSI
    * long arithmetic.) `ts` must be a materialized attribute, not a
    * `split(...)` expression — the lambda references it three times
    * per element (the nested-HOF re-evaluation trap). */
  def shingleHashes64(ts: Column): Column = {
    val n = size(ts)
    when(n < 3, array(xxhash64(array_join(ts, " "))))
      .otherwise(transform(sequence(lit(1), n - 2),
        i => xxhash64(element_at(ts, i), element_at(ts, i + 1),
          element_at(ts, i + 2))))
  }

  /** SORTED distinct 64-bit shingle-hash sets for exact Jaccard
    * verification ([[shingleHashes64]] hashes).
    *
    * Sorted ONCE per doc so every candidate-pair check is a codegen'd
    * two-pointer merge ([[graft.functions.SortedIntersectCount]])
    * instead of a per-pair hash-set `array_intersect` — the verify
    * step runs once per candidate, the sort once per doc. */
  def shingleSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"),
        sort_array(array_distinct(shingleHashes64(col("ts")))).as("shs"))

  /** LSH band-bucket candidate pairs: split the signature into
    * `bands`, hash each band, join docs colliding on (band, hash).
    * Then exact shingle-Jaccard verification ≥ `threshold`. */
  def minhashPairs(d: DataFrame, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val cands = PairJoin.buckets(lshBands(minhashSignatures(d, k), k, bands),
        "band", "bh")
      .pairs(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    val sh = shingleSets(d).localCheckpoint()
    PairJoin.jaccard(cands, "shs", sh, sh)
      .filter(col("jaccard") >= threshold)
  }

  /** Driver-facing MinHash query — the full corpus-wide near-dup pair
    * list at 3-shingle Jaccard ≥ 0.5, FULLY ORACLED (round-3 upgrade
    * from the old seed-defined summary row): with rows-per-band = 1
    * (bands = k = 32) a true pair at J ≥ 0.5 escapes every band with
    * probability (1 − J)³² ≤ 2⁻³² ≈ 2·10⁻¹⁰ — at the corpus' few
    * hundred true pairs that is a ~10⁻⁷ chance of ANY miss, and exact
    * verification makes precision 1, so LSH output == all-pairs ground
    * truth with overwhelming probability (and deterministically pinned
    * by the DedupSimilaritySpec equality on the fixture). Single-row
    * bands trade candidate selectivity for exactness: a background
    * pair surfaces iff some signature slot agrees (P ≈ 32·J), which on
    * a 3-shingle measure still vanishes for unrelated docs — the
    * candidate join stays Σ bucket², never N². */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spread(docs(spark, dir)), k = 32, bands = 32,
      threshold = 0.5)
      .orderBy(col("i"), col("j"))

  val dedupMinhashSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts, text FROM documents),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ts) < 3 THEN [text]
      |         ELSE list_transform(range(1, len(ts) - 1),
      |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS sh
      |  FROM d),
      |u AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
      |p AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
      |  FROM u a JOIN u b ON a.doc_id < b.doc_id)
      |SELECT i, j, jaccard FROM p WHERE jaccard >= 0.5
      |ORDER BY i, j""".stripMargin

  // -------- SimHash under a cross-engine-exact hash family --------
  //
  // A per-token xxhash64 fingerprint cannot be oracled: DuckDB has no
  // xxhash64. This SimHash runs under a hash family both engines
  // compute bit-identically — token → vocab rank
  // (row_number over the sorted distinct vocabulary; binary UTF-8
  // ordering on both engines) → two QUADRATIC permutation-style
  // hashes over Z_P (the affine seeded_sample family is linear, so
  // composing it stays linear and consecutive ranks would get
  // correlated bit patterns; the h² term breaks that), 30 bits each
  // → 60-bit fingerprint. Chunk-collision candidates over four
  // 15-bit chunks are pigeonhole-COMPLETE for hamming ≤ 3, and the
  // verify step keeps only true pairs — so the pair list equals the
  // all-pairs hamming scan DuckDB replays, and the row is FULLY
  // ORACLED.
  //
  // Scale: the vocab rank assignment runs the DISTRIBUTED
  // rank-offsets job ([[graft.functions.GlobalRank]], r11 — the
  // earlier global row_number window funneled the corpus-growing
  // vocabulary, ~10⁷ rows at 100 TB, through one task); everything
  // else is a linear explode + groupBy + chunk-join.

  val SimhashOracleBits = 60
  val SimhashOracleMaxHamming = 3

  /** One 30-bit quadratic hash of the vocab rank: two independent
    * affine layers joined by a squaring, all mod P = 2³¹−1. Every
    * intermediate fits in a 64-bit long: h,q < 2³¹ so h·h < 2⁶², and
    * (h·h mod P)·a₂ < 2⁶². */
  private[graft] def quadHash(vid: Column, seed: Long): Column = {
    val p = TextQueries.SamplePrime
    val (a2, b2) = TextQueries.sampleHashConstants(seed + 77)
    val h = TextQueries.seededHashCol(vid, seed)
    pmod(pmod(h * h, lit(p)) * a2 + b2 + h, lit(p))
  }

  private[graft] def quadHashSql(vidExpr: String, seed: Long): String = {
    val p = TextQueries.SamplePrime
    val (a2, b2) = TextQueries.sampleHashConstants(seed + 77)
    val h = TextQueries.seededHashSqlExpr(vidExpr, seed)
    s"((($h) * ($h) % $p) * $a2 + $b2 + ($h)) % $p"
  }

  /** 60-bit oracled SimHash fingerprint per doc. Vocab rank via the
    * distributed rank-offsets job ([[graft.functions.GlobalRank]]) —
    * r11: the global `row_number()` window this used before funnels
    * the whole vocabulary (corpus-growing; ~10⁷ rows at 100 TB)
    * through ONE task; the range-sort rank is order-identical and
    * distributed. */
  def simhashOracle(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val vocab = graft.functions.GlobalRank.withRank1(
        toks.select(col("tok")).distinct(), "vid", col("tok"))
      .withColumn("q0", quadHash(col("vid"), 7L))
      .withColumn("q1", quadHash(col("vid"), 19L))
    val tv = toks.join(vocab, "tok")
    val bitSums: Seq[Column] = (0 until SimhashOracleBits).map { b =>
      val src = if (b < 30) col("q0") else col("q1")
      sum(when(shiftrightunsigned(src, b % 30).bitwiseAND(lit(1L)) === 1L,
        1).otherwise(-1)).as(s"b$b")
    }
    tv.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashOracleBits).map(b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Complete hamming-≤3 pair list: four 15-bit chunk collisions
    * (pigeonhole-complete) + exact bit_count verify. */
  def simhashOraclePairs(d: DataFrame): DataFrame = {
    val chunked = simhashOracle(d).select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 15)
          .bitwiseAND(lit(0x7FFFL))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "cv")
    PairJoin.buckets(chunked, "chunk", "cv")
      .pairs(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimhashOracleMaxHamming)
  }

  /** Driver-facing SimHash query: the oracled variant's complete
    * hamming-≤3 pair list. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashOraclePairs(spread(docs(spark, dir)))
      .select(col("i"), col("j"), col("hamming"))
      .orderBy(col("i"), col("j"))

  val dedupSimhashSql: String = {
    val bitSums = (0 until SimhashOracleBits).map { b =>
      val src = if (b < 30) "q0" else "q1"
      s"SUM(CASE WHEN ($src >> ${b % 30}) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(",\n    ")
    val fold = (0 until SimhashOracleBits).map { b =>
      s"(CASE WHEN b$b > 0 THEN CAST(1 AS BIGINT) << $b ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |vocab AS (
       |  SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS vid
       |  FROM (SELECT DISTINCT tok FROM toks) v),
       |hashed AS (
       |  SELECT tok, ${quadHashSql("vid", 7L)} AS q0,
       |    ${quadHashSql("vid", 19L)} AS q1 FROM vocab),
       |tv AS (
       |  SELECT t.doc_id, h.q0, h.q1 FROM toks t JOIN hashed h USING (tok)),
       |sums AS (
       |  SELECT doc_id, $bitSums
       |  FROM tv GROUP BY doc_id),
       |sh AS (SELECT doc_id, $fold AS simhash FROM sums)
       |SELECT x.doc_id AS i, y.doc_id AS j,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
       |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= $SimhashOracleMaxHamming
       |ORDER BY i, j""".stripMargin
  }

  // -------- widened-chunk SimHash (r11, VERDICT #4) ---------------
  //
  // The band-widening knob the dedup_simhash row has documented since
  // r5, registered as its own row: the 60-bit fingerprint's 4×15-bit
  // chunks make RANDOM chunk collisions ∝ N²/2¹⁵ — the measured ~3.3×
  // structural probe ratio at 10× data. Widening to an 80-bit
  // fingerprint in 4×20-bit chunks divides the random-collision mass
  // by 2⁵ = 32 while keeping the pigeonhole guarantee (4 chunks
  // partition all 80 bits, so hamming ≤ 3 leaves ≥ 1 chunk
  // identical — the candidate set is COMPLETE, and the exact
  // bit_count verify keeps precision 1). Same cross-engine-exact
  // quadratic hash family ([[quadHash]]), third seed for the high
  // 20 bits; same distributed vocab-rank assignment
  // ([[graft.functions.GlobalRank]]). Fully oracled — DuckDB replays
  // the fingerprint bit-exactly and verifies by all-pairs hamming.

  val SimhashWideBits = 80
  val SimhashWideChunkBits = 20

  /** 80-bit oracled SimHash fingerprint per doc: (sh_lo bits 0..59,
    * sh_hi bits 60..79). */
  def simhashWide(d: DataFrame): DataFrame = {
    val toks = d.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val vocab = graft.functions.GlobalRank.withRank1(
        toks.select(col("tok")).distinct(), "vid", col("tok"))
      .withColumn("q0", quadHash(col("vid"), 7L))
      .withColumn("q1", quadHash(col("vid"), 19L))
      .withColumn("q2", quadHash(col("vid"), 31L))
    val tv = toks.join(vocab, "tok")
    val bitSums: Seq[Column] = (0 until SimhashWideBits).map { b =>
      val src =
        if (b < 30) col("q0") else if (b < 60) col("q1") else col("q2")
      sum(when(shiftrightunsigned(src, b % 30).bitwiseAND(lit(1L)) === 1L,
        1).otherwise(-1)).as(s"b$b")
    }
    tv.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("sh_lo"),
        (60 until SimhashWideBits).map(b =>
          when(col(s"b$b") > 0, lit(1L << (b - 60))).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("sh_hi"))
  }

  /** Complete hamming-≤3 pair list over the 80-bit fingerprint: four
    * 20-bit chunk collisions (pigeonhole-complete) + exact two-word
    * bit_count verify. Same co-partitioned exchange-free self-join
    * shape as [[simhashOraclePairs]]. */
  def simhashWidePairs(d: DataFrame): DataFrame = {
    val m = (1L << SimhashWideChunkBits) - 1
    val chunked = simhashWide(d).select(col("doc_id"), col("sh_lo"),
      col("sh_hi"), posexplode(array(
        col("sh_lo").bitwiseAND(lit(m)),
        shiftrightunsigned(col("sh_lo"), 20).bitwiseAND(lit(m)),
        shiftrightunsigned(col("sh_lo"), 40).bitwiseAND(lit(m)),
        col("sh_hi").bitwiseAND(lit(m)))))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "cv")
    PairJoin.buckets(chunked, "chunk", "cv")
      .pairs(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        (bit_count(col("x.sh_lo").bitwiseXOR(col("y.sh_lo"))) +
          bit_count(col("x.sh_hi").bitwiseXOR(col("y.sh_hi"))))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= SimhashOracleMaxHamming)
  }

  /** Registered row: the widened-chunk SimHash pair list. */
  def dedupSimhashWide(spark: SparkSession, dir: String): DataFrame =
    simhashWidePairs(spread(docs(spark, dir)))
      .select(col("i"), col("j"), col("hamming"))
      .orderBy(col("i"), col("j"))

  lazy val dedupSimhashWideSql: String = {
    val bitSums = (0 until SimhashWideBits).map { b =>
      val src = if (b < 30) "q0" else if (b < 60) "q1" else "q2"
      s"SUM(CASE WHEN ($src >> ${b % 30}) & 1 = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(",\n    ")
    val foldLo = (0 until 60).map { b =>
      s"(CASE WHEN b$b > 0 THEN CAST(1 AS BIGINT) << $b ELSE 0 END)"
    }.mkString(" + ")
    val foldHi = (60 until SimhashWideBits).map { b =>
      s"(CASE WHEN b$b > 0 THEN CAST(1 AS BIGINT) << ${b - 60} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |vocab AS (
       |  SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS vid
       |  FROM (SELECT DISTINCT tok FROM toks) v),
       |hashed AS (
       |  SELECT tok, ${quadHashSql("vid", 7L)} AS q0,
       |    ${quadHashSql("vid", 19L)} AS q1,
       |    ${quadHashSql("vid", 31L)} AS q2 FROM vocab),
       |tv AS (
       |  SELECT t.doc_id, h.q0, h.q1, h.q2
       |  FROM toks t JOIN hashed h USING (tok)),
       |sums AS (
       |  SELECT doc_id, $bitSums
       |  FROM tv GROUP BY doc_id),
       |sh AS (SELECT doc_id, $foldLo AS sh_lo, $foldHi AS sh_hi FROM sums)
       |SELECT x.doc_id AS i, y.doc_id AS j,
       |  CAST(bit_count(xor(x.sh_lo, y.sh_lo))
       |    + bit_count(xor(x.sh_hi, y.sh_hi)) AS BIGINT) AS hamming
       |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sh_lo, y.sh_lo))
       |    + bit_count(xor(x.sh_hi, y.sh_hi)) <= $SimhashOracleMaxHamming
       |ORDER BY i, j""".stripMargin
  }

  /** Resolve near-dup PAIRS into KEEP/DROP decisions: connected
    * components by iterated min-label propagation WITH pointer-doubling
    * shortcuts — labels monotonically decrease to the component min.
    * No driver-side loops over data (the loop is over plan
    * construction).
    *
    * Returns (doc_id, keep_id): keep_id = min doc_id of the
    * component; rows with doc_id == keep_id survive dedup.
    *
    * Pregel-style loop done the way iterative graph algorithms must be
    * on Spark (GraphX's own shape):
    *  - edges keyed by dst under a FIXED HashPartitioner, persisted
    *    once — every round's edges⋈labels join is then NARROW (no
    *    re-shuffle of the big side);
    *  - rounds past `shortcutAfter` also SHORTCUT n's label to its
    *    label's label (the pointer-doubling step of
    *    Shiloach–Vishkin-style CC; the same role the large-star
    *    operation plays in Kiveris et al.'s "Connected Components in
    *    MapReduce" two-phase algorithm), so a chain of depth d
    *    converges in O(log d) rounds instead of O(d) — without it a
    *    64-deep chain silently exhausted the round cap. The shortcut
    *    costs a second shuffle (the label→node swap side), so it's
    *    ESCALATION, not the default: near-dup graphs are almost always
    *    shallow cliques that converge in 2-3 one-shuffle rounds, and
    *    only a still-unconverged deep component pays the two-phase
    *    price;
    *  - convergence = an exact Long COUNT of changed labels (a narrow
    *    join — both sides on `part`), where the previous Σ-labels
    *    Double fixpoint could round a real decrease to "unchanged"
    *    once ids aggregate past 2⁵³ (round-2 advice). The count is a
    *    driver round-trip, so it runs every round only for the first
    *    two rounds (shallow near-dup graphs exit there), then every
    *    `checkEvery` rounds — BATCHING STAYS EXACT because labels are
    *    monotone non-increasing: zero diffs against the labels of the
    *    last check ⟺ no round in between changed anything (round-3
    *    advice #6);
    *  - labels persist per round; rounds between checks stay persisted
    *    until the next count materializes them, then release in one
    *    batch. The shuffle files truncate recomputation (an earlier
    *    DataFrame version cloned the whole upstream pair-generation
    *    subtree 2^rounds times and froze the planner).
    */
  /** Pair count at or below which [[resolveDupClusters]] resolves
    * components with DRIVER-SIDE union-find instead of the iterative
    * RDD loop. The pair list is OUTPUT-bounded by the candidate
    * generation contract (near-dup pairs ≪ corpus — the entire design
    * of the banded/blocked/capped candidate paths), so on all but
    * pathological corpora it fits the bounded-collect family (MG's
    * ≤P×k partials, BPE's argmax, PCA's Dim² moments) and the 2-3
    * convergence rounds of multi-stage RDD jobs are pure overhead
    * (~1.5 s × four registered rows at sf0.1 for a 25-pair graph).
    * Above the limit the RDD propagation runs unchanged — the 100 TB
    * path for genuinely huge duplicate graphs. Both paths compute the
    * identical min-label contract; DedupSimilaritySpec pins their
    * equality on planted graphs. */
  val CollectPairLimit: Long = 1L << 20

  def resolveDupClusters(pairs: DataFrame, maxIters: Int = 50,
      shortcutAfter: Int = 4, checkEvery: Int = 2,
      collectLimit: Long = CollectPairLimit): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val sel = pairs.select(col("i"), col("j"))
    // Size probe doubles as the driver-branch collect: LIMIT limit+1
    // bounds driver memory (≤ (2²⁰+1)·16 B) and, when the set fits,
    // IS the complete pair list — one computation, no eager
    // full-materialization before the branch decision (round-6 advice:
    // the old shape localCheckpoint'd + counted the full pair list
    // even when the RDD propagation path was about to be taken, an
    // extra non-recomputable materialization on exactly the
    // huge-graph path that can least afford it).
    // A limit at or past Int.MaxValue cannot be probed by LIMIT n+1
    // (the +1 overflows Int), so it routes to the RDD propagation path
    // like a negative limit — NOT to the driver branch with an empty
    // probe, which would silently union-find zero edges and return an
    // empty label set (round-7 advice #1; spec: DedupMemoSpec's
    // huge-collectLimit case).
    val probeable =
      collectLimit >= 0L && collectLimit < Int.MaxValue.toLong
    val probe: Array[(Long, Long)] =
      if (probeable)
        sel.limit(collectLimit.toInt + 1).as[(Long, Long)].collect()
      else Array.empty
    if (probeable && probe.length <= collectLimit) {
      // union-find with path halving; label = component MIN (identical
      // to the converged min-label propagation)
      val es = probe
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) {
          val p = parent.getOrElse(r, r)
          parent(r) = parent.getOrElse(p, p) // path halving
          r = parent.getOrElse(r, r)
        }
        r
      }
      es.foreach { case (i, j) =>
        parent.getOrElseUpdate(i, i); parent.getOrElseUpdate(j, j)
        val (ri, rj) = (find(i), find(j))
        if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
      }
      val labels = parent.keys.toSeq.map(n => (n, find(n)))
      return spark.createDataset(labels).toDF("doc_id", "keep_id")
        .localCheckpoint()
    }
    val np = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val part = new org.apache.spark.HashPartitioner(np)
    // (dst → src): the join side that must NOT move each round.
    // persist() (not localCheckpoint) — materialized once below, and
    // RECOMPUTABLE from lineage on executor loss.
    val edgesByDst = sel.as[(Long, Long)].rdd
      .flatMap { case (i, j) => Iterator((i, j), (j, i)) }
      .partitionBy(part)
      .persist()
    // labels(n) starts at min(n, min neighbor) — that IS round one
    var labels = edgesByDst
      .aggregateByKey(Long.MaxValue, part)(math.min(_, _), math.min(_, _))
      .mapPartitions(_.map { case (n, mn) => (n, math.min(n, mn)) },
        preservesPartitioning = true)
      .persist()
    var lastChecked = labels
    var toRelease = List.empty[org.apache.spark.rdd.RDD[(Long, Long)]]
    var round = 1
    var converged = false
    while (round < maxIters && !converged) {
      // neighbor propagation: narrow edges⋈labels join, then the
      // round's reduceByKey shuffle lands back on `part`
      val viaEdge = edgesByDst.join(labels)
        .map { case (_, (src, lab)) => (src, lab) }
      val msgs =
        if (round <= shortcutAfter) viaEdge
        else {
          // shortcut: (label → node) ⋈ labels reads the label's own
          // label; the swap side shuffles onto `part`, labels narrow
          viaEdge.union(labels.map(_.swap).join(labels)
            .map { case (_, (n, l2)) => (n, l2) })
        }
      val best = msgs.reduceByKey(part, math.min(_, _))
      val next = labels.leftOuterJoin(best)
        .mapPartitions(_.map { case (n, (own, up)) =>
          (n, math.min(own, up.getOrElse(own))) },
          preservesPartitioning = true)
        .persist()
      // batched convergence: diff against the labels of the LAST CHECK
      // (exact under monotone labels — see scaladoc); everything older
      // than `next` is releasable only after this count materializes it
      val check = round <= 2 || (round - 2) % checkEvery == 0 ||
        round + 1 >= maxIters
      if (check) {
        val changed = next.join(lastChecked)
          .filter { case (_, (a, b)) => a != b }.count()
        converged = changed == 0L
        (labels :: toRelease).foreach(_.unpersist(blocking = false))
        toRelease = Nil
        lastChecked = next
      } else {
        toRelease = labels :: toRelease
      }
      labels = next
      round += 1
    }
    toRelease.foreach(_.unpersist(blocking = false))
    edgesByDst.unpersist(blocking = false)
    // materialize through an eager checkpoint so the final round's
    // persisted RDD can be RELEASED here — returning the lazy toDF
    // would leak one cached label RDD into executor storage per call
    // for the application lifetime
    val out = labels.toDF("doc_id", "keep_id").localCheckpoint()
    labels.unpersist(blocking = false)
    out
  }

  /** Per-(session, dir) memo of the resolved near-dup cluster labels.
    *
    * Four registered rows consume the identical
    * `resolveDupClusters(dedupJaccard(dir))` chain
    * ([[dedupClusters]], [[dedupSoftWeights]], [[dedupKeepBest]],
    * [[nearDupClean]]); before this memo each ran the whole
    * candidate-generation + verify + cluster-resolution pipeline from
    * scratch — ~8% of the full catalog bench was that recomputation
    * (round-6 verdict #1). [[resolveDupClusters]] already returns a
    * materialized (localCheckpoint'd or createDataset'd) relation, so
    * caching the DataFrame reference makes every consumer after the
    * first a plain scan of the resolved labels.
    *
    * 100 TB posture: this is the session-scoped analog of what a real
    * pipeline does — write the cluster-label relation to a table once
    * and join it from every downstream stage. Keyed by
    * (SparkSession, dir) so concurrent sessions and different
    * fixtures never share state (DedupMemoSpec pins per-directory
    * isolation); entries hold localCheckpoint blocks, dropped on the
    * first access after their session stops ([[Memo]]). */
  private[graft] val labelMemo = new Memo[String, DataFrame]

  /** The memoized labels relation; see [[labelMemo]]. Since round 8
    * the session memo fronts a PERSISTED parquet artifact
    * ([[graft.sources.ArtifactStore]], keyed by the documents table's
    * content fingerprint): the first session on a corpus builds the
    * pair chain + resolution ONCE and writes the labels table; every
    * later session — a pipeline restart, the next Verify/Bench JVM —
    * reads it back (near-zero prep on a warm dir, the write-the-table-
    * once shape the r7 scaladoc promised but only delivered
    * within-session). The memoized value IS the parquet-backed
    * relation, so warm and cold consumers run the same scan plan. */
  def clusterLabels(spark: SparkSession, dir: String): DataFrame =
    labelMemo(spark, dir)(
      ArtifactStore.stored(spark, dir, "documents", "cluster_labels",
        "jaccard=0.8")(resolveDupClusters(dedupJaccard(spark, dir))))

  /** Driver-facing cluster resolution: near-dup pairs from the
    * (oracled) [[dedupJaccard]] contract resolved into per-doc
    * KEEP/DROP labels — the output a dedup pipeline actually applies.
    * Oracled against a DuckDB recursive-CTE reachability closure over
    * the same pair set, so the iterated-join component labels are
    * checked exactly (the closure is the spec; the iterated join is
    * the shape that scales — a recursive CTE materializes all
    * reachable pairs, quadratic per clique). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabels(spark, dir)
      .orderBy(col("doc_id"))

  /** Soft dedup: per-doc TRAINING WEIGHTS from the near-dup cluster
    * structure instead of hard removal — weight_ppm = 10⁶ DIV
    * cluster_size, so a cluster's total sampling mass is ~one doc's
    * regardless of how many near-copies exist (the reweight-don't-drop
    * alternative: SoftDeDup, She et al. 2024; similar spirit to
    * D4's cluster-aware resampling, Tirumala et al. 2023). Hard
    * dedup throws away benign variation inside a cluster; the soft
    * form keeps every variant visible to training at
    * proportionally-reduced weight, and downstream samplers consume
    * `weight_ppm` directly (the mix_sample keep-rate idiom).
    *
    * Scale shape: reuses [[dedupJaccard]]'s pair list and
    * [[resolveDupClusters]]' labels verbatim, then ONE window count
    * over the cluster key (singletons coalesce to their own id) —
    * output-linear, no new pair-scale work. */
  def dedupSoftWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = clusterLabels(spark, dir)
    docs(spark, dir).select(col("doc_id"))
      .join(labels.select(col("doc_id"), col("keep_id")),
        Seq("doc_id"), "left")
      .withColumn("cl", coalesce(col("keep_id"), col("doc_id")))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cl"))))
      .select(col("doc_id"), col("cluster_size"),
        expr("1000000 DIV cluster_size").as("weight_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Quality-arbitrated survivor selection: within each near-dup
    * cluster keep the HIGHEST-QUALITY member (ties on doc_id), not the
    * min-id — the arbitration real cleaning pipelines run (RefinedWeb
    * §3.4 keeps one representative per cluster; which one matters,
    * because near-dup clusters mix clean and boilerplate-damaged
    * variants and min-id keeps whichever crawled first). Reuses
    * [[dedupJaccard]]'s pairs, [[resolveDupClusters]]' labels, and
    * [[TextAnalysis.qualityScore]]'s integer quality_ppm verbatim, so
    * every ingredient is already oracled; the arbitration itself is
    * ONE window over the cluster key. Output: every doc with its
    * cluster id, quality, and the kept flag (survivors of singletons
    * are trivially themselves). */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = clusterLabels(spark, dir)
    val q = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_ppm"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_ppm").desc, col("doc_id").asc)
    docs(spark, dir).select(col("doc_id"))
      .join(labels.select(col("doc_id"), col("keep_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("keep_id"), col("doc_id")))
      .join(q, Seq("doc_id"))
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("quality_ppm"),
        col("kept"))
      .orderBy(col("doc_id"))
  }

  val dedupKeepBestSql: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, lang, source,
       |    list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents),
       |p AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j
       |  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
       |    AND a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |    CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
       |    >= 0.8),
       |edges AS (
       |  SELECT i AS a, j AS b FROM p UNION ALL SELECT j, i FROM p),
       |reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lab AS (SELECT a AS doc_id, MIN(b) AS keep_id FROM reach GROUP BY a),
       |q AS (SELECT doc_id, quality_ppm FROM
       |  (${graft.operators.TextAnalysis.qualityScoreSql}) qs),
       |cl AS (
       |  SELECT q.doc_id, COALESCE(lab.keep_id, q.doc_id) AS cluster_id,
       |    q.quality_ppm
       |  FROM q LEFT JOIN lab ON lab.doc_id = q.doc_id)
       |SELECT doc_id, cluster_id, quality_ppm,
       |  ROW_NUMBER() OVER (PARTITION BY cluster_id
       |    ORDER BY quality_ppm DESC, doc_id ASC) = 1 AS kept
       |FROM cl
       |ORDER BY doc_id""".stripMargin

  val dedupSoftWeightsSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j
      |  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
      |    AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    >= 0.8),
      |edges AS (
      |  SELECT i AS a, j AS b FROM p UNION ALL SELECT j, i FROM p),
      |reach(a, b) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |lab AS (SELECT a AS doc_id, MIN(b) AS keep_id FROM reach GROUP BY a),
      |cl AS (
      |  SELECT doc.doc_id, COALESCE(lab.keep_id, doc.doc_id) AS cl
      |  FROM (SELECT doc_id FROM documents) doc
      |  LEFT JOIN lab ON lab.doc_id = doc.doc_id),
      |sz AS (SELECT cl AS ck, COUNT(*) AS cluster_size FROM cl GROUP BY 1)
      |SELECT cl.doc_id, sz.cluster_size,
      |  1000000 // sz.cluster_size AS weight_ppm
      |FROM cl JOIN sz ON sz.ck = cl.cl
      |ORDER BY cl.doc_id""".stripMargin

  val dedupClustersSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j
      |  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
      |    AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    >= 0.8),
      |edges AS (
      |  SELECT i AS a, j AS b FROM p UNION ALL SELECT j, i FROM p),
      |reach(a, b) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
      |SELECT a AS doc_id, MIN(b) AS keep_id
      |FROM reach
      |GROUP BY a
      |ORDER BY doc_id""".stripMargin

  // ------------- Paragraph-level (chunk) dedup -------------

  /** Paragraph-chunk width in tokens — the corpus has no newline
    * paragraph markers, so fixed token windows stand in (the rag_chunk
    * convention, non-overlapping here). */
  val ParaW = 16

  /** CCNet-style paragraph dedup: dedup at SUB-document granularity —
    * split every doc into consecutive [[ParaW]]-token chunks, keep a
    * chunk only at its FIRST corpus occurrence (min (doc_id, idx)),
    * rebuild each doc from its surviving chunks. This is the standard
    * web-corpus cleaning pass (CCNet; RefinedWeb runs the same shape):
    * whole-doc dedup misses boilerplate paragraphs shared across
    * otherwise-distinct pages, and passage dedup only FLAGS shared
    * windows — this one materializes the cleaned corpus.
    *
    * Output: (doc_id, n_chunks, n_kept, clean_text).
    *
    * Scale: explode is ∝ corpus tokens; first-occurrence is one
    * row_number window partitioned by the 64-bit chunk hash (the
    * boilerplate/decontaminate key idiom — 8-byte shuffle key,
    * collision-free at corpus chunk cardinalities so the string-keyed
    * DuckDB oracle matches exactly; WindowGroupLimit cannot prune rn=1
    * here because every row carries its verdict back, but the window
    * state per key is one counter); the rebuild is one groupBy doc_id.
    * Two shuffles total, both linear. */
  def paraDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ck")).orderBy(col("doc_id"), col("idx"))
    val chunks = docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .withColumn("n", size(col("ts")).cast("long"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0L),
          expr(s"(n + ${ParaW - 1}) DIV $ParaW - 1"))).as("idx"))
      .select(col("doc_id"), col("idx"),
        array_join(slice(col("ts"),
          (col("idx") * ParaW + 1).cast("int"), lit(ParaW)), " ").as("chunk"))
      .withColumn("ck", xxhash64(col("chunk")))
      .withColumn("kept", row_number().over(w) === 1)
    chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("idx"), col("chunk"))))),
          s => s.getField("chunk"))).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val paraDedupSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |ix AS (
       |  SELECT doc_id, ts,
       |    unnest(range(0, (len(ts) + ${ParaW - 1}) // $ParaW)) AS idx
       |  FROM d),
       |c AS (
       |  SELECT doc_id, idx,
       |    array_to_string(ts[(idx*$ParaW+1):(idx*$ParaW+$ParaW)], ' ') AS chunk
       |  FROM ix),
       |r AS (
       |  SELECT doc_id, idx, chunk,
       |    row_number() OVER (PARTITION BY chunk
       |      ORDER BY doc_id, idx) AS rn
       |  FROM c)
       |SELECT doc_id, COUNT(*) AS n_chunks,
       |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
       |    ORDER BY idx), '') AS clean_text
       |FROM r
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ------------- Exact-substring (passage) dedup -------------

  /** 64-bit hash per length-`w` token window (stride 1) of a
    * MATERIALIZED token-array column — the window generalization of
    * [[shingleHashes64]]: `xxhash64(t_i, …, t_{i+w-1})` chains
    * per-field with the running hash as seed, so token boundaries are
    * preserved without building any window STRING. Docs shorter than
    * `w` tokens contribute their whole text as one window (mirrors
    * the shingle short-doc convention, so the SQL oracle's `[text]`
    * branch lines up). Collision-free at corpus window cardinalities
    * (P ≈ n²/2⁶⁵), so counts over these hashes equal counts over the
    * string windows. */
  def windowHashes64(ts: Column, w: Int): Column = {
    val n = size(ts)
    when(n < w, array(xxhash64(array_join(ts, " "))))
      .otherwise(transform(sequence(lit(1), n - (w - 1)),
        i => xxhash64(Seq.tabulate(w)(k => element_at(ts, i + k)): _*)))
  }

  /** Exact-substring (PASSAGE) dedup — the window-hash formulation of
    * suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): a length-`w` token
    * window occurring in MORE THAN ONE document marks a duplicated
    * passage even when the docs as a whole are distinct — licenses,
    * boilerplate headers, quoted chunks that survive doc-level dedup.
    * Per doc: distinct windows, windows shared with any other doc,
    * duplicated fraction as integer ppm, and a flag at `minDupPpm`.
    *
    * Scale shape: explode per-doc DISTINCT window hashes (linear in
    * corpus tokens), partial-agg groupBy on the hash to find windows
    * in ≥2 docs (the shared set is tiny next to the corpus — only
    * actually-duplicated passages), one equi-join back, one per-doc
    * count. NO pair scan anywhere: a passage shared by k docs costs k
    * rows, not k². The suffix-array original needs a global sorted
    * structure; the window-hash form is embarrassingly parallel and
    * loses only substring positions, which the flag/ppm outputs don't
    * need. Reference analog: none in mrjob — training-pipeline
    * extension surface (BASELINE.json). */
  def passageDedup(spark: SparkSession, dir: String, w: Int = 8,
      minDupPpm: Int = 200000): DataFrame =
    passageDedupOn(docs(spark, dir), w, minDupPpm)

  /** [[passageDedup]] over any (doc_id, text) frame — spec entry. */
  def passageDedupOn(d: DataFrame, w: Int = 8,
      minDupPpm: Int = 200000): DataFrame = {
    val u = d
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"),
        explode(array_distinct(windowHashes64(col("ts"), w))).as("g"))
    val shared = u.groupBy(col("g"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1)
      .select(col("g"), lit(1).as("dup"))
    u.join(shared, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_win"), count(col("dup")).as("n_dup"))
      .select(col("doc_id"), col("n_win"), col("n_dup"),
        expr("1000000 * n_dup DIV n_win").as("dup_ppm"))
      .withColumn("has_dup_passage", col("dup_ppm") >= lit(minDupPpm))
      .orderBy(col("doc_id"))
  }

  val passageDedupSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts, text FROM documents),
      |w AS (
      |  SELECT doc_id,
      |    CASE WHEN len(ts) < 8 THEN [text]
      |         ELSE list_transform(range(1, len(ts) - 6),
      |                i -> array_to_string(list_slice(ts, i, i + 7), ' ')) END AS ws
      |  FROM d),
      |u AS (SELECT doc_id, unnest(list_distinct(ws)) AS g FROM w),
      |shared AS (SELECT g FROM u GROUP BY g HAVING COUNT(*) > 1),
      |per AS (
      |  SELECT u.doc_id, COUNT(*) AS n_win, COUNT(s.g) AS n_dup
      |  FROM u LEFT JOIN shared s USING (g)
      |  GROUP BY u.doc_id)
      |SELECT doc_id, n_win, n_dup,
      |  1000000 * n_dup // n_win AS dup_ppm,
      |  (1000000 * n_dup // n_win >= 200000) AS has_dup_passage
      |FROM per ORDER BY doc_id""".stripMargin

  /** Corpus-level duplicate n-gram mass, per source — the Wimbd-style
    * corpus statistic (Elazar et al. 2024, "What's In My Big Data?"):
    * of all length-`w` token-window OCCURRENCES in a source, what
    * fraction are repeats of a window already seen (within-doc
    * repeats count — a window occurring c times contributes c−1
    * repeats)? High mass means boilerplate/templated content dominates
    * the source, and predicts how much [[passageDedup]] will remove —
    * this is the cheap per-source dashboard number; passageDedup is
    * the per-doc actionable output.
    *
    * Scale shape: one explode (linear in corpus tokens) → one
    * (source, window-hash) partial+final count — map-side combine
    * collapses each task's repeats — → one |sources|-row agg. No
    * joins, no pair scan. Same xxhash64-vs-string-window oracle
    * contract as [[passageDedup]]: hash-grouped counts equal
    * string-grouped counts absent 64-bit collisions on the realized
    * window set. */
  def ngramDupMass(spark: SparkSession, dir: String, w: Int = 8): DataFrame = {
    val occ = docs(spark, dir)
      .select(col("source"), split(col("text"), " ").as("ts"))
      .select(col("source"),
        explode(windowHashes64(col("ts"), w)).as("g"))
    occ.groupBy(col("source"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_occ"),
        count(lit(1)).as("n_kinds"),
        sum(col("c") - 1).as("n_rep"))
      .select(col("source"), col("n_occ"), col("n_kinds"), col("n_rep"),
        expr("1000000 * n_rep DIV n_occ").as("rep_ppm"))
      .orderBy(col("source"))
  }

  val ngramDupMassSql: String =
    """WITH d AS (
      |  SELECT source, string_split(text, ' ') AS ts, text FROM documents),
      |wnd AS (
      |  SELECT source,
      |    CASE WHEN len(ts) < 8 THEN [text]
      |         ELSE list_transform(range(1, len(ts) - 6),
      |                i -> array_to_string(list_slice(ts, i, i + 7), ' ')) END AS ws
      |  FROM d),
      |occ AS (SELECT source, unnest(ws) AS g FROM wnd),
      |per AS (
      |  SELECT source, g, COUNT(*) AS c FROM occ GROUP BY source, g),
      |agg AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_occ,
      |    COUNT(*) AS n_kinds,
      |    CAST(SUM(c - 1) AS BIGINT) AS n_rep
      |  FROM per GROUP BY source)
      |SELECT source, n_occ, n_kinds, n_rep,
      |  1000000 * n_rep // n_occ AS rep_ppm
      |FROM agg ORDER BY source""".stripMargin

  // ------------- End-to-end near-dup clean -------------

  /** End-to-end NEAR-dup clean: the corpus that remains after
    * clustering Jaccard near-dups and keeping one survivor (min
    * doc_id) per cluster — the near-dup analog of the exact-dedup
    * stage in [[TextAnalysis.corpusClean]], and the output a training
    * pipeline actually writes. Composition of two already-oracled
    * contracts: [[dedupJaccard]] (LSH candidates + exact verify,
    * Σ bucket²) → [[resolveDupClusters]] (converging min-label
    * propagation) → drop every doc whose cluster label is not itself,
    * via ONE left-anti equi-join on doc_id (docs in no pair never
    * enter the cluster step and survive by construction). */
  def nearDupClean(spark: SparkSession, dir: String): DataFrame = {
    val drop = clusterLabels(spark, dir)
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
    docs(spark, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val nearDupCleanSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, lang, source,
      |    list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents),
      |p AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j
      |  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
      |    AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    >= 0.8),
      |edges AS (
      |  SELECT i AS a, j AS b FROM p UNION ALL SELECT j, i FROM p),
      |reach(a, b) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |drop AS (
      |  SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(b) <> a)
      |SELECT doc_id, lang, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM drop)
      |ORDER BY doc_id""".stripMargin

  // ---------------- incremental ingest near-dup ---------------------

  /** Batch derivation for the registered row: doc_id % 10 == 7 is the
    * "arriving" ingest batch (~10% of the corpus), the rest is the
    * live corpus — deterministic, so the row is fully oracled (the
    * corpus_merge fixture trick). */
  val IngestMod = 10L
  val IngestRem = 7L

  /** Incremental near-dup at INGEST time: the pair list (new doc,
    * live doc, jaccard) at 3-shingle J ≥ 0.5 between an arriving batch
    * and the live corpus — the operator an ingest pipeline runs per
    * batch so it never re-pairs the corpus against itself (that
    * corpus-wide pass is [[dedupMinhash]]; a batch pipeline runs it
    * once, then this per arrival).
    *
    * Same exactness contract as dedupMinhash: rows-per-band = 1
    * (bands = k = 32) means a true pair at J ≥ 0.5 escapes every band
    * with probability ≤ 2⁻³², and exact shingle-Jaccard verification
    * makes precision 1 — so the output equals the all-pairs new×live
    * ground truth the DuckDB oracle computes (and the spec pins).
    *
    * Scale shape: the live corpus' band table is the persistent INDEX
    * — at 100 TB it is computed once and stored bucketed by (band,
    * bh); each arriving batch computes bands for ITS rows only and
    * probes by equi-join, so per-ingest shuffle volume is
    * O(batch + matched buckets) and candidate work is
    * Σ_bucket |new_b|·|live_b| — proportional to the batch, never to
    * corpus². Exact verify then touches only candidate shingle sets
    * via two equi-joins. */
  /** The persistent live-corpus near-dup index: the (band, bh) band
    * table arriving batches probe by equi-join, plus the exact-verify
    * shingle sets. At 100 TB both are computed once, stored bucketed
    * by their join keys, and only ever READ per ingest. */
  final case class NearDupIndex(bands: DataFrame, shingles: DataFrame)

  def nearDupIndex(liveDocs: DataFrame): NearDupIndex =
    NearDupIndex(lshBands(minhashSignatures(liveDocs, 32), 32, 32),
      shingleSets(liveDocs))

  /** One ingest probe: (new doc, live doc, jaccard) pairs at J ≥
    * `threshold` between `newDocs` and the indexed live corpus —
    * shared verbatim by the batch catalog row ([[dedupIngest]]) and
    * the streaming per-micro-batch form
    * (graft.streaming.IngestStreaming). Unordered: a streaming caller
    * cannot sort an unbounded result. */
  def ingestPairs(newDocs: DataFrame, idx: NearDupIndex,
      threshold: Double = 0.5): DataFrame = {
    val nb = lshBands(minhashSignatures(newDocs, 32), 32, 32)
    val cands = nb.as("x").join(idx.bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("live_id"))
      .distinct()
    PairJoin.jaccard(cands, "shs", shingleSets(newDocs), idx.shingles,
        "new_id", "live_id")
      .filter(col("jaccard") >= threshold)
  }

  def dedupIngest(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val isNew = col("doc_id") % IngestMod === IngestRem
    ingestPairs(d.filter(isNew), nearDupIndex(d.filter(!isNew)))
      .orderBy(col("new_id"), col("live_id"))
  }

  val dedupIngestSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts, text FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    CASE WHEN len(ts) < 3 THEN [text]
       |         ELSE list_transform(range(1, len(ts) - 1),
       |                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) END AS sh
       |  FROM d),
       |u AS (SELECT doc_id, list_distinct(sh) AS sh FROM s),
       |p AS (
       |  SELECT a.doc_id AS new_id, b.doc_id AS live_id,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jaccard
       |  FROM u a JOIN u b
       |    ON a.doc_id % $IngestMod = $IngestRem
       |    AND b.doc_id % $IngestMod <> $IngestRem)
       |SELECT new_id, live_id, jaccard FROM p WHERE jaccard >= 0.5
       |ORDER BY new_id, live_id""".stripMargin

  /** Deterministic batch slice for [[dedupBloom]] (distinct from
    * [[dedupIngest]]'s so the two incremental ops exercise different
    * arrival sets). */
  val BloomMod = 10L
  val BloomRem = 3L

  /** Bloom filter sizing: expected distinct live texts and filter
    * bits. Fixed generous literals here (1 MiB filter ⇒ fp ≈ 2⁻¹⁰ at
    * 2²⁰ items); a production deployment sizes them from table stats
    * at ~10 bits/item for fp ≈ 1%. */
  val BloomItems = 1L << 20
  val BloomBits = 1L << 23

  /** Bloom-pruned duplicate check of an arriving batch against the
    * live corpus — the cheap front gate an ingest pipeline runs before
    * [[dedupIngest]]'s near-dup pass: which batch docs already exist
    * in the live set, and how many live copies does each have? The
    * identity key is the sorted distinct-token-set fingerprint (the
    * [[dedupFingerprint]] key — word-order-insensitive, so it catches
    * shuffled re-posts that verbatim text equality misses).
    *
    * Mechanics (all Spark-native expressions — the same
    * `bloom_filter_agg` / `might_contain` pair the optimizer uses for
    * runtime join pruning, bridged into Columns by
    * [[graft.functions.BloomFilters]]):
    *   1. ONE partial+final aggregate over live text hashes builds a
    *      bloom filter; only fixed-size bitsets cross the wire, and
    *      the finished filter broadcasts as a scalar subquery.
    *   2. The batch probes it MAP-SIDE: `might_contain` has no false
    *      negatives, so a pruned row is PROVABLY not a duplicate and
    *      never reaches the join — per-ingest shuffle volume is
    *      O(true dups + fp·batch), not O(batch).
    *   3. A bloom built the other way (over surviving batch hashes)
    *      prunes the LIVE side of the verify join the same way, so the
    *      per-text live aggregate touches only candidate texts.
    *   4. The exact text-keyed join then makes precision 1 regardless
    *      of fp — output equals the plain exact join the oracle runs.
    *
    * At 100 TB the live filter is built once and persisted alongside
    * the corpus (it is a plain binary value), so a batch arrival costs
    * one batch scan + a candidate-only join — never a corpus re-scan.
    * Reference analog: none (mrjob has no incremental surface); the
    * pattern is Spark's own InjectRuntimeFilter semi-join pruning,
    * made explicit and persistent. */
  def dedupBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomFilters
    val isNew = col("doc_id") % BloomMod === BloomRem
    val fp = array_join(
      sort_array(array_distinct(split(col("text"), " "))), " ")
    val d = docs(spark, dir).select(col("doc_id"), fp.as("fp"))
    val h = xxhash64(col("fp"))
    val live = d.filter(!isNew).select(col("fp"))
    val liveBloom = live.agg(
      BloomFilters.bloomAgg(h, BloomItems, BloomBits)).scalar()
    val batchCand = d.filter(isNew)
      .filter(BloomFilters.mightContain(liveBloom, h))
    val batchBloom = batchCand.agg(
      BloomFilters.bloomAgg(h, BloomItems, BloomBits)).scalar()
    val liveCounts = live
      .filter(BloomFilters.mightContain(batchBloom, h))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_live_copies"))
    batchCand.join(liveCounts, Seq("fp"))
      .select(col("doc_id"), col("n_live_copies"))
      .orderBy(col("doc_id"))
  }

  val dedupBloomSql: String =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    array_to_string(list_sort(list_distinct(
       |      string_split(text, ' '))), ' ') AS fp
       |  FROM documents)
       |SELECT d.doc_id, COUNT(*) AS n_live_copies
       |FROM k d JOIN k l ON l.fp = d.fp
       |WHERE d.doc_id % $BloomMod = $BloomRem
       |  AND l.doc_id % $BloomMod <> $BloomRem
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------- containment (doc-in-doc) near-dup ----------------

  /** Rare-shingle df cap for [[dedupContainment]] — shingles shared by
    * more than this many documents are boilerplate and excluded from
    * BOTH the numerator and denominator (the cap is part of the
    * operator's definition, mirrored exactly by the oracle, so the
    * score stays deterministic rather than an approximation of an
    * uncapped ideal). */
  val ContainCap = 50
  /** Directed containment threshold. */
  val ContainTau = 0.8

  /** Directed CONTAINMENT-scored near-dup: C(A,B) = |S(A)∩S(B)| /
    * |S(A)| over distinct rare word-3-gram shingles — Broder's
    * containment measure (1997, "On the resemblance and containment
    * of documents") as opposed to the resemblance (Jaccard) the
    * [[dedupJaccard]] family scores. Catches the doc-in-doc duplication
    * resemblance misses by construction: a short page quoted wholesale
    * inside a long one has J ≈ |A|/|B| ≈ 0 but C(A→B) ≈ 1. Crawl
    * pipelines need both (quote-inflation and template-wrapping are
    * containment events, not resemblance events).
    *
    * Scale shape: candidate pairs come from the rare-shingle self
    * equi-join, so the fan-out is Σ_sh min(df, [[ContainCap]])² — the
    * same df-capped bound as doc_sim_sparse's champion lists, never
    * N². The df filter runs BEFORE the pair join (boilerplate
    * shingles, the only unbounded-df keys, never enter it). Shingles
    * are 64-bit chained xxhash64 (collision ≈ |shingles|²/2⁶⁵ — at
    * 30-bit this operator WOULD diverge from the string oracle, since
    * shingle identity enters the score directly, unlike the LSH paths
    * where candidates only need to be a superset). Distinct-per-doc
    * projection before every aggregate keeps counts set-valued.
    * Output: directed pairs a→b with C ≥ [[ContainTau]]; the score
    * double is a division of two exactly-agreed integers, so it is
    * bit-identical across engines. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(spread(docs(spark, dir)))

  /** Core of [[dedupContainment]] over any (doc_id, text) frame —
    * factored for the planted-corpus spec. */
  def containmentPairs(docsDf: DataFrame, cap: Int = ContainCap,
      tau: Double = ContainTau): DataFrame = {
    val d = docsDf
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
    // Same duplicated-prep pathology the prefix join had (r6): grams
    // is planned under BOTH the df-filter subtree and the join's left
    // side, and rare under THREE consumers (both pair-join sides +
    // the na agg) — each AQE stage build re-ran the shingle hashing
    // from the scan. Materialize each once.
    val grams = d
      .select(col("doc_id"), explode(shingleHashes64(col("ts"))).as("sh"))
      .distinct()
      .localCheckpoint()
    val rareSh = grams.groupBy(col("sh"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap)
      .select(col("sh"))
    // bucketed by the join key at full width: left to AQE, the few-MB
    // shuffle coalesces to a few partitions and the Σ min(df,cap)²
    // pair expansion loses its parallelism (the r6 single-thread
    // pathology, measured then at 1.8 s of the row's 4 s)
    val rare = PairJoin.buckets(grams.join(rareSh, Seq("sh")), "sh")
    val na = rare.rows.groupBy(col("doc_id")).agg(count(lit(1)).as("na"))
    val shared = rare.pairs(col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(na.withColumnRenamed("doc_id", "a_id"), Seq("a_id"))
      .select(col("a_id"), col("b_id"),
        (col("shared").cast("double") / col("na").cast("double"))
          .as("containment"))
      .filter(col("containment") >= tau)
      .orderBy(col("a_id"), col("b_id"))
  }

  // ---------------- prefix-filtering exact similarity join ----------

  /** EXACT corpus-wide shingle-set Jaccard J ≥ 0.8 pair join via
    * PREFIX FILTERING (Bayardo et al. 2007 "Scaling up all pairs
    * similarity search"; Xiao et al. 2008 PPJoin) — the deterministic
    * alternative to [[dedupMinhash]]'s LSH: no banding, no
    * P(miss) ≤ 2⁻³² footnote; the prefix theorem guarantees ZERO
    * misses. Sets are distinct word-3-gram shingle hashes
    * ([[shingleHashes64]] — ORDER-SENSITIVE; a token-SET basis
    * degenerates on vocab-sharing corpora, where every same-source
    * pair looks 0.8-similar and the pair list goes quadratic in
    * source size: measured 30k token-set pairs vs 25 shingle pairs on
    * the same 500-doc slice). Order every doc's shingle set by GLOBAL
    * document frequency ascending (rarest first, ties by hash — total
    * order, so the plan is deterministic), take each doc's
    * (s − ⌈t·s⌉ + 1)-prefix; any pair with J ≥ t must share a prefix
    * shingle, so the equi-join on prefix shingles is a complete
    * candidate generator. The symmetric length filter
    * 4·max(|A|,|B|) ≤ 5·min(|A|,|B|) (J ≥ 4/5 ⇒ sizes within 5/4)
    * prunes inside the join condition.
    *
    * Scale shape: candidate fan-out is Σ over PREFIX shingles of
    * df² — and prefixes hold each doc's RAREST shingles by
    * construction, so high-df boilerplate never enters the pair join
    * (the frequency-order prefix is the entire trick). The df agg is
    * one partial+final shuffle; exact verify reuses the codegen'd
    * two-pointer [[graft.functions.SortedIntersectCount]]. Versus
    * dedup_minhash: no signature computation and exactness for free,
    * in exchange for candidate counts that grow with prefix-shingle
    * density rather than staying band-bounded — the classic
    * exact-vs-LSH trade. */
  def dedupPrefixJoin(spark: SparkSession, dir: String): DataFrame =
    prefixJoinPairs(spread(docs(spark, dir)))

  /** Core of [[dedupPrefixJoin]] over any (doc_id, text) frame; docs
    * under 3 tokens have no shingles and are excluded (mirrored by the
    * oracle). */
  def prefixJoinPairs(docsDf: DataFrame, tauNum: Int = 4,
      tauDen: Int = 5): DataFrame = {
    // Eagerly materialized ONCE: left as a view, the tokenize→hash→
    // distinct subtree is planned under BOTH shuffle stages AQE builds
    // for the df join (toks side and dfreq side), and each
    // materialization recomputes it from the scan — measured as the
    // round-5 9.2 s row's entire overhead (two serial 3 s single-task
    // stage builds over the one-partition sf0.1 scan; with base
    // checkpointed the whole query runs 2.0 s). At cluster scale the
    // duplicate compute is the same 2×; the checkpoint is |docs| rows
    // of shingle arrays — the same bytes the shuffle moves anyway.
    val base = docsDf.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"),
        array_distinct(shingleHashes64(col("ts"))).as("hs"))
      .localCheckpoint()
    val toks = base.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = toks.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val prefix = toks.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("h"))))
        .as("arr"))
      .select(col("doc_id"), expr("transform(arr, x -> x.h)").as("ord"),
        size(col("arr")).as("s"))
      // prefix length s - ceil(t·s) + 1 with t = tauNum/tauDen
      .withColumn("p", col("s") -
        expr(s"($tauNum * s + ${tauDen - 1}) DIV $tauDen") + lit(1))
      .select(col("doc_id"), col("s"),
        explode(expr("slice(ord, 1, p)")).as("h"))
    // Both sides of the candidate self-join and both verify joins
    // re-plan the shingle → df → ordered-prefix pipeline from the scan
    // when left as views — the whole prep subtree was planned FOUR
    // times and dominated the row's cost (r5 judge: 9.2 s at sf0.1,
    // blow-up ratio 0.8× = pure fixed stage overhead). `prefix` is
    // |docs|×prefix-len skinny rows and `sorted` |docs| shingle arrays
    // — kilobytes per million docs — so eager localCheckpoint (the
    // ksOfHist idiom: reference-tracked blocks, freed by the
    // ContextCleaner, unlike an unpaired persist) materializes each
    // ONCE and all four consumers read the cached rows.
    val cands = PairJoin.buckets(prefix, "h")
      .pairs(col("x.doc_id") < col("y.doc_id") &&
        col("x.s") * tauNum <= col("y.s") * tauDen &&
        col("y.s") * tauNum <= col("x.s") * tauDen)
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    val sorted = base.select(col("doc_id"), sort_array(col("hs")).as("toks"))
      .localCheckpoint()
    PairJoin.jaccard(cands, "toks", sorted, sorted)
      .filter(col("jaccard") * tauDen >= tauNum)
      .orderBy(col("i"), col("j"))
  }

  val dedupPrefixJoinSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |d2 AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(ts) - 1),
      |    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS toks
      |  FROM toks),
      |p AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j,
      |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |    CAST(len(a.toks) + len(b.toks) -
      |      len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
      |  FROM d2 a JOIN d2 b ON a.doc_id < b.doc_id)
      |SELECT i, j, jaccard FROM p WHERE jaccard * 5 >= 4
      |ORDER BY i, j""".stripMargin

  val dedupContainmentSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    ts[CAST(g AS INT)] || ' ' || ts[CAST(g AS INT) + 1] || ' ' ||
       |      ts[CAST(g AS INT) + 2] AS sh
       |  FROM toks, UNNEST(range(1, len(ts) - 1)) AS t(g)),
       |rare AS (
       |  SELECT s.doc_id, s.sh FROM sh s
       |  JOIN (SELECT sh FROM sh GROUP BY sh
       |        HAVING COUNT(*) <= $ContainCap) r USING (sh)),
       |na AS (SELECT doc_id, COUNT(*) AS na FROM rare GROUP BY 1),
       |shared AS (
       |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
       |  FROM rare a JOIN rare b USING (sh)
       |  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
       |SELECT a_id, b_id,
       |  CAST(shared AS DOUBLE) / CAST(na.na AS DOUBLE) AS containment
       |FROM shared JOIN na ON na.doc_id = shared.a_id
       |WHERE CAST(shared AS DOUBLE) / CAST(na.na AS DOUBLE) >= $ContainTau
       |ORDER BY a_id, b_id""".stripMargin

  /** Dup-mass floor for CDC statistics: chunks shorter than this are
    * noise (single words); the floor recovers what real CDC's
    * min-clamp is for without the clamp's sequential state. */
  private[graft] val CdcMinLen = 8

  /** Content-defined-chunking dup mass (r10): per source, how much of
    * the corpus consists of chunks SHARED across documents — the
    * storage-dedup view of duplication ([[graft.functions.CdcChunks]];
    * LBFS/FastCDC lineage). Complements the fixed-window substring
    * passes: CDC boundaries move WITH the content, so a shared passage
    * whose byte offset shifts between documents still yields identical
    * chunks — dedup_substring's windows only align when offsets do.
    *
    * Shape: one corpus scan computes every doc's chunk list inside
    * whole-stage codegen (one static call per row), localCheckpoint'd
    * so the count leg and the dup leg read the materialized lists
    * instead of re-chunking; the dup leg shuffles (chunk → distinct
    * doc count) — linear in corpus chunks, mean chunk ≈ 16 cps so
    * ~1/16 of corpus rows — then re-keys per source. No pair join
    * anywhere: dup-ness is a per-chunk degree, never an explicit pair
    * list, so output is |sources| rows at ANY corpus size. */
  /** (doc_id, chunk) rows of the ≥[[CdcMinLen]]-cp CDC chunks over any
    * (doc_id, text, …) frame — shared VERBATIM by the batch dup-mass
    * row and the streaming ingest probe
    * ([[graft.streaming.IngestStreaming.cdcIngestStream]]), so the
    * boundary rule and the length floor cannot drift between them. */
  def cdcBigChunks(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(graft.functions.CdcChunks.chunks(col("text"))).as("chunk"))
      .where(length(col("chunk")) >= CdcMinLen)

  def dedupCdc(spark: SparkSession, dir: String): DataFrame = {
    val base = spread(docs(spark, dir))
      .select(col("doc_id"), col("source"),
        graft.functions.CdcChunks.chunks(col("text")).as("arr"))
      .localCheckpoint()
    val allc = base.groupBy(col("source"))
      .agg(sum(size(col("arr")).cast("long")).as("n_chunks"))
    val big = base
      .select(col("doc_id"), col("source"), explode(col("arr")).as("chunk"))
      .where(length(col("chunk")) >= CdcMinLen)
    val nd = big.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val per = big.join(nd, Seq("chunk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_big"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("dup_big"))
    allc.join(per, Seq("source"), "left")
      .select(col("source"), col("n_chunks"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("dup_big"), lit(0L)).as("dup_big"),
        when(coalesce(col("n_big"), lit(0L)) > 0,
          expr("dup_big * 1000000 DIV n_big")).otherwise(0L)
          .as("dup_ppm"))
      .orderBy(col("source"))
  }

  /** The CDC chunking CTE chain — boundary positions → chunk spans →
    * `ch(doc_id, source, chunk)` — shared by [[dedupCdcSql]] and the
    * ingest-door composition ([[IngestDoor.ingestDoorSql]]) so the
    * SQL twin of [[graft.functions.CdcChunks]] has ONE spelling.
    * Embed as `WITH $cdcChunkCtesSql,` (trailing comma required). */
  private[graft] lazy val cdcChunkCtesSql: String =
    s"""pos AS (
       |  SELECT doc_id, source, text,
       |    unnest(range(${graft.functions.CdcChunks.Gram},
       |      len(text) + 1)) AS i
       |  FROM documents),
       |bnd AS (
       |  SELECT doc_id, i FROM pos
       |  WHERE ((((CAST(ascii(substr(text, i - 3, 1)) AS BIGINT) * 31
       |        + ascii(substr(text, i - 2, 1))) * 31)
       |        + ascii(substr(text, i - 1, 1))) * 31
       |        + ascii(substr(text, i, 1))) %
       |        ${graft.functions.CdcChunks.Mask} = 0),
       |ends AS (
       |  SELECT doc_id, i AS e FROM bnd
       |  UNION
       |  SELECT doc_id, CAST(len(text) AS BIGINT) AS e FROM documents
       |  WHERE len(text) > 0),
       |cks AS (
       |  SELECT doc_id,
       |    COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1
       |      AS s, e
       |  FROM ends),
       |ch AS (
       |  SELECT c.doc_id, d.source,
       |    substr(d.text, CAST(c.s AS BIGINT),
       |      CAST(c.e - c.s + 1 AS BIGINT)) AS chunk
       |  FROM cks c JOIN documents d USING (doc_id))""".stripMargin

  lazy val dedupCdcSql: String =
    s"""WITH $cdcChunkCtesSql,
       |allc AS (
       |  SELECT source, COUNT(*) AS n_chunks FROM ch GROUP BY source),
       |big AS (
       |  SELECT doc_id, source, chunk FROM ch
       |  WHERE len(chunk) >= $CdcMinLen),
       |nd AS (
       |  SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM big
       |  GROUP BY chunk),
       |per AS (
       |  SELECT b.source, COUNT(*) AS n_big,
       |    SUM(CASE WHEN nd.nd > 1 THEN 1 ELSE 0 END) AS dup_big
       |  FROM big b JOIN nd USING (chunk) GROUP BY b.source)
       |SELECT a.source, CAST(a.n_chunks AS BIGINT) AS n_chunks,
       |  CAST(COALESCE(p.n_big, 0) AS BIGINT) AS n_big,
       |  CAST(COALESCE(p.dup_big, 0) AS BIGINT) AS dup_big,
       |  CAST(CASE WHEN COALESCE(p.n_big, 0) > 0
       |    THEN (p.dup_big * 1000000) // p.n_big ELSE 0 END AS BIGINT)
       |    AS dup_ppm
       |FROM allc a LEFT JOIN per p ON a.source = p.source
       |ORDER BY a.source""".stripMargin
}
