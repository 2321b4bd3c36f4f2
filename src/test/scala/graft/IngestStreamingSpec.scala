package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps
import graft.streaming.IngestStreaming

/** Streaming near-dup ingest: the stream over the SAME arriving docs,
  * delivered across two separate micro-batch landings, must produce
  * exactly the batch operator's verified pair list. */
class IngestStreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.Sf0001

  test("two-landing stream equals the batch ingest pair list") {
    import org.apache.spark.sql.functions.col
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val isNew = col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem
    val live = d.filter(!isNew)
    val arriving = d.filter(isNew)

    val tmp = Files.createTempDirectory("graft_ingest_stream")
    val landing = tmp.resolve("landing").toString
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString

    // land the arrivals as two separate parquet files;
    // maxFilesPerTrigger=1 makes AvailableNow drain them as two
    // micro-batches, so the equality below proves batch-split
    // invariance, not just end-to-end plumbing
    Files.createDirectory(java.nio.file.Paths.get(landing))
    Seq(0, 1).foreach { chunk =>
      val stage = tmp.resolve(s"stage$chunk").toString
      arriving.filter(col("doc_id") % 2 === chunk)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"part-$chunk.parquet"))
    }

    val q = IngestStreaming.nearDupIngestStream(
      spark, landing, live, out, ckpt, maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()

    val got = spark.read.parquet(out)
      .orderBy("new_id", "live_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val want = DedupOps.dedupIngest(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(want.nonEmpty, "fixture must produce at least one near-dup pair")
    assert(got == want)
  }

  test("two-landing ANN ingest stream equals the batch annIngest " +
    "neighbor list") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val isNew = col("vec_id") % graft.operators.SimilarityOps.IngestVecMod ===
      graft.operators.SimilarityOps.IngestVecRem
    val live = e.filter(!isNew)
    val arriving = e.filter(isNew)

    val tmp = Files.createTempDirectory("graft_ann_ingest_stream")
    val landing = tmp.resolve("landing").toString
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    Files.createDirectory(java.nio.file.Paths.get(landing))
    Seq(0, 1).foreach { chunk =>
      val stage = tmp.resolve(s"stage$chunk").toString
      arriving.filter(col("vec_id") % 2 === chunk)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"part-$chunk.parquet"))
    }

    val q = IngestStreaming.annIngestStream(
      spark, landing, live, out, ckpt, maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()

    val got = spark.read.parquet(out)
      .orderBy("q_vec_id", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val want = graft.operators.SimilarityOps.annIngest(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(want.nonEmpty)
    assert(got == want,
      "per-micro-batch IVF probes must reproduce the batch ingest " +
        "search exactly (probes == cells exactness, batch-split " +
        "invariant because each query's result depends only on the " +
        "live index)")
  }

  test("streaming CMS cells: bounded key space, stream equals batch, " +
    "point queries never underestimate") {
    import org.apache.spark.sql.functions._
    val d = graft.sources.Tables.load(spark, dir, "documents")
    // FileStreamSource needs a DIRECTORY; the sf table is one file
    val landing = Files.createTempDirectory("graft_cms_stream")
    Files.copy(java.nio.file.Paths.get(s"$dir/documents.parquet"),
      landing.resolve("part-0.parquet"))
    val docsPath = landing.toString

    val q = graft.streaming.IngestStreaming.cmsCellsStream(spark, docsPath)
      .writeStream.format("memory").queryName("cms_cells")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cms_cells").collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      // key space bounded by construction
      assert(got.size <= graft.operators.SketchOps.CmsDepth *
        graft.operators.SketchOps.CmsWidth)
      // stream == batch under the same hash family
      val want = graft.streaming.IngestStreaming.cmsCellsOf(d,
          graft.operators.SketchOps.CmsDepth,
          graft.operators.SketchOps.CmsWidth).collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      assert(got == want)
      // overestimate-only point queries for ten sample words
      val words = d.select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok").count()
        .orderBy(col("count").desc, col("tok")).limit(10)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      words.foreach { case (w, cnt) =>
        // compute buckets through the engine so hash semantics match
        val bs = spark.range(1).select(array(
          (0 until graft.operators.SketchOps.CmsDepth).map(i =>
            pmod(xxhash64(lit(i), lit(w)),
              lit(graft.operators.SketchOps.CmsWidth.toLong))): _*).as("bs"))
          .collect()(0).getSeq[Long](0)
        val pointEst = bs.zipWithIndex.map { case (b, i) => got((i, b)) }.min
        assert(pointEst >= cnt, s"$w: est $pointEst < true $cnt")
      }
    } finally q.stop()
  }

  test("streaming drift histogram: bounded state, and ksOfHist over " +
    "the final cells equals the batch drift_ks exactly") {
    import org.apache.spark.sql.functions.col
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val landing = Files.createTempDirectory("graft_drift_stream")
    Files.copy(java.nio.file.Paths.get(s"$dir/documents.parquet"),
      landing.resolve("part-0.parquet"))

    val q = IngestStreaming.driftHistStream(spark, landing.toString)
      .writeStream.format("memory").queryName("drift_hist")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val cells = spark.table("drift_hist")
      // state bounded by the value domain, never the corpus
      val bound = d.select(col("source")).distinct().count() *
        d.select(col("n_chars")).distinct().count()
      assert(cells.count() <= bound)
      // the DOCUMENTED consumer path — memory-sink view straight into
      // ksOfHist; its internal localCheckpoint is what makes the
      // self-joins resolve (a raw memory view would trip Catalyst's
      // conflicting-reference check)
      val got = graft.operators.TextAnalysis.ksOfHist(cells).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val want = graft.operators.TextAnalysis.ksBySource(d).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want)
    } finally q.stop()
  }

  test("streaming drift survives a restart: checkpointed histogram " +
    "state + source log resume mid-corpus and still match batch") {
    import org.apache.spark.sql.functions.col
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val landing = Files.createTempDirectory("graft_drift_restart")
    val ckpt = Files.createTempDirectory("graft_drift_ckpt")
    def ks(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
    def startQ() = IngestStreaming
      .driftHistStream(spark, landing.toString)
      .writeStream.format("memory").queryName("drift_hist_restart")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("complete").start()

    // first half lands, monitor runs, then goes DOWN
    d.filter(col("doc_id") % 2 === 0)
      .write.mode("append").parquet(landing.toString)
    val q1 = startQ()
    try {
      q1.processAllAvailable()
      assert(ks(graft.operators.TextAnalysis.ksOfHist(
          spark.table("drift_hist_restart"))) ==
        ks(graft.operators.TextAnalysis.ksBySource(
          d.filter(col("doc_id") % 2 === 0))),
        "pre-restart cells must already score the first half")
    } finally q1.stop()

    // second half arrives while the monitor is down; the restarted
    // query must resume from the checkpoint — recovering the
    // aggregation state AND the source's processed-file log (a re-read
    // of the first half would double its counts and break the match)
    d.filter(col("doc_id") % 2 === 1)
      .write.mode("append").parquet(landing.toString)
    val q2 = startQ()
    try {
      q2.processAllAvailable()
      assert(ks(graft.operators.TextAnalysis.ksOfHist(
          spark.table("drift_hist_restart"))) ==
        ks(graft.operators.TextAnalysis.ksBySource(d)),
        "post-restart cells must equal the full-corpus batch score")
    } finally q2.stop()
  }

  test("two-landing decontamination stream equals the batch " +
    "decontaminate row (per-doc scoring is batch-split invariant)") {
    import org.apache.spark.sql.functions.col
    val d = graft.sources.Tables.load(spark, dir, "documents")

    val tmp = Files.createTempDirectory("graft_decontam_stream")
    val landing = tmp.resolve("landing").toString
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    Files.createDirectory(java.nio.file.Paths.get(landing))
    Seq(0, 1).foreach { chunk =>
      val stage = tmp.resolve(s"stage$chunk").toString
      d.filter(col("doc_id") % 2 === chunk)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"part-$chunk.parquet"))
    }

    val q = IngestStreaming.decontaminateStream(
      spark, landing, d, out, ckpt, maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()

    val got = spark.read.parquet(out).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = graft.operators.TextAnalysis.decontaminate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(want.nonEmpty, "fixture must flag at least one doc")
    assert(got == want)
  }

  test("two-landing CDC ingest probe: a re-crawled text reads dup_ppm " +
    "1e6, novel text reads 0, stream equals the batch probe over the " +
    "same arrivals") {
    import org.apache.spark.sql.functions._
    val live = graft.sources.Tables.load(spark, dir, "documents")
    val liveText = live.orderBy("doc_id").limit(1)
      .collect()(0).getAs[String]("text")
    // arrival 1: byte-identical re-crawl of a live doc under a new id
    // (the URL gate would MISS it if the address changed; CDC chunks
    // are address-blind); arrival 2: novel text sharing no 8-cp chunk
    val novel = "zq xv jk wp fy gm bn cd lr st uv wx yz aa bb cc dd " +
      "ee ff gg hh ii jj kk ll mm nn oo pp qq rr ss tt uu vv ww xx"
    import spark.implicits._
    val arrivals = Seq(
      (900001L, liveText, "en", "srcX", liveText.length.toLong),
      (900002L, novel, "en", "srcX", novel.length.toLong)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")

    val tmp = Files.createTempDirectory("graft_cdc_stream")
    val landing = tmp.resolve("landing").toString
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    Files.createDirectory(java.nio.file.Paths.get(landing))
    Seq(0, 1).foreach { chunk =>
      val stage = tmp.resolve(s"stage$chunk").toString
      arrivals.filter(col("doc_id") % 2 === chunk)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"part-$chunk.parquet"))
    }

    val q = IngestStreaming.cdcIngestStream(
      spark, landing, live, out, ckpt, maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()

    val got = spark.read.parquet(out).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got.map(_._1) == Seq(900001L, 900002L))
    val recrawl = got(0); val fresh = got(1)
    assert(recrawl._4 == 1000000L,
      s"byte-identical re-crawl must read dup_ppm 1e6: $recrawl")
    assert(fresh._4 == 0L, s"novel text must read dup_ppm 0: $fresh")
    // stream ≡ the direct batch probe through the shared helper
    val liveChunks = graft.operators.DedupOps.cdcBigChunks(live)
      .select(col("chunk")).distinct()
    val ch = graft.operators.DedupOps.cdcBigChunks(arrivals)
    val want = ch.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_big"))
      .join(ch.join(liveChunks, Seq("chunk"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_big")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_big"),
        coalesce(col("dup_big"), lit(0L)).as("dup_big"),
        expr("coalesce(dup_big, 0L) * 1000000 DIV n_big").as("dup_ppm"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(got == want, "stream probe must equal the batch probe")
  }

  test("two-landing PII scrub stream equals the batch scrub over the " +
    "same arrivals (stateless per-row projection, split-invariant)") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    // arrivals carry REAL PII shapes in half the docs so both the
    // match-count and the redaction digest are exercised
    val d = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 2 === 0,
          lit(" mail me: p.qr@host.example.com or 415-555-0142"))
          .otherwise(lit(""))).as("text"),
        col("lang"), col("source"), col("n_chars"))

    val tmp = Files.createTempDirectory("graft_pii_stream")
    val landing = tmp.resolve("landing").toString
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    Files.createDirectory(java.nio.file.Paths.get(landing))
    Seq(0, 1).foreach { chunk =>
      val stage = tmp.resolve(s"stage$chunk").toString
      d.filter(col("doc_id") % 2 === chunk)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"part-$chunk.parquet"))
    }

    val q = IngestStreaming.piiScrubStream(
      spark, landing, out, ckpt, maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val got = rows(spark.read.parquet(out))
    val want = rows(graft.operators.PiiOps.scrubFrame(
      d.select(col("doc_id"), col("text"))))
    assert(want.exists(_._2 >= 2), "planted arrivals must carry PII")
    assert(want.exists(_._2 == 0), "clean arrivals must pass n_pii=0")
    assert(got == want,
      "stream scrub must equal the batch scrub (shared projection)")
  }

  test("url-dedup stream admits one first-arrived survivor per " +
    "canonical URL, rejects live-corpus canons, and holds the " +
    "admitted state across micro-batches") {
    import spark.implicits._
    def docsOf(rows: Seq[(Long, String)]) =
      rows.map { case (id, src) =>
        (id, s"text $id", "en", src, 7L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")

    // live corpus owns canon s.example/p/7 (ids 1000-1001)
    val live = docsOf(Seq((1000L, "s"), (1001L, "s")))
    // batch 1: ids 2 and 4 share s/p/0 (min-id 2 must win); 999 hits
    // the live canon (reject); 1400 is fresh (s/p/10)
    val part0 = docsOf(Seq((2L, "s"), (4L, "s"), (999L, "s"), (1400L, "s")))
    // batch 2: ids 0 and 1 are s/p/0 — LOWER ids than the batch-1
    // survivor, but first-arrival wins at the door; 2000 is fresh t/p/14
    val part1 = docsOf(Seq((0L, "s"), (1L, "s"), (2000L, "t")))

    val tmp = Files.createTempDirectory("graft_url_stream")
    val landing = tmp.resolve("landing").toString
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    Files.createDirectory(java.nio.file.Paths.get(landing))
    Seq(part0 -> 0, part1 -> 1).foreach { case (df, chunk) =>
      val stage = tmp.resolve(s"stage$chunk").toString
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(landing, s"part-$chunk.parquet")
      Files.move(part.toPath, dst)
      // the file source orders by modification time: pin batch order
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000L + chunk * 60000L))
    }

    val q = IngestStreaming.urlDedupStream(
      spark, landing, live, out, ckpt, maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()

    val admitted = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(admitted == Set(
      (2L, "s.example/p/0"),     // batch-1 min-id survivor of s/p/0
      (1400L, "s.example/p/10"), // fresh in batch 1
      (2000L, "t.example/p/14")),// fresh in batch 2
      s"got $admitted")
  }

  test("url-dedup stream RESTART from a checkpoint keeps previously " +
    "admitted rows and their dedup state — the seed must not wipe the " +
    "admitted table (round-7 advice #3)") {
    import spark.implicits._
    def docsOf(rows: Seq[(Long, String)]) =
      rows.map { case (id, src) =>
        (id, s"text $id", "en", src, 7L)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val live = docsOf(Seq((1000L, "s")))
    val tmp = Files.createTempDirectory("graft_url_restart")
    val landing = tmp.resolve("landing").toString
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    Files.createDirectory(java.nio.file.Paths.get(landing))
    def land(df: org.apache.spark.sql.DataFrame, chunk: Int): Unit = {
      val stage = tmp.resolve(s"stage$chunk").toString
      df.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"part-$chunk.parquet"))
    }
    // run 1: id 2 claims canon s/p/0, id 1400 claims s/p/10
    land(docsOf(Seq((2L, "s"), (1400L, "s"))), 0)
    val q1 = IngestStreaming.urlDedupStream(spark, landing, live, out, ckpt)
    try q1.awaitTermination() finally q1.stop()
    // run 2 (same checkpoint — the source skips part-0): id 0 is a
    // DUPLICATE of run-1's s/p/0 canon and must be rejected against
    // the SURVIVING admitted state; id 2000 is fresh
    land(docsOf(Seq((0L, "s"), (2000L, "t"))), 1)
    val q2 = IngestStreaming.urlDedupStream(spark, landing, live, out, ckpt)
    try q2.awaitTermination() finally q2.stop()
    val admitted = spark.read.parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(admitted == Set(
      (2L, "s.example/p/0"),     // run-1 admit must SURVIVE the restart
      (1400L, "s.example/p/10"), // run-1 admit must survive
      (2000L, "t.example/p/14")),// run-2 fresh admit
      s"restart lost or re-admitted rows: $admitted")
  }

  test("two-landing probe-scoring stream equals the batch embed_probe " +
    "row (the trained probe is static; scoring is batch-split " +
    "invariant)") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, dir, "embeddings")

    val tmp = Files.createTempDirectory("graft_probe_stream")
    val landing = tmp.resolve("landing").toString
    val out = tmp.resolve("out").toString
    val ckpt = tmp.resolve("ckpt").toString
    Files.createDirectory(java.nio.file.Paths.get(landing))
    Seq(0, 1).foreach { chunk =>
      val stage = tmp.resolve(s"stage$chunk").toString
      e.filter(col("vec_id") % 2 === chunk)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"part-$chunk.parquet"))
    }

    val q = IngestStreaming.probeScoreStream(
      spark, landing, e, out, ckpt, maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()

    val got = spark.read.parquet(out).orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.ProbeOps.embedProbe(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(want.exists(r => r(4) == 1) && want.exists(r => r(4) == 0),
      "fixture probe must predict both classes")
    assert(got == want)
  }

  test("maxFilesPerTrigger = 1 drains a three-file landing as three " +
    "micro-batches (probe, reader-only and door streams)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.StreamingQuery
    val d = graft.sources.Tables.load(spark, dir, "documents")
    val isNew = col("doc_id") % DedupOps.IngestMod === DedupOps.IngestRem
    val live = d.filter(!isNew)
    val tmp = Files.createTempDirectory("graft_batch_per_file")
    val landing = tmp.resolve("landing").toString
    Files.createDirectory(java.nio.file.Paths.get(landing))
    (0 until 3).foreach { chunk =>
      val stage = tmp.resolve(s"stage$chunk").toString
      d.filter(isNew && col("doc_id") % 3 === chunk)
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"part-$chunk.parquet"))
    }
    def assertThreeBatches(name: String)(
        start: (String, String) => StreamingQuery): Unit = {
      val q = start(tmp.resolve(s"$name-out").toString,
        tmp.resolve(s"$name-ckpt").toString)
      try q.awaitTermination() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3,
        s"$name: one micro-batch per landing file, got " +
          q.recentProgress.map(_.numInputRows).mkString(","))
    }
    assertThreeBatches("near-dup")((out, ckpt) =>
      IngestStreaming.nearDupIngestStream(
        spark, landing, live, out, ckpt, maxFilesPerTrigger = Some(1)))
    assertThreeBatches("pii")((out, ckpt) =>
      IngestStreaming.piiScrubStream(
        spark, landing, out, ckpt, maxFilesPerTrigger = Some(1)))
    assertThreeBatches("door")((out, ckpt) =>
      IngestStreaming.ingestDoorStream(
        spark, landing, live, out, ckpt, maxFilesPerTrigger = Some(1)))
  }
}
