package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{EventQueries, MultimodalOps}
import graft.streaming.EventStreaming

/** Streaming and multimodal plumbing: drive the streaming plans over
  * the batch parquet with processAllAvailable, compare to the batch
  * plans; pin the fake decode against direct computation. */
class StreamingMultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.Sf0001

  /** FileStreamSource needs a directory; stage the batch parquet file
    * into one (the production layout — a landing dir of part files). */
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("frameSample keeps every Nth fixed-width frame before decode") {
    import spark.implicits._
    val payload = (0 until 100).map(_.toByte).toArray
    val media = spark.createDataset(Seq(
      MultimodalOps.MediaRecord(1L, payload, "video/fake", 0, 0)))
    val frames = MultimodalOps.frameSample(media, frameBytes = 16, every = 2)
      .collect().sortBy(_.frame_idx)
    // 100 bytes → 7 frames (6×16 + 4); sampled idx 0,2,4,6
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2, 4, 6))
    assert(frames(0).frame.toSeq == payload.slice(0, 16).toSeq)
    assert(frames(3).frame.length == 4, "trailing partial frame kept")
  }

  test("resizeEmbedding truncates and zero-pads to the target dim") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("id", "emb")
    val shrunk = df.select(
      MultimodalOps.resizeEmbedding(col("emb"), 2).as("e"))
      .collect()(0).getSeq[Float](0)
    val grown = df.select(
      MultimodalOps.resizeEmbedding(col("emb"), 5).as("e"))
      .collect()(0).getSeq[Float](0)
    assert(shrunk == Seq(1.0f, 2.0f))
    assert(grown == Seq(1.0f, 2.0f, 3.0f, 0.0f, 0.0f))
  }

  test("streaming dedup drops duplicate event_ids incrementally") {
    // landing dir with the same file staged twice → every event is a dup
    val d = java.nio.file.Files.createTempDirectory("graft-dup-events")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      d.resolve("b.parquet"))
    val q = EventStreaming.dedupStream(spark, d.toString).writeStream
      .outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup_out")
        .select(countDistinct(col("event_id")), count(lit(1)))
        .collect()(0)
      val exact = graft.sources.Tables.load(spark, dir, "events")
        .select(countDistinct(col("event_id"))).collect()(0).getLong(0)
      assert(got.getLong(0) == exact, "every distinct id survives")
      assert(got.getLong(1) == exact, s"duplicates not dropped: ${got.getLong(1)} rows")
    } finally q.stop()
  }

  test("streaming hourly counts match the batch aggregation") {
    val q = EventStreaming.hourlyCounts(spark, eventsDir).writeStream
      .outputMode("complete")
      .format("memory").queryName("hourly_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("hourly_out")
        .select("hour", "event_type", "n")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val expect = EventQueries.eventsHourly(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got == expect)
    } finally q.stop()
  }

  test("foreachBatch upsert: replayed input files merge, not duplicate") {
    val src = java.nio.file.Files.createTempDirectory("graft-upsert-src")
    val tgt = java.nio.file.Files
      .createTempDirectory("graft-upsert-tgt").toString + "/state"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      src.resolve("b1.parquet"))
    val q = EventStreaming.upsertStream(spark, src.toString, tgt)
    try {
      q.processAllAvailable()
      // replay: the SAME events land again as a new file (at-least-once
      // delivery) — the merge key must dedup them
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        src.resolve("b2.parquet"))
      q.processAllAvailable()
      val got = spark.read.parquet(tgt)
      val expect = graft.sources.Tables.load(spark, dir, "events")
      assert(got.count() == expect.count(),
        "replayed file duplicated rows instead of upserting")
      assert(got.select(col("event_id")).distinct().count() == expect.count())
      // ts payload comparison via the type-dispatched epoch-micros
      // projection (ts is TIMESTAMP in the current parquet)
      def dsum(df: org.apache.spark.sql.DataFrame) =
        df.agg(sum(graft.sources.Tables.epochMicros(
          df.schema("ts").dataType).cast("decimal(38,0)"))).head().getDecimal(0)
      val (gs, es) = (dsum(got), dsum(expect))
      assert(gs == es, "merged payloads drifted from the source")
      // EVERY schema column must survive the merge — a review catch:
      // props was once projected away by the upsert body
      assert(got.columns.sorted.toSeq == expect.columns.sorted.toSeq,
        s"upsert dropped columns: ${got.columns.toSeq}")
      val psum = sum(length(col("props")).cast("decimal(38,0)"))
      assert(got.agg(psum).head().getDecimal(0) ==
        expect.agg(psum).head().getDecimal(0),
        "props payload drifted through the merge")
    } finally q.stop()
  }

  test("stream-static enrichment join matches the batch join, no state") {
    val q = EventStreaming.enrichedCounts(spark, eventsDir, dir).writeStream
      .outputMode("complete")
      .format("memory").queryName("enriched_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("enriched_out")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      // batch replay of the same dim derivation + join + agg
      val dim = graft.sources.Tables.load(spark, dir, "customer")
        .select((col("c_custkey") % 200).as("user_id"),
          (col("c_custkey") % 5).cast("long").as("segment"))
        .groupBy(col("user_id")).agg(min(col("segment")).as("segment"))
      val expect = graft.sources.Tables.load(spark, dir, "events")
        .join(dim, Seq("user_id"), "left")
        .select(coalesce(col("segment"), lit(-1L)).as("segment"),
          col("event_type"))
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got == expect)
      assert(got.keys.map(_._1).toSet.size > 1, "dim never matched")
    } finally q.stop()
  }

  test("stateful running totals cover every user with batch-equal counts") {
    val q = EventStreaming.userRunningTotals(spark, eventsDir).writeStream
      .outputMode("update")
      .format("memory").queryName("running_out")
      .start()
    try {
      q.processAllAvailable()
      // last update per user = final running state
      val got = spark.table("running_out")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = graft.sources.Tables.load(spark, dir, "events")
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect)
    } finally q.stop()
  }

  test("streaming sessionize closes every batch session except the trailing one per user") {
    val q = EventStreaming.sessionize(spark, eventsDir).writeStream
      .outputMode("append")
      .format("memory").queryName("sessions_out")
      .start()
    try {
      q.processAllAvailable()
      val closed = spark.table("sessions_out")
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = EventQueries.eventsSessionize(spark, dir)
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // all sessions close except possibly each user's trailing one
      // (it DOES close when the global watermark passed its end + gap
      // — the event-time timeout path)
      batch.foreach { case (user, n) =>
        val c = closed.getOrElse(user, 0L)
        assert(c == n - 1 || c == n,
          s"user $user: $c closed vs $n batch")
      }
      // per-session shape also matches: compare (start, end, n) sets
      val closedRows = spark.table("sessions_out")
        .select("user_id", "start_us", "end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val batchRows = EventQueries.eventsSessionize(spark, dir)
        .select("user_id", "start_us", "end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(closedRows.subsetOf(batchRows))
    } finally q.stop()
  }

  test("stream-stream interval join matches batch attribution counts") {
    val q = EventStreaming.attributionStream(spark, eventsDir).writeStream
      .outputMode("append")
      .format("memory").queryName("attr_out")
      .start()
    try {
      q.processAllAvailable()
      // per-click matched-purchase counts; batch rows with 0 purchases
      // have no streaming counterpart (inner join)
      val got = spark.table("attr_out")
        .groupBy("click_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = EventQueries.eventsAttribution(spark, dir)
        .collect().map(r => r.getAs[Long]("event_id") ->
          r.getAs[Long]("n_purchases")).toMap
        .filter(_._2 > 0)
      assert(got == expect)
    } finally q.stop()
  }

  test("streaming MG heavy hitters: merged shard estimates bound the truth") {
    val docsDir = {
      val d = java.nio.file.Files.createTempDirectory("graft-docs")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        d.resolve("documents.parquet"))
      d.toString
    }
    val k = 16
    val q = EventStreaming.heavyHitterStream(spark, docsDir, k = k)
      .writeStream.outputMode("update")
      .format("memory").queryName("hh_out")
      .start()
    try {
      q.processAllAvailable()
      // the consumption contract: latest row per (shard, word), THEN
      // union-sum across shards — with a single batch the table holds
      // exactly one snapshot generation, so the dedup is a no-op and
      // the cross-shard sum is the mergeable-summaries merge
      val snap = spark.table("hh_out")
        .groupBy("shard", "word").agg(last("est").as("est"))
      val est = snap
        .groupBy("word").agg(sum("est").as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val truth = graft.sources.Tables.load(spark, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val n = truth.values.sum
      est.foreach { case (w, e) =>
        assert(e <= truth(w), s"$w overcounted")
      }
      truth.filter { case (_, c) => c * (k + 1) > n }.foreach { case (w, c) =>
        val e = est.getOrElse(w, 0L)
        assert(e > 0, s"heavy key $w missing from merged summaries")
        assert(e >= c - n / (k + 1), s"$w undercount exceeds merged bound")
      }
    } finally q.stop()
  }

  test("multimodal feature extraction matches direct computation") {
    import spark.implicits._
    val feats = MultimodalOps.multimodalFeatures(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val texts = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val cs = bytes.foldLeft(7L)((h, b) => (h * 131 + (b & 0xFF)) % 1000000007L)
      assert(feats(id) == (bytes.length.toLong, cs), s"doc $id")
    }
  }

  test("media table keeps payload binary + typed metadata") {
    val media = MultimodalOps.asMediaTable(spark, dir)
    val schema = media.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(schema("payload") == "binary")
    assert(media.count() > 0)
  }

  test("synthWav(1, \"AB\") emits the hand-derived RIFF golden " +
    "byte-for-byte") {
    // Derived by hand from the RIFF spec (little-endian throughout):
    // sr = 8000*(1+1%3) = 16000 = 0x3E80, ch = 2, byteRate = 64000 =
    // 0xFA00, blockAlign = 4, dataSize = 2 frames * 2 ch * 2 B = 8,
    // riffSize = 44 = 0x2C. Samples: 'A'(65) -> (65*523+7)%65536 -
    // 32768 = 34002 - 32768 = 1234 = 0x04D2 LE "D2 04"; 'B'(66) ->
    // 34525 - 32768 = 1757 = 0x06DD LE "DD 06"; interleaved twice
    // (stereo frames).
    val want = Array[Int](
      0x52, 0x49, 0x46, 0x46, 0x2C, 0x00, 0x00, 0x00, // "RIFF", 44
      0x57, 0x41, 0x56, 0x45, 0x66, 0x6D, 0x74, 0x20, // "WAVE", "fmt "
      0x10, 0x00, 0x00, 0x00, 0x01, 0x00, 0x02, 0x00, // 16, PCM, ch=2
      0x80, 0x3E, 0x00, 0x00, 0x00, 0xFA, 0x00, 0x00, // 16000, 64000
      0x04, 0x00, 0x10, 0x00, 0x64, 0x61, 0x74, 0x61, // 4, 16, "data"
      0x08, 0x00, 0x00, 0x00,                         // dataSize = 8
      0xD2, 0x04, 0xDD, 0x06, 0xD2, 0x04, 0xDD, 0x06  // PCM samples
    ).map(_.toByte)
    assert(MultimodalOps.synthWav(1L, "AB").toSeq == want.toSeq)
  }

  test("parseWav reads every field back out of the planted bytes") {
    import spark.implicits._
    val wav = Seq((1L, MultimodalOps.synthWav(1L, "AB")))
      .toDF("id", "payload")
    val r = MultimodalOps.parseWav(wav).collect().head
    assert(r.getLong(1) == 16000L, "sample_rate")
    assert(r.getLong(2) == 2L, "channels")
    assert(r.getLong(3) == 2L, "n_frames")
    assert(r.getLong(4) == 0L, "dur_ms: 2 frames at 16 kHz")
    assert(r.getLong(5) == 8L, "data_size")
    assert(r.getLong(6) == 2L * 1234 + 2L * 1757, "pcm_sum")
    assert(r.getBoolean(7), "chk_ok")
  }

  test("parseWav flags corrupted headers instead of trusting them") {
    import spark.implicits._
    val good = MultimodalOps.synthWav(2L, "hello")
    val badTag = good.clone(); badTag(0) = 'X'.toByte
    val badSize = good.clone(); badSize(4) = (badSize(4) + 1).toByte
    val rows = MultimodalOps.parseWav(
        Seq((1L, good), (2L, badTag), (3L, badSize)).toDF("id", "payload"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    assert(rows(1L), "pristine header must verify")
    assert(!rows(2L), "broken RIFF tag must fail chk_ok")
    assert(!rows(3L), "riff_size != 36 + data_size must fail chk_ok")
  }

  test("PcmS16LeSum: hand sum, sign reconstruction, odd trailing " +
    "byte ignored, offset past payload sums to zero") {
    import spark.implicits._
    import graft.functions.PcmS16LeSum
    // samples: 1234 (D2 04), -2 (FE FF), -32768 (00 80) from offset 2
    val payload = Array[Int](0x7F, 0x7F, 0xD2, 0x04, 0xFE, 0xFF,
      0x00, 0x80, 0x2A).map(_.toByte) // trailing 0x2A is an odd byte
    val df = Seq(Tuple1(payload)).toDF("payload")
    def sumAt(off: Int): Long =
      df.select(PcmS16LeSum.sum(col("payload"), lit(off)).as("s"))
        .head().getLong(0)
    assert(sumAt(2) == 1234L - 2L - 32768L)
    assert(sumAt(0) == (0x7F7F).toLong + 1234L - 2L - 32768L)
    assert(sumAt(100) == 0L, "offset beyond payload")
    assert(sumAt(-4) == sumAt(0), "negative offset clamps to start")
  }

  test("synthBmp(1, \"AB\") emits the hand-derived BMP golden " +
    "byte-for-byte, including row padding") {
    // w = 1+1%16 = 2, h = 1+2%8 = 3, stride = ((3*2+3) DIV 4)*4 = 8,
    // dataSize = 24, fileSize = 78 = 0x4E. Each row: 'A' 'B' repeated
    // 3 times (byte index parity) + TWO zero padding bytes.
    val row = Array[Int](0x41, 0x42, 0x41, 0x42, 0x41, 0x42, 0x00, 0x00)
    val want = (Array[Int](
      0x42, 0x4D, 0x4E, 0x00, 0x00, 0x00, 0x00, 0x00, // "BM", 78
      0x00, 0x00, 0x36, 0x00, 0x00, 0x00, 0x28, 0x00, // off 54, DIB 40
      0x00, 0x00, 0x02, 0x00, 0x00, 0x00, 0x03, 0x00, // w=2, h=3
      0x00, 0x00, 0x01, 0x00, 0x18, 0x00, 0x00, 0x00, // planes, 24bpp
      0x00, 0x00, 0x18, 0x00, 0x00, 0x00,             // BI_RGB, 24
      0x13, 0x0B, 0x00, 0x00, 0x13, 0x0B, 0x00, 0x00, // 2835 ppm x/y
      0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00  // palette
    ) ++ row ++ row ++ row).map(_.toByte)
    assert(MultimodalOps.synthBmp(1L, "AB").toSeq == want.toSeq)
  }

  test("parseBmp reads the header back and rejects a stride-violating " +
    "file size") {
    import spark.implicits._
    val good = MultimodalOps.synthBmp(1L, "AB")
    val badSize = good.clone(); badSize(2) = (badSize(2) + 1).toByte
    val rows = MultimodalOps.parseBmp(
        Seq((1L, good), (2L, badSize)).toDF("id", "payload"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5),
          r.getBoolean(6))).toMap
    assert(rows(1L) == ((2L, 3L, 78L, 393L, true)))
    assert(!rows(2L)._5, "file_size != 54 + stride*height must fail")
  }

  test("multimodal_bmp: corpus-wide fields match a direct Scala " +
    "recomputation (padding excluded from row0_sum)") {
    import spark.implicits._
    val got = MultimodalOps.multimodalBmp(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getBoolean(6))).toMap
    val texts = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
      .filter(_._2.nonEmpty)
    assert(got.size == texts.length)
    texts.foreach { case (id, text) =>
      val w = 1L + id % MultimodalOps.BmpMaxW
      val h = 1L + text.length % 8
      val stride = ((3 * w + 3) / 4) * 4
      val sum = (0L until 3 * w).map(k =>
        (text.charAt((k % text.length).toInt).toInt % 256).toLong).sum
      assert(got(id) == ((w, h, 24L, 54L + stride * h, sum, true)),
        s"doc $id")
    }
  }

  test("multimodal_meta: every corpus WAV verifies and matches a " +
    "direct Scala recomputation") {
    import spark.implicits._
    val got = MultimodalOps.multimodalMeta(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getBoolean(7))).toMap
    val texts = graft.sources.Tables.load(spark, dir, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
      .filter(_._2.nonEmpty)
    assert(got.size == texts.length)
    texts.foreach { case (id, text) =>
      val sr = 8000L * (1 + id % 3); val ch = 1L + id % 2
      val nf = math.min(text.length, MultimodalOps.WavMaxFrames).toLong
      val pcm = (0L until nf * ch).map { k =>
        ((text.charAt((k % text.length).toInt).toInt * 523 + 7) % 65536) -
          32768L
      }.sum
      assert(got(id) ==
        (sr, ch, nf, nf * 1000 / sr, nf * ch * 2, pcm, true), s"doc $id")
    }
  }

  test("synthWav/synthBmp use CODE-POINT semantics on astral chars — " +
    "lengths and sample values match a code-point reference, not " +
    "UTF-16 units (oracle unicode()/length() parity)") {
    import spark.implicits._
    // "A😀B": 3 code points (U+41, U+1F600, U+42), 4 UTF-16 units —
    // a UTF-16 (charAt) implementation would emit n_frames=4,
    // height=1+4%8=5, and sum SURROGATE HALVES instead of U+1F600.
    val text = "A😀B"
    val cps = text.codePoints().toArray
    assert(cps.toSeq == Seq(0x41, 0x1F600, 0x42) && text.length == 4)
    // WAV: doc 1 → 16 kHz stereo; 3 frames × 2 ch, sample k encodes
    // cps(k % 3)
    val wavRow = MultimodalOps.parseWav(
        Seq((1L, MultimodalOps.synthWav(1L, text))).toDF("id", "payload"))
      .head()
    assert(wavRow.getLong(3) == 3L, "n_frames = code points, not chars")
    val wantPcm = (0 until 6).map { k =>
      (((cps(k % 3).toLong * 523 + 7) % 65536) - 32768)
    }.sum
    assert(wavRow.getLong(6) == wantPcm && wavRow.getBoolean(7))
    // BMP: height = 1 + 3 % 8 = 4; row0 bytes cycle cps(k % 3) % 256
    val bmpRow = MultimodalOps.parseBmp(
        Seq((1L, MultimodalOps.synthBmp(1L, text))).toDF("id", "payload"))
      .head()
    assert(bmpRow.getLong(2) == 4L, "height = 1 + codePoints % 8")
    val wantRow0 = (0 until 6).map(k => cps(k % 3) % 256).sum.toLong
    assert(bmpRow.getLong(5) == wantRow0 && bmpRow.getBoolean(6))
  }

  test("dedup_image: planted near-dup BMPs are found by the " +
    "chunk-collision join, and the output equals an independent " +
    "all-pairs dHash reference (pigeonhole completeness)") {
    import spark.implicits._
    // independent reference: re-derive the dHash straight from payload
    // bytes with plain Scala (different code path from the SQL exprs)
    def u32(p: Array[Byte], off: Int): Int =
      (0 until 4).map(k => (p(off + k) & 0xFF) << (8 * k)).sum
    def refBits(p: Array[Byte]): IndexedSeq[Int] = {
      val w = u32(p, 18); val h = u32(p, 22)
      val stride = ((3 * w + 3) / 4) * 4
      def lum(gy: Int, gx: Int): Int =
        p(54 + (gy * h / 8) * stride + 3 * (gx * w / 9)) & 0xFF
      (0 until 64).map { b =>
        if (lum(b / 8, b % 8) < lum(b / 8, b % 8 + 1)) 1 else 0
      }
    }
    def ham(a: IndexedSeq[Int], b: IndexedSeq[Int]): Int =
      a.zip(b).count { case (x, y) => x != y }
    // ids 15/31/47 share width 16; text of 15 chars → height 8, so
    // each pixel maps to at most one grid cell and a one-pixel edit
    // moves ≤2 hash bits — a controlled NEAR duplicate
    val tA = "abcdefghijklmno"
    // drive the sampled pixel to an extreme: one of {0, 255} must flip
    // at least one of the two adjacent comparisons (they can't both
    // already hold for both extremes)
    val near = Seq(0x00, 0xFF).map { v =>
      val p = MultimodalOps.synthBmp(47L, tA)
      p(54 + 2 * 48 + 9) = v.toByte
      p
    }.find { p =>
      val d = (0 until 64).count { b =>
        def u32(q: Array[Byte], off: Int): Int =
          (0 until 4).map(k => (q(off + k) & 0xFF) << (8 * k)).sum
        def bit(q: Array[Byte]): Int = {
          val w = u32(q, 18); val h = u32(q, 22)
          val stride = ((3 * w + 3) / 4) * 4
          def lum(gy: Int, gx: Int): Int =
            q(54 + (gy * h / 8) * stride + 3 * (gx * w / 9)) & 0xFF
          if (lum(b / 8, b % 8) < lum(b / 8, b % 8 + 1)) 1 else 0
        }
        bit(p) != bit(MultimodalOps.synthBmp(47L, tA))
      }
      d >= 1 && d <= 2
    }.get
    val planted = Seq(
      15L -> MultimodalOps.synthBmp(15L, tA),
      31L -> MultimodalOps.synthBmp(31L, tA), // identical image to 15
      47L -> near,                            // one pixel flipped
      5L -> MultimodalOps.synthBmp(5L, "totally different words here"),
      2L -> MultimodalOps.synthBmp(2L, "and another unrelated string"))
    val bits = planted.map { case (id, p) => id -> refBits(p) }.toMap
    val refPairs = (for {
      (i, bi) <- bits; (j, bj) <- bits if i < j
      d = ham(bi, bj) if d <= MultimodalOps.DHashMaxHamming
    } yield (i, j, d.toLong)).toSet
    // semantic expectations of the plant itself
    assert(refPairs.contains((15L, 31L, 0L)), "identical images, ham 0")
    val nearHam = ham(bits(15L), bits(47L))
    assert(nearHam >= 1 && nearHam <= 2, s"one-pixel edit moved $nearHam bits")
    assert(ham(bits(15L), bits(5L)) > MultimodalOps.DHashMaxHamming,
      "distinct-content images must not be near-dups on this plant")
    val got = MultimodalOps.imageFp.pairs(
        planted.toDF("id", "payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == refPairs,
      s"engine pairs $got != reference all-pairs $refPairs")
  }

  test("dedup_audio: identical recordings pair at hamming 0, the " +
    "output equals an independent all-pairs window-sum reference, " +
    "and a distinct recording stays unmatched") {
    import spark.implicits._
    // reference fingerprint straight from payload bytes (independent
    // of the SQL expressions): window sums of signed 16-bit LE samples
    def refBits(p: Array[Byte]): IndexedSeq[Int] = {
      def u32(off: Int): Long =
        (0 until 4).map(k => (p(off + k) & 0xFF).toLong << (8 * k)).sum
      val n = (u32(40) / 2).toInt
      def sample(k: Int): Int =
        (p(44 + 2 * k) & 0xFF) | (p(44 + 2 * k + 1) << 8)
      def wsum(w: Int): Long =
        (w * n / MultimodalOps.AudioWindows until
          (w + 1) * n / MultimodalOps.AudioWindows).map(sample(_).toLong).sum
      (0 until 32).map(b => if (wsum(b) < wsum(b + 1)) 1 else 0)
    }
    def ham(a: IndexedSeq[Int], b: IndexedSeq[Int]): Int =
      a.zip(b).count { case (x, y) => x != y }
    val tA = "the same spoken content here"
    // ids 2 and 8: same channel parity (mono) + same text → identical
    // PCM streams (sample rate differs but lives only in the header)
    val planted = Seq(
      2L -> MultimodalOps.synthWav(2L, tA),
      8L -> MultimodalOps.synthWav(8L, tA),
      3L -> MultimodalOps.synthWav(3L, tA), // stereo: different stream
      5L -> MultimodalOps.synthWav(5L, "completely different audio"))
    val bits = planted.map { case (id, p) => id -> refBits(p) }.toMap
    assert(ham(bits(2L), bits(8L)) == 0, "same text+parity ⇒ identical")
    assert(ham(bits(2L), bits(5L)) > MultimodalOps.AudioMaxHamming)
    val refPairs = (for {
      (i, bi) <- bits; (j, bj) <- bits if i < j
      d = ham(bi, bj) if d <= MultimodalOps.AudioMaxHamming
    } yield (i, j, d.toLong)).toSet
    val got = MultimodalOps.audioFp.pairs(planted.toDF("id", "payload"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == refPairs, s"engine $got != reference $refPairs")
    assert(got.contains((2L, 8L, 0L)))
  }

  test("randomized kernel gate: engine dHash and audio-fingerprint " +
    "chunks equal byte-level Scala references on 40 seeded random " +
    "(id, text) payloads each") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet: Seq[String] = (('a' to 'z') ++ ('A' to 'Z') ++
      ('0' to '9') ++ Seq(' ', '!', 'é', 'ß', '漢')).map(_.toString) :+
      "😀" // U+1F600, exercises the surrogate-pair path
    def randText(): String = Seq.fill(1 + rnd.nextInt(120))(
      alphabet(rnd.nextInt(alphabet.length))).mkString
    // ids unique by construction (low byte random, high bits the index)
    val samples = (0 until 40).map(i =>
      (((i.toLong << 8) | rnd.nextInt(256)), randText()))
    def u32(p: Array[Byte], off: Int): Long =
      (0 until 4).map(k => (p(off + k) & 0xFF).toLong << (8 * k)).sum
    // image reference
    def refImg(p: Array[Byte]): Seq[Long] = {
      val w = u32(p, 18).toInt; val h = u32(p, 22).toInt
      val stride = ((3 * w + 3) / 4) * 4
      def lum(gy: Int, gx: Int): Int =
        p(54 + (gy * h / 8) * stride + 3 * (gx * w / 9)) & 0xFF
      val bits = (0 until 64).map(b =>
        if (lum(b / 8, b % 8) < lum(b / 8, b % 8 + 1)) 1L else 0L)
      (0 until 4).map(c =>
        (0 until 16).map(t => bits(c * 16 + t) << t).sum)
    }
    // audio reference
    def refAud(p: Array[Byte]): Seq[Long] = {
      val n = (u32(p, 40) / 2).toInt
      def sample(k: Int): Int =
        (p(44 + 2 * k) & 0xFF) | (p(44 + 2 * k + 1) << 8)
      def wsum(w: Int): Long =
        (w * n / MultimodalOps.AudioWindows until
          (w + 1) * n / MultimodalOps.AudioWindows)
          .map(sample(_).toLong).sum
      val bits = (0 until 32).map(b =>
        if (wsum(b) < wsum(b + 1)) 1L else 0L)
      (0 until 2).map(c => (0 until 16).map(t => bits(c * 16 + t) << t).sum)
    }
    val bmp = samples.map { case (id, t) =>
      (id, MultimodalOps.synthBmp(id, t)) }
    val wav = samples.map { case (id, t) =>
      (id, MultimodalOps.synthWav(id, t)) }
    val gotImg = MultimodalOps.imageDHash(bmp.toDF("id", "payload"))
      .collect().map(r => r.getLong(0) ->
        Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    bmp.foreach { case (id, p) =>
      assert(gotImg(id) == refImg(p), s"image chunks diverge for id $id")
    }
    val gotAud = MultimodalOps.audioFingerprint(wav.toDF("id", "payload"))
      .collect().map(r => r.getLong(0) ->
        Seq(r.getLong(1), r.getLong(2))).toMap
    wav.foreach { case (id, p) =>
      assert(gotAud(id) == refAud(p), s"audio chunks diverge for id $id")
    }
  }

  test("binary parsers and fingerprint pipelines are total on garbage " +
    "payloads (truncated, wrong-magic, empty, saturated headers)") {
    import spark.implicits._
    val junk = Seq(
      1L -> Array[Byte](1, 2, 3),                  // truncated
      2L -> "BM".getBytes("US-ASCII"),             // magic only
      3L -> Array.empty[Byte],                     // empty
      4L -> Array.fill(200)(0x55.toByte),          // wrong everything
      // 0xFF fill: declares data_size = 0xFFFFFFFF >= 2^31 — the
      // saturated-header class the 0x55 fill (just UNDER 2^31) missed;
      // the unclamped parseWav cast threw CAST_OVERFLOW on it
      // (round-7 advice #2)
      5L -> Array.fill(200)(0xFF.toByte))
      .toDF("id", "payload")
    // none of these may crash; garbage rows either fail chk_ok or
    // drop out of the pair joins on null fingerprints
    val wav = MultimodalOps.parseWav(junk).collect()
    assert(wav.forall(r => r.isNullAt(7) || !r.getBoolean(7)),
      "no garbage payload may verify as a valid WAV")
    val bmpRows = MultimodalOps.parseBmp(junk).collect()
    assert(bmpRows.forall(r => r.isNullAt(6) || !r.getBoolean(6)),
      "no garbage payload may verify as a valid BMP")
    MultimodalOps.imageFp.pairs(junk).collect()
    MultimodalOps.audioFp.pairs(junk).collect()
  }

  test("corrupt payloads get NULL fingerprints and drop out of the " +
    "pair joins instead of clustering at the all-zero fingerprint " +
    "(round-7 advice #4)") {
    import spark.implicits._
    // three DISTINCT truncated payloads: under the old ELSE-0 chunk
    // coercion all three landed on the identical all-zero fingerprint
    // and were emitted as hamming-0 pairs of each other
    val corrupt = Seq(
      1L -> Array[Byte](1, 2, 3),
      2L -> "BM".getBytes("US-ASCII"),
      3L -> Array[Byte](9, 9, 9, 9, 9, 9, 9, 9))
    // plus one VALID near-dup pair the join must still find
    val a = MultimodalOps.synthBmp(7L, "the quick brown fox jumps")
    val b = a.clone(); b(b.length - 1) = (b(b.length - 1) ^ 0x01).toByte
    val bmp = (corrupt ++ Seq(7L -> a, 8L -> b)).toDF("id", "payload")
    val img = MultimodalOps.imageDHash(bmp).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.isNullAt)).toMap
    assert(Seq(1L, 2L, 3L).forall(id => img(id).forall(identity)),
      "corrupt payloads must fingerprint as NULL chunks")
    assert(img(7L).forall(!_), "valid payloads keep real fingerprints")
    val pairs = MultimodalOps.imageFp.pairs(bmp).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => Set(1L, 2L, 3L).contains(p._1) ||
      Set(1L, 2L, 3L).contains(p._2)),
      s"corrupt ids must not pair: ${pairs.mkString(",")}")
    assert(pairs.contains((7L, 8L)),
      "the planted near-identical pair must survive the null filter")
    // audio leg: truncated payloads null out, the valid self-pair of
    // two identical WAVs survives
    val w = MultimodalOps.synthWav(7L, "hello hello hello")
    val wav = (corrupt ++ Seq(7L -> w, 8L -> w.clone()))
      .toDF("id", "payload")
    val aud = MultimodalOps.audioFingerprint(wav).collect()
      .map(r => r.getLong(0) -> (1 to 2).map(r.isNullAt)).toMap
    assert(Seq(1L, 2L, 3L).forall(id => aud(id).forall(identity)),
      "corrupt payloads must audio-fingerprint as NULL chunks")
    val apairs = MultimodalOps.audioFp.pairs(wav).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(apairs.toSeq == Seq((7L, 8L)),
      s"audio pairs must be exactly the planted twin: ${apairs.toSeq}")
  }

  test("multimodal_png: synth → REAL zlib inflate round-trip matches a " +
    "direct (doc_id, text) computation for every corpus doc") {
    val docs = graft.sources.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val got = MultimodalOps.multimodalPng(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.size == docs.length)
    docs.foreach { case (id, text) =>
      val cps = text.codePoints().toArray
      val w = 1 + (id % MultimodalOps.PngMaxW).toInt
      val h = 1 + (cps.length % 6)
      val wantSum = (0 until 3 * w * h)
        .map(p => cps(p % cps.length) % 256).map(_.toLong).sum
      val r = got(id)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getBoolean(6)) ==
        ((w.toLong, h.toLong, 8L, 2L, wantSum, true)),
        s"png round-trip diverged for id $id")
    }
  }

  test("multimodal_png decode: hand-built STORED-deflate golden, CRC " +
    "corruption, truncation, and garbage are all caught") {
    import spark.implicits._
    // a 1×1 RGB PNG built BY HAND with a stored (uncompressed) deflate
    // block — bytes our own Deflater never produces, so the inflate
    // path is pinned against an externally-shaped stream
    val raw = Array[Byte](0, 10, 20, 30) // filter 0 + one RGB pixel
    val zlib = {
      val ad = new java.util.zip.Adler32(); ad.update(raw)
      Array[Byte](0x78, 0x01,                    // zlib header
        0x01, 4, 0, (~4).toByte, 0xFF.toByte) ++ // final stored block
        raw ++
        java.nio.ByteBuffer.allocate(4).putInt(ad.getValue.toInt).array()
    }
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(1).putInt(1)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte)
      .put(0.toByte).array()
    val golden = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a,
      0x1a, 0x0a) ++ chunk("IHDR", ihdr) ++ chunk("IDAT", zlib) ++
      chunk("IEND", Array.empty[Byte])
    val ok = MultimodalOps.decodePng(1L, golden,
      new java.util.zip.Inflater())
    assert(ok == MultimodalOps.PngMeta(1L, 1L, 1L, 8L, 2L, 60L,
      chk_ok = true), s"golden decode: $ok")
    // CRC corruption: flip one IDAT payload byte → crc mismatch
    val flipped = golden.clone()
    val idatOff = 8 + 12 + 13 + 8 + 3 // into the zlib header
    flipped(idatOff) = (flipped(idatOff) ^ 0x01).toByte
    assert(!MultimodalOps.decodePng(1L, flipped,
      new java.util.zip.Inflater()).chk_ok, "corrupt CRC must fail")
    // truncation + pure garbage: total, chk_ok false
    val junk = Seq(
      11L -> golden.take(20),
      12L -> Array[Byte](1, 2, 3),
      13L -> Array.empty[Byte],
      14L -> Array.fill(100)(0x55.toByte)).toDF("id", "payload")
    val rows = MultimodalOps.parsePng(junk).collect()
    assert(rows.length == 4 && rows.forall(!_.getBoolean(6)),
      "garbage payloads must decode total with chk_ok = false")
  }

  test("dedup_image_clusters / dedup_audio_clusters: corpus-linear " +
    "labels equal a BFS closure over the pair list, output <= one row " +
    "per input, keep_id = component min (round-7 verdict #3)") {
    import spark.implicits._
    // reference closure: BFS over the PAIR deliverable
    def bfsLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      pairs.foreach { case (i, j) =>
        adj(i) = j :: adj.getOrElse(i, Nil)
        adj(j) = i :: adj.getOrElse(j, Nil)
      }
      val lab = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { n =>
        if (!lab.contains(n)) {
          var comp = Set(n); var frontier = List(n)
          while (frontier.nonEmpty) {
            val nxt = frontier.flatMap(adj(_)).filterNot(comp)
            comp ++= nxt; frontier = nxt
          }
          val m = comp.min
          comp.foreach(c => lab(c) = m)
        }
      }
      lab.toMap
    }
    def checkAgainstPairs(clusters: Array[org.apache.spark.sql.Row],
        pairs: Seq[(Long, Long)], n: Long): Unit = {
      val want = bfsLabels(pairs)
      val sizes = want.groupBy(_._2).map { case (k, m) => k -> m.size }
      val got = clusters.map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(clusters.length == got.size, "one row per member, no dups")
      assert(clusters.length <= n, "output must be corpus-bounded")
      assert(got.keySet == want.keySet,
        "cluster membership == nodes of the pair graph")
      want.foreach { case (id, keep) =>
        assert(got(id) == ((keep, sizes(keep).toLong)),
          s"id $id: got ${got(id)}, want ($keep, ${sizes(keep)})")
      }
    }
    // image leg on the corpus fixture
    val bmp = MultimodalOps.planted(spark, dir, MultimodalOps.synthBmp)
      .localCheckpoint()
    val ipairs = MultimodalOps.imageFp.pairs(bmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ipairs.nonEmpty, "fixture must carry image near-dups")
    checkAgainstPairs(MultimodalOps.dedupImageClusters(spark, dir)
      .collect(), ipairs, bmp.count())
    // audio leg
    val wav = MultimodalOps.planted(spark, dir, MultimodalOps.synthWav)
      .localCheckpoint()
    val apairs = MultimodalOps.audioFp.pairs(wav).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(apairs.nonEmpty, "fixture must carry audio near-dups")
    checkAgainstPairs(MultimodalOps.dedupAudioClusters(spark, dir)
      .collect(), apairs, wav.count())
  }

  test("PcmS16LeSum limit bounds the window: trailing junk past the " +
    "declared data_size is excluded from pcm_sum") {
    import spark.implicits._
    import graft.functions.PcmS16LeSum
    val clean = MultimodalOps.synthWav(2L, "AB") // header declares data
    val junk = clean ++ Array[Byte](0x7F, 0x7F, 0x7F, 0x7F) // +2 samples
    val df = Seq((1L, clean), (2L, junk)).toDF("id", "payload")
    val sums = MultimodalOps.parseWav(df).collect()
      .map(r => r.getLong(0) -> r.getLong(6)).toMap
    assert(sums(1L) == sums(2L),
      "pcm_sum must stop at 44 + data_size, not end-of-payload")
    // and the raw expression: limit 4 reads exactly two samples
    val payload = Array[Int](0x01, 0x00, 0x02, 0x00, 0x7F, 0x7F)
      .map(_.toByte)
    val two = Seq(Tuple1(payload)).toDF("payload")
      .select(PcmS16LeSum.sum(col("payload"), lit(0), lit(4)).as("s"))
      .head().getLong(0)
    assert(two == 3L, "limit must bound the summed window")
  }

  test("media_pipeline composition: a corrupt payload in ANY modality " +
    "drops the item, gates select on parse-derived fields, cluster " +
    "losers leave and survivors stay") {
    import spark.implicits._
    // Six hand-planted items. Texts are 64+ chars so dur_ms hits the
    // full-frame values {8,4,2} by id%3; width = 1 + id%16.
    val base = "x" * 64
    def item(id: Long, text: String) =
      (id, MultimodalOps.synthWav(id, text),
        MultimodalOps.synthBmp(id, text), MultimodalOps.synthPng(id, text),
        operators.JpegOps.synthJpeg(id, text),
        operators.VideoOps.synthVideo(id, text))
    // id=3: sr=8000 -> dur 8ms OK; width 4 OK           -> survivor
    // id=4: sr=16000 -> dur 4ms OK; width 5 OK          -> survivor
    // id=5: sr=24000 -> dur 2ms < 3                     -> gate drop
    // id=2: width 3 < 4                                 -> gate drop
    // id=19: dur 4ms OK, width 4 OK                     -> cluster loser
    // id=35: dur 8ms? 35%3=2 -> sr=24000 dur 2 — pick 36: 36%3=0 sr 8000
    //        width 1+36%16=5 OK                         -> corrupt WAV
    // id=21: dur 8ms OK, width 6 OK                    -> corrupt VIDEO
    // id=40: dur 4ms OK, width 9 OK                     -> video-cluster loser
    val rows = Seq(item(3L, base), item(4L, base + "y"), item(5L, base),
      item(2L, base), item(19L, base), item(36L, base + "z"),
      item(21L, base + "w"), item(40L, base + "v"))
    val corrupted = rows.map { case (id, w, b, p, jj, vv) =>
      if (id == 36L) { val bad = w.clone(); bad(0) = 'X'.toByte
        (id, bad, b, p, jj, vv) }
      else if (id == 21L) { val bad = vv.clone(); bad(0) = 'X'.toByte
        (id, w, b, p, jj, bad) }
      else (id, w, b, p, jj, vv)
    }
    val wav = corrupted.map { case (i, w, _, _, _, _) => (i, w) }
      .toDF("id", "payload")
    val bmp = corrupted.map { case (i, _, b, _, _, _) => (i, b) }
      .toDF("id", "payload")
    val png = corrupted.map { case (i, _, _, p, _, _) => (i, p) }
      .toDF("id", "payload")
    val jpg = corrupted.map { case (i, _, _, _, jj, _) => (i, jj) }
      .toDF("id", "payload")
    val vid = corrupted.map { case (i, _, _, _, _, vv) => (i, vv) }
      .toDF("id", "payload")
    // synthetic cluster tables: 19 lost to keeper 4 in the image
    // modality; audio has no clusters
    val imgClusters = Seq((4L, 4L, 2L), (19L, 4L, 2L))
      .toDF("id", "keep_id", "cluster_size")
    val audClusters = Seq.empty[(Long, Long, Long)]
      .toDF("id", "keep_id", "cluster_size")
    // 40 lost to keeper 3 in the video modality
    val vidClusters = Seq((3L, 3L, 2L), (40L, 3L, 2L))
      .toDF("id", "keep_id", "cluster_size")
    val out = MultimodalOps.mediaPipelineOf(wav, bmp, png, jpg, vid,
      imgClusters, audClusters, vidClusters)
    assert(out.columns.toSeq == Seq("id", "sample_rate", "dur_ms",
      "width", "height", "n_frames", "pixel_sum", "dc_sum"))
    val got = out.collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L, 4L),
      s"expected survivors {3, 4} (gate drops 2 and 5, image-cluster " +
        s"loser drops 19, corrupt WAV drops 36, corrupt VIDEO drops 21, " +
        s"video-cluster loser drops 40), got $got")
    // the registered row agrees with mediaPipelineOf over the planted
    // corpus tables (same graphs, same gates)
    val reg = operators.MultimodalOps.mediaPipeline(spark, dir)
    val direct = MultimodalOps.mediaPipelineOf(
      MultimodalOps.planted(spark, dir, MultimodalOps.synthWav),
      MultimodalOps.planted(spark, dir, MultimodalOps.synthBmp),
      MultimodalOps.planted(spark, dir, MultimodalOps.synthPng),
      MultimodalOps.planted(spark, dir, operators.JpegOps.synthJpeg),
      MultimodalOps.planted(spark, dir, operators.VideoOps.synthVideo),
      MultimodalOps.dedupImageClusters(spark, dir),
      MultimodalOps.dedupAudioClusters(spark, dir),
      operators.VideoOps.videoClusterLabels(spark, dir))
    assert(reg.collect().toSeq == direct.collect().toSeq,
      "registered media_pipeline must equal the frame-level composition")
  }

  test("streaming media metadata: mixed-format micro-batches run the " +
    "SAME parsers as the batch path (stream == batch), corrupt " +
    "arrivals land flagged, stream holds no state") {
    import spark.implicits._
    import java.nio.file.Files
    val docs = (1L to 8L).map(i => (i, "doc" + i + " " + ("x" * 40)))
    val rows = docs.flatMap { case (id, t) => Seq(
      (id, "wav", MultimodalOps.synthWav(id, t)),
      (id, "bmp", MultimodalOps.synthBmp(id, t)),
      (id, "png", MultimodalOps.synthPng(id, t)),
      (id, "jpeg", operators.JpegOps.synthJpeg(id, t)),
      (id, "gvid", operators.VideoOps.synthVideo(id, t))) }
    val all = rows :+ ((99L, "wav", Array[Byte](1, 2, 3))) // corrupt
    // stage two landing files so maxFilesPerTrigger=1 forces two
    // micro-batches (FileStreamSource wants plain files in a dir)
    val landing = Files.createTempDirectory("graft_media_stream")
    val (h1, h2) = all.splitAt(all.size / 2)
    Seq(h1 -> "f1", h2 -> "f2").foreach { case (half, nm) =>
      val tmp = Files.createTempDirectory(s"graft_media_$nm").toString
      half.toDF("id", "fmt", "payload").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, landing.resolve(s"$nm.parquet"))
    }
    val out = Files.createTempDirectory("graft_media_out").toString
    val ckpt = Files.createTempDirectory("graft_media_ckpt").toString
    val q = graft.streaming.IngestStreaming.mediaMetaStream(spark,
      landing.toString, out, ckpt, maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()
    def tup(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(0), r.getString(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) 0L else r.getLong(6))
    }.toSeq.sorted
    val got = tup(spark.read.parquet(out))
    val want = tup(MultimodalOps.mediaMetaOf(
      all.toDF("id", "fmt", "payload")))
    assert(want.size == all.size, "one uniform row per payload")
    assert(got == want,
      "two micro-batches must reproduce the batch metadata exactly " +
        "(mediaMetaOf is the shared code path; batches independent)")
    assert(got.count(!_._3) == 1 && !got.find(_._1 == 99L).get._3,
      "the corrupt arrival must land with chk_ok=false")
  }

  test("streaming video ingest probe: micro-batched arrivals against " +
    "the persistent live frame index reproduce the batch operator " +
    "exactly (shared parser, shared cap contract)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import java.nio.file.Files
    val dir = SparkFixture.Sf0001
    val vids = MultimodalOps.planted(spark, dir,
      operators.VideoOps.synthVideo)
    val isNew = col("id") % operators.VideoOps.VideoIngestMod ===
      operators.VideoOps.VideoIngestRem
    val live = vids.filter(!isNew)
    val arrivals = vids.filter(isNew).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    assert(arrivals.nonEmpty)
    // two landing files => two micro-batches under maxFilesPerTrigger=1
    val landing = Files.createTempDirectory("graft_video_stream")
    val (h1, h2) = arrivals.splitAt(arrivals.length / 2)
    Seq(h1 -> "f1", h2 -> "f2").filter(_._1.nonEmpty).foreach {
      case (half, nm) =>
        val tmp = Files.createTempDirectory(s"graft_video_$nm").toString
        half.toSeq.toDF("id", "payload").coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        Files.copy(part.toPath, landing.resolve(s"$nm.parquet"))
    }
    val out = Files.createTempDirectory("graft_video_out").toString
    val ckpt = Files.createTempDirectory("graft_video_ckpt").toString
    val q = graft.streaming.IngestStreaming.videoIngestStream(spark,
      landing.toString, live, out, ckpt, maxFilesPerTrigger = Some(1))
    try q.awaitTermination() finally q.stop()
    val got = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val want = operators.VideoOps.dedupVideoIngest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == want,
      "micro-batched arrivals must reproduce the batch probe exactly")
  }
}
