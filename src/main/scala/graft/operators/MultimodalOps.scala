package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{ArtifactStore, Tables}

/** Multimodal-column plumbing (BASELINE.json extension surface):
  * image/audio/video as opaque `binary` payloads with typed metadata,
  * batch-decoded feature extraction as a partition-streaming operator.
  *
  * The decode step is a clearly-marked DETERMINISTIC FAKE — the
  * container has no image/audio codecs (builder prompt). Everything
  * around it is the real production shape:
  *  - schema: (id, payload: binary, meta: struct) — the layout a
  *    100 TB multimodal corpus uses (payload column pruned away unless
  *    the query touches it; metadata predicate pushdown stays live);
  *  - execution: `mapPartitions` over an iterator of batches — the
  *    Scala analog of `mapInPandas` (batch amortizes codec init; the
  *    iterator never materializes a partition);
  *  - output: fixed-width feature struct per payload.
  */
object MultimodalOps {

  case class MediaRecord(id: Long, payload: Array[Byte],
      mime: String, width: Int, height: Int)
  case class MediaFeatures(id: Long, byte_len: Long, checksum: Long,
      head: Array[Byte], embedding: Array[Float])

  /** Documents → binary media table: payload = UTF-8 bytes standing in
    * for an encoded image; metadata carried as typed columns. */
  def asMediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      // a NULL text has no payload bytes — the standard
      // skip-corrupt-record semantic (null-robustness sweep, r7)
      .filter(col("text").isNotNull)
      .select(col("doc_id").as("id"),
        encode(col("text"), "UTF-8").as("payload"),
        lit("text/plain").as("mime"),
        lit(0).as("width"), lit(0).as("height"))
      .as[MediaRecord]
  }

  /** FAKE decode+featurize one payload batch. Real pipelines put the
    * codec call here (???-equivalent); the fake is deterministic so
    * tests can pin outputs: checksum = bytewise polynomial, embedding
    * = first 4 bytes scaled to [0,1]. */
  def decodeBatch(batch: Iterator[MediaRecord]): Iterator[MediaFeatures] =
    batch.map { r =>
      val cs = r.payload.foldLeft(7L)((h, b) => (h * 131 + (b & 0xFF)) % 1000000007L)
      MediaFeatures(
        id = r.id,
        byte_len = r.payload.length.toLong,
        checksum = cs,
        head = r.payload.take(8),
        embedding = r.payload.take(4).map(b => (b & 0xFF) / 255.0f))
    }

  /** Partition-streaming feature extraction — one decoder init per
    * partition, constant memory, no driver collect. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-task decoder init would go here (codec handles, model load)
      decodeBatch(it)
    }
  }

  case class MediaFrame(id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling — the video-analog operator: treat the payload as
    * fixed-width frames and keep every `every`-th one BEFORE any
    * decode. Real pipelines sample exactly like this so the expensive
    * codec only sees 1/every of the bytes; the slicing itself is pure
    * per-row iterator work in the partition stream. */
  def frameSample(media: Dataset[MediaRecord], frameBytes: Int = 16,
      every: Int = 4): Dataset[MediaFrame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      r.payload.grouped(frameBytes).zipWithIndex
        .collect { case (f, i) if i % every == 0 => MediaFrame(r.id, i, f) }
    }
  }

  /** Resize a decoded feature vector to `dim`: truncate or zero-pad —
    * column-level (codegen'd array ops) so it fuses with downstream
    * similarity operators instead of round-tripping through a UDF. */
  def resizeEmbedding(emb: org.apache.spark.sql.Column,
      dim: Int): org.apache.spark.sql.Column =
    slice(concat(emb, array_repeat(lit(0.0f), dim)), 1, dim)

  /** Driver-facing query: media features per payload. ORACLED: the
    * corpus text is pure ASCII (verified: max code point 121), so the
    * byte-level fake checksum is reproducible in SQL from code points
    * — the binary round-trip (encode → batch decode → features) must
    * agree with a pure relational derivation. */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(asMediaTable(spark, dir))
      .select(col("id"), col("byte_len"), col("checksum"))
      .orderBy(col("id"))
  }

  // ---------------- real binary-format parsing (WAV / RIFF) --------

  /** Max PCM frames synthesized per doc — keeps each payload ≤ 300 B
    * while still exercising a variable-length data chunk. */
  val WavMaxFrames = 64

  case class WavBlob(id: Long, payload: Array[Byte])

  /** Plants a REAL RIFF/WAVE fixture: each document becomes a
    * spec-conformant PCM WAV whose header fields and samples derive
    * deterministically from (doc_id, text) — the binary analog of the
    * WARC fixture behind phone_to_url (reference precedent:
    * mrjob/examples/mr_phone_to_url.py:77-85 parses a real binary
    * container byte-by-byte). sample_rate ∈ {8,16,24} kHz by doc_id,
    * mono/stereo by doc_id, 16-bit PCM; sample k encodes text char
    * k mod len as ((c·523+7) mod 2¹⁶) − 2¹⁵. The 44-byte canonical
    * header layout (RIFF size, fmt chunk, byte rate, block align,
    * data size) is pinned byte-for-byte against an independent
    * ByteBuffer builder and a hand-derived golden in MultimodalSpec. */
  def asWavTable(spark: SparkSession, dir: String): Dataset[WavBlob] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 1)
      // spread the unsplittable single-file scan: the synthesis map
      // AND the downstream per-sample PCM parse (higher-order
      // functions evaluate interpreted, not codegen'd) otherwise run
      // single-threaded — this row read 8.9 s serial, ~0.6 s spread
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .map { case (id, text) => WavBlob(id, synthWav(id, text)) }
  }

  /** Pure function (doc_id, text) → WAV bytes; little-endian
    * throughout, per the RIFF spec. Iterates CODE POINTS, not UTF-16
    * units, so length/indexing agree with the oracle's
    * length(text)/unicode() (code-point semantics) even on astral
    * (surrogate-pair) characters — round-6 advice; on the BMP-only
    * planted corpus the bytes are unchanged (MultimodalSpec pins the
    * astral case directly). */
  private[graft] def synthWav(id: Long, text: String): Array[Byte] = {
    val cps = text.codePoints().toArray
    val sr = 8000 * (1 + (id % 3)).toInt
    val ch = 1 + (id % 2).toInt
    val nf = math.min(cps.length, WavMaxFrames)
    val nSamples = nf * ch
    val dataSize = nSamples * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(ch.toShort).putInt(sr).putInt(sr * ch * 2)
      .putShort((ch * 2).toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    (0 until nSamples).foreach { k =>
      val c = cps(k % cps.length)
      bb.putShort((((c * 523 + 7) % 65536) - 32768).toShort)
    }
    bb.array()
  }

  /** Little-endian integer reads over `hex(payload)` — ONE hex() per
    * row, then pure string slicing + conv: all codegen'd builtins, no
    * UDF in the decode path. `off` is 1-based byte offset. */
  private[graft] def byteAt(hexs: Column, off: Int): Column =
    conv(substring(hexs, (off - 1) * 2 + 1, 2), 16, 10).cast("long")
  private[graft] def u16le(hexs: Column, off: Int): Column =
    byteAt(hexs, off) + byteAt(hexs, off + 1) * 256L
  private[graft] def u32le(hexs: Column, off: Int): Column =
    byteAt(hexs, off) + byteAt(hexs, off + 1) * 256L +
      byteAt(hexs, off + 2) * 65536L + byteAt(hexs, off + 3) * 16777216L

  /** Driver-facing query: parse the planted WAVs back out of their
    * BYTES — every output field is read from the binary header /
    * data chunk at its RIFF-spec offset by byte arithmetic (not
    * smuggled alongside), then verified two ways: the DuckDB oracle
    * recomputes each field directly from (doc_id, text), so a
    * synthesis bug or a parse-offset bug breaks the match, and
    * `chk_ok` pins the internal RIFF size identity
    * riff_size = 36 + data_size + tag checks, which only byte-true
    * headers satisfy.
    *
    * Scale shape: one scan, zero shuffles before the final order —
    * the whole decode is a per-row codegen'd projection (hex once,
    * then slicing), exactly how a 100 TB metadata-extraction pass
    * over binary payload columns should run; the signed-PCM sum
    * aggregates over the data chunk via sequence+aggregate, bounded
    * by the data_size the header declares. */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    parseWav(asWavTable(spark, dir).toDF("id", "payload"))

  /** The parse itself over any (id, payload BINARY) frame — factored
    * so the spec can feed corrupted headers and planted goldens. */
  def parseWav(wav: DataFrame): DataFrame = {
    val parsed = wav
      .withColumn("hexs", hex(col("payload")))
      .withColumn("tags_ok",
        substring(col("hexs"), 1, 8) === lit("52494646") &&   // "RIFF"
        substring(col("hexs"), 17, 8) === lit("57415645") &&  // "WAVE"
        substring(col("hexs"), 25, 8) === lit("666D7420") &&  // "fmt "
        substring(col("hexs"), 73, 8) === lit("64617461"))    // "data"
      .withColumn("riff_size", u32le(col("hexs"), 5))
      .withColumn("channels", u16le(col("hexs"), 23))
      .withColumn("sample_rate", u32le(col("hexs"), 25))
      .withColumn("block_align", u16le(col("hexs"), 33))
      .withColumn("bits", u16le(col("hexs"), 35))
      .withColumn("data_size", u32le(col("hexs"), 41))
      .withColumn("n_frames", expr("data_size DIV block_align"))
      .withColumn("dur_ms", expr("(n_frames * 1000) DIV sample_rate"))
      // signed 16-bit LE samples summed straight off the data chunk —
      // a codegen'd custom Expression over the raw byte[]; the
      // composable aggregate/sequence/conv HOF form ran interpreted
      // per sample and cost this row 8.9 s at sf0.1 (see PcmS16LeSum).
      // data_size is CLAMPED before the ANSI int cast: a garbage
      // header can declare >= 2^31 bytes and the unclamped cast threw
      // CAST_OVERFLOW (round-7 advice #2 — the audioFingerprint clamp
      // applied here; PcmS16LeSum already bounds reads by the actual
      // payload length, so valid rows are unchanged).
      .withColumn("pcm_sum",
        graft.functions.PcmS16LeSum.sum(col("payload"), lit(44),
          least(col("data_size"), lit(Int.MaxValue.toLong)).cast("int")))
      .withColumn("chk_ok", col("tags_ok") &&
        col("riff_size") === col("data_size") + 36L &&
        col("bits") === 16L)
    parsed.select(col("id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("channels").cast("long").as("channels"),
        col("n_frames").cast("long").as("n_frames"),
        col("dur_ms"), col("data_size").cast("long").as("data_size"),
        col("pcm_sum"), col("chk_ok"))
      .orderBy(col("id"))
  }

  // ---------------- BMP (DIB) — the second real format ------------

  /** Max image width synthesized per doc (pixels). */
  val BmpMaxW = 16

  /** Plants real 24-bpp BITMAPINFOHEADER BMPs: width = 1 + doc_id mod
    * [[BmpMaxW]], height = 1 + n_chars mod 8, pixel bytes derived from
    * the text. The format's one genuine quirk — every pixel row pads
    * to a 4-byte boundary (stride = ((3·w + 3) DIV 4)·4) — is part of
    * both the synthesis and the parse verification, so an
    * off-by-padding bug breaks the oracle match. */
  private[graft] def synthBmp(id: Long, text: String): Array[Byte] = {
    val cps = text.codePoints().toArray // code points ↔ oracle unicode()
    val w = 1 + (id % BmpMaxW).toInt
    val h = 1 + (cps.length % 8)
    val stride = ((3 * w + 3) / 4) * 4
    val dataSize = stride * h
    val fileSize = 54 + dataSize
    val bb = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(fileSize)
      .putShort(0).putShort(0).putInt(54)          // reserved, data offset
      .putInt(40).putInt(w).putInt(h)              // DIB header, w, h
      .putShort(1).putShort(24)                    // planes, bpp
      .putInt(0).putInt(dataSize)                  // BI_RGB, image size
      .putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 DPI, palette
    (0 until h).foreach { row =>
      (0 until stride).foreach { b =>
        val v =
          if (b >= 3 * w) 0 // padding bytes are zero per convention
          else cps((row * stride + b) % cps.length) % 256
        bb.put(v.toByte)
      }
    }
    bb.array()
  }

  case class BmpBlob(id: Long, payload: Array[Byte])

  def asBmpTable(spark: SparkSession, dir: String): Dataset[BmpBlob] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 1)
      .repartition(spark.sparkContext.defaultParallelism) // see asWavTable
      .as[(Long, String)]
      .map { case (id, text) => BmpBlob(id, synthBmp(id, text)) }
  }

  /** Parse the planted BMPs back out of their bytes: magic, header
    * fields, the stride identity file_size = 54 + stride·height, and
    * the first pixel row's byte sum (padding excluded — reading the
    * row through the stride, not 3·w, is exactly the bug the check
    * catches). Same one-hex()-per-row codegen'd decode as
    * [[parseWav]]. */
  def parseBmp(bmp: DataFrame): DataFrame = {
    val parsed = bmp
      .withColumn("hexs", hex(col("payload")))
      .withColumn("magic_ok", substring(col("hexs"), 1, 4) === lit("424D"))
      .withColumn("file_size", u32le(col("hexs"), 3))
      .withColumn("data_off", u32le(col("hexs"), 11))
      .withColumn("width", u32le(col("hexs"), 19))
      .withColumn("height", u32le(col("hexs"), 23))
      .withColumn("bpp", u16le(col("hexs"), 29))
      .withColumn("img_size", u32le(col("hexs"), 35))
      .withColumn("stride", expr("((3 * width + 3) DIV 4) * 4"))
      // width clamped before driving the sequence: a garbage header
      // can declare a 4-billion-pixel row, and the unclamped form
      // both overflowed the ANSI INT cast and would materialize a
      // multi-billion-element sequence (garbage-payload totality
      // spec, r7); 4096 is far beyond any planted width and keeps
      // every position INT-safe. Valid rows are unchanged.
      .withColumn("wclamp",
        least(greatest(col("width"), lit(0L)), lit(4096L)))
      .withColumn("row0_sum", when(col("wclamp") >= 1L, aggregate(
        sequence(lit(0), (col("wclamp") * 3 - 1).cast("int")), lit(0L),
        (acc, k) => acc + conv(col("hexs").substr(
            ((lit(54L) + k.cast("long")) * 2L + 1L).cast("int"), lit(2)),
          16, 10).cast("long"))).otherwise(lit(null).cast("long")))
      .withColumn("chk_ok", col("magic_ok") &&
        col("bpp") === 24L && col("data_off") === 54L &&
        col("img_size") === col("stride") * col("height") &&
        col("file_size") === lit(54L) + col("stride") * col("height"))
    parsed.select(col("id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("bpp").cast("long").as("bpp"),
        col("file_size").cast("long").as("file_size"),
        col("row0_sum"), col("chk_ok"))
      .orderBy(col("id"))
  }

  def multimodalBmp(spark: SparkSession, dir: String): DataFrame =
    parseBmp(asBmpTable(spark, dir).toDF("id", "payload"))

  // ------------- perceptual-hash image near-dup (dHash) -----------

  /** dHash grid: 8 rows × 9 sampled columns → 64 adjacent-comparison
    * bits (Krawetz's difference hash — the standard perceptual hash
    * for near-identical image detection; deterministic integer
    * sampling, no resampling kernel, so DuckDB replays it bit-exact). */
  val DHashRows = 8
  val DHashCols = 9

  /** Verified pair threshold. 3 is pigeonhole-complete for the 4×16-bit
    * chunk bucketing below: ≤3 differing bits can touch at most 3 of
    * the 4 chunks, so every qualifying pair shares at least one chunk
    * — the bucket join provably equals the all-pairs scan the oracle
    * runs (the dedup_simhash chunk-collision argument). */
  val DHashMaxHamming = 3

  /** Per-image dHash as FOUR 16-bit chunk columns (c0..c3) — chunked
    * at hash time because (a) the bucket join keys on chunks directly
    * and (b) 16-bit non-negative values sidestep any cross-engine
    * sign/shift semantics a packed 64-bit hash would drag in.
    *
    * Every input is read from the PAYLOAD BYTES: width/height come
    * off the BITMAPINFOHEADER at their spec offsets, the stride
    * (4-byte row padding) is recomputed from width, and each of the
    * 72 grid luminances is the BLUE byte of the nearest-neighbor
    * pixel at (row = gy·height DIV 8, col = gx·width DIV 9) — one
    * hex() per row, then codegen'd slicing; stride-aware byte
    * arithmetic exactly like [[parseBmp]]. */
  def imageDHash(bmp: DataFrame): DataFrame = {
    // width/height are CLAMPED to [0, 4096] before any position
    // arithmetic: garbage headers declare multi-billion dims, and the
    // unclamped offsets overflowed the ANSI INT cast (garbage-payload
    // totality spec, r7); valid rows are unchanged, and the fpok
    // guard below turns any payload whose sampled grid would read out
    // of range into a NULL fingerprint (filtered before the pair join)
    val lums = for (gy <- 0 until DHashRows; gx <- 0 until DHashCols)
      yield s"""CAST(conv(substr(hexs, CAST((54 +
        (($gy * height) DIV $DHashRows) * stride +
        3 * (($gx * width) DIV $DHashCols)) * 2 + 1 AS INT), 2), 16, 10)
        AS BIGINT) AS l${gy}_$gx"""
    // ONE totality guard instead of per-bit null branches (the
    // two-branch-CASE form doubled the generated code past janino's
    // method limit and knocked the whole projection out of codegen):
    // every sampled position is <= the gy=7,gx=8 corner by
    // monotonicity, so "corner byte inside the payload" <=> all 72
    // lums are non-null. NULL width/height (truncated header) nulls
    // the comparison itself — same outcome.
    val fpok = s"""((54 + ((7 * height) DIV $DHashRows) * stride +
      3 * ((8 * width) DIV $DHashCols)) * 2 + 2 <= length(hexs))
      AS fpok"""
    val withLums = bmp
      .withColumn("hexs", hex(col("payload")))
      .withColumn("width", expr(
        "CAST(least(greatest(" + (19 to 22).map(o =>
          s"CAST(conv(substr(hexs, ${(o - 1) * 2 + 1}, 2), 16, 10) AS BIGINT)" +
          s" * ${1L << ((o - 19) * 8)}").mkString(" + ") +
        ", 0L), 4096L) AS INT)"))
      .withColumn("height", expr(
        "CAST(least(greatest(" + (23 to 26).map(o =>
          s"CAST(conv(substr(hexs, ${(o - 1) * 2 + 1}, 2), 16, 10) AS BIGINT)" +
          s" * ${1L << ((o - 23) * 8)}").mkString(" + ") +
        ", 0L), 4096L) AS INT)"))
      .withColumn("stride", expr("((3 * width + 3) DIV 4) * 4"))
      .selectExpr("id" +: fpok +: lums: _*)
    // Chunks go NULL for corrupt/truncated payloads (fpok false or
    // NULL): the old `ELSE 0` coercion gave every corrupt payload the
    // SAME all-zero fingerprint, emitting all corrupt rows as
    // hamming-0 near-dups of each other (round-7 advice #4). NULL
    // fingerprints are filtered before the pair join in
    // [[imageDedupPairs]]. Valid planted BMPs never sample out of
    // range, so registered output is unchanged.
    val chunks = (0 until 4).map { c =>
      val bits = (0 until 16).map { t =>
        val b = c * 16 + t
        val (gy, gx) = (b / 8, b % 8) // 8 comparison bits per grid row
        s"(CASE WHEN l${gy}_$gx < l${gy}_${gx + 1} THEN ${1L << t} ELSE 0 END)"
      }.mkString(" + ")
      s"CASE WHEN fpok THEN CAST($bits AS BIGINT) END AS c$c"
    }
    withLums.selectExpr("id" +: chunks: _*)
  }

  /** Near-duplicate IMAGE pairs over any (id, payload) frame:
    * [[imageDHash]] per image, then FINGERPRINT COMPACTION (the
    * fuzzy_join distinct-name idiom): the chunk-collision candidate
    * join runs over the DISTINCT fingerprints only, and member pairs
    * are expanded afterwards by two output-bound equi-joins.
    *
    * Why compaction is load-bearing: near-identical-image corpora
    * concentrate into few fingerprints (the 10× probe measured ~3.9k
    * distinct hashes carrying 560k images — identical-hash pair mass
    * 6.78M, an 86× growth for 10× data, i.e. the OUTPUT is quadratic
    * in this fixture), so a member-level bucket join pays Σ bucket²
    * ≈ 71M candidate rows where the distinct-level join pays ~10⁴ and
    * everything past it is proportional to the pairs actually
    * emitted. Exactness is unchanged: ham(i,j) is a function of the
    * two fingerprints, and the pigeonhole argument on
    * [[DHashMaxHamming]] applies verbatim at the distinct level
    * (including the A=A self-pair for identical images).
    *
    * Scale shape: one corpus-linear hash pass (localCheckpoint'd),
    * a distinct-fingerprint bucket join (content-diversity-bounded,
    * not corpus-bounded), and member expansion that shuffles only
    * output rows. At 100 TB the 2¹⁶-value chunk space over DISTINCT
    * fingerprints is the knob — band wider as content diversity
    * grows, like simhash's bands. */
  /** The fingerprint-level near-dup graph shared by the pair and
    * cluster deliverables: (members, verified) where members =
    * (id, hid) maps every fingerprintable image to its packed 64-bit
    * dHash and verified = (ha ≤ hb, hamming) is the
    * pigeonhole-complete fingerprint pair set (including A=A
    * self-pairs for identical images). Everything downstream of the
    * distinct() is bounded by CONTENT DIVERSITY (distinct
    * fingerprints), never by corpus size. */
  private def imageFpGraph(bmp: DataFrame): (DataFrame, DataFrame) = {
    // hid packs the 4×16-bit chunks into ONE bijective BIGINT (may go
    // negative via the sign bit — an arbitrary but consistent total
    // order is all the unordered-pair dedup below needs)
    val hid = expr("(c0 << 48) | (c1 << 32) | (c2 << 16) | c3")
    // NULL fingerprints (corrupt/truncated payloads — see the fpok
    // guard in [[imageDHash]]) carry no perceptual content and drop
    // out here rather than clustering together
    val h = imageDHash(bmp)
      .filter(col("c0").isNotNull && col("c1").isNotNull &&
        col("c2").isNotNull && col("c3").isNotNull)
      .withColumn("hid", hid)
      .localCheckpoint() // member table: feeds expansion twice
    val d = h.select(col("hid"), col("c0"), col("c1"), col("c2"),
        col("c3")).distinct()
      .localCheckpoint() // distinct fingerprints: buckets + verify
    val chunks = d.select(col("hid"), posexplode(
        array(col("c0"), col("c1"), col("c2"), col("c3"))))
      .toDF("hid", "ci", "cv")
    // ha <= hb keeps each unordered fingerprint pair once, INCLUDING
    // the A=A self-pair (identical images, hamming 0)
    val cands = PairJoin.buckets(chunks, "ci", "cv")
      .pairs(col("x.hid") <= col("y.hid"))
      .select(col("x.hid").as("ha"), col("y.hid").as("hb"))
      .distinct()
    val verified = cands
      .join(d.select(col("hid").as("ha"), col("c0").as("x0"),
        col("c1").as("x1"), col("c2").as("x2"), col("c3").as("x3")),
        Seq("ha"))
      .join(d.select(col("hid").as("hb"), col("c0").as("y0"),
        col("c1").as("y1"), col("c2").as("y2"), col("c3").as("y3")),
        Seq("hb"))
      .withColumn("hamming", expr(
        """CAST(bit_count(x0 ^ y0) + bit_count(x1 ^ y1) +
          |bit_count(x2 ^ y2) + bit_count(x3 ^ y3) AS BIGINT)""".stripMargin))
      .filter(col("hamming") <= DHashMaxHamming)
      .select(col("ha"), col("hb"), col("hamming"))
    (h.select(col("id"), col("hid")), verified)
  }

  def imageDedupPairs(bmp: DataFrame): DataFrame =
    (expandPairs _).tupled(imageFpGraph(bmp))

  /** Output-bound member expansion of a verified fingerprint pair set:
    * each doc has ONE fingerprint, so a cross-fingerprint doc pair
    * appears exactly once (ordered by least/greatest), and self-pairs
    * dedup on id order. */
  private def expandPairs(h: DataFrame, verified: DataFrame): DataFrame =
    verified
      .join(h.select(col("hid").as("ha"), col("id").as("ia")), Seq("ha"))
      .join(h.select(col("hid").as("hb"), col("id").as("ib")), Seq("hb"))
      .filter(col("ha") =!= col("hb") || col("ia") < col("ib"))
      .select(least(col("ia"), col("ib")).as("i"),
        greatest(col("ia"), col("ib")).as("j"), col("hamming"))
      .orderBy(col("i"), col("j"))

  /** CORPUS-LINEAR cluster deliverable over a (members, verified)
    * fingerprint graph: resolve connected components on the
    * FINGERPRINT graph (content-diversity-bounded — ~3.9k nodes where
    * the member level held 560k images in the r7 10× probe), then
    * label each member by its fingerprint's component and keep the
    * min member id per component. Output ≤ one row per input image —
    * where the pair list is output-QUADRATIC by contract on
    * concentrated corpora (the r7 probe measured 86× pair growth for
    * 10× data; round-7 verdict #3): at 100 TB the labels/survivors
    * are the deliverable a pipeline APPLIES, the pair list is
    * diagnostics. Component resolution runs on fingerprint ids
    * ([[graft.operators.DedupOps.resolveDupClusters]] — size-adaptive
    * union-find/RDD propagation), and the member join + size count
    * are one shuffle each, both corpus-linear. */
  private def fpClusters(h: DataFrame, verified: DataFrame): DataFrame = {
    val fpLab = DedupOps.resolveDupClusters(
        verified.filter(col("ha") =!= col("hb"))
          .select(col("ha").as("i"), col("hb").as("j")))
      .select(col("doc_id").as("hid"), col("keep_id").as("fkeep"))
    // fingerprints with no CROSS-fingerprint edge label themselves —
    // identical-image groups (one shared fingerprint) still cluster
    val lab = h.join(fpLab, Seq("hid"), "left")
      .withColumn("fkeep", coalesce(col("fkeep"), col("hid")))
    val agg = lab.groupBy(col("fkeep"))
      .agg(min(col("id")).as("keep_id"),
        count(lit(1)).as("cluster_size"))
    lab.join(agg, Seq("fkeep"))
      .filter(col("cluster_size") >= 2)
      .select(col("id"), col("keep_id"), col("cluster_size"))
      .orderBy(col("id"))
  }

  /** Per-(session, dir) memos of the corpus fingerprint GRAPHS — the
    * pair row and the cluster row consume the IDENTICAL
    * synthesize→fingerprint→bucket-join→verify pipeline (the
    * clusterLabels pattern: the graph is the shared prep product a
    * pipeline materializes once); `verified` is additionally
    * checkpointed here since [[imageFpGraph]] returns it as a plan
    * over its internal checkpoints. Frame-level APIs
    * ([[imageDedupPairs]] etc.) stay memo-free for spec fixtures. */
  private[graft] val imageGraphMemo = new Memo[String, (DataFrame, DataFrame)]
  private[graft] val audioGraphMemo = new Memo[String, (DataFrame, DataFrame)]

  private[graft] def imageFpGraphFor(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    imageGraphMemo(spark, dir) {
      val (h, v) = imageFpGraph(asBmpTable(spark, dir).toDF("id", "payload"))
      (h, v.localCheckpoint())
    }

  private[graft] def audioFpGraphFor(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    audioGraphMemo(spark, dir) {
      val (h, v) = audioFpGraph(asWavTable(spark, dir).toDF("id", "payload"))
      (h, v.localCheckpoint())
    }

  /** Registered query: perceptual near-dup pairs over the planted
    * corpus BMPs — multimodal columns DEDUPED, not just parsed (the
    * round-6 growth edge). */
  def dedupImage(spark: SparkSession, dir: String): DataFrame = {
    val (h, verified) = imageFpGraphFor(spark, dir)
    expandPairs(h, verified)
  }

  /** Per-(session, dir) memos of the PERSISTED media cluster labels —
    * the [[graft.operators.DedupOps.clusterLabels]] treatment applied
    * to the image/audio modalities (r9: the media labels were the one
    * prep product a fresh session still re-derived from the
    * fingerprint graphs; now a restart pays a metadata stat + scan).
    * Keyed by the documents fingerprint + the fingerprint-family
    * parameters; the artifact read is localCheckpoint'd so consumer
    * plans are materialized-relation-shaped whether built or loaded
    * (media_pipeline's zero-parquet-scan PlanSpec pin). */
  private[graft] val imageLabelMemo = new Memo[String, DataFrame]
  private[graft] val audioLabelMemo = new Memo[String, DataFrame]

  private[graft] def imageClusterLabels(spark: SparkSession,
      dir: String): DataFrame =
    imageLabelMemo(spark, dir)(
      ArtifactStore.stored(spark, dir, "documents", "media_labels_image",
        s"dhash=${DHashRows}x$DHashCols,ham=$DHashMaxHamming")(
        (fpClusters _).tupled(imageFpGraphFor(spark, dir))))

  private[graft] def audioClusterLabels(spark: SparkSession,
      dir: String): DataFrame =
    audioLabelMemo(spark, dir)(
      ArtifactStore.stored(spark, dir, "documents", "media_labels_audio",
        s"win=$AudioWindows,ham=$AudioMaxHamming")(
        (fpClusters _).tupled(audioFpGraphFor(spark, dir))))

  /** Registered query: per-image near-dup CLUSTER LABELS
    * (id, keep_id, cluster_size) — one row per image with ≥1
    * near-duplicate, keep_id = the component-min survivor. The
    * corpus-linear deliverable (see [[fpClusters]]); oracled via the
    * recursive-CTE reachability closure over the all-pairs dHash
    * graph (the dedup_clusters precedent) — image-level closure over
    * expanded pairs and fingerprint-level closure expanded to members
    * are the same partition, since ham(i,j) is a function of the two
    * fingerprints alone. Labels persist across sessions (see
    * [[imageClusterLabels]]). */
  def dedupImageClusters(spark: SparkSession, dir: String): DataFrame =
    imageClusterLabels(spark, dir).orderBy(col("id"))

  // ------------- audio fingerprint near-dup (window-sum hash) ------

  /** Windows in the audio fingerprint grid (33 windows → 32
    * adjacent-comparison bits). */
  val AudioWindows = 33

  /** Verified pair threshold: 1 is pigeonhole-complete for the 2×16-bit
    * chunking — one differing bit touches at most one chunk, so the
    * bucket join equals the all-pairs scan (the [[DHashMaxHamming]]
    * argument at audio-fingerprint selectivity). */
  val AudioMaxHamming = 1

  /** Per-recording fingerprint as TWO 16-bit chunks: the PCM data
    * chunk is cut into [[AudioWindows]] equal sample windows, each
    * window reduced by the codegen'd [[graft.functions.PcmS16LeSum]]
    * (offset+limit — the bounded window form), and bit b compares
    * adjacent window sums — the temporal-shape signature of
    * Haitsma-Kalker-style audio fingerprinting with an integer
    * reduction DuckDB replays exactly. Header fields (data_size) are
    * read off the RIFF bytes as in [[parseWav]]; empty windows (fewer
    * samples than windows) sum to 0 on both engines. */
  def audioFingerprint(wav: DataFrame): DataFrame = {
    // sample count clamped to 2²⁶ (a 128 MB data chunk — far beyond
    // any planted payload; larger real recordings are chunked
    // upstream): garbage headers declare multi-billion-sample chunks
    // and the unclamped window offsets overflowed the ANSI INT cast
    // (garbage-payload totality spec, r7). Valid rows unchanged;
    // clamped windows past the real payload sum to 0 via
    // PcmS16LeSum's bounds.
    val withN = wav
      .withColumn("hexs", hex(col("payload")))
      .withColumn("data_size", u32le(col("hexs"), 41))
      // least() IGNORES nulls, so the clamp alone would coerce a
      // truncated payload (null data_size — no size field to read) to
      // n = 2^26 and an all-zero "fingerprint"; the null must dominate
      // so corrupt payloads stay NULL and drop out of the pair join
      .withColumn("n", when(col("data_size").isNotNull,
        least((col("data_size") / 2).cast("long"), lit(1L << 26))))
    val wsums = (0 until AudioWindows).map { w =>
      val lo = expr(s"($w * n) DIV $AudioWindows")
      val hi = expr(s"(${w + 1} * n) DIV $AudioWindows")
      graft.functions.PcmS16LeSum.sum(col("payload"),
        (lit(44L) + lo * 2L).cast("int"),
        ((hi - lo) * 2L).cast("int")).as(s"w$w")
    }
    // fpok (the imageDHash single-guard idiom): all 33 window sums are
    // non-null iff n is — PcmS16LeSum is total (0 past the payload)
    // once its offset/limit arguments are real. A payload too short to
    // carry a RIFF size field at all gets a NULL fingerprint and is
    // filtered before the pair join, instead of the old ELSE-0
    // coercion that clustered every corrupt payload at the all-zero
    // fingerprint (round-7 advice #4).
    val withSums = withN.select(
      col("id") +: col("n").isNotNull.as("fpok") +: wsums: _*)
    val chunks = (0 until 2).map { c =>
      val bits = (0 until 16).map { t =>
        val b = c * 16 + t
        s"(CASE WHEN w$b < w${b + 1} THEN ${1L << t} ELSE 0 END)"
      }.mkString(" + ")
      s"CASE WHEN fpok THEN CAST($bits AS BIGINT) END AS c$c"
    }
    withSums.selectExpr("id" +: chunks: _*)
  }

  /** The audio fingerprint graph — [[imageFpGraph]] over the 2×16-bit
    * window-sum fingerprints: members (id, hid) + verified fingerprint
    * pairs (ha ≤ hb, hamming ≤ [[AudioMaxHamming]]), candidates from
    * the chunk-collision join over DISTINCT fingerprints (the r7 form
    * joined at MEMBER level — correct, but Σ bucket² over members is
    * exactly the concentration blow-up the image path compacted away;
    * identical recordings are common in a crawl, so the audio leg gets
    * the same compaction). */
  private def audioFpGraph(wav: DataFrame): (DataFrame, DataFrame) = {
    val hid = expr("(c0 << 16) | c1") // bijective 32-bit pack
    val h = audioFingerprint(wav)
      .filter(col("c0").isNotNull && col("c1").isNotNull)
      .withColumn("hid", hid)
      .localCheckpoint()
    val d = h.select(col("hid"), col("c0"), col("c1")).distinct()
      .localCheckpoint()
    val chunks = d.select(col("hid"),
        posexplode(array(col("c0"), col("c1"))))
      .toDF("hid", "ci", "cv")
    val cands = PairJoin.buckets(chunks, "ci", "cv")
      .pairs(col("x.hid") <= col("y.hid"))
      .select(col("x.hid").as("ha"), col("y.hid").as("hb"))
      .distinct()
    val verified = cands
      .join(d.select(col("hid").as("ha"), col("c0").as("x0"),
        col("c1").as("x1")), Seq("ha"))
      .join(d.select(col("hid").as("hb"), col("c0").as("y0"),
        col("c1").as("y1")), Seq("hb"))
      .withColumn("hamming",
        expr("CAST(bit_count(x0 ^ y0) + bit_count(x1 ^ y1) AS BIGINT)"))
      .filter(col("hamming") <= AudioMaxHamming)
      .select(col("ha"), col("hb"), col("hamming"))
    (h.select(col("id"), col("hid")), verified)
  }

  /** Near-duplicate AUDIO pairs via the compacted fingerprint graph —
    * the [[imageDedupPairs]] expansion over the WAV payloads (output
    * identical to the r7 member-level join: ham is a function of the
    * two fingerprints, pigeonhole completeness unchanged at the
    * distinct level, StreamingMultimodalSpec pins the all-pairs
    * reference equality). */
  def audioDedupPairs(wav: DataFrame): DataFrame =
    (expandPairs _).tupled(audioFpGraph(wav))

  /** Registered query: near-dup recordings over the planted corpus
    * WAVs — the audio leg of "multimodal columns deduped, not just
    * parsed". */
  def dedupAudio(spark: SparkSession, dir: String): DataFrame =
    (expandPairs _).tupled(audioFpGraphFor(spark, dir))

  /** Registered query: per-recording near-dup CLUSTER LABELS — the
    * corpus-linear audio deliverable ([[fpClusters]] over the audio
    * fingerprint graph; see [[dedupImageClusters]]); persisted like
    * the image labels. */
  def dedupAudioClusters(spark: SparkSession, dir: String): DataFrame =
    audioClusterLabels(spark, dir).orderBy(col("id"))

  // ------------- PNG — the entropy-coded third format -------------

  /** Max PNG width (pixels): width = 1 + doc_id mod this. */
  val PngMaxW = 9

  /** Plants REAL PNGs (round-7 verdict #7 — the first format whose
    * payload is ENTROPY-CODED, closing "binary parsing = uncompressed
    * containers only"): 8-byte signature, IHDR (8-bit truecolor RGB,
    * width = 1 + doc_id mod [[PngMaxW]], height = 1 + n_chars mod 6),
    * ONE IDAT whose zlib stream deflate-compresses the filter-0
    * scanlines (pixel byte p of the row-major RGB stream = code point
    * (p mod len) mod 256 — the BMP generator without stride padding),
    * IEND; each chunk carries its real CRC-32 over type+data. The
    * oracle replays the DECODED pixels from (doc_id, text) — the
    * compressed bytes themselves are an implementation detail of the
    * encoder, which is exactly why the parse needs a real inflate. */
  private[graft] def synthPng(id: Long, text: String): Array[Byte] = {
    val cps = text.codePoints().toArray
    val w = 1 + (id % PngMaxW).toInt
    val h = 1 + (cps.length % 6)
    val stride = 3 * w + 1 // filter byte + RGB row
    val raw = new Array[Byte](h * stride)
    for (r <- 0 until h) {
      raw(r * stride) = 0 // filter type 0 (None)
      for (k <- 0 until 3 * w)
        raw(r * stride + 1 + k) =
          (cps((r * 3 * w + k) % cps.length) % 256).toByte
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    while (!defl.finished()) out.write(buf, 0, defl.deflate(buf))
    defl.end()
    val idat = out.toByteArray
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data)
        .putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/none
      .array()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", idat) ++
      chunk("IEND", Array.empty[Byte])
  }

  case class PngBlob(id: Long, payload: Array[Byte])

  def asPngTable(spark: SparkSession, dir: String): Dataset[PngBlob] = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 1)
      .repartition(spark.sparkContext.defaultParallelism) // see asWavTable
      .as[(Long, String)]
      .map { case (id, text) => PngBlob(id, synthPng(id, text)) }
  }

  case class PngMeta(id: Long, width: Long, height: Long,
      bit_depth: Long, color_type: Long, pixel_sum: Long, chk_ok: Boolean)

  /** Decode ONE PNG byte array: chunk walk with CRC-32 verification,
    * IDAT concatenation, REAL zlib inflate, filter-byte check, pixel
    * sum over the defiltered scanlines. Total on garbage — any
    * structural violation (bad signature/CRC/zlib stream/short data)
    * lands in chk_ok = false with zeroed fields, never a throw. */
  private[graft] def decodePng(id: Long, p: Array[Byte],
      inf: java.util.zip.Inflater): PngMeta = {
    try {
      val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a,
        0x1a, 0x0a)
      if (p.length < 8 || !p.take(8).sameElements(sig))
        return PngMeta(id, 0, 0, 0, 0, 0, chk_ok = false)
      val bb = java.nio.ByteBuffer.wrap(p)
      var off = 8
      var (w, h, depth, ctype) = (0L, 0L, 0L, 0L)
      var crcOk = true
      val idat = new java.io.ByteArrayOutputStream()
      var sawEnd = false
      while (off + 12 <= p.length && !sawEnd) {
        val len = bb.getInt(off)
        if (len < 0 || off + 12 + len > p.length)
          return PngMeta(id, w, h, depth, ctype, 0, chk_ok = false)
        val typ = new String(p, off + 4, 4, "US-ASCII")
        val crc = new java.util.zip.CRC32()
        crc.update(p, off + 4, 4 + len)
        if (crc.getValue.toInt != bb.getInt(off + 8 + len)) crcOk = false
        typ match {
          case "IHDR" if len == 13 =>
            w = bb.getInt(off + 8).toLong
            h = bb.getInt(off + 12).toLong
            depth = (p(off + 16) & 0xFF).toLong
            ctype = (p(off + 17) & 0xFF).toLong
          case "IDAT" => idat.write(p, off + 8, len)
          case "IEND" => sawEnd = true
          case _ => ()
        }
        off += 12 + len
      }
      if (w <= 0 || h <= 0 || w > 4096 || h > 4096)
        return PngMeta(id, w, h, depth, ctype, 0, chk_ok = false)
      // real inflate of the concatenated IDAT zlib stream
      inf.reset()
      inf.setInput(idat.toByteArray)
      val stride = (3 * w + 1).toInt
      val want = (h * stride).toInt
      val raw = new Array[Byte](want + 1) // +1 detects overlong streams
      var got = 0
      var n = inf.inflate(raw, 0, raw.length)
      while (n > 0 && got + n < raw.length) {
        got += n
        n = inf.inflate(raw, got, raw.length - got)
      }
      got += math.max(n, 0)
      val complete = inf.finished() && got == want
      var sum = 0L
      var filtersOk = true
      var r = 0
      while (r < h.toInt) {
        if (raw(r * stride) != 0) filtersOk = false
        var k = 1
        while (k < stride) { sum += raw(r * stride + k) & 0xFF; k += 1 }
        r += 1
      }
      PngMeta(id, w, h, depth, ctype, sum,
        crcOk && sawEnd && complete && filtersOk &&
          depth == 8L && ctype == 2L)
    } catch {
      case _: java.util.zip.DataFormatException |
           _: ArrayIndexOutOfBoundsException |
           _: NegativeArraySizeException =>
        PngMeta(id, 0, 0, 0, 0, 0, chk_ok = false)
    }
  }

  /** The parse over any (id, payload BINARY) frame — a mapPartitions
    * batch decode with ONE Inflater per partition (reset per record):
    * the promised shape for entropy-coded payloads, where the
    * hex()+substr codegen idiom of [[parseWav]]/[[parseBmp]]
    * structurally cannot apply (bytes are not at fixed offsets until
    * AFTER decompression). This is preference order (d) of the build
    * contract, justified: a DEFLATE stream is inherently sequential
    * per record, so per-record imperative decode inside a partition
    * stream IS the production shape (mapInPandas analog), and
    * everything around it — pruned binary column scan, partition
    * spread, typed output struct — stays relational. */
  def parsePng(png: DataFrame): DataFrame = {
    import png.sparkSession.implicits._
    png.select(col("id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val inf = new java.util.zip.Inflater()
        it.map { case (id, p) => decodePng(id, p, inf) }
      }
      .toDF()
      .orderBy(col("id"))
  }

  /** Registered query: plant real PNGs, decode them back through a
    * real inflate, verify CRCs + stream completeness; the oracle
    * re-derives every field (including the pixel sum THROUGH the
    * compression round-trip) from (doc_id, text). */
  def multimodalPng(spark: SparkSession, dir: String): DataFrame =
    parsePng(asPngTable(spark, dir).toDF("id", "payload"))

  /** Direct derivation: pixel byte p (filter bytes excluded) = code
    * point (p mod len) mod 256, summed over the 3·w·h RGB bytes. */
  val multimodalPngSql: String =
    s"""SELECT doc_id AS id,
       |  CAST(1 + doc_id % $PngMaxW AS BIGINT) AS width,
       |  CAST(1 + length(text) % 6 AS BIGINT) AS height,
       |  CAST(8 AS BIGINT) AS bit_depth,
       |  CAST(2 AS BIGINT) AS color_type,
       |  CAST(list_sum(list_transform(
       |    range(3 * (1 + doc_id % $PngMaxW) * (1 + length(text) % 6)),
       |    k -> unicode(text[CAST(k % length(text) AS INT) + 1]) % 256))
       |    AS BIGINT) AS pixel_sum,
       |  TRUE AS chk_ok
       |FROM documents WHERE length(text) >= 1
       |ORDER BY id""".stripMargin

  /** Oracle: replay the window sums from (doc_id, text) synthesis
    * (sample k = ((unicode(char k mod len)·523+7) mod 2¹⁶) − 2¹⁵),
    * then the all-pairs hamming filter — pigeonhole-equal to the
    * chunk-collision join. COALESCE pins empty windows to 0 (DuckDB
    * list_sum([]) is NULL; the engine's bounded PcmS16LeSum returns
    * 0). */
  /** Shared replay prefix for the audio rows: window sums from
    * (doc_id, text) synthesis → 32 adjacent-comparison bits per doc
    * (`ph`). `pre` prefixes every CTE name so two modality prefixes
    * can coexist in one composed WITH list ([[mediaPipelineSql]]). */
  private def audioPhCtesPre(pre: String): String = {
    val n = s"(least(length(text), $WavMaxFrames) * (1 + doc_id % 2))"
    s"""${pre}d AS MATERIALIZED (
       |  SELECT doc_id, text, $n AS n FROM documents
       |  WHERE length(text) >= 1),
       |${pre}ws AS MATERIALIZED (
       |  SELECT doc_id, list_transform(range($AudioWindows), w ->
       |    COALESCE(list_sum(list_transform(
       |      range((w * n) // $AudioWindows, ((w + 1) * n) // $AudioWindows),
       |      k -> ((unicode(text[CAST(k % length(text) AS INT) + 1])
       |             * 523 + 7) % 65536 - 32768))), 0)) AS s
       |  FROM ${pre}d),
       |${pre}ph AS MATERIALIZED (
       |  SELECT doc_id, list_transform(range(32), b ->
       |    CASE WHEN s[CAST(b AS INT) + 1] < s[CAST(b AS INT) + 2]
       |    THEN 1 ELSE 0 END) AS bits
       |  FROM ${pre}ws)""".stripMargin
  }
  private lazy val audioPhCtes: String = audioPhCtesPre("")

  lazy val dedupAudioSql: String =
    s"""WITH $audioPhCtes
       |SELECT x.doc_id AS i, y.doc_id AS j,
       |  CAST(len(list_filter(range(32), k ->
       |    x.bits[CAST(k AS INT) + 1] != y.bits[CAST(k AS INT) + 1]))
       |    AS BIGINT) AS hamming
       |FROM ph x JOIN ph y ON x.doc_id < y.doc_id
       |WHERE len(list_filter(range(32), k ->
       |  x.bits[CAST(k AS INT) + 1] != y.bits[CAST(k AS INT) + 1]))
       |  <= $AudioMaxHamming
       |ORDER BY i, j""".stripMargin

  /** Recursive reachability closure over the same all-pairs audio
    * graph → (id, keep_id, cluster_size) per member of a ≥2 cluster —
    * the dedup_clusters oracle idiom applied to the audio fingerprint
    * components (every member of a ≥2 cluster appears in ≥1 pair, so
    * `reach`'s node set IS the ≥2-cluster membership). */
  lazy val dedupAudioClustersSql: String =
    s"""WITH RECURSIVE $audioPhCtes,
       |p AS MATERIALIZED (
       |  SELECT x.doc_id AS i, y.doc_id AS j
       |  FROM ph x JOIN ph y ON x.doc_id < y.doc_id
       |  WHERE len(list_filter(range(32), k ->
       |    x.bits[CAST(k AS INT) + 1] != y.bits[CAST(k AS INT) + 1]))
       |    <= $AudioMaxHamming),
       |edges AS (
       |  SELECT i AS a, j AS b FROM p UNION ALL SELECT j, i FROM p),
       |reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lab AS (SELECT a AS id, MIN(b) AS keep_id FROM reach GROUP BY a),
       |sz AS (SELECT keep_id AS k, COUNT(*) AS cluster_size
       |       FROM lab GROUP BY 1)
       |SELECT lab.id, lab.keep_id, sz.cluster_size
       |FROM lab JOIN sz ON sz.k = lab.keep_id
       |ORDER BY id""".stripMargin

  /** Oracle: replay the dHash from (doc_id, text) synthesis directly
    * (sampled pixels never land on padding — 3·col ≤ 3·width−3 — so
    * the byte at (row·stride + 3·col) is text char ((row·stride +
    * 3·col) mod len) mod 256), then the ALL-PAIRS hamming filter,
    * which the pigeonhole argument on [[DHashMaxHamming]] makes
    * exactly equal to the engine's chunk-collision join. */
  /** Shared replay prefix for the image rows: dHash bits per doc from
    * (doc_id, text) synthesis (`ph`); `pre` as in [[audioPhCtesPre]]. */
  private def dHashPhCtesPre(pre: String): String = {
    val w = s"(1 + doc_id % $BmpMaxW)"
    val h = "(1 + length(text) % 8)"
    val stride = s"(((3 * $w + 3) // 4) * 4)"
    s"""${pre}g AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_transform(range(${DHashRows * DHashCols}), k ->
       |      unicode(text[CAST((((((k // $DHashCols) * $h) // $DHashRows)
       |        * $stride + 3 * (((k % $DHashCols) * $w) // $DHashCols))
       |        % length(text)) AS INT) + 1]) % 256) AS lums
       |  FROM documents WHERE length(text) >= 1),
       |${pre}ph AS MATERIALIZED (
       |  SELECT doc_id, list_transform(range(64), b ->
       |    CASE WHEN lums[CAST((b // 8) * $DHashCols + (b % 8) AS INT) + 1]
       |       < lums[CAST((b // 8) * $DHashCols + (b % 8) AS INT) + 2]
       |    THEN 1 ELSE 0 END) AS bits
       |  FROM ${pre}g)""".stripMargin
  }
  private lazy val dHashPhCtes: String = dHashPhCtesPre("")

  lazy val dedupImageSql: String =
    s"""WITH $dHashPhCtes
       |SELECT x.doc_id AS i, y.doc_id AS j,
       |  CAST(len(list_filter(range(64), k ->
       |    x.bits[CAST(k AS INT) + 1] != y.bits[CAST(k AS INT) + 1]))
       |    AS BIGINT) AS hamming
       |FROM ph x JOIN ph y ON x.doc_id < y.doc_id
       |WHERE len(list_filter(range(64), k ->
       |  x.bits[CAST(k AS INT) + 1] != y.bits[CAST(k AS INT) + 1]))
       |  <= $DHashMaxHamming
       |ORDER BY i, j""".stripMargin

  /** Recursive reachability closure over the same all-pairs dHash
    * graph → (id, keep_id, cluster_size); see
    * [[dedupAudioClustersSql]]. */
  lazy val dedupImageClustersSql: String =
    s"""WITH RECURSIVE $dHashPhCtes,
       |p AS MATERIALIZED (
       |  SELECT x.doc_id AS i, y.doc_id AS j
       |  FROM ph x JOIN ph y ON x.doc_id < y.doc_id
       |  WHERE len(list_filter(range(64), k ->
       |    x.bits[CAST(k AS INT) + 1] != y.bits[CAST(k AS INT) + 1]))
       |    <= $DHashMaxHamming),
       |edges AS (
       |  SELECT i AS a, j AS b FROM p UNION ALL SELECT j, i FROM p),
       |reach(a, b) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lab AS (SELECT a AS id, MIN(b) AS keep_id FROM reach GROUP BY a),
       |sz AS (SELECT keep_id AS k, COUNT(*) AS cluster_size
       |       FROM lab GROUP BY 1)
       |SELECT lab.id, lab.keep_id, sz.cluster_size
       |FROM lab JOIN sz ON sz.k = lab.keep_id
       |ORDER BY id""".stripMargin

  /** Direct field derivation from (doc_id, text); row0_sum replays the
    * pixel generator for row 0 (char k mod len, mod 256 — padding
    * bytes excluded by summing only 3·w bytes). */
  val multimodalBmpSql: String =
    s"""SELECT doc_id AS id,
       |  CAST(1 + doc_id % $BmpMaxW AS BIGINT) AS width,
       |  CAST(1 + length(text) % 8 AS BIGINT) AS height,
       |  CAST(24 AS BIGINT) AS bpp,
       |  CAST(54 + ((3 * (1 + doc_id % $BmpMaxW) + 3) // 4) * 4 *
       |    (1 + length(text) % 8) AS BIGINT) AS file_size,
       |  CAST(list_sum(list_transform(
       |    range(3 * (1 + doc_id % $BmpMaxW)),
       |    k -> unicode(text[CAST(k % length(text) AS INT) + 1]) % 256))
       |    AS BIGINT) AS row0_sum,
       |  TRUE AS chk_ok
       |FROM documents WHERE length(text) >= 1
       |ORDER BY id""".stripMargin

  /** Direct derivation of every field from (doc_id, text) — if the
    * engine's synthesized bytes OR its parse offsets are wrong, at
    * least one column diverges. */
  val multimodalMetaSql: String =
    s"""SELECT doc_id AS id,
       |  CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
       |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
       |  CAST(least(length(text), $WavMaxFrames) AS BIGINT) AS n_frames,
       |  CAST(least(length(text), $WavMaxFrames) AS BIGINT) * 1000 //
       |    CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS dur_ms,
       |  CAST(least(length(text), $WavMaxFrames) * (1 + doc_id % 2) * 2
       |    AS BIGINT) AS data_size,
       |  CAST(list_sum(list_transform(
       |    range(least(length(text), $WavMaxFrames) * (1 + doc_id % 2)),
       |    k -> ((unicode(text[CAST(k % length(text) AS INT) + 1])
       |           * 523 + 7) % 65536) - 32768)) AS BIGINT) AS pcm_sum,
       |  TRUE AS chk_ok
       |FROM documents WHERE length(text) >= 1
       |ORDER BY id""".stripMargin

  // ---------- media_pipeline — the binary-catalog composition ------

  /** Media quality gates for [[mediaPipeline]] (the binary analog of
    * pretrain_pipeline's quality_ppm threshold): keep recordings of at
    * least this duration... */
  val MediaMinDurMs = 3L
  /** ...and images at least this wide. On the planted corpus the two
    * gates keep ≈54% of docs (dur_ms ∈ {2,4,8} by doc_id%3 at full
    * length, width ∈ 1..[[BmpMaxW]] by doc_id) — a real selection,
    * not a pass-through. */
  val MediaMinWidth = 4L

  /** The composition over ALREADY-PLANTED payload frames + cluster
    * labels — factored so specs can feed corrupted payloads and
    * synthetic cluster tables. Stages (each reusing the exact contract
    * its standalone row oracles):
    *   A. parse all FIVE formats ([[parseWav]]/[[parseBmp]]/
    *      [[parsePng]]/[[JpegOps.parseJpeg]]/[[VideoOps.parseVideo]])
    *      and DROP invalid
    *      payloads: a corrupt payload
    *      fails its `chk_ok` gate (false on structural violations,
    *      null on truncation — both filtered) in ANY modality and
    *      leaves the catalog;
    *   B. media quality gate: [[MediaMinDurMs]] / [[MediaMinWidth]]
    *      over the PARSE-DERIVED fields;
    *   C. near-dup removal in ALL THREE modalities: drop every
    *      cluster loser (id ≠ keep_id — the [[fpClusters]] labels and
    *      [[VideoOps.videoClusterLabels]]), keeping the component-min
    *      survivor of each image/audio/video cluster.
    * Output: one row per surviving item with its parse-derived
    * metadata — the cleaned media catalog a training pipeline reads.
    *
    * Scale shape: the parse legs are per-row projections joined on the
    * item id (narrow metadata — id + a few longs — so the three
    * id-shuffles move ~nothing compared to the payload decode they
    * follow); the cluster labels arrive as content-diversity-bounded
    * relations from the memoized fingerprint graphs (zero extra corpus
    * scans); the two loser sides are anti-joins on id. */
  def mediaPipelineOf(wav: DataFrame, bmp: DataFrame, png: DataFrame,
      jpeg: DataFrame, video: DataFrame, imgClusters: DataFrame,
      audClusters: DataFrame, vidClusters: DataFrame): DataFrame = {
    val w = parseWav(wav).select(col("id"), col("sample_rate"),
      col("dur_ms"), col("chk_ok").as("wok"))
    val b = parseBmp(bmp).select(col("id"), col("width"), col("height"),
      col("chk_ok").as("bok"))
    val p = parsePng(png).select(col("id"), col("pixel_sum"),
      col("chk_ok").as("pok"))
    val j = JpegOps.parseJpeg(jpeg).select(col("id"), col("dc_sum"),
      col("chk_ok").as("jok"))
    val v = VideoOps.parseVideo(video).select(col("id"),
      col("n_frames"), col("chk_ok").as("vok"))
    val gated = w.join(b, Seq("id")).join(p, Seq("id")).join(j, Seq("id"))
      .join(v, Seq("id"))
      .filter(col("wok") && col("bok") && col("pok") && col("jok") &&
        col("vok") &&
        col("dur_ms") >= MediaMinDurMs && col("width") >= MediaMinWidth)
    def losers(cl: DataFrame): DataFrame =
      cl.filter(col("id") =!= col("keep_id")).select(col("id"))
    gated.join(losers(imgClusters), Seq("id"), "left_anti")
      .join(losers(audClusters), Seq("id"), "left_anti")
      .join(losers(vidClusters), Seq("id"), "left_anti")
      .select(col("id"), col("sample_rate"), col("dur_ms"),
        col("width"), col("height"), col("n_frames"),
        col("pixel_sum"), col("dc_sum"))
      .orderBy(col("id"))
  }

  /** Registered query: the end-to-end multimodal assembly — the
    * pretrain_pipeline of the binary catalog (round-8 verdict #3).
    * ONE corpus scan feeds all four payload legs (the (doc_id, text)
    * relation is localCheckpoint'd, so the final plan reads the
    * materialized RDD — PlanSpec pins zero parquet scans); the cluster
    * labels consume the SAME memoized fingerprint graphs the
    * standalone dedup_*_clusters rows (and the Bench prep phase)
    * materialize. Oracled by chaining the per-stage CTE contracts:
    * parse-field derivations (multimodal_meta/bmp/png), the two
    * recursive-closure loser sets (dedup_image_clusters /
    * dedup_audio_clusters), and the gate predicate. */
  def mediaPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.spread(Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(length(col("text")) >= 1))
      .localCheckpoint()
    val ds = base.as[(Long, String)]
    mediaPipelineOf(
      ds.map { case (id, t) => WavBlob(id, synthWav(id, t)) }
        .toDF("id", "payload"),
      ds.map { case (id, t) => BmpBlob(id, synthBmp(id, t)) }
        .toDF("id", "payload"),
      ds.map { case (id, t) => PngBlob(id, synthPng(id, t)) }
        .toDF("id", "payload"),
      ds.map { case (id, t) =>
        JpegOps.JpegBlob(id, JpegOps.synthJpeg(id, t)) }
        .toDF("id", "payload"),
      ds.map { case (id, t) =>
        VideoOps.VideoBlob(id, VideoOps.synthVideo(id, t)) }
        .toDF("id", "payload"),
      dedupImageClusters(spark, dir),
      dedupAudioClusters(spark, dir),
      VideoOps.videoClusterLabels(spark, dir))
  }

  /** Uniform multi-format metadata extraction over a mixed
    * (id, fmt, payload) frame — the shared code path of the batch
    * catalog AND [[graft.streaming.IngestStreaming.mediaMetaStream]]
    * (stream ≡ batch by construction). Each format leg runs its real
    * parser; the output is one uniform row per payload:
    * (id, fmt, chk_ok, width, height, dur_ms, content_sum) with NULL
    * where a field has no meaning for the format (audio has no
    * width; images have no duration). content_sum is the format's
    * content witness: pcm_sum / row0_sum / pixel_sum / dc_sum. */
  def mediaMetaOf(batch: DataFrame): DataFrame = {
    val nulL = lit(null).cast("long")
    def leg(f: String)(parse: DataFrame => DataFrame): DataFrame =
      parse(batch.filter(col("fmt") === f).select(col("id"),
        col("payload")))
    val w = leg("wav")(parseWav)
      .select(col("id"), lit("wav").as("fmt"), col("chk_ok"),
        nulL.as("width"), nulL.as("height"), col("dur_ms"),
        col("pcm_sum").as("content_sum"))
    val b = leg("bmp")(parseBmp)
      .select(col("id"), lit("bmp").as("fmt"), col("chk_ok"),
        col("width"), col("height"), nulL.as("dur_ms"),
        col("row0_sum").as("content_sum"))
    val p = leg("png")(parsePng)
      .select(col("id"), lit("png").as("fmt"), col("chk_ok"),
        col("width"), col("height"), nulL.as("dur_ms"),
        col("pixel_sum").as("content_sum"))
    val j = leg("jpeg")(JpegOps.parseJpeg)
      .select(col("id"), lit("jpeg").as("fmt"), col("chk_ok"),
        col("width"), col("height"), nulL.as("dur_ms"),
        col("dc_sum").as("content_sum"))
    // duration guarded behind chk_ok: a garbage header may carry
    // fps=0, and the ANSI DIV would error instead of flagging the row
    val v = leg("gvid")(VideoOps.parseVideo)
      .select(col("id"), lit("gvid").as("fmt"), col("chk_ok"),
        col("width"), col("height"),
        when(col("chk_ok"), expr("(n_frames * 1000) DIV fps"))
          .otherwise(nulL).as("dur_ms"),
        col("frame0_sum").as("content_sum"))
    w.unionAll(b).unionAll(p).unionAll(j).unionAll(v)
  }

  /** Composed replay: parse-field derivations from (doc_id, text) +
    * the two modality closures (prefixed `i`/`a` so both CTE chains
    * coexist), losers = components whose min member ≠ self (the
    * pretrain jdrop idiom). */
  lazy val mediaPipelineSql: String =
    s"""WITH RECURSIVE ${dHashPhCtesPre("i")},
       |ip AS MATERIALIZED (
       |  SELECT x.doc_id AS i, y.doc_id AS j
       |  FROM iph x JOIN iph y ON x.doc_id < y.doc_id
       |  WHERE len(list_filter(range(64), k ->
       |    x.bits[CAST(k AS INT) + 1] != y.bits[CAST(k AS INT) + 1]))
       |    <= $DHashMaxHamming),
       |iedges AS (
       |  SELECT i AS a, j AS b FROM ip UNION ALL SELECT j, i FROM ip),
       |ireach(a, b) AS (
       |  SELECT DISTINCT a, a FROM iedges
       |  UNION
       |  SELECT r.a, e.b FROM ireach r JOIN iedges e ON r.b = e.a),
       |idrop AS (SELECT a AS id FROM ireach GROUP BY a HAVING MIN(b) <> a),
       |${audioPhCtesPre("a")},
       |ap AS MATERIALIZED (
       |  SELECT x.doc_id AS i, y.doc_id AS j
       |  FROM aph x JOIN aph y ON x.doc_id < y.doc_id
       |  WHERE len(list_filter(range(32), k ->
       |    x.bits[CAST(k AS INT) + 1] != y.bits[CAST(k AS INT) + 1]))
       |    <= $AudioMaxHamming),
       |aedges AS (
       |  SELECT i AS a, j AS b FROM ap UNION ALL SELECT j, i FROM ap),
       |areach(a, b) AS (
       |  SELECT DISTINCT a, a FROM aedges
       |  UNION
       |  SELECT r.a, e.b FROM areach r JOIN aedges e ON r.b = e.a),
       |adrop AS (SELECT a AS id FROM areach GROUP BY a HAVING MIN(b) <> a),
       |${VideoOps.videoOccCte},
       |vedges AS (
       |  SELECT i AS a, j AS b FROM vp UNION ALL SELECT j, i FROM vp),
       |vreach(a, b) AS (
       |  SELECT DISTINCT a, a FROM vedges
       |  UNION
       |  SELECT r.a, e.b FROM vreach r JOIN vedges e ON r.b = e.a),
       |vdrop AS (SELECT a AS id FROM vreach GROUP BY a HAVING MIN(b) <> a),
       |parsed AS (
       |  SELECT doc_id AS id,
       |    CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
       |    CAST(least(length(text), $WavMaxFrames) AS BIGINT) * 1000 //
       |      CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS dur_ms,
       |    CAST(1 + doc_id % $BmpMaxW AS BIGINT) AS width,
       |    CAST(1 + length(text) % 8 AS BIGINT) AS height,
       |    CAST(1 + doc_id % ${VideoOps.VideoMaxFrames} AS BIGINT)
       |      AS n_frames,
       |    CAST(list_sum(list_transform(
       |      range(3 * (1 + doc_id % $PngMaxW) * (1 + length(text) % 6)),
       |      k -> unicode(text[CAST(k % length(text) AS INT) + 1]) % 256))
       |      AS BIGINT) AS pixel_sum,
       |    CAST(list_sum(list_transform(
       |      range((1 + doc_id % ${JpegOps.JpegMaxBw}) *
       |            (1 + length(text) % 2)),
       |      b -> 8 * (unicode(text[CAST(b % length(text) AS INT) + 1])
       |        % 256 - 128))) AS BIGINT) AS dc_sum
       |  FROM documents WHERE length(text) >= 1)
       |SELECT id, sample_rate, dur_ms, width, height, n_frames,
       |  pixel_sum, dc_sum
       |FROM parsed
       |WHERE dur_ms >= $MediaMinDurMs AND width >= $MediaMinWidth
       |  AND id NOT IN (SELECT id FROM idrop)
       |  AND id NOT IN (SELECT id FROM adrop)
       |  AND id NOT IN (SELECT id FROM vdrop)
       |ORDER BY id""".stripMargin

  val multimodalFeaturesSql: String =
    """SELECT doc_id AS id,
      |  CAST(length(text) AS BIGINT) AS byte_len,
      |  list_reduce(
      |    list_prepend(CAST(7 AS BIGINT),
      |      list_transform(range(length(text)),
      |        i -> CAST(unicode(text[i+1]) AS BIGINT))),
      |    (h, b) -> (h * 131 + b) % 1000000007) AS checksum
      |FROM documents
      |ORDER BY id""".stripMargin
}
