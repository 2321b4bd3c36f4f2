package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Video modality — the third leg of the image/audio/video binary
  * catalog (MultimodalOps covers WAV/BMP/PNG/JPEG stills; this file
  * adds a MOTION container and the frame-level near-dup a video
  * training corpus runs).
  *
  * The planted container (`GVID`) is deliberately minimal but
  * real-shaped: a fixed 20-byte header (magic, u32le frame count,
  * width, height, fps) followed by `n_frames` fixed-size uncompressed
  * grayscale frames — the raw-video layout (y4m/uncompressed AVI
  * lineage) every decoder normalizes containers INTO before analysis.
  * Frame pixels derive from the document TEXT only (not doc_id), so
  * two docs carrying the same text yield bit-identical frames while
  * their doc_id-derived frame COUNTS differ — the planted corpus
  * contains genuine "same content, trimmed differently" near-dups,
  * exactly the re-encode/trim case video dedup exists for.
  *
  * Dedup model: a video is its SET of distinct frame fingerprints;
  * near-dup pairs are frame-set Jaccard ≥ [[VideoJaccardPpm]] — the
  * standard frame-signature approach (cf. Wu et al. 2007,
  * "Practical elimination of near-duplicate videos"; content-ID
  * systems match on per-frame signatures for robustness to
  * trims/concatenation that whole-file hashing misses). Candidate
  * generation is a frame-fingerprint equi-join with a document-
  * frequency cap ([[VideoDfCap]]) excluded from BOTH sides of the
  * score — the dedup_containment discipline: ubiquitous frames
  * (logos, intro cards, black frames) are dropped from candidates
  * AND from the per-video set size, so fan-out is Σ min(df,cap)²
  * per distinct frame, never corpus².
  *
  * Cross-engine determinism: the engine shuffles 8-byte
  * xxhash64(width, height, frame bytes) fingerprints (the
  * dedup_substring hashed-key discipline); the DuckDB oracle keys on
  * the rebuilt frame CONTENT string — identical equivalence classes
  * barring a 64-bit collision (expectation ≪ 1 at any plausible
  * distinct-frame count), the same contract dedup_minhash documents.
  *
  * Reference surface: mrjob has no binary/media data model at all —
  * these rows extend the engine the way the BASELINE north star asks
  * (multimodal columns as opaque binary + typed metadata), reusing
  * mrjob's whole-file ethos (mrjob/job.py mapper_raw) for the parse
  * boundary.
  */
object VideoOps {

  /** Synthesized frame-count bound (n_frames = 1 + doc_id mod this). */
  val VideoMaxFrames = 8
  /** Planted fps literal (header field, checked by chk_ok). */
  val VideoFps = 8L
  /** Near-dup threshold on frame-set Jaccard, in ppm. */
  val VideoJaccardPpm = 500000L
  /** Frames appearing in more than this many videos are excluded from
    * candidates AND set sizes (the containment df-cap discipline). */
  val VideoDfCap = 50L

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= 1)

  /** Plants the GVID container for one document. Geometry is a pure
    * function of the TEXT length (w = 2 + len mod 4, h = 2 +
    * (len div 4) mod 4) and the frame count of the DOC ID (1 + id mod
    * [[VideoMaxFrames]]); pixel p of frame f is
    * (codepoint((f·7 + p) mod len)·31 + f) mod 256 — text-only, so
    * equal texts share frames bit-for-bit while distinct frame
    * indices of one video stay distinct (the +f term). */
  private[graft] def synthVideo(id: Long, text: String): Array[Byte] = {
    val cps = text.codePoints().toArray
    val len = cps.length
    val w = 2 + (len % 4)
    val h = 2 + ((len / 4) % 4)
    val nf = 1 + (id % VideoMaxFrames).toInt
    val bb = java.nio.ByteBuffer.allocate(20 + nf * w * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('G'.toByte).put('V'.toByte).put('I'.toByte).put('D'.toByte)
      .putInt(nf).putInt(w).putInt(h).putInt(VideoFps.toInt)
    (0 until nf).foreach { f =>
      (0 until w * h).foreach { p =>
        bb.put(((cps((f * 7 + p) % len) * 31 + f) % 256).toByte)
      }
    }
    bb.array()
  }

  case class VideoBlob(id: Long, payload: Array[Byte])

  def asVideoTable(spark: SparkSession, dir: String): Dataset[VideoBlob] = {
    import spark.implicits._
    docs(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism) // see asWavTable
      .as[(Long, String)]
      .map { case (id, text) => VideoBlob(id, synthVideo(id, text)) }
  }

  /** Parse the planted videos back out of their BYTES: magic, the four
    * u32le header fields at their spec offsets, frame 0's byte sum,
    * and the container identity file_size = 20 + n_frames·w·h checked
    * against the ACTUAL payload length — a truncated or padded stream
    * fails chk_ok even when its header parses. Header dims are
    * clamped to [0, 4096] before driving any position arithmetic
    * (the parseBmp garbage-totality discipline: a corrupt header may
    * declare billion-pixel frames; clamps keep every offset INT-safe
    * and valid rows unchanged). One hex() per row, then codegen'd
    * slicing — no UDF in the decode path. */
  def parseVideo(video: DataFrame): DataFrame = {
    import MultimodalOps.{u32le}
    val parsed = video
      .withColumn("hexs", hex(col("payload")))
      .withColumn("magic_ok", substring(col("hexs"), 1, 8) === lit("47564944"))
      .withColumn("n_frames", u32le(col("hexs"), 5))
      .withColumn("width", u32le(col("hexs"), 9))
      .withColumn("height", u32le(col("hexs"), 13))
      .withColumn("fps", u32le(col("hexs"), 17))
      .withColumn("nfclamp",
        least(greatest(col("n_frames"), lit(0L)), lit(4096L)))
      .withColumn("wclamp",
        least(greatest(col("width"), lit(0L)), lit(4096L)))
      .withColumn("hclamp",
        least(greatest(col("height"), lit(0L)), lit(4096L)))
      .withColumn("fbytes", col("wclamp") * col("hclamp"))
      .withColumn("chk_ok", col("magic_ok") && col("fps") === VideoFps &&
        col("n_frames") === col("nfclamp") &&
        col("width") === col("wclamp") && col("height") === col("hclamp") &&
        length(col("hexs")).cast("long") ===
          (lit(20L) + col("nfclamp") * col("fbytes")) * 2L)
      .withColumn("frame0_sum", when(col("chk_ok") && col("fbytes") >= 1L,
        aggregate(
          sequence(lit(0), (col("fbytes") - 1).cast("int")), lit(0L),
          (acc, p) => acc + conv(col("hexs").substr(
              ((lit(20L) + p.cast("long")) * 2L + 1L).cast("int"), lit(2)),
            16, 10).cast("long"))).otherwise(lit(null).cast("long")))
    parsed.select(col("id"),
        col("n_frames").cast("long").as("n_frames"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("fps").cast("long").as("fps"),
        (length(col("hexs")) / 2).cast("long").as("file_size"),
        col("frame0_sum"), col("chk_ok"))
      .orderBy(col("id"))
  }

  def multimodalVideo(spark: SparkSession, dir: String): DataFrame =
    parseVideo(asVideoTable(spark, dir).toDF("id", "payload"))

  /** Direct field derivation from (doc_id, text) — the planted
    * geometry replayed in SQL; frame0_sum replays the pixel generator
    * for frame 0. If the engine's synthesized bytes OR its parse
    * offsets are wrong, at least one column diverges. */
  val multimodalVideoSql: String =
    s"""SELECT doc_id AS id,
       |  CAST(1 + doc_id % $VideoMaxFrames AS BIGINT) AS n_frames,
       |  CAST(2 + length(text) % 4 AS BIGINT) AS width,
       |  CAST(2 + (length(text) // 4) % 4 AS BIGINT) AS height,
       |  CAST($VideoFps AS BIGINT) AS fps,
       |  CAST(20 + (1 + doc_id % $VideoMaxFrames) *
       |    (2 + length(text) % 4) * (2 + (length(text) // 4) % 4)
       |    AS BIGINT) AS file_size,
       |  CAST(list_sum(list_transform(
       |    range((2 + length(text) % 4) * (2 + (length(text) // 4) % 4)),
       |    p -> (unicode(text[CAST(p % length(text) AS INT) + 1]) * 31)
       |         % 256)) AS BIGINT) AS frame0_sum,
       |  TRUE AS chk_ok
       |FROM documents WHERE length(text) >= 1
       |ORDER BY id""".stripMargin

  /** Per-video DISTINCT frame fingerprints over any (id, payload)
    * frame: explode the frame index off the VALIDATED header (corrupt
    * payloads fail chk_ok and never reach the pair join — the
    * NULL-fingerprint discipline), fingerprint = xxhash64(width,
    * height, frame hex slice). Distinct because the Jaccard is over
    * frame SETS. */
  private[graft] def videoFrameSets(video: DataFrame): DataFrame = {
    import MultimodalOps.{u32le}
    video
      .withColumn("hexs", hex(col("payload")))
      .withColumn("magic_ok", substring(col("hexs"), 1, 8) === lit("47564944"))
      .withColumn("n_frames", u32le(col("hexs"), 5))
      .withColumn("width", u32le(col("hexs"), 9))
      .withColumn("height", u32le(col("hexs"), 13))
      .withColumn("fps", u32le(col("hexs"), 17))
      .filter(col("magic_ok") && col("fps") === VideoFps &&
        col("n_frames").between(1L, 4096L) &&
        col("width").between(1L, 4096L) &&
        col("height").between(1L, 4096L) &&
        // Total frame bytes bounded so every hex offset — up to
        // (20 + n_frames·w·h)·2 + 1 — provably fits in INT (the
        // substr cast below). 4096³ alone would overflow; the
        // length-identity filter next makes >2 GB payloads
        // unrepresentable anyway, but the bound makes it explicit.
        col("n_frames") * col("width") * col("height") <=
          (Int.MaxValue / 2 - 21).toLong &&
        length(col("hexs")).cast("long") ===
          (lit(20L) + col("n_frames") * col("width") * col("height")) * 2L)
      .withColumn("fbytes", (col("width") * col("height")).cast("int"))
      .select(col("id"), col("width"), col("height"), col("fbytes"),
        col("hexs"),
        explode(sequence(lit(0), (col("n_frames") - 1).cast("int")))
          .as("f"))
      .select(col("id"), xxhash64(col("width"), col("height"),
        col("hexs").substr(
          ((lit(20L) + col("f").cast("long") * col("fbytes")) * 2L + 1L)
            .cast("int"),
          (col("fbytes") * 2).cast("int"))).as("fkey"))
      .distinct()
  }

  /** Near-duplicate VIDEO pairs: frame-set Jaccard over df-capped
    * distinct frame fingerprints.
    *
    * Scale shape: one corpus-linear parse+explode pass (≤ frames
    * rows), a frame-df hash agg (content-diversity-bounded), the
    * capped fingerprint equi-join (Σ min(df,cap)² candidate rows —
    * the df cap is PART OF THE OPERATOR: ubiquitous frames neither
    * generate candidates nor count toward set sizes), then
    * output-bounded joins for the two set sizes. No all-pairs
    * anywhere; at 100 TB the frame fingerprint table is the persisted
    * index an ingest batch probes (the dedup_ingest shape). */
  def videoDedupPairs(video: DataFrame): DataFrame = {
    val occ = videoFrameSets(video).localCheckpoint()
    val kept = occ.join(
      occ.groupBy(col("fkey")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= VideoDfCap)
        .select(col("fkey")),
      Seq("fkey"))
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val shared = kept.select(col("fkey"), col("id").as("i"))
      .join(kept.select(col("fkey"), col("id").as("j")), Seq("fkey"))
      .filter(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("shared_frames"))
    shared
      .join(sizes.select(col("id").as("i"), col("n").as("ni")), Seq("i"))
      .join(sizes.select(col("id").as("j"), col("n").as("nj")), Seq("j"))
      .withColumn("jaccard_ppm", expr(
        "1000000 * shared_frames DIV (ni + nj - shared_frames)"))
      .filter(col("jaccard_ppm") >= VideoJaccardPpm)
      .select(col("i"), col("j"), col("shared_frames"), col("jaccard_ppm"))
      .orderBy(col("i"), col("j"))
  }

  def dedupVideo(spark: SparkSession, dir: String): DataFrame =
    videoDedupPairs(asVideoTable(spark, dir).toDF("id", "payload"))

  /** The oracle's frame relation: every (doc, frame) with the frame
    * CONTENT string as its key — geometry and pixels replayed from
    * (doc_id, text) exactly as [[synthVideo]] plants them. */
  /** The (doc_id, frame-content key) relation replayed from
    * (doc_id, text) — the shared prefix of every video-dedup oracle. */
  private[graft] val videoFrameCte: String =
    s"""geom AS (
       |  SELECT doc_id, text, length(text) AS len,
       |    2 + length(text) % 4 AS w,
       |    2 + (length(text) // 4) % 4 AS h,
       |    1 + doc_id % $VideoMaxFrames AS nf
       |  FROM documents WHERE length(text) >= 1),
       |fr AS (
       |  SELECT doc_id, w, h,
       |    unnest(range(nf)) AS f
       |  FROM geom),
       |occ AS (
       |  SELECT DISTINCT fr.doc_id,
       |    CAST(fr.w AS VARCHAR) || 'x' || CAST(fr.h AS VARCHAR) || ':' ||
       |    array_to_string(list_transform(range(fr.w * fr.h),
       |      p -> (unicode(g.text[CAST((fr.f * 7 + p) % g.len AS INT) + 1])
       |            * 31 + fr.f) % 256), ',') AS fkey
       |  FROM fr JOIN geom g ON fr.doc_id = g.doc_id)""".stripMargin

  private[graft] val videoOccCte: String =
    s"""$videoFrameCte,
       |kept AS (
       |  SELECT occ.doc_id, occ.fkey FROM occ
       |  JOIN (SELECT fkey FROM occ GROUP BY fkey
       |        HAVING COUNT(*) <= $VideoDfCap) d ON occ.fkey = d.fkey),
       |sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
       |pr AS (
       |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS shared_frames
       |  FROM kept a JOIN kept b ON a.fkey = b.fkey AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |vp AS (
       |  SELECT pr.i, pr.j, pr.shared_frames,
       |    1000000 * pr.shared_frames //
       |      (si.n + sj.n - pr.shared_frames) AS jaccard_ppm
       |  FROM pr JOIN sizes si ON pr.i = si.doc_id
       |  JOIN sizes sj ON pr.j = sj.doc_id
       |  WHERE 1000000 * pr.shared_frames //
       |      (si.n + sj.n - pr.shared_frames) >= $VideoJaccardPpm)""".stripMargin

  val dedupVideoSql: String =
    s"""WITH $videoOccCte
       |SELECT i, j, shared_frames, jaccard_ppm FROM vp
       |ORDER BY i, j""".stripMargin

  /** Per-(session, dir) memo of the resolved video cluster labels —
    * consumed by the registered `dedup_video_clusters` row AND the
    * media_pipeline loser set (the imageClusterLabels discipline). */
  private val videoLabelMemo = new Memo[String, DataFrame]

  private[graft] def videoClusterLabels(spark: SparkSession,
      dir: String): DataFrame =
    videoLabelMemo(spark, dir) {
      val pairs = dedupVideo(spark, dir).select(col("i"), col("j"))
      val labels = DedupOps.resolveDupClusters(pairs)
      labels.join(
          labels.groupBy(col("keep_id"))
            .agg(count(lit(1)).as("cluster_size")),
          Seq("keep_id"))
        .select(col("doc_id").as("id"), col("keep_id"),
          col("cluster_size"))
        .localCheckpoint()
    }

  /** Video near-dup CLUSTERS: the corpus-linear deliverable
    * (id, keep_id, cluster_size) a pipeline applies — connected
    * components over the pair graph via the shared size-adaptive
    * [[DedupOps.resolveDupClusters]], sizes by one hash agg over the
    * labels. Members are pair-graph participants (singleton videos
    * are trivially their own survivors and are not re-emitted — the
    * dedup_image_clusters contract). */
  def dedupVideoClusters(spark: SparkSession, dir: String): DataFrame =
    videoClusterLabels(spark, dir).orderBy(col("id"))

  /** Recursive reachability closure over the same pair graph — the
    * dedup_image_clusters oracle shape on the video pair CTEs. */
  val dedupVideoClustersSql: String =
    s"""WITH RECURSIVE $videoOccCte,
       |edges AS (
       |  SELECT i AS a, j AS b FROM vp UNION ALL SELECT j, i FROM vp),
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

  // ---------------- incremental video ingest near-dup ----------------

  /** Deterministic arrival slice. Mod 4 (a quarter of the corpus per
    * arrival), not the text rows' mod 10: the video corpus' planted
    * trim-dup structure is SPARSE at tiny scale factors, and mod 4
    * rem 1 is the slice that puts qualifying pairs across the
    * batch/live boundary at BOTH sf0.001 (the test fixture) and
    * sf0.01 (the driver's correctness gate) — a vacuous 0-row oracle
    * would verify nothing. */
  val VideoIngestMod = 4L
  val VideoIngestRem = 1L

  /** Incremental VIDEO near-dup: an arriving batch (doc_id mod
    * [[VideoIngestMod]] = [[VideoIngestRem]], i.e. mod 4 = 1)
    * probed against the LIVE corpus' frame-fingerprint index — the
    * [[DedupOps.dedupIngest]] shape on the binary catalog. The index
    * side is live-only (what a pipeline persists and re-probes per
    * arrival: frame fingerprints + per-video set sizes + frame df);
    * the df cap is computed on the LIVE index (a frame already carried
    * by > [[VideoDfCap]] live videos is an intro card / logo — it
    * neither generates candidates nor counts toward EITHER side's set
    * size, the dedup_video cap contract restated incrementally), and
    * batch-only frames count toward the batch set size so an arrival
    * with mostly-new frames scores honestly low. Per-arrival cost ∝
    * batch frames + matched index buckets — the live corpus is never
    * re-paired against itself.
    *
    * Output: (new_id, live_id, shared_frames, jaccard_ppm) for
    * J ≥ [[VideoJaccardPpm]]. */
  def dedupVideoIngest(spark: SparkSession, dir: String): DataFrame = {
    val occ = videoFrameSets(
      asVideoTable(spark, dir).toDF("id", "payload")).localCheckpoint()
    val isNew = col("id") % VideoIngestMod === VideoIngestRem
    val live = occ.filter(!isNew)
    val batch = occ.filter(isNew)
    val overCap = live.groupBy(col("fkey"))
      .agg(count(lit(1)).as("df")).filter(col("df") > VideoDfCap)
      .select(col("fkey"))
    val keptLive = live.join(overCap, Seq("fkey"), "left_anti")
    val keptBatch = batch.join(overCap, Seq("fkey"), "left_anti")
    val liveSizes = keptLive.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val batchSizes = keptBatch.groupBy(col("id")).agg(count(lit(1)).as("n"))
    keptBatch.select(col("fkey"), col("id").as("new_id"))
      .join(keptLive.select(col("fkey"), col("id").as("live_id")),
        Seq("fkey"))
      .groupBy(col("new_id"), col("live_id"))
      .agg(count(lit(1)).as("shared_frames"))
      .join(batchSizes.select(col("id").as("new_id"), col("n").as("nn")),
        Seq("new_id"))
      .join(liveSizes.select(col("id").as("live_id"), col("n").as("nl")),
        Seq("live_id"))
      .withColumn("jaccard_ppm", expr(
        "1000000 * shared_frames DIV (nn + nl - shared_frames)"))
      .filter(col("jaccard_ppm") >= VideoJaccardPpm)
      .select(col("new_id"), col("live_id"), col("shared_frames"),
        col("jaccard_ppm"))
      .orderBy(col("new_id"), col("live_id"))
  }

  /** Oracle: the dedup_video frame relation split into batch/live,
    * the LIVE-side df cap, and the batch×live capped join. */
  val dedupVideoIngestSql: String =
    s"""WITH $videoFrameCte,
       |live AS (SELECT * FROM occ
       |  WHERE doc_id % $VideoIngestMod <> $VideoIngestRem),
       |batch AS (SELECT * FROM occ
       |  WHERE doc_id % $VideoIngestMod = $VideoIngestRem),
       |overcap AS (
       |  SELECT fkey FROM live GROUP BY fkey
       |  HAVING COUNT(*) > $VideoDfCap),
       |kl AS (SELECT * FROM live
       |  WHERE fkey NOT IN (SELECT fkey FROM overcap)),
       |kb AS (SELECT * FROM batch
       |  WHERE fkey NOT IN (SELECT fkey FROM overcap)),
       |ls AS (SELECT doc_id, COUNT(*) AS n FROM kl GROUP BY doc_id),
       |bs AS (SELECT doc_id, COUNT(*) AS n FROM kb GROUP BY doc_id),
       |pr AS (
       |  SELECT b.doc_id AS new_id, l.doc_id AS live_id,
       |    COUNT(*) AS shared_frames
       |  FROM kb b JOIN kl l ON b.fkey = l.fkey
       |  GROUP BY 1, 2)
       |SELECT pr.new_id, pr.live_id, pr.shared_frames,
       |  CAST(1000000 * pr.shared_frames //
       |    (bs.n + ls.n - pr.shared_frames) AS BIGINT) AS jaccard_ppm
       |FROM pr JOIN bs ON pr.new_id = bs.doc_id
       |JOIN ls ON pr.live_id = ls.doc_id
       |WHERE 1000000 * pr.shared_frames //
       |    (bs.n + ls.n - pr.shared_frames) >= $VideoJaccardPpm
       |ORDER BY new_id, live_id""".stripMargin
}
