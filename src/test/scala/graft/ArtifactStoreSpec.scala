package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupOps, SimilarityOps}
import graft.sources.ArtifactStore

/** Round-8 verdict #4: prep products persisted as on-disk parquet
  * artifacts and RELOADED across sessions — the memo maps only
  * amortize within a session; a pipeline restart must not retrain. */
class ArtifactStoreSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark

  /** A private copy of one fixture table under a fresh dir — fresh
    * (dir, fingerprint) key, so each test controls cold vs warm. */
  private def copyOf(table: String): String = {
    val d = Files.createTempDirectory("graft-artifact").toString
    Files.copy(Paths.get(s"${SparkFixture.Sf0001}/$table.parquet"),
      Paths.get(s"$d/$table.parquet"))
    d
  }

  test("clusterLabels: a FRESH session reuses the on-disk artifact " +
    "(no rebuild) with identical labels; a mutated input fingerprint " +
    "rebuilds") {
    val dir = copyOf("documents")
    DedupOps.labelMemo.clear()
    DedupOps.jaccardMemo.clear()
    val b0 = ArtifactStore.builds
    val first = DedupOps.clusterLabels(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(ArtifactStore.builds == b0 + 1, "cold call must build once")
    // fresh session (new memo key), memo cleared: only the artifact
    // can answer without a rebuild
    DedupOps.labelMemo.clear()
    DedupOps.jaccardMemo.clear()
    val s2 = spark.newSession()
    val again = DedupOps.clusterLabels(s2, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(ArtifactStore.builds == b0 + 1,
      "warm dir must be answered from the artifact, not rebuilt")
    assert(again == first, "artifact labels must equal built labels")
    // a CHANGED input (newer mtime => new fingerprint) must rebuild —
    // stale labels over a regenerated corpus are the failure this
    // key guards against
    val f = Paths.get(s"$dir/documents.parquet")
    Files.setLastModifiedTime(f, java.nio.file.attribute.FileTime
      .fromMillis(Files.getLastModifiedTime(f).toMillis + 123000L))
    DedupOps.labelMemo.clear()
    DedupOps.jaccardMemo.clear()
    DedupOps.clusterLabels(spark, dir).collect()
    assert(ArtifactStore.builds == b0 + 2,
      "a new input fingerprint must trigger a rebuild")
  }

  test("corpusIvf: centroids + assignment reload across sessions and " +
    "the probed search result is identical") {
    val dir = copyOf("embeddings")
    SimilarityOps.ivfMemo.clear()
    val b0 = ArtifactStore.builds
    val (c1, a1) = SimilarityOps.corpusIvf(spark, dir, cells = 16)
    val cold = (c1.collect().map(_.toSeq).toSet,
      a1.select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(ArtifactStore.builds == b0 + 2,
      "cold IVF build writes two artifacts (cents, assigned)")
    SimilarityOps.ivfMemo.clear()
    val s2 = spark.newSession()
    val (c2, a2) = SimilarityOps.corpusIvf(s2, dir, cells = 16)
    val warm = (c2.collect().map(_.toSeq).toSet,
      a2.select(col("vec_id"), col("cell")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(ArtifactStore.builds == b0 + 2,
      "warm dir must read the stored index, not rebuild it")
    assert(warm == cold, "stored index must equal the built index")
  }

  test("media cluster labels: image + audio labels reload across " +
    "sessions with identical rows (the clusterLabels treatment for " +
    "the binary modalities)") {
    import graft.operators.MultimodalOps
    import graft.operators.MultimodalOps.{audioFp, imageFp}
    val dir = copyOf("documents")
    imageFp.labelMemo.clear(); audioFp.labelMemo.clear()
    imageFp.graphMemo.clear(); audioFp.graphMemo.clear()
    val b0 = ArtifactStore.builds
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val img = rows(MultimodalOps.dedupImageClusters(spark, dir))
    val aud = rows(MultimodalOps.dedupAudioClusters(spark, dir))
    assert(ArtifactStore.builds == b0 + 2,
      "cold call builds one artifact per modality")
    imageFp.labelMemo.clear(); audioFp.labelMemo.clear()
    imageFp.graphMemo.clear(); audioFp.graphMemo.clear()
    val s2 = spark.newSession()
    val img2 = rows(MultimodalOps.dedupImageClusters(s2, dir))
    val aud2 = rows(MultimodalOps.dedupAudioClusters(s2, dir))
    assert(ArtifactStore.builds == b0 + 2,
      "a fresh session must be answered from the artifacts — the " +
        "graph rebuild is exactly what persistence avoids")
    assert(img2 == img && aud2 == aud,
      "stored labels must equal built labels")
  }

  // ---- round-9: retention sweep + atomic commit (r8 verdict #2 and
  // the r8 rename-race advice) ----

  private def hconf = spark.sparkContext.hadoopConfiguration
  private def hfs(p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(hconf)
  private def exists(p: String) =
    hfs(p).exists(new org.apache.hadoop.fs.Path(p))

  /** Manufacture a committed-looking artifact dir (parquet-free: the
    * sweep reads only _SUCCESS + _GRAFT_META). */
  private def plant(kind: String, name: String, version: Option[String],
      key: Seq[String], createdMs: Long): String = {
    val d = s"${ArtifactStore.root}/$kind/$name"
    val fs = hfs(d)
    fs.mkdirs(new org.apache.hadoop.fs.Path(d))
    fs.create(new org.apache.hadoop.fs.Path(d, "_SUCCESS"), true).close()
    version.foreach { v =>
      val out = fs.create(
        new org.apache.hadoop.fs.Path(d, "_GRAFT_META"), true)
      out.write((s"version=$v\nkind=$kind\nkey=${key.mkString("|")}\n" +
        s"created=$createdMs\n").getBytes("UTF-8"))
      out.close()
    }
    d
  }

  test("sweep on a loadOrBuild miss reclaims version-mismatched and " +
    "TTL-expired artifacts, grace-delays superseded-fingerprint ones " +
    "behind a tombstone, and leaves live same-version keys, legacy " +
    "pre-meta artifacts, and young mid-commit dirs alone") {
    import spark.implicits._
    val kind = s"sweeptest_${java.util.UUID.randomUUID().toString.take(8)}"
    val now = System.currentTimeMillis()
    val src = "/some/corpus"
    val staleVer = plant(kind, "stalever", Some("v0"),
      Seq(src, "fp9", "p=1"), now)
    val superseded = plant(kind, "superseded", Some(ArtifactStore.Version),
      Seq(src, "fpOLD", "p=1"), now)
    val otherParams = plant(kind, "otherparams", Some(ArtifactStore.Version),
      Seq(src, "fpOLD", "p=2"), now)
    val expired = plant(kind, "expired", Some(ArtifactStore.Version),
      Seq("/other/corpus", "fpX", "p=1"),
      now - ArtifactStore.ttlMs - 3600 * 1000)
    val freshOther = plant(kind, "freshother", Some(ArtifactStore.Version),
      Seq("/other/corpus", "fpY", "p=1"), now)
    // _SUCCESS but no meta = a COMPLETED pre-meta-format artifact:
    // legacy-live, only the TTL backstop may reclaim it (r9 advice)
    val legacyLive = plant(kind, "legacylive", None, Nil, now)
    // neither _SUCCESS nor meta = a mid-commit concurrent builder:
    // grace-protected
    val midCommit = s"${ArtifactStore.root}/$kind/midcommit"
    hfs(midCommit).mkdirs(new org.apache.hadoop.fs.Path(midCommit))
    val live = Seq(src, "fpNEW", "p=1")
    ArtifactStore.loadOrBuild(spark, kind, live)(
      Seq(1L, 2L, 3L).toDF("x"))
    assert(!exists(staleVer), "other-Version artifact must be swept")
    assert(!exists(expired), "TTL-expired artifact must be swept")
    assert(exists(superseded),
      "a superseded artifact must SURVIVE its first sweep — a " +
        "concurrent lazy reader on the old fingerprint gets the " +
        "grace window to materialize (r9 advice)")
    assert(exists(s"$superseded/_GRAFT_SUPERSEDED"),
      "first sweep stamps the supersede tombstone")
    assert(exists(otherParams),
      "same dir but different params is a different logical product")
    assert(exists(freshOther),
      "live same-version artifact of another corpus must survive")
    assert(exists(legacyLive),
      "completed pre-meta artifact is legacy-live, not an orphan")
    assert(exists(midCommit),
      "young dir without _SUCCESS may be a mid-commit builder — " +
        "grace-protected")
    assert(exists(ArtifactStore.pathFor(kind, live)))
    // age the tombstone past the grace window: ANY later sweep (here
    // the standalone maintenance entry, which has no live key) must
    // now reclaim the superseded artifact
    hfs(superseded).setTimes(
      new org.apache.hadoop.fs.Path(s"$superseded/_GRAFT_SUPERSEDED"),
      now - 2 * 3600 * 1000, -1)
    ArtifactStore.sweepAll(spark)
    assert(!exists(superseded),
      "a tombstone older than the grace window is reclaimable even " +
        "by a liveless sweep")
    assert(exists(legacyLive) && exists(freshOther) && exists(otherParams),
      "sweepAll must not touch live or legacy artifacts")
    // the rebuilt artifact reads back
    assert(ArtifactStore.loadOrBuild(spark, kind, live)(
      sys.error("must not rebuild")).count() == 3)
  }

  test("legacy pre-meta artifact older than the TTL is reclaimed by " +
    "the TTL backstop (but never by the one-hour grace rule)") {
    val kind = s"legacyttl_${java.util.UUID.randomUUID().toString.take(8)}"
    val now = System.currentTimeMillis()
    val old = plant(kind, "oldlegacy", None, Nil, now)
    val oldP = new org.apache.hadoop.fs.Path(old)
    // older than the grace window but inside the TTL: must survive
    hfs(old).setTimes(oldP, now - 3 * 3600 * 1000, -1)
    ArtifactStore.sweepKind(spark, kind, None)
    assert(exists(old),
      "in-TTL legacy artifact must survive a sweep (grace rule must " +
        "not apply to completed pre-meta artifacts)")
    // older than the TTL: the backstop reclaims it
    hfs(old).setTimes(oldP, now - ArtifactStore.ttlMs - 3600 * 1000, -1)
    ArtifactStore.sweepKind(spark, kind, None)
    assert(!exists(old), "TTL backstop applies to legacy artifacts")
  }

  test("commit: losing the publish race deletes the loser's tmp and " +
    "never nests a duplicate tree — readers see exactly the winner") {
    import spark.implicits._
    val kind = s"racetest_${java.util.UUID.randomUUID().toString.take(8)}"
    val path = ArtifactStore.pathFor(kind, Seq("/d", "fp"))
    val tmpA = s"$path.tmp-${java.util.UUID.randomUUID()}"
    val tmpB = s"$path.tmp-${java.util.UUID.randomUUID()}"
    (1L to 3L).toDF("x").write.parquet(tmpA)
    (1L to 10L).toDF("x").write.parquet(tmpB)
    assert(ArtifactStore.commit(spark, tmpA, path), "first commit wins")
    assert(!ArtifactStore.commit(spark, tmpB, path),
      "second commit must lose, not nest (FileSystem.rename semantics " +
        "would move tmpB INTO the existing dir)")
    assert(!exists(tmpB), "loser's tmp must be deleted")
    val children = hfs(path)
      .listStatus(new org.apache.hadoop.fs.Path(path))
      .map(_.getPath.getName)
    assert(!children.exists(_.contains(".tmp-")),
      s"no nested duplicate tree inside the artifact: ${children.toSeq}")
    assert(spark.read.parquet(path).count() == 3,
      "reader must see exactly the winner's rows (a nested duplicate " +
        "would double-count)")
  }

  test("tableFingerprint distinguishes part layout, not just totals: " +
    "same total bytes split differently yields a different key") {
    val d1 = Files.createTempDirectory("graft-fp").toString
    val d2 = Files.createTempDirectory("graft-fp").toString
    def write(dir: String, parts: Seq[Array[Byte]]): Unit = {
      Files.createDirectories(Paths.get(s"$dir/t.parquet"))
      parts.zipWithIndex.foreach { case (b, i) =>
        Files.write(Paths.get(s"$dir/t.parquet/part-$i"), b)
      }
    }
    // 6 bytes total in both layouts; (Σlen, max mtime) — the r8 key —
    // can collide here, the per-part (name,len,mtime) hash cannot
    write(d1, Seq(Array.fill[Byte](2)(1), Array.fill[Byte](4)(1)))
    write(d2, Seq(Array.fill[Byte](3)(1), Array.fill[Byte](3)(1)))
    val f1 = ArtifactStore.tableFingerprint(spark, d1, "t")
    val f2 = ArtifactStore.tableFingerprint(spark, d2, "t")
    assert(f1 != f2, s"layout-blind fingerprint: $f1 == $f2")
  }
}
