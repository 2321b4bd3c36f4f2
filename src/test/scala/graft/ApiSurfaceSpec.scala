package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.json4s._
import graft.api._
import graft.operators.StopWordCountJob
import graft.sources.GraftFs

/** Round-2 API surface: byte-compatible JSON output, Bytes/Repr/
  * serialized protocols, job parameterization (passthru + file args),
  * combiner brackets, and the filesystem facade. */
class ApiSurfaceSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  // ---- golden bytes: JsonPairProtocol vs Python stdlib json.dumps ----
  // expected strings generated with CPython 3.11 json.dumps defaults
  // (the reference's StandardJSONProtocol, mrjob/protocol.py:116-138)

  test("JsonPairProtocol output is byte-identical to Python json.dumps") {
    assert(JsonPairProtocol.write(
      JArray(List(JString("prev"), JString("word"))), JLong(42)) ==
      "[\"prev\", \"word\"]\t42")
    assert(JsonPairProtocol.write(
      JString("fish"),
      JObject(List("n" -> JLong(6), "pct" -> JDouble(0.25),
        "tags" -> JArray(List(JString("a"), JString("b")))))) ==
      "\"fish\"\t{\"n\": 6, \"pct\": 0.25, \"tags\": [\"a\", \"b\"]}")
    assert(JsonPairProtocol.write(
      JNull, JArray(List(JDouble(1.5), JDouble(1e20), JDouble(1e-7),
        JBool(true), JNull))) ==
      "null\t[1.5, 1e+20, 1e-07, true, null]")
    // ensure_ascii escaping of non-ASCII, exactly like Python
    assert(JsonPairProtocol.write(JString("café"), JString("naïve\tline")) ==
      "\"caf\\u00e9\"\t\"na\\u00efve\\tline\"")
    // Python switches to scientific only outside [1e-4, 1e16) — Java
    // already at 1e7 / 1e-3; the zone in between must stay positional
    // (round-2 ADVICE; expected strings from CPython 3.11 json.dumps)
    assert(JsonPairProtocol.write(JNull, JArray(List(
      JDouble(1e8), JDouble(12345678.9), JDouble(0.0005),
      JDouble(1e-4), JDouble(9.999e15), JDouble(123456789012345.6)))) ==
      "null\t[100000000.0, 12345678.9, 0.0005, 0.0001, " +
        "9999000000000000.0, 123456789012345.6]")
    assert(JsonPairProtocol.write(JNull, JArray(List(
      JDouble(1e16), JDouble(1e-5), JDouble(-1.5e20)))) ==
      "null\t[1e+16, 1e-05, -1.5e+20]")
  }

  test("TextSink + JsonPairProtocol part files carry reference bytes") {
    import spark.implicits._
    val out = java.nio.file.Files
      .createTempDirectory("graft_golden").toString + "/out"
    val data = spark.createDataset(Seq(
      (JString("a"): JValue, JArray(List(JLong(1), JLong(2))): JValue)))(
      org.apache.spark.sql.Encoders.kryo[(JValue, JValue)])
    graft.sources.TextSink.write(data, JsonPairProtocol, out,
      maxOutputFiles = Some(1))
    val bytes = GraftFs(spark).cat(s"$out/part-*")
    assert(new String(bytes, "UTF-8") == "\"a\"\t[1, 2]\n")
  }

  // ---- Bytes / Repr / serialized protocols ----

  test("BytesPairProtocol splits on first tab; tabless line has null value") {
    val (k, v) = BytesPairProtocol.read("a\tb\tc".getBytes("UTF-8"))
    assert(new String(k, "UTF-8") == "a" && new String(v, "UTF-8") == "b\tc")
    val (k2, v2) = BytesPairProtocol.read("solo".getBytes("UTF-8"))
    assert(new String(k2, "UTF-8") == "solo" && v2 == null)
    assert(new String(BytesPairProtocol.write(
      "k".getBytes("UTF-8"), "v".getBytes("UTF-8")), "UTF-8") == "k\tv")
    assert(new String(BytesPairProtocol.write(
      null, "v".getBytes("UTF-8")), "UTF-8") == "v")
  }

  test("ReprPairProtocol renders Python literals and round-trips") {
    val v = JObject(List("k" -> JLong(1),
      "xs" -> JArray(List(JString("it's"), JDouble(2.5), JNull))))
    val line = ReprPairProtocol.write(JString("key"), v)
    assert(line == "'key'\t{'k': 1, 'xs': [\"it's\", 2.5, None]}")
    val (k2, v2) = ReprPairProtocol.read(line)
    assert(k2 == JString("key") && v2 == v)
    // tuple literals read as lists; True/False/None parse
    assert(PyLiteral.parse("(1, 2, True, None)") ==
      JArray(List(JLong(1), JLong(2), JBool(true), JNull)))
  }

  test("JavaSerProtocol round-trips arbitrary serializable pairs") {
    val k = Map("a" -> 1, "b" -> 2)
    val v = List("x", "y", "z")
    val line = JavaSerProtocol.write(k, v)
    assert(!line.contains('\n') && line.count(_ == '\t') == 1)
    val (k2, v2) = JavaSerProtocol.read(line)
    assert(k2 == k && v2 == v)
  }

  // ---- job parameterization (configure_args analog) ----

  test("same job, two configs → correspondingly different output") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_args")
    val stopA = dir.resolve("stopA.txt")
    val stopB = dir.resolve("stopB.txt")
    java.nio.file.Files.writeString(stopA, "the\n")
    java.nio.file.Files.writeString(stopB, "the\nfish\n")
    val input = spark.createDataset(Seq(
      (null: String, "the fish the fish cat"),
      (null: String, "the fish dog")))

    val a = JobArgs(
      passthru = Map("min_count" -> "1"),
      fileArgs = Map("stop_words" -> stopA.toString)).ship(spark)
    val b = JobArgs(
      passthru = Map("min_count" -> "2"),
      fileArgs = Map("stop_words" -> stopB.toString)).ship(spark)

    val gotA = new StopWordCountJob(a).run(input).collect().toMap
    val gotB = new StopWordCountJob(b).run(input).collect().toMap
    assert(gotA == Map("fish" -> 3L, "cat" -> 1L, "dog" -> 1L))
    // config B: 'fish' stopped by the file arg, min_count 2 drops
    // cat/dog — the SAME job code produced different output per config
    assert(gotB == Map.empty[String, Long])
  }

  test("archive args unpack into the task working dir " +
    "(upload_archives analog, mrjob/setup.py:471)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_arch")
    // lookup.zip with a NESTED entry — the unpack must preserve the
    // archive's internal layout, not flatten it
    val zipPath = dir.resolve("lookup.zip")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    zos.putNextEntry(new java.util.zip.ZipEntry("rules/stop.txt"))
    zos.write("the\nfish\n".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val args = JobArgs(archives = Map("lookup" -> zipPath.toString))
      .ship(spark)
    val input = spark.createDataset(Seq("the fish cat", "dog the"))
    // the read happens INSIDE the task closure — the archive must have
    // been distributed and unpacked on the executor side
    val got = input.flatMap { line =>
      val f = new java.io.File(args.archiveDir("lookup").get,
        "rules/stop.txt")
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val stops = try src.getLines().toSet finally src.close()
      line.split(" ").filterNot(stops)
    }.collect().toSeq.sorted
    assert(got == Seq("cat", "dog"))
  }

  // ---- filesystem facade (mrjob/fs/base.py:50-148) ----

  test("fs facade: put/ls/cat/du/exists/md5sum/touchz/rm round-trip") {
    val fs = GraftFs(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_fs").toString
    val local = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "src.txt"), "hello\nworld\n")
    fs.mkdir(s"$dir/sub")
    fs.put(local.toString, s"$dir/sub/a.txt")
    assert(fs.exists(s"$dir/sub/a.txt"))
    assert(fs.ls(s"$dir/sub/*.txt").exists(_.endsWith("a.txt")))
    assert(fs.catLines(s"$dir/sub/a.txt") == Seq("hello", "world"))
    assert(fs.du(s"$dir/sub/*.txt") == 12L)
    assert(fs.md5sum(s"$dir/sub/a.txt") ==
      "0f723ae7f9bf07744445e93ac5595156")
    fs.touchz(s"$dir/sub/empty")
    assert(fs.exists(s"$dir/sub/empty"))
    intercept[java.io.IOException](fs.touchz(s"$dir/sub/a.txt"))
    fs.rm(s"$dir/sub")
    assert(!fs.exists(s"$dir/sub/a.txt"))
  }

  test("reducer_cmd step after idMapper: shell reducer over sorted " +
    "key-grouped lines") {
    import spark.implicits._
    val input = spark.createDataset(Seq(
      ("b", "2"), ("a", "1"), ("b", "3"), ("a", "4"), ("c", "5")))
    // streaming-style shell reducer: sum values per key with awk
    val step = MrStep[String, String, String, String, String, String](
      mapper = MrStep.idMapper,
      reducer = (k, vs) => vs.map(k -> _), // ignored: reducerCmd replaces it
      reducerCmd = Some(
        "awk -F'\\t' '{s[$1]+=$2} END {for (k in s) print k\"\\t\"s[k]}'"),
      numReducers = Some(2),
      cmdProtocols = Some(
        CmdProtocols(TextPairProtocol, TextPairProtocol, TextPairProtocol)))
    val out = MrPipeline.fromDataset(input).step(step).ds
    assert(out.collect().toMap == Map("a" -> "5", "b" -> "5", "c" -> "5"))
    assert(out.rdd.getNumPartitions == 2)
  }

  test("compactParquet collapses a many-file directory, data intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact")
      .toString + "/t"
    spark.range(1000).toDF("id").repartition(16)
      .write.parquet(dir)
    assert(GraftFs(spark).ls(s"$dir/part-*").size == 16)
    val after = GraftFs.compactParquet(spark, dir, targetBytes = 1L << 30)
    assert(after == 1, s"expected 1 compacted file, got $after")
    val back = spark.read.parquet(dir).agg(count(lit(1)), sum(col("id")))
      .collect()(0)
    assert(back.getLong(0) == 1000L && back.getLong(1) == 499500L)
  }

  // ---- runner orchestration (mrjob/runner.py:617-657, 740-756) ----

  test("runner: job keys are unique, tmp dir lifecycle honors cleanup") {
    val k1 = GraftRunner.makeJobKey("wordfreq", "tester")
    val k2 = GraftRunner.makeJobKey("wordfreq", "tester")
    assert(k1.matches("wordfreq\\.tester\\.\\d{8}\\.\\d{6}\\.\\d{6}"))
    assert(k1 != k2, "microsecond component keeps keys unique")

    var keptDir: String = null
    GraftRunner.withRunner(spark, "myjob", "tester") { r =>
      keptDir = r.tmpDir
      r.fs.touchz(s"${r.tmpDir}/scratch.txt")
      assert(r.fs.exists(s"${r.tmpDir}/scratch.txt"))
      assert(r.defaultOutputDir.startsWith(r.tmpDir))
    }
    // cleanup mode TMP: scratch space removed on exit
    assert(!GraftFs(spark).exists(keptDir))
  }

  test("runner: properties conf loads into JobArgs (file.* → file args)") {
    val conf = java.nio.file.Files.createTempFile("graft", ".properties")
    java.nio.file.Files.writeString(conf,
      "min_count=3\nfile.stop_words=/tmp/stop.txt\n" +
        "archive.lookup=/tmp/lookup.zip\n")
    val args = GraftRunner.loadConf(conf.toString)
    assert(args.passthruLong("min_count", 1L) == 3L)
    assert(args.fileArgs == Map("stop_words" -> "/tmp/stop.txt"))
    assert(args.archives == Map("lookup" -> "/tmp/lookup.zip"))
  }

  test("runner: conf files stack with mrjob precedence (override + list concat)") {
    // mrjob/conf.py combine_opts: later conf wins for scalars
    // (combine_values), list opts concatenate earlier→later
    // (combine_lists), dict opts merge per key (combine_dicts)
    val base = java.nio.file.Files.createTempFile("graft-base", ".properties")
    java.nio.file.Files.writeString(base,
      "min_count=3\nowner=alice\nlist.setup=echo base\n" +
        "file.stop_words=/tmp/base_stop.txt\nfile.model=/tmp/model.bin\n")
    val over = java.nio.file.Files.createTempFile("graft-over", ".properties")
    java.nio.file.Files.writeString(over,
      "min_count=7\nlist.setup=echo override\n" +
        "file.stop_words=/tmp/override_stop.txt\n")
    val args = GraftRunner.loadConf(base.toString, over.toString)
    // scalar: later file wins; untouched scalar survives
    assert(args.passthruLong("min_count", 1L) == 7L)
    assert(args.passthru("owner") == "alice")
    // list opt: concatenated in stacking order
    assert(args.passthru("setup") == "echo base,echo override")
    // file dict: per-name override, unrelated entry survives
    assert(args.fileArgs == Map("stop_words" -> "/tmp/override_stop.txt",
      "model" -> "/tmp/model.bin"))
  }

  // ---- combiner brackets (mrjob/job.py:414-449) ----

  test("combiner_init/final run once per task around combine runs") {
    import spark.implicits._
    val input = spark.createDataset(
      (1 to 100).map(i => (s"k${i % 5}", 1L))).repartition(4)
    val step = MrStep[String, Long, String, Long, String, Long](
      mapper = (k, v) => Iterator.single((k, v)),
      combiner = Some((k: String, vs: Iterator[Long]) =>
        Iterator.single(vs.sum)),
      combinerInit = () => Iterator.single(("__cinit__", 1L)),
      combinerFinal = () => Iterator.single(("__cfinal__", 1L)),
      reducer = (k, vs) => Iterator.single((k, vs.sum)))
    val got = MrPipeline.fromDataset(input).step(step).ds.collect().toMap
    // brackets ran exactly once per map task (4 partitions)
    assert(got("__cinit__") == 4L)
    assert(got("__cfinal__") == 4L)
    // and the combined data is untouched by the brackets
    assert((0 until 5).map(i => got(s"k$i")).sum == 100L)
  }
}
