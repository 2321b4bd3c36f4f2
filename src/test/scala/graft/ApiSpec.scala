package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api._
import graft.sources.{Tables, TextSink}

/** Step-API semantics: golden parity with the reference's contracts
  * (SURVEY §5 level-1/2 analog). */
class ApiSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.Sf0001

  private def docLines = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select("text").as[String].map(t => (null: String, t))
  }

  test("AdjacentGroups groups sorted runs lazily and drains skipped groups") {
    val it = Iterator(("a", 1), ("a", 2), ("b", 3), ("c", 4), ("c", 5))
    val out = AdjacentGroups(it).map { case (k, vs) =>
      if (k == "b") (k, Nil) else (k, vs.toList) // skip b's values
    }.toList
    assert(out == List(("a", List(1, 2)), ("b", Nil), ("c", List(4, 5))))
  }

  test("word count via MrStep mapper+combiner+reducer matches DataFrame path") {
    import spark.implicits._
    val step = MrStep[String, String, String, Long, String, Long](
      mapper = (_, line) => line.split(" ").iterator.map(w => (w, 1L)),
      combiner = Some((w: String, counts: Iterator[Long]) =>
        Iterator.single(counts.sum)),
      reducer = (w, counts) => Iterator.single((w, counts.sum)))
    val got = MrPipeline.fromDataset(docLines).step(step)
      .ds.collect().toMap
    val expect = operators.TextQueries.wordFreq(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("word count without combiner (secondary-sort reducer path) matches too") {
    import spark.implicits._
    val step = MrStep[String, String, String, Long, String, Long](
      mapper = (_, line) => line.split(" ").iterator.map(w => (w, 1L)),
      reducer = (w, counts) => Iterator.single((w, counts.sum)))
    val got = MrPipeline.fromDataset(docLines).step(step)
      .ds.collect().toMap
    val expect = operators.TextQueries.wordFreq(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("mapper_final emits after the partition drains (mr_wc pattern)") {
    import spark.implicits._
    // count words per task in state, emit one pair per task at final —
    // then a reducer sums the per-task partials (mr_wc.py:19-41).
    var acc = 0L // driver-side template; each task gets a fresh closure
    val step = MrStep[String, String, String, Long, String, Long](
      mapper = (_, line) => { acc += line.split(" ").length; Iterator.empty },
      mapperFinal = () => Iterator.single(("words", acc)),
      reducer = (k, vs) => Iterator.single((k, vs.sum)))
    val got = MrPipeline.fromDataset(docLines).step(step).ds.collect().toMap
    val words = operators.TextQueries.wc(spark, dir)
      .collect()(0).getAs[Long]("words")
    assert(got == Map("words" -> words))
  }

  test("SORT_VALUES: reducer sees values in sorted order") {
    import spark.implicits._
    val data = spark.createDataset(Seq(
      ("k1", "c"), ("k1", "a"), ("k1", "b"), ("k2", "z"), ("k2", "y")))
    val step = MrStep[String, String, String, String, String, String](
      mapper = (k, v) => Iterator.single((k, v)),
      reducer = (k, vs) => Iterator.single((k, vs.mkString(","))),
      sortValues = true)
    val got = MrPipeline.fromDataset(data).step(step).ds.collect().toMap
    assert(got == Map("k1" -> "a,b,c", "k2" -> "y,z"))
  }

  test("multi-step chaining: most-used-word as two steps (mr_most_used_word)") {
    import spark.implicits._
    val stop = operators.TextQueries.StopWords.toSet
    val count = MrStep[String, String, String, Long, Long, String](
      mapper = (_, line) => line.split(" ").iterator
        .filterNot(stop.contains)
        .map(w => (w, 1L)),
      combiner = Some((w: String, c: Iterator[Long]) => Iterator.single(c.sum)),
      // re-key by count for the global-max step
      reducer = (w, c) => Iterator.single((c.sum, w)))
    val best = MrStep[Long, String, Int, (Long, String), String, Long](
      mapper = (n, w) => Iterator.single((0, (n, w))),
      reducer = (_, vs) => {
        val (n, w) = vs.maxBy(v => (v._1, v._2))
        Iterator.single((w, n))
      },
      numReducers = Some(1))
    val got = MrPipeline.fromDataset(docLines)
      .step(count).step(best).ds.collect().toMap
    val expect = operators.TextQueries.mostUsedWord(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // tie-break differs intentionally (maxBy word desc vs word asc) —
    // compare counts, and words only when unique
    assert(got.values.toSet == expect.values.toSet)
  }

  test("counters accumulate across tasks") {
    import spark.implicits._
    val counters = new Counters(spark)
    val lines = counters.counter("graft", "lines") // register driver-side
    val data = docLines
    val step = MrStep[String, String, String, Long, String, Long](
      mapper = (_, line) => {
        lines.add(1L)
        Iterator.single(("n", 1L))
      },
      reducer = (k, vs) => Iterator.single((k, vs.sum)))
    val n = MrPipeline.fromDataset(data).step(step)
      .ds.collect().toMap.apply("n")
    assert(counters.snapshot("graft")("lines") == n)
  }

  test("map-only mapper_cmd step pipes records through a shell command " +
    "without a shuffle") {
    import spark.implicits._
    val data = spark.createDataset(Seq(("a", "hello"), ("b", "world")))
    val step = MrStep.mapOnly[String, String, String, String](MrStep.idMapper)
      .copy(mapperCmd = Some("tr a-z A-Z"), cmdProtocols = Some(
        CmdProtocols(TextPairProtocol, TextPairProtocol, TextPairProtocol)))
    val out = MrPipeline.fromDataset(data).step(step).ds
    assert(out.collect().toMap == Map("A" -> "HELLO", "B" -> "WORLD"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"map-only step shuffled:\n$plan")
  }

  // ---- per-substep shell wiring (mrjob/step.py:34-45; semantics
  // exercised by the reference's tests/mr_cmd_job.py at all three
  // positions plus tests/mr_filter_job.py for pre_filters) ----

  /** Lines "a b a", "b c", "skip me a" as RawValue input. */
  private def cmdLines = {
    import spark.implicits._
    spark.createDataset(Seq("a b a", "b c", "skip me a"))
      .map(l => (null: String, l))
  }

  private val wordCountProtocols = CmdProtocols[String, String,
    String, String, String, String](
    RawValueProtocol, TextPairProtocol, TextPairProtocol)

  /** awk word-count mapper: each token becomes "tok\t1". */
  private val AwkTokenize = """awk '{for(i=1;i<=NF;i++) print $i"\t1"}'"""

  /** awk streaming aggregator over key-sorted "k\tv" lines: one
    * "k\tsum" line per key run — a classic Hadoop-streaming reducer
    * binary, usable at both the combiner and reducer positions. */
  private val AwkSumByKey =
    """awk -F'\t' '$1!=p {if (n++) print p"\t"s; p=$1; s=0} {s+=$2} END {if (n) print p"\t"s}'"""

  private def sumReducer: (String, Iterator[String]) => IterableOnce[(String, String)] =
    (w, vs) => Iterator.single((w, vs.map(_.toLong).sum.toString))

  test("mapper_cmd: shell tokenizer replaces the mapper function") {
    import spark.implicits._
    val step = MrStep[String, String, String, String, String, String](
      mapper = MrStep.idMapper, // ignored: mapperCmd replaces it
      reducer = sumReducer,
      mapperCmd = Some(AwkTokenize),
      cmdProtocols = Some(wordCountProtocols))
    val got = MrPipeline.fromDataset(cmdLines).step(step).ds.collect().toMap
    assert(got == Map("a" -> "3", "b" -> "2", "c" -> "1",
      "skip" -> "1", "me" -> "1"))
  }

  test("mapper_pre_filter: shell filter runs before the mapper function") {
    import spark.implicits._
    val step = MrStep[String, String, String, String, String, String](
      mapper = (_, line) =>
        line.split(" ").iterator.map(w => (w, "1")),
      reducer = sumReducer,
      mapperPreFilter = Some("grep -v skip"),
      cmdProtocols = Some(wordCountProtocols))
    val got = MrPipeline.fromDataset(cmdLines).step(step).ds.collect().toMap
    assert(got == Map("a" -> "2", "b" -> "2", "c" -> "1"))
  }

  test("combiner_cmd: shell aggregator combines sorted map output per task") {
    import spark.implicits._
    val step = MrStep[String, String, String, String, String, String](
      mapper = (_, line) =>
        line.split(" ").iterator.map(w => (w, "1")),
      reducer = sumReducer,
      combinerCmd = Some(AwkSumByKey),
      cmdProtocols = Some(wordCountProtocols))
    val got = MrPipeline.fromDataset(cmdLines).step(step).ds.collect().toMap
    assert(got == Map("a" -> "3", "b" -> "2", "c" -> "1",
      "skip" -> "1", "me" -> "1"))
  }

  test("combiner_pre_filter: shell filter ahead of the function combiner") {
    import spark.implicits._
    val step = MrStep[String, String, String, String, String, String](
      mapper = (_, line) =>
        line.split(" ").iterator.map(w => (w, "1")),
      reducer = sumReducer,
      combiner = Some((w: String, vs: Iterator[String]) =>
        Iterator.single(vs.map(_.toLong).sum.toString)),
      combinerPreFilter = Some("grep -v '^skip\t'"),
      cmdProtocols = Some(wordCountProtocols))
    val got = MrPipeline.fromDataset(cmdLines).step(step).ds.collect().toMap
    assert(got == Map("a" -> "3", "b" -> "2", "c" -> "1", "me" -> "1"))
  }

  test("reducer_cmd on MrStep: shell reducer over key-sorted partition lines") {
    import spark.implicits._
    val step = MrStep[String, String, String, String, String, String](
      mapper = (_, line) =>
        line.split(" ").iterator.map(w => (w, "1")),
      reducer = sumReducer, // ignored: reducerCmd replaces it
      reducerCmd = Some(AwkSumByKey),
      cmdProtocols = Some(wordCountProtocols))
    val got = MrPipeline.fromDataset(cmdLines).step(step).ds.collect().toMap
    assert(got == Map("a" -> "3", "b" -> "2", "c" -> "1",
      "skip" -> "1", "me" -> "1"))
  }

  test("reducer_pre_filter: shell filter ahead of the function reducer") {
    import spark.implicits._
    val step = MrStep[String, String, String, String, String, String](
      mapper = (_, line) =>
        line.split(" ").iterator.map(w => (w, "1")),
      reducer = sumReducer,
      reducerPreFilter = Some("grep -v '^skip\t'"),
      cmdProtocols = Some(wordCountProtocols))
    val got = MrPipeline.fromDataset(cmdLines).step(step).ds.collect().toMap
    assert(got == Map("a" -> "3", "b" -> "2", "c" -> "1", "me" -> "1"))
  }

  test("exit status: a pre_filter that selects nothing is no failure at " +
    "any position; a cmd exiting 1 fails the job") {
    import spark.implicits._
    val base = MrStep[String, String, String, String, String, String](
      mapper = (_, line) =>
        line.split(" ").iterator.map(w => (w, "1")),
      reducer = sumReducer,
      cmdProtocols = Some(wordCountProtocols))
    def run(s: MrStep[String, String, String, String, String, String]) =
      MrPipeline.fromDataset(cmdLines).step(s).ds.collect()
    // grep exits 1 when it selects no line
    val none = Some("grep NO_SUCH_TOKEN")
    Seq(base.copy(mapperPreFilter = none), base.copy(combinerPreFilter = none),
      base.copy(reducerPreFilter = none)).foreach(s => assert(run(s).isEmpty))
    val fails = Some("false")
    Seq(base.copy(mapperCmd = fails), base.copy(combinerCmd = fails),
      base.copy(reducerCmd = fails)).foreach { s =>
      val e = intercept[org.apache.spark.SparkException](run(s))
      assert(e.getMessage.contains("exited with status 1"), e.getMessage)
    }
  }

  test("sortValuesRaw: values reach the reducer in ENCODED-byte order") {
    // the reference sorts the whole encoded line (mrjob/sim.py:764-767),
    // so heterogeneous JSON values order as bytes: '"a"' (0x22) < '10'
    // ('1') < '9' < 'true' ('t') — typed ordering would put 9 before 10
    import org.json4s._
    import graft.api.PyJson
    implicit val e2: org.apache.spark.sql.Encoder[(String, JValue)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.kryo[JValue])
    import spark.implicits._
    val data = spark.createDataset(Seq((null: String, "seed")))
    val step = MrStep[String, String, String, JValue, String, String](
      mapper = (_, _) => Iterator(
        ("k", JInt(10): JValue), ("k", JInt(9): JValue),
        ("k", JBool(true): JValue), ("k", JString("a"): JValue)),
      reducer = (k, vs) =>
        Iterator.single((k, vs.map(PyJson.dumps).mkString(","))),
      sortValuesRaw = true,
      cmdProtocols = Some(CmdProtocols(RawValueProtocol, StrJsonProtocol,
        TextPairProtocol)))
    val got = MrPipeline.fromDataset(data).step(step).ds.collect().toMap
    assert(got == Map("k" -> "\"a\",10,9,true"))
  }

  test("sortValuesRaw composes with reducer_cmd: shell reducer sees " +
    "byte-sorted encoded lines") {
    import spark.implicits._
    val step = MrStep[String, String, String, String, String, String](
      mapper = (_, line) =>
        line.split(" ").iterator.map(w => (w, "1")),
      reducer = sumReducer, // ignored: reducerCmd replaces it
      reducerCmd = Some(AwkSumByKey),
      sortValuesRaw = true,
      cmdProtocols = Some(wordCountProtocols))
    val got = MrPipeline.fromDataset(cmdLines).step(step).ds.collect().toMap
    assert(got == Map("a" -> "3", "b" -> "2", "c" -> "1",
      "skip" -> "1", "me" -> "1"))
  }

  test("combiner and combiner_cmd are mutually exclusive") {
    intercept[IllegalArgumentException] {
      MrStep[String, String, String, String, String, String](
        mapper = MrStep.idMapper,
        reducer = sumReducer,
        combiner = Some((_: String, vs: Iterator[String]) =>
          Iterator.single(vs.mkString)),
        combinerCmd = Some("cat"),
        cmdProtocols = Some(wordCountProtocols))
    }
  }

  test("count-lines right vs wrong: per-task partials need a reducer " +
      "(mr_count_lines_right/wrong)") {
    import spark.implicits._
    // the reference pair of example jobs shows what mapper_final does
    // NOT do: without a reducer the job emits ONE partial per task
    // (mr_count_lines_wrong.py), with a reducer the partials sum to
    // the true line count (mr_count_lines_right.py)
    val lines = spark.createDataset(1 to 100)
      .repartition(4).map(i => (null: String, s"line $i"))
    var n = 0L
    val wrong = MrStep.mapOnly[String, String, String, Long](
      (_, _) => { n += 1; Iterator.empty })
      .copy(mapperFinal = () => Iterator.single((null: String, n)))
    val wrongOut = MrPipeline.fromDataset(lines).step(wrong).ds.collect()
    assert(wrongOut.length == 4)            // one partial per task
    assert(wrongOut.map(_._2).sum == 100L)  // partials cover all lines
    assert(wrongOut.exists(_._2 != 100L))   // but no single row is the answer
    val right = wrong.copy(
      reducer = (k: String, vs: Iterator[Long]) =>
        Iterator.single((k, vs.sum)))
    val rightOut = MrPipeline.fromDataset(lines).step(right).ds.collect()
    assert(rightOut.toSeq == Seq((null, 100L)))
  }

  test("a throwing mapper_init fails the job (mr_boom)") {
    import spark.implicits._
    val data = spark.createDataset(Seq((null: String, "x")))
    val boom = MrStep.mapOnly[String, String, String, String](
      MrStep.idMapper)
      .copy(mapperInit = () => throw new RuntimeException("BOOM"))
    val e = intercept[org.apache.spark.SparkException] {
      MrPipeline.fromDataset(data).step(boom).ds.collect()
    }
    assert(e.getMessage.contains("BOOM") ||
      Option(e.getCause).exists(_.getMessage.contains("BOOM")))
  }

  test("TextSink writes part files readable back through the protocol") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val data = spark.createDataset(Seq(("k1", "v1"), ("k2", "v2")))
    TextSink.write(data, TextPairProtocol, out, maxOutputFiles = Some(1))
    val back = TextSink.readBack(spark, TextPairProtocol, out).collect().toMap
    assert(back == Map("k1" -> "v1", "k2" -> "v2"))
    val parts = new java.io.File(out).listFiles.map(_.getName)
      .filter(_.startsWith("part-"))
    assert(parts.length == 1)
  }

  test("protocols round-trip their own edge cases: NaN/Infinity JSON, " +
    "Python-repr non-finite floats, arbitrary-precision ints") {
    import org.json4s._
    // json.dumps emits NaN/Infinity (allow_nan default); the reader
    // must accept its own writer's output
    val (jk, jv) = JsonPairProtocol.read(
      JsonPairProtocol.write(JDouble(Double.NaN), JDouble(1.0)))
    assert(jk.asInstanceOf[JDouble].num.isNaN)
    val (_, ji) = JsonPairProtocol.read(
      JsonPairProtocol.write(JNull, JDouble(Double.PositiveInfinity)))
    assert(ji.asInstanceOf[JDouble].num.isPosInfinity)
    // Python repr spells them nan/inf/-inf
    val nanLine = ReprPairProtocol.write(JDouble(Double.NaN),
      JDouble(Double.NegativeInfinity))
    assert(nanLine == "nan\t-inf")
    val (rk, rv) = ReprPairProtocol.read(nanLine)
    assert(rk.asInstanceOf[JDouble].num.isNaN &&
      rv.asInstanceOf[JDouble].num.isNegInfinity)
    // BigInt-backed ints render beyond Long and must read back
    val big = BigInt("99999999999999999999")
    val (bk, _) = ReprPairProtocol.read(
      ReprPairProtocol.write(JInt(big), JLong(1L)))
    assert(bk == JInt(big))
  }

  test("JsonPairProtocol round-trips mrjob-style pair lines") {
    import org.json4s._
    val line = """["prev", "word"]	42"""
    val (k, v) = JsonPairProtocol.read(line)
    assert(k == JArray(List(JString("prev"), JString("word"))))
    assert(v == JInt(42))
    // write is byte-compatible with Python's json.dumps (", " sep)
    assert(JsonPairProtocol.write(k, v) == "[\"prev\", \"word\"]\t42")
  }
}

/** String-keyed JSON-value line protocol for the sortValuesRaw golden
  * test (file-scope: an inline object would capture the spec class in
  * the task closure). */
object StrJsonProtocol
  extends graft.api.LineProtocol[String, org.json4s.JValue] {
  def read(line: String): (String, org.json4s.JValue) = {
    val i = line.indexOf('\t')
    (line.substring(0, i),
      org.json4s.jackson.JsonMethods.parse(line.substring(i + 1)))
  }
  def write(k: String, v: org.json4s.JValue): String =
    k + "\t" + graft.api.PyJson.dumps(v)
}
