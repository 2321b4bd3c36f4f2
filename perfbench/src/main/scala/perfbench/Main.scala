package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s.{JField, JObject, JString}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Command line of the harness; run.py fills every field. */
final case class Opts(
    workload: String = "", kind: String = "", seed: Long = 0, passes: Int = 1,
    trace: Boolean = false, k: Int = 4, data: String = "", inputs: String = "",
    work: String = "", expected: String = "", out: String = "",
    rows: Seq[String] = Nil,
    conf: Seq[(String, String)] = Nil)

object Opts {
  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case flag :: v :: rest =>
      def list = v.split(',').toSeq.filter(_.nonEmpty)
      parse(rest, flag match {
        case "--workload" => o.copy(workload = v)
        case "--kind" => o.copy(kind = v)
        case "--seed" => o.copy(seed = v.toLong)
        case "--passes" => o.copy(passes = v.toInt)
        case "--trace" => o.copy(trace = v == "1")
        case "--k" => o.copy(k = v.toInt)
        case "--data" => o.copy(data = v)
        case "--inputs" => o.copy(inputs = v)
        case "--work" => o.copy(work = v)
        case "--expected" => o.copy(expected = v)
        case "--out" => o.copy(out = v)
        case "--rows" => o.copy(rows = list)
        case "--conf" =>
          val Array(key, value) = v.split("=", 2)
          o.copy(conf = o.conf :+ (key -> value))
        case other => throw new IllegalArgumentException(s"unknown flag $other")
      })
    case other => throw new IllegalArgumentException(s"dangling argument $other")
  }
}

/** Runs one workload in this fresh JVM and writes the raw record (ops,
  * passes, set-up steps, listener counters, spans) to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = Opts.parse(args.toList)
    val builder = SparkSession.builder().master(s"local[${o.k}]")
    o.conf.foreach { case (key, v) => builder.config(key, v) }
    val probe = new Probe
    val streams = new StreamProbe
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(probe)
    spark.streams.addListener(streams)
    val h = new Harness(spark, probe)
    h.setup("session") = (h.nowMs - jvmStartMs) / 1e3
    val failure =
      try {
        o.kind match {
          case "catalog" => CatalogWorkload.run(h, o)
          case "mr" => MrWorkload.run(h, o)
          case "ingest" => IngestWorkload.run(h, o)
          case other => throw new IllegalArgumentException(s"unknown kind $other")
        }
        None
      } catch { case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        Some(e.toString)
      }
    // stopping drains the listener buses, so every event is counted
    spark.stop()
    val (counters, spans) = probe.snapshot
    val record = ("workload" -> o.workload) ~ ("kind" -> o.kind) ~ ("seed" -> o.seed) ~
      ("k" -> o.k) ~ ("jvm_start_ms" -> jvmStartMs) ~ ("failure" -> failure) ~
      ("peak_rss_mb" -> peakRssMb) ~ ("setup" -> h.setup.toMap) ~
      ("checks" -> h.checks.toMap) ~
      ("ops" -> h.ops.toList) ~ ("passes" -> h.passLog.toList) ~
      ("batches" -> streams.batches.toList) ~ ("counters" -> counters) ~ ("spans" -> spans)
    Files.write(Paths.get(o.out), compact(render(record)).getBytes(UTF_8))
    if (failure.isDefined) sys.exit(1)
  }

  /** VmHWM: the process's peak resident set, in MB. */
  private def peakRssMb: Option[Double] = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024)
    finally src.close()
  }
}

/** Writes `SparkEntry.oracleSql` for the named rows as one JSON object,
  * the input of oracle_digests.py. Usage: DumpOracle <rows,...> <out>. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val body = JObject(args(0).split(',').toList.map(r => JField(r, JString(sql(r)))))
    Files.write(Paths.get(args(1)), compact(render(body)).getBytes(UTF_8))
  }
}
