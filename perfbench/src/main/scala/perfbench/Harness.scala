package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.json4s.{JDouble, JField, JObject}
import org.json4s.JsonDSL._

/** Closed-loop op runner shared by the workloads: one op at a time, each
  * starting when the previous one ends, in a fixed number of passes
  * over the workload's op list (run.py sizes it from --seconds).
  *
  * Every timed op and pass is recorded as a JSON object for run.py,
  * which turns them into the reported metrics. */
final class Harness(val spark: SparkSession, val probe: Probe) {
  val ops = mutable.ArrayBuffer.empty[JObject]
  val passLog = mutable.ArrayBuffer.empty[JObject]
  val setup = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  private var serial = 0

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** epoch milliseconds with sub-millisecond resolution */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def nextKey(): String = { serial += 1; s"op$serial" }

  /** Untimed set-up step, reported under `name` in seconds. */
  def setupStep[T](name: String)(f: => T): T = {
    val t0 = nowMs
    val r = withProps(s"setup:$name", "setup")(f)
    setup(name) = setup.getOrElse(name, 0.0) + (nowMs - t0) / 1e3
    r
  }

  def withProps[T](op: String, phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Probe.OpKey, op)
    sc.setLocalProperty(Probe.PhaseKey, phase)
    try f finally {
      sc.setLocalProperty(Probe.OpKey, null)
      sc.setLocalProperty(Probe.PhaseKey, null)
    }
  }

  /** One phase of an op: its jobs carry the phase name, and its span
    * hangs under the op's root span. Returns the value and the ms. */
  def phase[T](op: String, name: String)(f: => T): (T, Double) = {
    val t0 = nowMs
    val r = withProps(op, name)(f)
    val t1 = nowMs
    probe.span(name, s"$op/$name", op, op, t0, t1)
    (r, t1 - t0)
  }

  /** Run `passes` untraced passes, closed loop; `pass(traced, i)` runs
    * pass i and returns its op keys. With `trace`, one more untraced
    * pass runs first and is not recorded (the first pass after the
    * warm-up is still the slowest), then traced and untraced passes
    * alternate in the order u t t u u t t u ..., at least two of each,
    * so that the two kinds see the same warm-up on average and their
    * wall difference is the tracing overhead. */
  def windows(passes: Int, trace: Boolean)(pass: (Boolean, Int) => Seq[String]): Unit = {
    if (trace) setupStep("lead")(pass(false, -1))
    val order =
      if (!trace) (0 until passes).map(i => (false, i))
      else (0 until passes.max(2)).flatMap { i =>
        if (i % 2 == 0) Seq((false, i), (true, i)) else Seq((true, i), (false, i))
      }
    val sc = spark.sparkContext
    for ((traced, i) <- order) {
      probe.tracing = traced
      if (traced) sc.setLocalProperty(Probe.TracedKey, "true")
      val t0 = nowMs
      val keys = try pass(traced, i) finally sc.setLocalProperty(Probe.TracedKey, null)
      val t1 = nowMs
      probe.tracing = false
      passLog += ("traced" -> traced) ~ ("index" -> i) ~ ("start_ms" -> t0) ~
        ("end_ms" -> t1) ~ ("ops" -> keys.toList)
    }
  }

  /** Record one timed op. `body` returns (phase ms by name, error). */
  def op(name: String, pass: Int, traced: Boolean, extra: JField*)(
      body: String => Seq[(String, Double)]): String = {
    val key = nextKey()
    val t0 = nowMs
    val (phases, error) =
      try (body(key), None)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: $e")
        (Nil, Some(e.toString))
      }
    val t1 = nowMs
    probe.span("op", key, key, "", t0, t1)
    val ok = error.isEmpty && checks.getOrElse(key, true)
    ops += ("key" -> key) ~ ("name" -> name) ~ ("pass" -> pass) ~
      ("traced" -> traced) ~ ("start_ms" -> t0) ~ ("end_ms" -> t1) ~ ("ok" -> ok) ~
      ("error" -> error) ~
      JObject(phases.map { case (p, ms) => JField(s"${p}_ms", JDouble(ms)) }.toList) ~
      JObject(extra.toList)
    key
  }
}
