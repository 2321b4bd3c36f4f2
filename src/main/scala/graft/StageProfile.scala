package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev tool: per-stage wall/CPU breakdown for selected queries —
  * finds the single-task stages where an AQE-coalesced or
  * unsplittable-input plan quietly serializes CPU-heavy work (the
  * round-6 dedup_prefix_join diagnosis: two serial 3 s one-task
  * stage builds under a 7 s row).
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.StageProfile <query ...>
  *
  * KNOWN LIMITATION (dev tool, accepted): listener-bus delivery is
  * asynchronous, so stage rows can straggle past the end of the job
  * that produced them. Each timed run registers its OWN listener
  * (warm-run events can never bleed into a timed report) and settles
  * with `sc.listenerBus.waitUntilEmpty()`-style sleep, configurable
  * via SPARK_GRAFT_PROFILE_SETTLE_MS (default 300); a pathologically
  * slow bus can still drop a late row — cross-check totals against
  * bench wall time before trusting a surprising profile.
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus)

    // One listener per timed run (see header): warm-run events go to
    // no listener at all, and a previous query's stragglers land in a
    // listener that has already been removed and reported.
    case class ShuffleAgg(var write: Long = 0L, var read: Long = 0L,
      var spillMem: Long = 0L, var spillDisk: Long = 0L,
      var peakMem: Long = 0L)
    class Collector extends SparkListener {
      val stages = mutable.ArrayBuffer[(Int, String, Long, Int, Long)]()
      val runByStage = mutable.Map[Int, Long]()
      val shufByStage = mutable.Map[Int, ShuffleAgg]()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) runByStage.synchronized {
          runByStage(te.stageId) =
            runByStage.getOrElse(te.stageId, 0L) + m.executorRunTime
          val s = shufByStage.getOrElseUpdate(te.stageId, ShuffleAgg())
          s.write += m.shuffleWriteMetrics.bytesWritten
          s.read += m.shuffleReadMetrics.totalBytesRead
          s.spillMem += m.memoryBytesSpilled
          s.spillDisk += m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stages.synchronized { stages += ((si.stageId, si.name.take(60),
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          si.numTasks,
          runByStage.synchronized(runByStage.getOrElse(si.stageId, 0L)))) }
      }
    }
    val settleMs =
      sys.env.getOrElse("SPARK_GRAFT_PROFILE_SETTLE_MS", "300").toLong

    // SPARK_GRAFT_PROFILE_BLOWUP=<factor>: profile against the
    // Blowup scratch corpus instead of the base dir (the spill/memory
    // posture capture — shuffle volumes at sf and at factor×).
    val profDir = sys.env.get("SPARK_GRAFT_PROFILE_BLOWUP")
      .map(f => graft.sources.Blowup.ensure(spark, dir, f.toInt))
      .getOrElse(dir)

    args.foreach { name =>
      def run(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, profDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm: JIT + codegen
      val c = new Collector
      spark.sparkContext.addSparkListener(c)
      val sec = run()
      Thread.sleep(settleMs)
      spark.sparkContext.removeSparkListener(c)
      println(f"\n========== $name: $sec%.2f s ==========")
      c.stages.sortBy(-_._3).take(12).foreach { case (id, n, ms, nt, cpu) =>
        val s = c.runByStage.synchronized(
          c.shufByStage.getOrElse(id, ShuffleAgg()))
        println(f"stage $id%5d wall=$ms%6d ms tasks=$nt%4d cpu=$cpu%6d ms " +
          f"shufW=${s.write / 1024}%8d KiB shufR=${s.read / 1024}%8d KiB " +
          f"spill=${(s.spillMem + s.spillDisk) / 1024}%d KiB " +
          f"peakMem=${s.peakMem / 1024}%d KiB  $n")
      }
      // per-query roll-up: the BASELINE §C spill-posture numbers
      val all = c.runByStage.synchronized(c.shufByStage.values.toSeq)
      val totW = all.map(_.write).sum
      val maxW = if (all.isEmpty) 0L else all.map(_.write).max
      val spill = all.map(a => a.spillMem + a.spillDisk).sum
      val peak = if (all.isEmpty) 0L else all.map(_.peakMem).max
      val maxTasks = c.stages.synchronized(
        if (c.stages.isEmpty) 0 else c.stages.map(_._4).max)
      println(f"TOTAL $name shufW=${totW / 1024} KiB " +
        f"maxStageShufW=${maxW / 1024} KiB spill=${spill / 1024} KiB " +
        f"peakTaskMem=${peak / 1024} KiB maxStageTasks=$maxTasks")
    }
    spark.stop()
  }
}
