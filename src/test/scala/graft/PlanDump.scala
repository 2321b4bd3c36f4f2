package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import graft.operators.{DedupOps, MultimodalOps}

/** Dev tool: write each named catalog row's formatted physical plan to
  * `<outDir>/<row>.txt`, normalized so that dumps of two builds compare
  * with one `diff -r`: expression ids (`#123`), `plan_id=`s, RDD ids,
  * call sites (as `File.scala:N`) and lambda identities are masked. A
  * name may also be one of [[pairJoinFrames]], the frames whose bucket
  * self-join is visible in their plan. Runs on the shared local[4] test
  * session.
  * Usage: sbt "Test/runMain graft.PlanDump <sfDir> <outDir> <row,…>"
  */
object PlanDump {

  /** Every bucket self-join caller, as a frame whose plan still holds
    * the self-join (the registered rows of some read a checkpoint). */
  def pairJoinFrames(spark: SparkSession,
      dir: String): Seq[(String, () => DataFrame)] = Seq(
    "dedupJaccardCompute" -> (() => DedupOps.dedupJaccardCompute(spark, dir)),
    "dedupMinhash" -> (() => DedupOps.dedupMinhash(spark, dir)),
    "dedupSimhash" -> (() => DedupOps.dedupSimhash(spark, dir)),
    "dedupSimhashWide" -> (() => DedupOps.dedupSimhashWide(spark, dir)),
    "dedupContainment" -> (() => DedupOps.dedupContainment(spark, dir)),
    "dedupPrefixJoin" -> (() => DedupOps.dedupPrefixJoin(spark, dir)),
    "imageDedupPairs" -> (() => MultimodalOps.imageDedupPairs(
      MultimodalOps.asBmpTable(spark, dir).toDF("id", "payload"))),
    "audioDedupPairs" -> (() => MultimodalOps.audioDedupPairs(
      MultimodalOps.asWavTable(spark, dir).toDF("id", "payload"))))

  def normalize(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
    .replaceAll("\\w+\\.scala:\\d+", "File.scala:N")
    .replaceAll("\\$Lambda[^@\\s]*@[0-9a-f]+", "\\$Lambda")

  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, names) = args
    val spark = SparkFixture.spark
    val frames = pairJoinFrames(spark, dir).toMap
    Files.createDirectories(Paths.get(outDir))
    names.split(",").foreach { name =>
      val df = frames.get(name).map(_())
        .getOrElse(SparkEntry.queries(name)(spark, dir))
      Files.writeString(Paths.get(outDir, s"$name.txt"),
        normalize(df.queryExecution.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
