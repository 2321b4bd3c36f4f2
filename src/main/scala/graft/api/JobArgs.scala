package graft.api

import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession

/** Job parameterization — the configure_args / add_passthru_arg /
  * add_file_arg surface (mrjob/job.py:1080-1213) as a typed config
  * value instead of an argparse registry.
  *
  * - `passthru` ↔ passthrough args: plain values the job logic reads
  *   (mrjob forwards them to every task via the command line; a Scala
  *   case class field serializes into the task closure for free).
  * - `fileArgs` ↔ file args: local paths whose CONTENTS every task
  *   needs. [[ship]] registers them with SparkContext.addFile — the
  *   engine analog of mrjob's upload-and-symlink-into-working-dir —
  *   and tasks resolve the local copy with [[JobArgs.taskFile]]
  *   (mrjob: "this file will be downloaded to each task's working
  *   directory", job.py:1178-1213).
  * - `archives` ↔ upload_archives (mrjob/setup.py:471, runner opt
  *   `upload_archives`): local tar/zip/jar paths that every task needs
  *   UNPACKED. [[ship]] registers them with SparkContext.addArchive —
  *   Spark extracts each into the task working dir under the archive's
  *   file name, exactly mrjob's "unpacked into a directory in the
  *   task's working directory" contract — and tasks resolve the
  *   unpacked directory with [[archiveDir]].
  *
  * At scale this matters because file/archive args ride Spark's
  * torrent-style file distribution instead of being re-read from a
  * shared store by 10⁵ tasks.
  */
final case class JobArgs(
    passthru: Map[String, String] = Map.empty,
    fileArgs: Map[String, String] = Map.empty,
    archives: Map[String, String] = Map.empty,
    listArgs: Map[String, Seq[String]] = Map.empty) extends Serializable {

  /** The job's `--setup` commands (conf `list.setup` entries,
    * concatenated earlier→later per mrjob's combine_lists —
    * mrjob/conf.py): pass to [[SetupCmd.stage]]. Kept verbatim here
    * because the comma-joined passthru form is lossy for shell text. */
  def setupCmds: Seq[String] = listArgs.getOrElse("setup", Nil)

  def passthruLong(name: String, default: Long): Long =
    passthru.get(name).map(_.trim.toLong).getOrElse(default)

  /** Register every file arg for task-side distribution. Call once,
    * driver-side, before running the job. Idempotent per path. */
  def ship(spark: SparkSession): JobArgs = {
    fileArgs.values.foreach(spark.sparkContext.addFile(_))
    archives.values.foreach(spark.sparkContext.addArchive(_))
    this
  }

  /** Task-side local path of a shipped file arg, by arg name. */
  def file(name: String): Option[String] =
    fileArgs.get(name).map(p => JobArgs.taskFile(new java.io.File(p).getName))

  /** Task-side directory holding a shipped archive's UNPACKED
    * contents, by arg name (mrjob: the archive's basename names the
    * unpacked dir in the working directory). */
  def archiveDir(name: String): Option[String] =
    archives.get(name).map(p => JobArgs.taskFile(new java.io.File(p).getName))
}

object JobArgs {
  /** Resolve a shipped file's task-local copy by base name (mrjob:
    * files appear in the task working dir under their basename). */
  def taskFile(baseName: String): String = SparkFiles.get(baseName)
}
