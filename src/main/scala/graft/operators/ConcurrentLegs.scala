package graft.operators

import java.util.UUID
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.DataFrame

/** Concurrent materialization of the INDEPENDENT legs of a composition
  * row (guide §2.6: actions are only sequential because the driver
  * calls them sequentially — submitting independent jobs from a small
  * thread pool lets the next leg's tasks back-fill executors freed by
  * the current leg's tail).
  *
  * The composition rows (ingest_door, source_card) are unions/joins of
  * 5-6 independent constituent subtrees, each a short chain of small
  * stages: executed as ONE query, AQE materializes the stages mostly
  * one at a time and the row's wall clock is the SUM of ~15 sequential
  * small-stage rounds (driver re-planning + scheduling floor per
  * round), not the max. Materializing each leg via `localCheckpoint()`
  * from its own pool thread overlaps those rounds; the final
  * doc_id/source-keyed joins then read the checkpointed RDDs.
  *
  * Result-identity: each leg's plan is unchanged — only WHO triggers
  * its execution moves (a pool thread instead of the final action), so
  * the rows are bit-identical and the DuckDB oracle composition is
  * untouched. The checkpoints live inside the timed region of the
  * consuming query (Bench.run times construction + action), so this is
  * overlap, not pre-computation.
  *
  * 2-3 jobs in flight is the guide's recommendation: enough to fill
  * the tail, not so many that they fight for cores.
  *
  * Failure: the call fails fast with the FIRST failing leg's own
  * exception. Every leg's jobs carry one job tag unique to the call,
  * and that tag's jobs are cancelled before the error is rethrown — a
  * failed door batch must not leave its sibling legs' jobs running on
  * the executors (interrupting the pool thread alone does not stop a
  * submitted job). */
private[graft] object ConcurrentLegs {

  def materialize(legs: Seq[DataFrame], maxInFlight: Int = 3)
      : Seq[DataFrame] = {
    if (legs.sizeIs <= 1) legs.map(_.localCheckpoint())
    else {
      val sc = legs.head.sparkSession.sparkContext
      val tag = s"graft-legs-${UUID.randomUUID()}"
      val pool =
        Executors.newFixedThreadPool(math.min(maxInFlight, legs.size))
      val ec = ExecutionContext.fromExecutor(pool)
      // Pool threads are created lazily on first submit, i.e. by THIS
      // thread, so Spark's InheritableThreadLocal job properties (job
      // description/group) carry over to the concurrent legs; the tag
      // is added inside each pool thread.
      val runs = legs.map(l => Future {
        sc.addJobTag(tag)
        l.localCheckpoint()
      }(ec))
      // `sequence` fails as soon as any leg fails (parasitic: its own
      // callbacks must not be scheduled on the pool being shut down)
      try Await.result(
        Future.sequence(runs)(implicitly, ExecutionContext.parasitic),
        Duration.Inf)
      catch {
        case e: Throwable =>
          sc.cancelJobsWithTag(tag, "a sibling concurrent leg failed")
          throw e
      } finally pool.shutdownNow()
    }
  }
}
