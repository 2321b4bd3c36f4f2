package graft.api

import java.nio.charset.StandardCharsets
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col
import scala.reflect.ClassTag

/** Typed multi-step MapReduce pipeline on Datasets — the execution
  * engine for [[MrStep]].
  *
  * Spark-first re-expression of the reference's dataflow (SURVEY §3.3,
  * mrjob/spark/harness.py:142-303), NOT a translation of it:
  *
  *  - mapper + init/final brackets → one `mapPartitions` whose iterator
  *    is `init ++ flatMap(mapper) ++ final` (lazy, so `final` runs
  *    after the partition drains — same contract as
  *    harness.py:396-436);
  *  - combiner → [[MapSideCombine]]: a bounded hash buffer inside the
  *    map task, applying the combiner to per-key runs before the
  *    shuffle — the combiner contract "runs 0..n times over partial
  *    groups" (mrjob/job.py:295-309) as classic map-side combine,
  *    without the reference's post-shuffle `combineByKey` list-merging
  *    (harness.py:439-509) or any per-row Kryo encoding;
  *  - reducer → `repartition(key) + sortWithinPartitions(key[, value])
  *    + mapPartitions(adjacent-group iterator)`: the classic scalable
  *    secondary sort. Values reach the reducer as a lazy Iterator —
  *    constant memory per group, like the reference's
  *    `itertools.groupby` over sorted lines (mrjob/job.py:869-894) —
  *    and `sortValues = true` (SORT_VALUES, mrjob/job.py:1569-1593)
  *    just adds the value column to the in-partition Tungsten sort
  *    instead of needing a KeyFieldBasedPartitioner.
  *
  * At 100 TB: no stage materializes a group in memory unless a
  * combiner already collapsed it; shuffles are at most one per step,
  * on the step key (Spark cannot elide a shuffle whose key is produced
  * by an opaque lambda); partition counts follow
  * `spark.sql.shuffle.partitions` / AQE unless `numReducers` pins the
  * output-file contract (harness.py:266-268).
  */
final class MrPipeline[K, V](val ds: Dataset[(K, V)]) extends Serializable {

  /** Run one typed step; chain calls for multi-step jobs
    * (mrjob steps(), mrjob/job.py:497-545 — a linear DAG, which in
    * Spark is simply function composition inside one job).
    *
    * Each substep position (mapper, combiner, reducer) runs its
    * function as a typed Dataset `mapPartitions` unless a cmd,
    * pre_filter or raw sort is set on it; then it runs on
    * protocol-encoded lines (`MrPipeline.viaLines`).
    */
  def step[K2, V2, K3, V3](s: MrStep[K, V, K2, V2, K3, V3])(
      implicit e2: Encoder[(K2, V2)],
      e3: Encoder[(K3, V3)]): MrPipeline[K3, V3] = {
    import MrPipeline.{bracket, viaLines}
    val spark = ds.sparkSession
    // set whenever a cmd, pre_filter or sortValuesRaw is (MrStep
    // requires it); only the line paths read it
    val c = s.cmdProtocols.orNull

    // ---- map phase: init ++ mapper ++ final, one pass, lazy ----
    // A mapper_cmd REPLACES the mapper function entirely
    // (input-protocol lines in, internal-protocol lines out —
    // mrjob/job.py:340-363); a pre_filter runs ahead of either.
    val (mapper, mInit, mFinal) = (s.mapper, s.mapperInit, s.mapperFinal)
    val map = (it: Iterator[(K, V)]) =>
      bracket(mInit, it.flatMap { case (k, v) => mapper(k, v) }, mFinal)
    val mapped: Dataset[(K2, V2)] =
      if (s.mapperCmd.isEmpty && s.mapperPreFilter.isEmpty)
        ds.mapPartitions(map)
      else spark.createDataset(viaLines(ds.rdd, c.input, byteSort = false,
        s.mapperPreFilter, s.mapperCmd, c.internal)(
        ls => map(ls.map(c.input.read))))

    // A mapOnly step with nothing set on the reduce side ends here, as
    // mrjob runs a mapper-only step with reduces=0 (bin.py:323-327);
    // its reducer is the identity, so (K3, V3) is (K2, V2).
    if ((s.reducer eq MrStep.idReducer) && !s.sortValues &&
        !s.sortValuesRaw &&
        Seq(s.combiner, s.combinerCmd, s.combinerPreFilter, s.reducerCmd,
          s.reducerPreFilter, s.numReducers).forall(_.isEmpty) &&
        Seq(s.reducerInit, s.reducerFinal).forall(_ eq MrStep.emptyInit))
      return new MrPipeline(mapped.asInstanceOf[Dataset[(K3, V3)]])

    // ---- optional map-side combine (bounded hash buffer) ----
    // The combiner contract is "runs 0..n times over partial groups"
    // (mrjob/job.py:295-309); running it inside mapPartitions before
    // the shuffle is the classic MapReduce map-side combine. Memory is
    // bounded two ways: per-key value buffers flush through the
    // combiner at CombineFlushAt, and the whole map spills its
    // combined entries downstream at CombineMaxKeys — degrading
    // gracefully to "no combine" for high-cardinality keys, exactly
    // like Hadoop's combiner. (An earlier Aggregator-based version
    // paid Kryo buffer encoding per shuffle row — slower.)
    // combiner_init / combiner_final (mrjob/job.py:414-449) bracket the
    // task's combine phase: init pairs are EMITTED (straight to the
    // shuffle, like the reference sim writing each init yield), final
    // runs after the partition's combine runs drain. Without a
    // combiner the brackets don't run — mrjob only invokes the
    // combiner substep when a combiner exists.
    val (cInit, cFinal) = (s.combinerInit, s.combinerFinal)
    val combine: Iterator[(K2, V2)] => Iterator[(K2, V2)] = s.combiner match {
      case Some(cf) => it => bracket(cInit, new MapSideCombine(it, cf), cFinal)
      case None => identity
    }
    // Shell substeps at the combiner position see their map task's
    // output as SORTED encoded lines (the sim runner sorts combiner
    // input per task, mrjob/sim.py:727-730) — in-memory per map task,
    // bounded by split size, exactly Hadoop's combiner-input contract.
    val combined: Dataset[(K2, V2)] =
      if (s.combinerCmd.isDefined || s.combinerPreFilter.isDefined)
        spark.createDataset(viaLines(mapped.rdd, c.internal, byteSort = true,
          s.combinerPreFilter, s.combinerCmd, c.internal)(
          ls => combine(ls.map(c.internal.read))))
      else if (s.combiner.isDefined) mapped.mapPartitions(combine)
      else mapped

    // ---- shuffle + reduce: hash-partition by key, Tungsten
    // in-partition sort on (key[, value]), lazily group adjacent keys.
    val (r, rInit, rFinal) = (s.reducer, s.reducerInit, s.reducerFinal)
    val reduce = (groups: Iterator[(K2, Iterator[V2])]) =>
      bracket(rInit, groups.flatMap { case (k, vs) => r(k, vs) }, rFinal)
    // numReducers pins the partition count (the output-file contract);
    // otherwise repartition WITHOUT a count so AQE may coalesce — an
    // explicit repartition(defaultParallelism, key) is a
    // REPARTITION_BY_NUM shuffle AQE refuses to shrink, which the
    // class doc promises not to do (a review catch: a 1 MB step was
    // pinned to 200 reduce tasks)
    val shuffled = s.numReducers match {
      case Some(n) => combined.repartition(n, combined.col("_1"))
      case None => combined.repartition(combined.col("_1"))
    }
    // reducer_cmd / reducer_pre_filter stream each reduce partition's
    // key-sorted encoded lines — the Hadoop-streaming reducer contract
    // (mrjob/job.py:451-474). A pre_filter must be line-filtering
    // (grep-like), which preserves key adjacency for the reducer.
    val reduced: Dataset[(K3, V3)] =
      if (s.sortValuesRaw)
        // rawBytes SORT_VALUES (SURVEY §7.3): sort each reduce
        // partition's ENCODED lines by UTF-8 bytes and group adjacent
        // encoded keys — the reference's own whole-line sort contract
        // (mrjob/sim.py:750-771), reproduced for byte-level parity.
        // Keys cannot contain '\t' (protocol contract), so whole-line
        // byte order keeps equal keys adjacent.
        spark.createDataset(viaLines(shuffled.rdd, c.internal, byteSort = true,
          s.reducerPreFilter, s.reducerCmd, c.output) { ls =>
          reduce(AdjacentGroups(ls.map(l => (l.takeWhile(_ != '\t'), l)))
            .map { case (_, group) =>
              val kvs = group.map(c.internal.read).buffered
              (kvs.head._1, kvs.map(_._2))
            })
        })
      else {
        val sortCols = if (s.sortValues) Seq(col("_1"), col("_2"))
                       else Seq(col("_1"))
        val arranged = shuffled.sortWithinPartitions(sortCols: _*)
        if (s.reducerCmd.isEmpty && s.reducerPreFilter.isEmpty)
          arranged.mapPartitions(it => reduce(AdjacentGroups(it)))
        else spark.createDataset(viaLines(arranged.rdd, c.internal,
          byteSort = false, s.reducerPreFilter, s.reducerCmd, c.output)(
          ls => reduce(AdjacentGroups(ls.map(c.internal.read)))))
      }
    new MrPipeline(reduced)
  }

  /** Custom partitioner parity (mrjob PARTITIONER / Hadoop partitioner
    * class, mrjob/job.py:1390-1408, e.g. tests/mr_partitioner.py): route
    * each key to an explicit partition. RDD hop (Datasets only expose
    * hash/range partitioning); the narrow map back re-enters the
    * Dataset world. */
  def partitionByKey(n: Int)(fn: K => Int)(
      implicit e: Encoder[(K, V)]): MrPipeline[K, V] = {
    val p = new org.apache.spark.Partitioner {
      def numPartitions: Int = n
      def getPartition(key: Any): Int = {
        val h = fn(key.asInstanceOf[K]) % n
        if (h < 0) h + n else h
      }
    }
    val spark = ds.sparkSession
    val pairs = new org.apache.spark.rdd.PairRDDFunctions(ds.rdd)(
      ClassTag.Any.asInstanceOf[ClassTag[K]],
      ClassTag.Any.asInstanceOf[ClassTag[V]])
    new MrPipeline(spark.createDataset(pairs.partitionBy(p)))
  }

  def toDF = ds.toDF("key", "value")
}

object MrPipeline {
  /** Line-oriented entry — RawValueProtocol: key = null, value = line
    * (mrjob/job.py:1270). */
  def fromText(spark: SparkSession, path: String): MrPipeline[String, String] = {
    import spark.implicits._
    new MrPipeline(spark.read.textFile(path).map(l => (null: String, l)))
  }

  def fromDataset[K, V](ds: Dataset[(K, V)]): MrPipeline[K, V] =
    new MrPipeline(ds)

  /** RDD hops over generic pair types: tuples are AnyRef at runtime
    * and none of these ops key a shuffle on the ClassTag, so the
    * erased tag is sound (same trick as `partitionByKey`). */
  private implicit def erasedCT[A]: ClassTag[A] =
    ClassTag.Any.asInstanceOf[ClassTag[A]]

  /** A substep function's per-task bracket: `init ++ body ++ final`,
    * lazy, so `final` runs after the partition drains — same contract
    * as harness.py:396-436. */
  private def bracket[A](init: () => IterableOnce[A], body: Iterator[A],
      fin: () => IterableOnce[A]): Iterator[A] =
    init().iterator ++ body ++ fin()

  /** One substep position on encoded lines — the per-substep shell
    * wiring of mrjob/step.py:34-45: each partition's pairs are written
    * by `in`, optionally sorted by their UTF-8 bytes, optionally piped
    * through a pre_filter, and then either piped through `cmd` (whose
    * output lines `out` reads) or handed to `fn`. RDD.pipe streams one
    * shell process per partition, the Hadoop-streaming task model; the
    * reference's own Spark harness refuses cmd substeps
    * (harness.py:634-637), so this exceeds it. */
  private def viaLines[A, B, C, D](pairs: RDD[(A, B)],
      in: LineProtocol[A, B], byteSort: Boolean, preFilter: Option[String],
      cmd: Option[String], out: LineProtocol[C, D])(
      fn: Iterator[String] => Iterator[(C, D)]): RDD[(C, D)] = {
    // through a shell, like the reference runs cmd strings (the
    // bare-string RDD.pipe tokenizes on whitespace, no quoting)
    val sh = (c: String) => Seq("/bin/sh", "-c", c)
    val lines = pairs.map { case (k, v) => in.write(k, v) }
    // UTF-8 BYTE order, not String (UTF-16 code-unit) order: the sim
    // runner sorts encoded bytes in memory per task, and
    // supplementary-plane characters order differently under the two
    val sorted = if (!byteSort) lines else lines.mapPartitions { it =>
      it.map(l => (l.getBytes(StandardCharsets.UTF_8), l)).toVector
        .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
        .iterator.map(_._2)
    }
    // Pre-filters are grep-like line selectors, and grep exits 1 when
    // it selects NOTHING — routine for an empty or fully-filtered
    // partition, fatal to PipedRDD's exit-status check. Tolerate
    // exactly status 1 for filter commands; real failures (>1) and
    // any non-zero status of a cmd still abort the task.
    val filtered = preFilter.fold(sorted)(f => sorted.pipe(
      sh(s"($f); rc=$$?; if [ $$rc -le 1 ]; then exit 0; else exit $$rc; fi")))
    cmd.fold(filtered.mapPartitions(fn))(
      c => filtered.pipe(sh(c)).map(out.read))
  }
}

/** Map-side combine: drain the input through a bounded hash buffer,
  * applying the user combiner to per-key runs, then emit combined
  * pairs. Per-key buffers flush at [[MapSideCombine.FlushAt]] values
  * (the reference's periodic combiner runs over accumulated lists,
  * mrjob/spark/harness.py:466-495); the whole buffer is emitted and
  * cleared at [[MapSideCombine.MaxKeys]] distinct keys, so
  * high-cardinality keys degrade to a pass-through instead of OOM. */
private[graft] final class MapSideCombine[K, V](
    input: Iterator[(K, V)], c: (K, Iterator[V]) => IterableOnce[V])
  extends Iterator[(K, V)] {
  import MapSideCombine._
  import scala.collection.mutable

  // buffer keyed by a CONTENT-normalized key: Array[Byte] hashes by
  // identity and boxed NaN != NaN under Scala ==, so keying the map
  // on raw K silently degraded byte/NaN-keyed combining to a
  // pass-through (correct under the 0..n-runs contract, but the
  // map-side reduction never happened); the original K rides along
  // for combine calls and emission
  private object NanKey
  private def norm(k: K): Any = k match {
    case a: Array[Byte] =>
      scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    case d: Double if d.isNaN => NanKey
    case f: Float if f.isNaN => NanKey
    case x => x
  }

  private val buf =
    mutable.LinkedHashMap.empty[Any, (K, mutable.ArrayBuffer[V])]
  private var out: Iterator[(K, V)] = Iterator.empty

  private def combineRun(k: K, vs: mutable.ArrayBuffer[V]): Iterator[V] =
    c(k, vs.iterator).iterator

  private def drainBuf(): Iterator[(K, V)] = {
    val entries = buf.valuesIterator.toVector
    buf.clear()
    entries.iterator.flatMap { case (k, vs) =>
      combineRun(k, vs).map(k -> _)
    }
  }

  private def fill(): Unit = {
    while (!out.hasNext && input.hasNext) {
      val (k, v) = input.next()
      val nk = norm(k)
      val (k0, vs) = buf.getOrElseUpdate(nk, (k, mutable.ArrayBuffer.empty[V]))
      vs += v
      if (vs.length >= FlushAt) {
        val combined = combineRun(k0, vs).to(mutable.ArrayBuffer)
        if (combined.length >= FlushAt) {
          // incompressible run (e.g. a distinct-union combiner on a
          // hot key): EMIT the partial downstream instead of storing
          // it — storing would re-trigger a full-buffer combine on
          // EVERY subsequent value of the key (O(n·FlushAt) per key).
          // Legal under the combiner-runs-0..n-times contract; the
          // reducer re-merges partials.
          buf.remove(nk)
          out = combined.iterator.map(k0 -> _)
        } else buf.update(nk, (k0, combined))
      }
      // append, don't assign: `out` may already hold an emitted
      // incompressible-run partial from this same iteration
      if (buf.size >= MaxKeys) out = out ++ drainBuf()
    }
    if (!out.hasNext && buf.nonEmpty) out = drainBuf()
  }

  def hasNext: Boolean = { fill(); out.hasNext }
  def next(): (K, V) = { fill(); out.next() }
}

private[graft] object MapSideCombine {
  /** Values buffered per key before the combiner is forced. */
  val FlushAt = 1000
  /** Distinct keys buffered before the map spills downstream. */
  val MaxKeys = 1 << 16
}

/** Lazily group a key-sorted iterator into (key, value-iterator) runs.
  * Contract (same as itertools.groupby, which the reference relies on —
  * mrjob/job.py:869-894): each inner iterator MUST be consumed before
  * advancing to the next group; unconsumed values are drained
  * automatically on advance. Constant memory per group. */
object AdjacentGroups {

  /** Key equality matching how the SORT placed keys adjacent, not
    * universal `==` (a review catch — `==` is reference equality for
    * Array[Byte], so byte-keyed groups silently degenerated to one
    * row each): binary keys compare by content (Spark sorts BinaryType
    * lexicographically, so equal contents ARE adjacent), and NaN
    * equals NaN (Spark sorts all NaN adjacent; the reference groups
    * NaN keys too, because it groups on the ENCODED line and
    * `json.dumps(float('nan'))` is the stable token `NaN`). */
  private[graft] def keyEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case (x: Double, y: Double) =>
      java.lang.Double.compare(x, y) == 0 || (x.isNaN && y.isNaN)
    case (x: Float, y: Float) =>
      java.lang.Float.compare(x, y) == 0 || (x.isNaN && y.isNaN)
    case _ => a == b
  }

  def apply[K, V](it: Iterator[(K, V)]): Iterator[(K, Iterator[V])] =
    new Iterator[(K, Iterator[V])] {
      private val buf = it.buffered
      private var current: Iterator[V] = Iterator.empty
      def hasNext: Boolean = {
        while (current.hasNext) current.next() // drain previous group
        buf.hasNext
      }
      def next(): (K, Iterator[V]) = {
        if (!hasNext) throw new NoSuchElementException
        val k = buf.head._1
        val inner = new Iterator[V] {
          def hasNext: Boolean = buf.hasNext && keyEq(buf.head._1, k)
          def next(): V =
            if (hasNext) buf.next()._2 else throw new NoSuchElementException
        }
        current = inner
        (k, inner)
      }
    }
}
