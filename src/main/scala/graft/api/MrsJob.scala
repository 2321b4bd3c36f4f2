package graft.api

import org.apache.spark.sql.{Dataset, Encoder}

/** Class-based job facade — the `class MRWordFreqCount(MRJob)`
  * authoring shape (mrjob/job.py:85), typed. Override the member
  * functions instead of passing lambdas; `run` executes on a
  * [[MrPipeline]].
  *
  * {{{
  * class WordFreq extends MrsJob[String, String, String, Long, String, Long] {
  *   def mapper(k: String, line: String) =
  *     line.split(" ").iterator.map(w => (w, 1L))
  *   override def combiner = Some((w, cs) => Iterator.single(cs.sum))
  *   def reducer(w: String, cs: Iterator[Long]) = Iterator.single((w, cs.sum))
  * }
  * new WordFreq().run(lines)
  * }}}
  *
  * Multi-step jobs (mrjob steps(), job.py:497-545) compose pipelines:
  * override `run` and chain `.step(...)` calls — the Scala type system
  * makes an untyped heterogeneous steps() list a worse API than
  * composition.
  */
abstract class MrsJob[K1, V1, K2, V2, K3, V3] extends Serializable {

  def mapper(key: K1, value: V1): IterableOnce[(K2, V2)]
  def reducer(key: K2, values: Iterator[V2]): IterableOnce[(K3, V3)]

  /** Same-key combine (mrjob combiner, job.py:295-309). */
  def combiner: Option[(K2, Iterator[V2]) => IterableOnce[V2]] = None

  def mapperInit(): IterableOnce[(K2, V2)] = Iterator.empty
  def mapperFinal(): IterableOnce[(K2, V2)] = Iterator.empty
  /** Per-task brackets around the combine phase (combiner_init /
    * combiner_final, mrjob/job.py:414-449); only run when a combiner
    * is defined. */
  def combinerInit(): IterableOnce[(K2, V2)] = Iterator.empty
  def combinerFinal(): IterableOnce[(K2, V2)] = Iterator.empty
  def reducerInit(): IterableOnce[(K3, V3)] = Iterator.empty
  def reducerFinal(): IterableOnce[(K3, V3)] = Iterator.empty

  /** SORT_VALUES (mrjob/job.py:1569-1593). */
  def sortValues: Boolean = false
  def numReducers: Option[Int] = None

  final def toStep: MrStep[K1, V1, K2, V2, K3, V3] = MrStep(
    mapper = mapper _,
    reducer = reducer _,
    mapperInit = mapperInit _,
    mapperFinal = mapperFinal _,
    combiner = combiner,
    combinerInit = combinerInit _,
    combinerFinal = combinerFinal _,
    reducerInit = reducerInit _,
    reducerFinal = reducerFinal _,
    sortValues = sortValues,
    numReducers = numReducers)

  final def run(input: Dataset[(K1, V1)])(
      implicit e2: Encoder[(K2, V2)],
      e3: Encoder[(K3, V3)]): Dataset[(K3, V3)] =
    MrPipeline.fromDataset(input).step(toStep).ds
}
