package graft.api

/** One MapReduce step, typed end-to-end: input pairs (K1,V1) →
  * intermediate (K2,V2) → output (K3,V3).
  *
  * This is the Scala analog of the reference's step surface
  * (mrjob/job.py:260-474, MRStep param list mrjob/step.py:34-45):
  * mapper / combiner / reducer plus per-task init/final brackets and
  * the SORT_VALUES secondary-sort flag (mrjob/job.py:1569-1593).
  *
  * Semantics notes mirrored from the reference:
  *  - the combiner may run 0..n times over partial groups
  *    (mrjob/job.py:295-309) — so it must be idempotent-ish; here it
  *    runs map-side in [[MapSideCombine]], a bounded hash buffer
  *    inside the map task;
  *  - reducer values are a lazily streamed Iterator (mrjob/job.py:884-890)
  *    — groups never need to fit in memory unless a combiner collapsed
  *    them first;
  *  - init/final may emit pairs (e.g. mr_wc.py:31-41 counts in task
  *    state and emits in final) — run inside mapPartitions brackets,
  *    exactly how the reference's own Spark harness wraps them
  *    (mrjob/spark/harness.py:396-436).
  */
final case class MrStep[K1, V1, K2, V2, K3, V3](
    mapper: (K1, V1) => IterableOnce[(K2, V2)],
    reducer: (K2, Iterator[V2]) => IterableOnce[(K3, V3)],
    mapperInit: () => IterableOnce[(K2, V2)] = MrStep.emptyInit[K2, V2],
    mapperFinal: () => IterableOnce[(K2, V2)] = MrStep.emptyInit[K2, V2],
    combiner: Option[(K2, Iterator[V2]) => IterableOnce[V2]] = None,
    combinerInit: () => IterableOnce[(K2, V2)] = MrStep.emptyInit[K2, V2],
    combinerFinal: () => IterableOnce[(K2, V2)] = MrStep.emptyInit[K2, V2],
    reducerInit: () => IterableOnce[(K3, V3)] = MrStep.emptyInit[K3, V3],
    reducerFinal: () => IterableOnce[(K3, V3)] = MrStep.emptyInit[K3, V3],
    sortValues: Boolean = false,
    /** SORT_VALUES in the reference's ENCODED-BYTE order: reducer
      * input lines (internal-protocol encoded) are sorted by their
      * UTF-8 bytes and grouped by encoded key — exactly the sim
      * runner's whole-line sort (mrjob/sim.py:764-767) and the Spark
      * harness's encoded-key grouping (harness.py:536-537). Needed for
      * byte-level output parity on heterogeneous values, where typed
      * ordering differs (JSON '10' sorts before '9' as bytes).
      * Requires `cmdProtocols` for the internal line codec; the
      * default typed mode keeps the Tungsten external sort. */
    sortValuesRaw: Boolean = false,
    numReducers: Option[Int] = None,
    // ---- per-substep shell wiring (mrjob/step.py:34-45) ----
    // `*Cmd`: the substep IS a shell command over protocol-encoded
    // lines (mrjob/job.py:340-351, 401-412, 451-462) — it REPLACES the
    // corresponding function, which mrjob forbids setting alongside.
    // `*PreFilter`: a line-filtering shell command piped over the
    // substep's input BEFORE the function/cmd runs
    // (mrjob/job.py:353-363, 414-424, 464-474). Any of these set
    // requires `cmdProtocols` for the line boundaries.
    mapperCmd: Option[String] = None,
    combinerCmd: Option[String] = None,
    reducerCmd: Option[String] = None,
    mapperPreFilter: Option[String] = None,
    combinerPreFilter: Option[String] = None,
    reducerPreFilter: Option[String] = None,
    cmdProtocols: Option[CmdProtocols[K1, V1, K2, V2, K3, V3]] = None) {
  require(combinerCmd.isEmpty || combiner.isEmpty,
    "combiner and combiner_cmd are mutually exclusive (mrjob/job.py:401-412)")
  // a *_cmd REPLACES its whole substep, so init/final brackets on the
  // same position can never run — mrjob errors on the combination
  // (job.py: cannot combine function and command substeps); silently
  // dropping declared emissions produced incomplete output instead
  require(mapperCmd.isEmpty ||
      ((mapperInit eq MrStep.emptyInit) && (mapperFinal eq MrStep.emptyInit)),
    "mapper_cmd cannot be combined with mapper_init/mapper_final")
  require(combinerCmd.isEmpty ||
      ((combinerInit eq MrStep.emptyInit) &&
        (combinerFinal eq MrStep.emptyInit)),
    "combiner_cmd cannot be combined with combiner_init/combiner_final")
  require(reducerCmd.isEmpty ||
      ((reducerInit eq MrStep.emptyInit) && (reducerFinal eq MrStep.emptyInit)),
    "reducer_cmd cannot be combined with reducer_init/reducer_final")
  require(Seq(mapperCmd, combinerCmd, reducerCmd, mapperPreFilter,
      combinerPreFilter, reducerPreFilter).forall(_.isEmpty) ||
      cmdProtocols.isDefined,
    "cmd/pre_filter substeps need cmdProtocols for the line boundaries")
  require(!sortValuesRaw || cmdProtocols.isDefined,
    "sortValuesRaw sorts encoded lines and needs cmdProtocols")
}

/** The protocol triple cmd substeps speak at their line boundaries —
  * mrjob's INPUT/INTERNAL/OUTPUT protocol resolution per substep
  * (mrjob/job.py:1052-1076): mapper_cmd reads `input`-encoded lines
  * and writes `internal`; combiner_cmd reads and writes `internal`;
  * reducer_cmd reads `internal` and writes `output`. */
final case class CmdProtocols[K1, V1, K2, V2, K3, V3](
    input: LineProtocol[K1, V1],
    internal: LineProtocol[K2, V2],
    output: LineProtocol[K3, V3])

object MrStep {
  /** THE default init/final bracket — one shared singleton function,
    * so the case-class requires below can DETECT "left at default"
    * by reference (an eta-expanded `emptyInit _` default minted a
    * fresh object per construction, making the cmd+bracket
    * misconfiguration undetectable). */
  private val EmptyInitFn: () => IterableOnce[Nothing] =
    () => Iterator.empty
  def emptyInit[K, V]: () => IterableOnce[(K, V)] =
    EmptyInitFn.asInstanceOf[() => IterableOnce[(K, V)]]

  /** The identity reducer of [[mapOnly]]: one shared singleton, so
    * [[MrPipeline.step]] recognizes a map-only step by reference (the
    * same trick as [[emptyInit]]). */
  private val IdReducerFn: (Any, Iterator[Any]) => IterableOnce[(Any, Any)] =
    (k, vs) => vs.map(k -> _)
  private[api] def idReducer[K, V]: (K, Iterator[V]) => IterableOnce[(K, V)] =
    IdReducerFn.asInstanceOf[(K, Iterator[V]) => IterableOnce[(K, V)]]

  /** Map-only step (mrjob's step with no reducer, mrjob/step.py:79-86).
    * [[MrPipeline.step]] ends it after the map phase, with no shuffle,
    * as mrjob runs it with `reduces=0` (bin.py:323-327): the output
    * keeps the map tasks' partitions, and per-task `mapperFinal` pairs
    * stay one per task. Setting any reduce-side field on it (a combiner
    * or combiner cmd/pre_filter, reducer init/final/cmd/pre_filter,
    * `sortValues`, `sortValuesRaw` or `numReducers`) brings the shuffle
    * back, with the identity as reducer. */
  def mapOnly[K1, V1, K2, V2](
      f: (K1, V1) => IterableOnce[(K2, V2)]): MrStep[K1, V1, K2, V2, K2, V2] =
    MrStep(mapper = f, reducer = idReducer[K2, V2])

  /** Identity mapper (inserted when a step only has reduce-side
    * substeps — mrjob/step.py:79-80). */
  def idMapper[K, V]: (K, V) => IterableOnce[(K, V)] =
    (k, v) => Iterator.single((k, v))
}
