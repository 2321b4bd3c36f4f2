package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Iterative graph analytics over corpus-derived graphs. Companion to
  * the connected-components machinery in [[DedupOps.resolveDupClusters]]
  * and the degree-ordered triangle count in [[TextQueries.triangleCount]].
  *
  * No mrjob analog beyond "you could chain MR steps in a loop"; the
  * engine expresses each round declaratively (join + partial-agg) and
  * truncates lineage with localCheckpoint between rounds (the BpeOps
  * lesson: persist alone leaves an O(rounds)-deep plan whose re-analysis
  * dwarfs the actual math).
  */
object GraphOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Distinct directed word-adjacency edges (consecutive-token pairs,
    * self-loops dropped) — the same graph triangleCount orients. */
  private def wordEdges(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir).select(split(col("text"), " ").as("ts"))
    toks.filter(size(col("ts")) >= 2)
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1).as("src"),
        slice(col("ts"), lit(2), size(col("ts")) - 1).as("dst"))).as("p"))
      .select(col("p.src"), col("p.dst"))
      // empty tokens from consecutive spaces would otherwise become a
      // "" node that receives and redistributes rank mass
      .filter(col("src") =!= col("dst") &&
        length(col("src")) > 0 && length(col("dst")) > 0)
      .distinct()
  }

  /** PageRank over the word-adjacency graph, [[PrIters]] fixed rounds,
    * damping 0.85 — ALL INTEGER arithmetic so the result is
    * cross-engine exact and fully oracled: ranks are held in ppm
    * (r₀ = 10⁶), per-edge contribution is `r DIV out_degree`, and the
    * damping update is `150000 + (850·Σcontrib) DIV 1000`. Dangling
    * mass (nodes with no out-edges) is dropped — the standard
    * simplified variant, stated here as the contract; both engines
    * drop it identically.
    *
    * Scale shape: edge extraction is one corpus scan + one distinct
    * shuffle (the dominant cost at 100 TB — the graph itself is
    * vocab²-bounded, independent of corpus size). Each round is one
    * join + partial-agg shuffle over E on the same src key; the
    * out-degree join is fused once before the loop so the per-round
    * plan is rank ⋈ pre-weighted edges → groupBy(dst). Fixed round
    * count ⇒ statically bounded job DAG; localCheckpoint per round
    * keeps analysis O(1) per round instead of O(round). */
  val PrIters = 10

  /** Target edges per task for the iterated loop relations — the
    * per-round join/agg work is a few ns per edge, so ~250k rows
    * keeps each task in the low-ms range at any scale. */
  private val EdgesPerLoopTask = 250000L

  def pageRank(spark: SparkSession, dir: String,
      iters: Int = PrIters): DataFrame = {
    val e = wordEdges(spark, dir).persist()
    // SIZE-ADAPTIVE loop parallelism (r14): the iterated relations
    // are vocab²-bounded — usually orders of magnitude smaller than
    // the corpus that produced them — but persist() froze them at the
    // session default, so every one of the 10 rounds ran
    // defaultParallelism-task stages over kilobytes (measured at
    // sf0.1: 900 distinct edges / 31 nodes on 32-task stages, 4–7 s
    // of per-stage CPU that was pure task overhead — ~90% of the
    // row's wall). Deriving the partition count from the measured
    // edge count (the count also materializes the persist, so it adds
    // no extra pass) schedules 10 × ~5 one-task stages here while a
    // 10⁹-edge corpus still gets its full defaultParallelism.
    val loopParts = Tables.width(spark, e.count(), EdgesPerLoopTask)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("c"))
    // pre-fuse out-degree onto edges: the loop body then touches one
    // relation, shuffled once on src and reused every round
    val edges = e.join(deg, "src")
      .repartition(loopParts, col("src")).persist()
    val nodes = e.select(col("src").as("w"))
      .union(e.select(col("dst").as("w"))).distinct()
      .repartition(loopParts, col("w")).persist()
    var ranks = nodes.select(col("w"), lit(1000000L).as("r"))
    for (i <- 1 to iters) {
      val inMass = edges.join(ranks, edges("src") === ranks("w"))
        .groupBy(col("dst")).agg(sum(expr("r DIV c")).as("m"))
      ranks = nodes.join(inMass, nodes("w") === inMass("dst"), "left")
        .select(col("w"),
          expr("150000 + (850 * COALESCE(m, 0)) DIV 1000").as("r"))
      // eager checkpoint every THIRD round (and on the last): each
      // localCheckpoint is a full materialize-and-cache job; three
      // rounds of lineage still analyze fast while cutting those
      // jobs — measured at sf0.1: 5.6 s per-round, 3.9 every 2nd,
      // 3.5 every 3rd, 3.7 every 4th (analysis depth wins back the
      // saved job) — every 3rd is the floor of this trade
      if (i % 3 == 0 || i == iters) ranks = ranks.localCheckpoint()
    }
    e.unpersist()
    edges.unpersist()
    nodes.unpersist()
    ranks.select(col("w").as("word"), col("r").as("rank_ppm"))
      .orderBy(col("word"))
  }

  /** Oracle: the identical integer recurrence, unrolled one CTE per
    * round (portable everywhere — no recursive-CTE aggregation rules
    * to depend on). */
  val pageRankSql: String = {
    val rounds = (1 to PrIters).map { i =>
      s"""r$i AS (
         |  SELECT n.w AS w,
         |    CAST(150000 + (850 * COALESCE(s.m, 0)) // 1000 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS w, CAST(SUM(r.r // e.c) AS BIGINT) AS m
         |    FROM ed e JOIN r${i - 1} r ON r.w = e.src
         |    GROUP BY e.dst) s ON n.w = s.w)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
       |pr AS (
       |  SELECT p.src AS src, p.dst AS dst FROM (
       |    SELECT unnest(list_transform(range(1, len(ts)),
       |      i -> {'src': ts[i], 'dst': ts[i + 1]})) AS p
       |    FROM toks) t),
       |e AS (SELECT DISTINCT src, dst FROM pr
       |      WHERE src <> dst AND length(src) > 0 AND length(dst) > 0),
       |deg AS (SELECT src, COUNT(*) AS c FROM e GROUP BY src),
       |ed AS (SELECT e.src, e.dst, d.c FROM e JOIN deg d ON e.src = d.src),
       |nodes AS (SELECT DISTINCT src AS w FROM e
       |          UNION SELECT DISTINCT dst AS w FROM e),
       |r0 AS (SELECT w, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT w AS word, r AS rank_ppm FROM r$PrIters
       |ORDER BY word""".stripMargin
  }
}
