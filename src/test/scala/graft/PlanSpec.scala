package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plan-quality gates: the properties that make these queries hold at
  * 100 TB, asserted against the actual physical plans so regressions
  * (a filter that stops reaching the scan, a broadcast that becomes a
  * shuffle, a lost partial agg) fail the build — not just slow it. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val dir = SparkFixture.Sf0001

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q2: predicates are pushed into the parquet scan, schema pruned") {
    val p = plan(operators.RelationalQueries.q2FilterProject(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"no pushed filters:\n$p")
    assert(!p.contains("l_shipdate"), "reads columns the query never uses")
  }

  test("q3: dimension joins broadcast; aggregation is partial+final") {
    val p = plan(operators.RelationalQueries.q3JoinAgg(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"dims not broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
  }

  test("q4: top-k is TakeOrdered, not a global sort") {
    val p = plan(operators.RelationalQueries.q4TopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"global sort for top-k:\n$p")
  }

  test("word_freq: partial aggregation before the shuffle") {
    val p = plan(operators.TextQueries.wordFreq(spark, dir))
    assert("HashAggregate".r.findAllIn(p).size >= 2 ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"no partial agg:\n$p")
  }

  test("grep: filter reaches the scan (no full-scan-then-filter of other cols)") {
    val p = plan(operators.TextQueries.grep(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull"), s"nothing pushed:\n$p")
  }

  test("ann_topk: query side is broadcast (no shuffle of the big side)") {
    val p = plan(operators.SimilarityOps.annTopK(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"queries not broadcast:\n$p")
  }

  test("windowed top-k gets WindowGroupLimit (map-side k-pruning before shuffle)") {
    // rank()<=k filters must not shuffle the full input: Spark's
    // InferWindowGroupLimit inserts partial limits — the reason the
    // window form of per-key top-k survives 100 TB. If this ever
    // disappears (regression or a plan shape change), the query
    // silently becomes a full-shuffle window.
    val p = plan(operators.SimilarityOps.annTopK(spark, dir))
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"no partial window limit:\n$p")
    // every registered row ranked by the VecSearch kernel keeps at least
    // the WindowGroupLimit count its plan had before the kernel existed
    // (ann_matryoshka, mmr_rerank and pq_topk rank inside construction
    // checkpoints, so their registered plans show none to count)
    Seq("ann_topk" -> 2, "hard_negatives" -> 2, "ann_ivf_topk" -> 3,
      "ann_ivf_probe" -> 3, "ann_ivf_probe_recall" -> 5,
      "ann_lsh_topk" -> 2, "ann_lsh_probe" -> 2,
      "ann_lsh_probe_recall" -> 4, "ann_ingest" -> 6,
      "ann_filtered" -> 4, "ann_int8" -> 3, "bitext_margin" -> 2)
      .foreach { case (row, parent) =>
        val rp = plan(SparkEntry.queries(row)(spark, dir))
        assert("WindowGroupLimit".r.findAllIn(rp).size >= parent,
          s"$row lost a partial window limit:\n$rp")
      }
  }

  test("ann_lsh_probe: two builds print the same normalized plan") {
    def dump(): String = PlanDump.normalize(
      SparkEntry.queries("ann_lsh_probe")(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode))
    val first = dump()
    assert(!first.contains("[[D@"), s"plane array identity in plan:\n$first")
    assert(dump() == first)
  }

  /** Broadcast HINTS force a collect-to-driver regardless of size — on
    * a vocabulary-sized relation (one row per distinct term: 10⁸⁺ at
    * 100 TB) that is a scale-killer. These gates pin the contract that
    * only fixed-cardinality relations (single-row counts, lang-sized
    * dims) may carry a hint; anything vocab-sized must join unhinted so
    * AQE's SIZE-BASED broadcast decides at runtime. */
  private def hintCount(df: DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }.size

  test("tf_idf: only the single-row corpus count is broadcast-hinted") {
    assert(hintCount(operators.TextQueries.tfIdf(spark, dir)) == 1)
  }

  test("word_pmi: only the single-row corpus count is broadcast-hinted") {
    assert(hintCount(operators.TextAnalysis.wordPmi(spark, dir)) == 1)
  }

  test("text_classifier: broadcast hints only on lang-sized/single-row " +
    "relations; the token×vocab join is a shuffle join building the " +
    "vocab side") {
    // r13 restructure: the only BROADCAST hints are lang-cardinality
    // or single-row relations (langTotals, vocab, unseen, nDocs,
    // labelInfo — some duplicated across subtrees). The vocab-sized
    // delta table joins the token stream via a SHUFFLE_HASH strategy
    // hint (counted separately — it forces a distributed build, the
    // OPPOSITE of a collect): unhinted, the planner broadcast the
    // EXPLODED TOKEN STREAM (its size estimate is the parquet scan's,
    // explode multiplies rows but not stats) — a serial single-task
    // ~250 MB hashed-relation build at the 10× probe, and the corpus
    // to the driver at 100 TB.
    val df = operators.TextClassifier.classify(spark, dir)
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint, SHUFFLE_HASH}
    val hints = df.queryExecution.analyzed.collect {
      case h: ResolvedHint => h.hints.strategy
    }
    assert(hints.count(_.contains(BROADCAST)) <= 8,
      "a vocab-sized broadcast hint likely reappeared")
    assert(hints.count(_.contains(SHUFFLE_HASH)) === 1,
      "the token×vocab join lost its shuffle-hash pin")
    val p = plan(df)
    assert(p.contains("ShuffledHashJoin"),
      s"token×vocab join is not a shuffle hash join:\n$p")
  }

  test("dedup_embedding: blocked equi-join on label, no cartesian, no hint") {
    val df = operators.SimilarityOps.dedupEmbeddingBlocked(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"blocking key lost — pair scan went quadratic:\n$p")
    assert(hintCount(df) == 0)
  }

  test("catalog-wide: no CartesianProduct; BNLJ only on bounded broadcast sides") {
    // The round-2 verdict's 100 TB gate: no registered query may plan a
    // CartesianProduct, and BroadcastNestedLoopJoin may appear only
    // where the broadcast side has FIXED cardinality by construction
    // (not data-sized). The allowlist documents each such side.
    val bnljBounded = Map(
      "ann_topk" -> "broadcast side = QueryCount (8) query vectors",
      "hard_negatives" -> "broadcast side = QueryCount (8) query vectors",
      "dsir_select" -> "broadcast side = single-row LM model totals",
      "kn_bigram" -> "broadcast side = single-row bigram-type total",
      "ann_ivf_topk" -> "broadcast sides = `cells` (16) centroids",
      "ann_ivf_probe" -> "broadcast sides = `cells` (16) centroids",
      "ann_ingest" -> "broadcast sides = `cells` (16) live centroids",
      "ann_filtered" -> "broadcast sides = `cells` (16) centroids (probe phase; the label predicate rides the cell equi-join)",
      "ann_int8" -> "broadcast side = QueryCount (8) query vectors (int8-code shortlist phase)",
      "tf_idf" -> "broadcast side = single-row corpus doc count",
      "word_pmi" -> "broadcast side = single-row corpus totals",
      "doc_perplexity" -> "broadcast side = single-row LM totals",
      "text_classifier" -> "broadcast sides = lang-cardinality priors",
      "boilerplate_ratio" -> "broadcast side = single-row trigram df total",
      "wc" -> "single-row global aggregate",
      "most_used_word" -> "single-row argmax",
      "seeded_sample" -> "single-row threshold",
      "domain_mix" -> "broadcast side = single-row corpus token total",
      "mix_sample" -> "broadcast side = single-row min-token total",
      "sample" -> "single-row count",
      "next_word_stats" -> "single-row total",
      "ppl_filter" -> "broadcast sides = single-row corpus count + single-row p75 threshold",
      "triangle_count" -> "broadcast sides = single-row edge/node totals",
      "kmeans_assign" -> "broadcast side = k (8) centroids per round",
      "semdedup" -> "broadcast side = k (8) centroids per round (assignment phase)",
      "semdedup_scaled" -> "broadcast side = ⌈N/64⌉ centroids per round — bounded cluster SIZE, same plan shape as semdedup",
      "doc_sim_sparse" -> "broadcast side = single-row corpus doc count",
      "pq_topk" -> "broadcast sides = ks (16) sub-codebook centroids per Lloyd round, the Q·M·Ks ADC LUT, and the Q·Shortlist re-rank shortlist",
      "bm25_topk" -> "broadcast side = single-row N/Σdl stats (twice: idf and scoring)",
      // length_curriculum left the list in round 4: its corpus count
      // now rides the rank-offsets job, so no broadcast join remains
      "zorder_layout" -> "broadcast side = single-row key-range bounds",
      "events_gap_stats" -> "broadcast side = single-row gap count",
      "drift_ks" -> "broadcast sides = distinct-n_chars support grid (value-domain-bounded) + single-row corpus count",
      "events_drift_ks" -> "broadcast sides = distinct-value-cents support grid (value-domain-bounded) + single-row event count (the drift_ks shape on the metrics domain)",
      // r8 audit rows: each composes an already-allowlisted probe leg
      // with the exact top-k leg (QueryCount-bounded broadcast)
      "ann_ivf_probe_recall" -> "broadcast sides = cells (16) centroids (probe leg) + QueryCount (8) query vectors (exact leg)",
      "ann_lsh_probe_recall" -> "broadcast side = QueryCount (8) query vectors (exact leg)",
      "semdedup_scaled_audit" -> "broadcast sides = k centroids per Lloyd round (both semdedup legs) + the single-row × single-row gate combine",
      "semdedup_shortlist_audit" -> "broadcast sides = k/C centroid tables (assignment legs) + the single-row × single-row gate combine",
      // r10: the fusion reuses annTopK (QueryCount broadcast) and
      // docSimSparse (single-row corpus count) verbatim — the BNLJs
      // are the constituents' own allowlisted sides
      "rrf_hybrid" -> "broadcast sides = QueryCount (8) query vectors (dense leg) + single-row corpus doc count (sparse leg)",
      // r10 late: margin mining — both neighbor scans are broadcast
      // small-side passes over the corpus (the annTopK contract)
      "bitext_margin" -> "broadcast sides = BitextQueryCount (8) query vectors (forward) + ≤ Q·K (32) candidate vectors (backward)",
      "split_leakage" -> "broadcast side = single-row straddle-counter aggregate crossed with the single-row split-count aggregate",
      // composition of allowlisted constituents: domainMix's single-row
      // token total + driftKs's value-domain support grid
      "source_card" -> "broadcast sides = the constituents' own bounded sides (domain_mix single-row total; drift_ks support grid)",
    )
    for ((name, q) <- SparkEntry.queries) {
      val p = plan(q(spark, dir))
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$p")
      if (!bnljBounded.contains(name))
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BNLJ over a side not in the bounded allowlist:\n$p")
    }
  }

  test("semdedup_shortlist: downstream within-cluster join shape matches " +
    "semdedup_scaled (equi-join on cluster, no cartesian/BNLJ)") {
    // the shortlist changes only HOW the assignment is computed (its
    // coarse/fine probes are broadcast joins inside the checkpointed
    // assignment job); the returned plan — the Σ cluster² pair join —
    // must keep the scaled row's shape exactly
    val p = plan(graft.operators.ClusterOps.semDedupShortlist(spark, dir))
    val q = plan(graft.operators.ClusterOps.semDedupScaled(spark, dir))
    for ((nm, x) <- Seq("semdedup_shortlist" -> p, "semdedup_scaled" -> q)) {
      assert(!x.contains("CartesianProduct") &&
        !x.contains("BroadcastNestedLoopJoin"),
        s"$nm pair join lost its equi-join shape:\n$x")
      assert(x.contains("SortMergeJoin") || x.contains("ShuffledHashJoin") ||
        x.contains("BroadcastHashJoin"),
        s"$nm has no hash/merge equi-join for the cluster pair scan:\n$x")
    }
  }

  test("bm25_topk: per-term top-k gets WindowGroupLimit pruning and the " +
    "query-term filter reaches below the aggregations") {
    val p = plan(graft.operators.SparseSimOps.bm25TopK(spark, dir))
    // a single Final-mode limit (no Partial pair): the scoring stream
    // reaches the window already term-partitioned via the tf agg's
    // exchange + broadcast joins, so there is no pre-shuffle stage to
    // prune — the limit still bounds the per-term sort to k rows
    assert(p.contains("WindowGroupLimit"),
      s"bm25 rank filter not pushed into a window group limit:\n$p")
    assert(p.contains("Filter term#") && p.contains(" IN (customer,"),
      s"query-term IN filter not below the aggregations:\n$p")
  }

  test("dedup_jaccard: LSH candidates, no block×block product join") {
    // the candidate join must be an equi-join on band buckets — a
    // plain (lang, source) equi-join self-join would be the quadratic
    // all-pairs shape this query exists to avoid. The registered row
    // serves the per-(session, dir) memoized checkpoint, so the
    // SHAPE is asserted on the compute pipeline and the row is pinned
    // to consume the materialized relation.
    val p = plan(operators.DedupOps.dedupJaccardCompute(spark, dir))
    assert(p.contains("bh"), s"no band-hash join key in plan:\n$p")
    val served = plan(operators.DedupOps.dedupJaccard(spark, dir))
    assert(served.contains("Scan ExistingRDD"),
      s"registered row must read the memoized pair checkpoint:\n$served")
  }

  test("dedup_minhash: band-bucket equi-join candidates, no pair scan") {
    // the corpus-wide exact contract must get its candidates from the
    // (band, bh) bucket join — any plan where the candidate join keys
    // degrade to a non-equi or cross shape is the N² scan this query
    // exists to avoid
    val p = plan(operators.DedupOps.dedupMinhash(spark, dir))
    assert(p.contains("bh"), s"no band-hash join key in plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation went quadratic:\n$p")
  }

  test("tf_idf: scans prune to (doc_id, text); the count branch reads zero columns") {
    val p = plan(operators.TextQueries.tfIdf(spark, dir))
    assert(!p.contains("n_chars") && !p.contains("source"),
      s"reads columns the query never uses:\n$p")
    assert(p.contains("ReadSchema: struct<>"),
      s"corpus-count branch should scan no columns:\n$p")
  }

  test("group_sample: per-source seeded top-k gets WindowGroupLimit pruning") {
    // the operator's 100 TB claim: a giant source moves partitions×k
    // rows, never the group — requires the partial window limit
    val p = plan(operators.PipelineOps.groupSample(spark, dir))
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"no partial window limit:\n$p")
  }

  test("phone_to_url: per-phone argmin gets WindowGroupLimit pruning") {
    val p = plan(operators.PhoneToUrl.phoneToUrl(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"rk=1 filter lost its partial window limit:\n$p")
  }

  test("doc_sim_sparse: champion-list cap AND per-doc top-k both get " +
    "WindowGroupLimit pruning") {
    // the operator's linearity claim rests on the champion row_number
    // pruning map-side — a full posting list must never shuffle
    val p = plan(operators.SparseSimOps.docSimSparse(spark, dir))
    assert("WindowGroupLimit".r.findAllIn(p).size >= 4,
      s"champion/top-k partial window limits missing:\n$p")
  }

  test("keyword_tag: dictionary is broadcast; corpus side never shuffles " +
    "before the join") {
    val p = plan(operators.TextQueries.keywordTag(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"dictionary not broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
  }

  test("table_profile: one scan; distinct-value compaction is " +
    "HASH-aggregated (no corpus-wide sort agg)") {
    val p = plan(operators.RelationalQueries.tableProfile(spark, dir))
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"profile re-scans the table:\n$p")
    // stage 1 (over the exploded corpus) must stay HashAggregate; the
    // only sort-based agg allowed is the summary over the compacted
    // distinct-value table — i.e. the FIRST agg above the Generate is
    // a hash agg. String buffers in stage 1 would flip it to
    // SortAggregate (measured 14x slower at sf0.1).
    val firstAggAboveGenerate = p.split("\n").reverse
      .dropWhile(l => !l.contains("Generate")).find(_.contains("Aggregate"))
    assert(firstAggAboveGenerate.exists(_.contains("HashAggregate")),
      s"corpus-side agg fell out of hash aggregation:\n$p")
  }

  test("events_anomaly: type stats broadcast back; agg is partial+final") {
    val p = plan(operators.EventQueries.eventsAnomaly(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
  }

  test("events_cube: all four grouping sets run in ONE scan via Expand") {
    val p = plan(operators.EventQueries.eventsCube(spark, dir))
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"cube re-scans the table:\n$p")
    assert(p.contains("Expand"), s"CUBE lost its Expand plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
  }

  test("zorder_layout: z-value is codegen'd; bucket agg is partial+final") {
    val df = operators.RelationalQueries.zorderLayout(spark, dir)
    val cg = df.queryExecution
      .explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(cg.contains("WholeStageCodegen"),
      s"bit algebra fell out of codegen:\n$cg")
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
  }

  test("ann_ivf_topk: centroid set is broadcast, cells drive the join") {
    // the ONLY broadcast-able relations here are the fixed-cardinality
    // centroid sets — vectors themselves must never be collected.
    // Index construction now lives behind the per-(session, dir)
    // memo, so its broadcast shape is asserted on the build pipeline
    // and the serving plan keeps only the probe/search broadcasts.
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val build = operators.SimilarityOps.ivfAssign(e)
    assert(hintCount(build) == 1,
      "index build broadcasts exactly the centroid set")
    assert(plan(build).contains("BroadcastNestedLoopJoin") ||
      plan(build).contains("BroadcastHashJoin"),
      s"assignment centroids not broadcast:\n${plan(build)}")
    val df = operators.SimilarityOps.annIvfTopK(spark, dir)
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"centroids not broadcast:\n$p")
    assert(hintCount(df) == 1,
      "exactly the probe-centroid broadcast may be hinted")
  }

  test("ann_lsh_topk: one posexplode bucket join, no per-table union") {
    // round-2 verdict: the per-table form planned `tables` separate
    // bucket joins + a union; the fix is the dedupEmbeddingLsh shape —
    // one (tbl, bk) equi-join, then two vector-fetch joins for rerank.
    val p = plan(operators.SimilarityOps.annLshTopK(spark, dir))
    assert(!p.contains("Union"), s"per-table union is back:\n$p")
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).size
    assert(joins <= 3,
      s"expected 1 candidate join + 2 rerank joins, got $joins:\n$p")
  }

  test("source_overlap: shingle self-join is a hash equi-join on the " +
      "64-bit hash; totals aggregate partial+final") {
    val p = plan(operators.TextAnalysis.sourceOverlap(spark, dir))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"shingle join is not an equi-join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
  }

  test("prototype_prune: label-cardinality centroid table broadcasts; " +
      "no shuffle of the corpus for the join") {
    val p = plan(operators.ClusterOps.prototypePrune(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"centroids not broadcast:\n$p")
  }

  test("drift_ks: one corpus scan — all five derived subtrees read the " +
    "checkpointed histogram, never the parquet") {
    // The corpus's single FileScan runs INSIDE ksOfHist's eager
    // histogram localCheckpoint; the final plan must therefore contain
    // ZERO parquet scans (a re-scan sneaking back under any derived
    // subtree re-introduces the measured five-scan plan) and its
    // consumers must read the materialized histogram RDD.
    val p = plan(operators.TextAnalysis.driftKs(spark, dir))
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      s"a derived subtree re-scans the corpus:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 3,
      s"derived subtrees no longer read the checkpointed histogram:\n$p")
  }

  test("pretrain_pipeline: the corpus is scanned no more times than " +
    "the heaviest constituent stage (decontaminate's two)") {
    // The two corpus scans run INSIDE the two localCheckpoint
    // materializations (the s2 survivor relation and the shingle
    // expansion — one each, equal to decontaminate's own two); the
    // near-dup labels arrive as a checkpointed RDD (zero scans). The
    // FINAL plan must therefore contain no parquet scan at all — any
    // that appears means a stage stopped sharing its subtree (the
    // un-materialized form measured SIX scans: every s2/s3 consumer
    // re-ran the whole quality-gate subtree).
    val p = plan(operators.TextAnalysis.pretrainPipeline(spark, dir))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 0,
      s"pretrain_pipeline re-scans the corpus $scans times:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 2,
      s"checkpointed survivor/shingle/label relations not consumed:\n$p")
  }

  test("media_pipeline: one corpus scan total — the checkpointed " +
    "(doc_id, text) relation feeds all five payload legs; labels " +
    "arrive from the memoized fingerprint graphs") {
    // The single documents FileScan runs INSIDE the base
    // localCheckpoint; the final plan must contain ZERO parquet scans
    // (a parse leg re-scanning the corpus would quadruple the
    // heaviest stage) and read the materialized RDD once per leg.
    val p = plan(operators.MultimodalOps.mediaPipeline(spark, dir))
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      s"a payload leg re-scans the corpus:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 5,
      s"payload legs no longer share the checkpointed corpus:\n$p")
  }

  test("ingest_door: one corpus scan total — the checkpointed " +
    "(doc_id, text, source) relation feeds all five gate stages") {
    // The un-checkpointed composition re-scanned the tiny test
    // parquet 15× (once per stage leg) — at scale that is 15 corpus
    // scans. The final plan must contain ZERO parquet scans and read
    // the materialized RDD once per gate leg.
    val p = plan(operators.IngestDoor.ingestDoor(spark, dir))
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      s"a gate stage re-scans the corpus:\n$p")
    assert("Scan ExistingRDD".r.findAllIn(p).size >= 6,
      s"gate stages no longer share the checkpointed corpus:\n$p")
  }

  test("dedup_substring: join-free — three window/agg passes, no " +
    "candidate pairs (the §2.5 row's structural claim)") {
    // The removal is windows + one grouped count + the reassembly agg;
    // ANY join node means a pair-candidate shape crept back in.
    val p = plan(operators.DedupOps.dedupSubstring(spark, dir))
    assert(!p.contains("Join"),
      s"exact-substring removal must stay join-free:\n$p")
    assert("Window".r.findAllIn(p).size >= 2,
      s"expected the rolling-window and coverage passes:\n$p")
  }

  test("dedup_url: one hash aggregation on the canonical key, no joins") {
    val p = plan(operators.DedupOps.dedupUrl(spark, dir))
    assert(!p.contains("Join"), s"URL dedup must be join-free:\n$p")
    assert(p.contains("HashAggregate"),
      s"expected the canonical-key hash aggregation:\n$p")
  }

  test("embed_probe: scoring is a join-free literal-dot projection — " +
    "the only exchange is the output ordering") {
    val p = plan(operators.ProbeOps.embedProbe(spark, dir))
    assert(!p.contains("Join"), s"probe scoring must be join-free:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"probe scoring should shuffle only for the output sort:\n$p")
  }

  test("pii_detect: one corpus scan pruned to (doc_id, source, text), " +
    "join-free, partial+final aggregation") {
    val p = plan(operators.PiiOps.piiDetect(spark, dir))
    assert("FileScan".r.findAllIn(p).size == 1,
      s"PII census must be a single scan:\n$p")
    assert(!p.contains("n_chars") && !p.contains("lang"),
      s"scan reads columns the census never uses:\n$p")
    assert(!p.contains("Join"), s"PII census must be join-free:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation before the source shuffle:\n$p")
  }

  test("pii_redact: one scan, join-free — regexp match+replace stays " +
    "a per-row projection (the only exchange is the output ordering)") {
    val p = plan(operators.PiiOps.piiRedact(spark, dir))
    assert("FileScan".r.findAllIn(p).size == 1, s"single scan:\n$p")
    assert(!p.contains("Join"), s"redaction must be join-free:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"redaction should shuffle only for the output sort:\n$p")
  }

  test("events_interval_join: the range join is a hash/sort equi-join " +
    "on (user, bucket) — never a nested-loop over per-user history") {
    val p = plan(operators.EventQueries.eventsIntervalJoin(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range condition fell out of the join key:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"expected an equi-join on (user_id, bkt):\n$p")
    assert(p.contains("bkt"), s"bucket key missing from the plan:\n$p")
  }

  test("dedup_cdc: chunk lists come from ONE materialized relation " +
    "(no re-chunking scan), the dup degree is a hash equi-join on the " +
    "chunk, and no pair-shaped join appears") {
    val p = plan(operators.DedupOps.dedupCdc(spark, dir))
    assert(!p.contains("FileScan"),
      s"consumers must read the checkpointed chunk lists, not re-scan " +
        s"parquet:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"dup-ness is a per-chunk degree, never a pair join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final aggs on both legs:\n$p")
  }

  test("ppl_filter / events_gap_stats: no unpartitioned window — the " +
    "quantile prefix sums ride the distributed rank-offsets job") {
    // r12 verdict #3: these two histogram domains are NOT ppm-bounded
    // (micro-nat scores ~min(N, 2·10⁷); gap-seconds ~time-span), so an
    // unpartitioned running-sum window funnels up to ~10⁷⁺ histogram
    // rows through ONE WindowExec task at 100 TB.
    // GlobalRank.withRunningSum replaced it; any window still in these
    // plans must carry partition keys (events' per-user lag). Global
    // windows over genuinely value-domain-bounded grids (≤10⁶ rows by
    // construction — drift_ks' n_chars support, ppm histograms, k-row
    // centroid seeds) remain legitimate elsewhere.
    for ((nm, df) <- Seq(
        "ppl_filter" -> operators.TextAnalysis.pplFilter(spark, dir),
        "events_gap_stats" ->
          operators.EventQueries.eventsGapStats(spark, dir))) {
      val unpart = df.queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(unpart.isEmpty,
        s"$nm still plans an unpartitioned window:\n${plan(df)}")
    }
  }

  test("pair-join kernel: both sides of every bucket self-join read one " +
    "numbered repartition over the checkpoint") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
      ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the single-child chain below one join input, down to its leaf
    def chain(p: SparkPlan): List[SparkPlan] = p match {
      case r: ReusedExchangeExec => r :: chain(r.child)
      case _ if p.children.size == 1 => p :: chain(p.children.head)
      case _ => List(p)
    }
    def scanId(c: List[SparkPlan]) = c.last match {
      case s: RDDScanExec => Some(s.rdd.id)
      case _ => None
    }
    val bad = PlanDump.pairJoinFrames(spark, dir).flatMap { case (nm, frame) =>
      val p = frame().queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      // a bucket self-join: both inputs are chains over ONE checkpoint
      val sides = p.collect { case j: BaseJoinExec =>
        Seq(chain(j.left), chain(j.right)) }
        .filter(s => scanId(s(0)).isDefined && scanId(s(0)) == scanId(s(1)))
        .flatten
      val shuffles = sides.map(_.collect { case s: ShuffleExchangeExec =>
        s.shuffleOrigin })
      if (sides.isEmpty) Some(s"$nm: no bucket self-join in\n$p")
      else shuffles.find(_ != Seq(REPARTITION_BY_NUM)).map(s =>
        s"$nm: a self-join side reads $s over the checkpoint in\n$p")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("whole-stage codegen covers the word_freq pipeline") {
    val cg = operators.TextQueries.wordFreq(spark, dir)
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(cg.contains("WholeStageCodegen"), s"no codegen spans:\n$cg")
  }
}
