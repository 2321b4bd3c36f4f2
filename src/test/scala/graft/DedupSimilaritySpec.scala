package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, SimilarityOps}
import graft.functions.VectorOps

/** Semantic validation for the non-oracled approximate operators:
  * MinHash/SimHash/LSH are seed-defined, so instead of a SQL oracle we
  * pin their behavior against brute-force ground truth on corpora with
  * planted near-duplicates. */
class DedupSimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  /** Corpus with planted near-dups: 0↔1 near-identical (one token
    * changed), 2↔3 identical, the rest distinct-ish. */
  private def plantedDocs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " +
      "while the cat sleeps under the warm table near the old door"
    Seq(
      (0L, base),
      (1L, base.replace("warm", "cold")),
      (2L, "completely different words appear here in this tiny document"),
      (3L, "completely different words appear here in this tiny document"),
      (4L, "spark catalyst tungsten shuffle partition broadcast join agg"),
      (5L, "unrelated content about mountains rivers valleys and storms"))
      .toDF("doc_id", "text")
  }

  test("canonicalizeUrl collapses scheme, www, case, query, fragment " +
    "and trailing slash; schemeless input passes through") {
    import spark.implicits._
    val canon = Seq(
      "https://WWW.Site.example/p/3?q=2",
      "http://www.site.example/p/3#frag",
      "https://Site.example/p/3/",
      "site.example/p/3")
      .toDF("url")
      .select(DedupOps.canonicalizeUrl(col("url")).as("c"))
      .as[String].collect().toSet
    assert(canon == Set("site.example/p/3"),
      s"all variants must canonicalize identically, got $canon")
  }

  test("canonicalizeUrl is idempotent and its output satisfies the " +
    "canonical-form contract over the full variant cross-product") {
    import spark.implicits._
    // every combination of the mint's variant axes (plus hosts the
    // mint never produces), one Spark job for all of them
    val urls = for {
      scheme <- Seq("https://", "http://", "")
      www    <- Seq("WWW.", "www.", "")
      host   <- Seq("s.example", "S.EXAMPLE", "deep.sub.t.example")
      path   <- Seq("/p/0", "/p/12", "")
      junk   <- Seq("?utm=9", "#frag", "/", "")
    } yield scheme + www + host + path + junk
    val out = urls.toDF("url")
      .select(col("url"),
        DedupOps.canonicalizeUrl(col("url")).as("c1"))
      .select(col("c1"), DedupOps.canonicalizeUrl(col("c1")).as("c2"))
      .as[(String, String)].collect()
    assert(out.length == urls.length)
    out.foreach { case (c1, c2) =>
      assert(c1 == c2, s"not idempotent: $c1 -> $c2")
      assert(!c1.contains("://") && !c1.contains("?") && !c1.contains("#"),
        s"scheme/query/fragment survived: $c1")
      assert(!c1.startsWith("www.") && !c1.endsWith("/"),
        s"www./trailing-slash survived: $c1")
      assert(c1 == c1.toLowerCase, s"case survived: $c1")
    }
  }

  test("dedupUrl groups every minted variant of one page under one " +
    "min-id survivor; other sources and pages stay separate; " +
    "null/negative rows drop out") {
    import spark.implicits._
    val docs = Seq[(java.lang.Long, String)](
      (0L, "s"), (1L, "s"), (2L, "s"), (3L, "s"), (4L, "s"), (5L, "s"),
      (6L, "t"),              // same page number, different host
      (140L, "s"),            // same host, next page span
      (null, "s"), (7L, null) // no URL mintable — must drop, not throw
    ).toDF("doc_id", "source")
      .union(Seq((-1L, "s")).toDF("doc_id", "source"))
    val out = DedupOps.dedupUrlOn(docs).collect()
    assert(out.length == 3, s"expected 3 canon groups, got ${out.toSeq}")
    val byCanon = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // six distinct raw variants of s.example/p/0, one survivor, id 0
    assert(byCanon("s.example/p/0") == ((0L, 6L, 6L)))
    assert(byCanon("t.example/p/0") == ((6L, 1L, 1L)))
    assert(byCanon("s.example/p/1") == ((140L, 1L, 1L)))
  }

  test("substringCleanOn cuts a cross-doc duplicated 8-token run from " +
    "BOTH docs, cuts a within-doc repeat, and passes short docs " +
    "through uncut") {
    import spark.implicits._
    val shared = (1 to 8).map("a" + _).mkString(" ")   // dup across docs
    val self = (1 to 8).map("b" + _).mkString(" ")     // dup within doc
    val docs = Seq(
      (0L, s"u1 u2 $shared u3"),
      (1L, s"v1 $shared v2 v3"),
      (2L, s"$self m $self"),
      (3L, "s1 s2 s3"))
      .toDF("doc_id", "text")
    val out = DedupOps.substringCleanOn(docs, hashedKey = false)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(0L) == ((11L, 8L, "u1 u2 u3")))
    assert(out(1L) == ((11L, 8L, "v1 v2 v3")))
    assert(out(2L) == ((17L, 16L, "m")),
      "the paper counts within-doc repeats: both runs are cut")
    assert(out(3L) == ((3L, 0L, "s1 s2 s3")),
      "docs below the min match length pass through uncut")
    // conservation: removed + surviving tokens == original tokens
    out.values.foreach { case (n, rm, clean) =>
      val kept = if (clean.isEmpty) 0 else clean.split(" ").length
      assert(rm + kept == n)
    }
  }

  test("substring clean production twin (xxhash64 window keys) equals " +
    "the oracle-exact string-keyed configuration") {
    import spark.implicits._
    val shared = (1 to 9).map("c" + _).mkString(" ")
    val docs = Seq(
      (0L, s"w1 $shared w2"), (1L, s"$shared x1 x2"),
      (2L, "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10"), (3L, "z1 z2"))
      .toDF("doc_id", "text")
    val byText = DedupOps.substringCleanOn(docs, hashedKey = false)
      .collect().toSeq.map(_.toSeq)
    val byHash = DedupOps.substringCleanOn(docs, hashedKey = true)
      .collect().toSeq.map(_.toSeq)
    assert(byText == byHash)
  }

  test("minhashPairs finds planted near-dups and skips unrelated docs") {
    val pairs = DedupOps.minhashPairs(plantedDocs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2L, 3L)), "identical docs must collide")
    assert(pairs.contains((0L, 1L)), "one-token-edit docs should collide")
    assert(!pairs.exists(p => p._2 >= 4L), "unrelated docs must not pair")
  }

  test("minhash jaccard estimate tracks exact shingle jaccard") {
    val pairs = DedupOps.minhashPairs(plantedDocs, threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((2L, 3L)) == 1.0, "identical docs have jaccard 1")
    val j01 = pairs((0L, 1L))
    assert(j01 > 0.5 && j01 < 1.0, s"near-dup jaccard was $j01")
  }

  test("oracled simhash: identical docs at hamming 0, chunk candidates " +
    "equal the all-pairs hamming scan (pigeonhole completeness)") {
    val hashes = DedupOps.simhashOracle(plantedDocs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(2L) == hashes(3L), "identical docs, identical fingerprint")
    hashes.values.foreach(h =>
      assert((h >>> DedupOps.SimhashOracleBits) == 0L, "60-bit domain"))
    // ground truth: brute-force hamming over the collected fingerprints
    val ids = hashes.keys.toSeq.sorted
    val brute = (for {
      i <- ids; j <- ids if i < j
      d = java.lang.Long.bitCount(hashes(i) ^ hashes(j))
      if d <= DedupOps.SimhashOracleMaxHamming
    } yield (i, j, d.toLong)).toSet
    val viaChunks = DedupOps.simhashOraclePairs(plantedDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaChunks == brute,
      s"chunk-collision pairs $viaChunks != all-pairs $brute")
    assert(brute.exists { case (i, j, d) => i == 2L && j == 3L && d == 0L })
  }

  test("widened simhash (80-bit, 4x20 chunks): identical docs at " +
    "hamming 0, chunk candidates equal the all-pairs hamming scan") {
    val fps = DedupOps.simhashWide(plantedDocs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(fps(2L) == fps(3L), "identical docs, identical fingerprint")
    fps.values.foreach { case (lo, hi) =>
      assert((lo >>> 60) == 0L, "sh_lo is a 60-bit word")
      assert((hi >>> 20) == 0L, "sh_hi is a 20-bit word")
    }
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
    val ids = fps.keys.toSeq.sorted
    val brute = (for {
      i <- ids; j <- ids if i < j
      d = ham(fps(i), fps(j))
      if d <= DedupOps.SimhashOracleMaxHamming
    } yield (i, j, d.toLong)).toSet
    val viaChunks = DedupOps.simhashWidePairs(plantedDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaChunks == brute,
      s"chunk-collision pairs $viaChunks != all-pairs $brute")
    assert(brute.exists { case (i, j, d) => i == 2L && j == 3L && d == 0L })
  }

  test("LSH ANN candidates are a subset of brute force and keep exact dups") {
    import spark.implicits._
    val dir = SparkFixture.Sf0001
    val brute = SimilarityOps.annTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.annLshTopK(spark, dir).collect()
    // well-formed: rank 1..K per query, cosine within [-1, 1]
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= SimilarityOps.K)
      assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9)
    }
    // approximate ⊆ exact isn't guaranteed per-rank, but every LSH hit
    // must be a real vector pair with the cosine brute force computed
    val lshPairs = lsh.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshPairs.forall { case (q, c) => q != c })
  }

  test("LSH ANN at bits=0 equals brute-force top-k exactly (registered " +
    "oracled config)") {
    // one table, zero hyperplanes ⇒ every vector shares bucket 0 ⇒ the
    // candidate set is complete by construction and the rerank must
    // reproduce annTopK bit-for-bit, ranks and ties included — the
    // recall-1 parameterization the ann_lsh_topk CORRECTNESS row runs
    val dir = SparkFixture.Sf0001
    val exact = SimilarityOps.annTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val full = SimilarityOps.annLshTopK(spark, dir, tables = 1, bits = 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(full == exact,
      s"bits=0 LSH diverged: missing=${exact -- full}, extra=${full -- exact}")
  }

  test("dedupJaccard LSH path returns exactly the all-pairs ground truth") {
    val dir = SparkFixture.Sf0001
    val lsh = DedupOps.dedupJaccard(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = AllPairsReference.dedupJaccardAllPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "fixture should contain near-dup pairs")
    assert(lsh == brute,
      s"LSH path diverged: missing=${brute -- lsh}, extra=${lsh -- brute}")
  }

  test("dedup_minhash (bands=rows⁻¹=32) equals all-pairs shingle-Jaccard truth") {
    val dir = SparkFixture.Sf0001
    val lsh = DedupOps.dedupMinhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = AllPairsReference.shingleJaccardAllPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "fixture should contain J >= 0.5 shingle pairs")
    assert(lsh == brute,
      s"LSH path diverged: missing=${brute -- lsh}, extra=${lsh -- brute}")
  }

  test("dedup_ingest equals the new-x-live slice of all-pairs shingle-" +
    "Jaccard truth") {
    val dir = SparkFixture.Sf0001
    def isNew(id: Long): Boolean =
      id % DedupOps.IngestMod == DedupOps.IngestRem
    val got = DedupOps.dedupIngest(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: all-pairs J >= 0.5 restricted to pairs with exactly
    // one side in the ingest batch, oriented (new, live); both-new
    // pairs are intra-batch (a batch-internal dedup's job, not this op)
    val brute = AllPairsReference.shingleJaccardAllPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (i, j, _) => isNew(i) ^ isNew(j) }
      .map { case (i, j, jac) =>
        if (isNew(i)) (i, j, jac) else (j, i, jac)
      }.toSet
    assert(brute.nonEmpty, "fixture should contain new-x-live dup pairs")
    assert(got == brute,
      s"ingest path diverged: missing=${brute -- got}, extra=${got -- brute}")
  }

  test("dedupEmbeddingLsh finds planted high-cosine dups exactly") {
    import spark.implicits._
    val e = graft.sources.Tables.load(spark, SparkFixture.Sf0001, "embeddings")
    // plant dups: copies of each vector with a tiny deterministic
    // perturbation on one component → cosine ≈ 0.9999
    val planted = e.select(col("vec_id"), col("embedding")).union(
      e.select((col("vec_id") + 100000L).as("vec_id"),
        concat(slice(col("embedding"), 1, 63),
          array(element_at(col("embedding"), 64) + lit(0.001f)))
          .as("embedding")))
    val found = SimilarityOps.dedupEmbeddingLsh(planted, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = e.select(col("vec_id")).collect().map(_.getLong(0))
    val expected = ids.map(i => (i, i + 100000L)).toSet
    assert(expected.subsetOf(found),
      s"missed planted dups: ${expected -- found}")
    // precision: every found pair really is ≥ threshold (exact verify),
    // and at this threshold only planted pairs exist
    assert(found == expected, s"unexpected pairs: ${found -- expected}")
  }

  test("dedupEmbeddingBlocked equals all-pairs ground truth within label blocks") {
    val dir = SparkFixture.Sf0001
    val e = graft.sources.Tables.load(spark, dir, "embeddings")
    val labelOf = e.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val brute = AllPairsReference.dedupEmbeddingAllPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "fixture should contain near-dup pairs")
    val expected = brute.filter { case (i, j, _) => labelOf(i) == labelOf(j) }
    assert(expected.nonEmpty, "fixture should contain same-label near-dups")
    val blocked = SimilarityOps.dedupEmbeddingBlocked(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blocked == expected,
      s"blocked path diverged: missing=${expected -- blocked}, extra=${blocked -- expected}")
  }

  test("IVF with all cells probed equals exact brute-force top-k") {
    val dir = SparkFixture.Sf0001
    val exact = SimilarityOps.annTopK(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // probes == cells → every vector is scanned → must equal brute force
    val full = SimilarityOps.annIvfTopK(spark, dir, cells = 16, probes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == exact,
      s"full-probe IVF diverged: missing=${exact -- full}, extra=${full -- exact}")
    // the approximate setting is well-formed: K ranked rows per query,
    // every hit a real pair
    val approx = SimilarityOps.annIvfTopK(spark, dir).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= SimilarityOps.K)
      assert(r.getLong(0) != r.getLong(1))
    }
  }

  test("resolveDupClusters labels every member with the component min") {
    import spark.implicits._
    // components: {1,2,3,4} as a chain, {10,11} as a pair, 20 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("i", "j")
    val labels = DedupOps.resolveDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // the RDD propagation path must agree exactly
    val viaRdd = DedupOps.resolveDupClusters(pairs, collectLimit = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaRdd == labels)
    // dedup keeps exactly one doc per component
    val kept = labels.filter { case (d, k) => d == k }.keySet
    assert(kept == Set(1L, 10L))
  }

  test("resolveDupClusters converges on a deep chain (pointer doubling)") {
    import spark.implicits._
    // a 300-deep chain: hop-by-hop propagation needs 299 rounds and
    // would exhaust the default cap; the shortcut step must collapse
    // it in O(log d) rounds
    val chain = (0L until 299L).map(i => (i, i + 1)).toDF("i", "j")
    // collectLimit = -1 forces the RDD propagation path (the fast
    // union-find path would otherwise absorb this graph)
    val labels = DedupOps.resolveDupClusters(chain, collectLimit = -1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 300)
    assert(labels.values.forall(_ == 0L),
      s"chain not fully collapsed: ${labels.filter(_._2 != 0L).take(5)}")
  }

  test("union-find fast path equals the RDD propagation on a mixed " +
    "planted graph (deep chain + triangle + pair)") {
    import spark.implicits._
    val pairs = ((0L until 120L).map(i => (i, i + 1)) ++
      Seq((1000L, 1001L), (1001L, 1002L), (1000L, 1002L),
        (2000L, 2001L))).toDF("i", "j")
    def labelsOf(limit: Long) =
      DedupOps.resolveDupClusters(pairs, collectLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = labelsOf(DedupOps.CollectPairLimit)
    val rdd = labelsOf(-1L)
    assert(fast == rdd)
    assert((0L to 120L).forall(fast(_) == 0L))
    assert(Seq(1000L, 1001L, 1002L).forall(fast(_) == 1000L))
    assert(fast(2001L) == 2000L)
  }

  test("a collectLimit at or past Int.MaxValue routes to the RDD path " +
    "with the full label set — not the driver branch with an empty " +
    "probe (round-7 advice #1)") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("i", "j")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    Seq(Int.MaxValue.toLong, Int.MaxValue.toLong + 1, Long.MaxValue)
      .foreach { limit =>
        val labels =
          DedupOps.resolveDupClusters(pairs, collectLimit = limit)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(labels == want, s"collectLimit=$limit lost labels")
      }
  }

  test("cluster resolution 3-way equality on a seeded random graph: " +
    "union-find == RDD propagation == independent BFS reference") {
    import spark.implicits._
    val rng = new scala.util.Random(20260814L)
    // 400 nodes, 250 random edges: a mix of isolated pairs, mid-size
    // components, and (whp) one giant component
    val edges = Seq.fill(250)((rng.nextInt(400).toLong,
      rng.nextInt(400).toLong)).filter { case (i, j) => i != j }
    val pairs = edges.toDF("i", "j")
    def labelsOf(limit: Long) =
      DedupOps.resolveDupClusters(pairs, collectLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: BFS component labels, min id per component
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    edges.foreach { case (i, j) =>
      adj(i) = j :: adj.getOrElse(i, Nil)
      adj(j) = i :: adj.getOrElse(j, Nil)
    }
    val want = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { n =>
      if (!want.contains(n)) {
        val seen = scala.collection.mutable.Set(n)
        var frontier = List(n)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj(_)).filterNot(seen)
          seen ++= frontier
        }
        val mn = seen.min
        seen.foreach(want(_) = mn)
      }
    }
    val fast = labelsOf(DedupOps.CollectPairLimit)
    assert(fast == want.toMap, "union-find vs BFS reference")
    assert(labelsOf(-1L) == want.toMap, "RDD propagation vs BFS reference")
  }

  test("resolveDupClusters on an empty pair set returns no labels") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("i", "j")
    assert(DedupOps.resolveDupClusters(empty).collect().isEmpty)
  }

  test("passageDedup flags shared windows across distinct docs only") {
    import spark.implicits._
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val d = Seq(
      (0L, s"$shared india juliet kilo lima mike november oscar papa"),
      (1L, s"quebec romeo sierra tango uniform victor whiskey xray $shared"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, "short doc under window length"))
      .toDF("doc_id", "text")
    val rows = DedupOps.passageDedupOn(d, w = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    // docs 0 and 1 embed the same 8-token passage at different offsets;
    // each contributes exactly one shared window (the passage itself)
    assert(rows(0L)._2 == 1L, s"doc 0 dup windows: ${rows(0L)}")
    assert(rows(1L)._2 == 1L, s"doc 1 dup windows: ${rows(1L)}")
    assert(rows(2L)._2 == 0L, "distinct doc must have no shared windows")
    // 16-token docs have 9 windows; 1/9 ≈ 111111 ppm < 200000 default
    assert(!rows(0L)._3 && !rows(2L)._3)
    // short doc: whole text is its single window, unshared
    assert(rows(3L)._1 == 1L && rows(3L)._2 == 0L)
  }

  test("passageDedup: identical docs are fully duplicated passages") {
    import spark.implicits._
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val d = Seq((0L, t), (1L, t)).toDF("doc_id", "text")
    val rows = DedupOps.passageDedupOn(d, w = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getBoolean(4))).toMap
    assert(rows(0L) == (1000000L, true) && rows(1L) == (1000000L, true),
      s"identical docs must be 100% duplicated: $rows")
  }

  test("quantized cosine equals float64 cosine to 1e-5") {
    import spark.implicits._
    val e = graft.sources.Tables.load(spark, SparkFixture.Sf0001, "embeddings")
    val a = e.select(col("vec_id").as("i"),
      col("embedding").as("va")).filter(col("i") < 3)
    val b = e.select(col("vec_id").as("j"),
      col("embedding").as("vb")).filter(col("j").between(3, 6))
    val both = a.crossJoin(b).select(
      VectorOps.cosineQ(VectorOps.quantize(col("va")),
        VectorOps.quantize(col("vb"))).as("cq"),
      VectorOps.cosine(col("va"), col("vb")).as("cf"))
    both.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-5)
    }
  }

  test("dedup_soft: weights agree with the cluster labels, singletons " +
    "get full weight, and per-cluster mass is conserved up to DIV " +
    "truncation") {
    val dir = SparkFixture.Sf0001
    val weights = DedupOps.dedupSoftWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val labels = DedupOps.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = graft.sources.Tables.load(spark, dir, "documents").count()
    assert(weights.size == nDocs)
    // cluster sizes recomputed independently from the labels
    val sizes = labels.values.groupBy(identity).view.mapValues(_.size).toMap
    weights.foreach { case (doc, (size, ppm)) =>
      labels.get(doc) match {
        case Some(keep) =>
          assert(size == sizes(keep).toLong, s"doc $doc size")
        case None => assert(size == 1L, s"doc $doc should be a singleton")
      }
      assert(ppm == 1000000L / size, s"doc $doc weight")
    }
    // per-cluster mass: size * (1e6 DIV size) in (1e6 - size, 1e6]
    weights.values.groupBy(_._1).foreach { case (size, ws) =>
      val mass = size * ws.head._2
      assert(mass <= 1000000L && mass > 1000000L - size, s"size $size")
    }
    // the fixture has real clusters, so the weights do something
    assert(weights.values.exists(_._2 < 1000000L),
      "corpus has near-dups; some weight must be reduced")
  }

  test("dedup_keep_best: exactly one survivor per cluster, and it is " +
    "the quality argmax (ties on doc_id)") {
    val dir = SparkFixture.Sf0001
    val rows = DedupOps.dedupKeepBest(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cl, members) =>
      assert(members.count(_._4) == 1, s"cluster $cl survivor count")
      val kept = members.find(_._4).get
      val best = members.minBy { case (id, _, q, _) => (-q, id) }
      assert(kept._1 == best._1, s"cluster $cl kept ${kept._1}, " +
        s"quality argmax is ${best._1}")
    }
    // survivor selection must actually differ from min-id somewhere,
    // otherwise the operator is indistinguishable from dedup_clusters
    val multi = byCluster.filter(_._2.length > 1)
    assert(multi.nonEmpty, "fixture needs real multi-doc clusters")
    assert(multi.exists { case (_, members) =>
      members.find(_._4).get._1 != members.map(_._1).min
    }, "at least one cluster's best member should not be its min id " +
      "(else the arbitration is vacuous on this fixture)")
  }

  test("clusterLabels memo: same (session, dir) returns the SAME " +
    "materialized relation (the chain runs once); different dirs " +
    "never share labels") {
    DedupOps.labelMemo.clear()
    val a1 = DedupOps.clusterLabels(spark, SparkFixture.Sf0001)
    val a2 = DedupOps.clusterLabels(spark, SparkFixture.Sf0001)
    assert(a1 eq a2, "second call must hit the memo, not recompute")
    // per-directory isolation: a second fixture dir (a copied subset
    // with shifted doc_ids would do, but any distinct dir key works —
    // here the same data under a DIFFERENT path) gets its own entry
    val alt = java.nio.file.Files
      .createTempDirectory("graft-memo-alt").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${SparkFixture.Sf0001}/documents.parquet"),
      java.nio.file.Paths.get(s"$alt/documents.parquet"))
    val b = DedupOps.clusterLabels(spark, alt)
    assert(!(a1 eq b), "distinct dirs must not share a memo entry")
    // and the memoized labels are the ones the four consumers see:
    // dedup_clusters output == the memo relation, ordered
    val viaQuery = DedupOps.dedupClusters(spark, SparkFixture.Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val direct = a1.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq
    assert(viaQuery == direct)
    DedupOps.labelMemo.clear()
  }

test("ivfAssign keeps exactly ONE cell per vector - the invariant " +
    "the r15 ivfSearch dropDuplicates removal rests on") {
    // ivfSearch no longer dedups (q, c) pairs after the cell join:
    // that is sound only if assignment emits one row per vec_id (a
    // (q, c) pair can then match in at most one probed cell). Pin it
    // directly on the assignment relation.
    val e = graft.sources.Tables.load(spark, SparkFixture.Sf0001,
      "embeddings")
    val a = graft.operators.SimilarityOps.ivfAssign(e)
    val n = e.select("vec_id").distinct().count()
    assert(a.count() == n, "assignment must emit one row per vector")
    assert(a.select("vec_id").distinct().count() == n,
      "duplicate vec_id in the assignment - ivfSearch would emit " +
        "duplicate pairs without its old defensive dropDuplicates")
  }
}
