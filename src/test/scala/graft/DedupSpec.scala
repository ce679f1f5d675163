package graft

import org.apache.spark.sql.functions._

import graft.functions.SimHash64
import graft.ops.{Dedup, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "The quick brown fox jumps over the lazy dog near the river bank!"),
    (3L, "the quick brown fox leaps over the lazy dog near the river bank"),
    (4L, "completely different text about spark distributed data processing"),
    (5L, "another unrelated document discussing weighted survey estimation"))
    .toDF("id", "text")

  test("exact dedup groups case/punct variants") {
    val r = Dedup.exact(corpus, "id", "text")
    assert(r.count() == 4) // 1 and 2 collapse
    val dup = r.filter($"n_dups" === 2).select("keep_id").as[Long].head()
    assert(dup == 1L)
  }

  test("minhashLsh finds near-dup pairs, skips unrelated docs") {
    val pairs = Dedup.minhashLsh(corpus, "id", "text", shingleN = 2,
        numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)) || pairs.contains((1L, 2L)),
      s"pairs=$pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashLshIncremental: feed-vs-store only, estimator finds " +
      "planted near-dup and exact copy, unrelated docs stay clean") {
    // store: docs 1 and 4; feed: 3 (near-dup of 1), an exact copy of
    // 4, and unrelated 5
    val store = Dedup.minhashBanded(corpus.filter($"id".isin(1L, 4L)),
      "id", "text", shingleN = 2, numHashes = 32, bands = 16)
    val copyOf4 = corpus.filter($"id" === 4L)
      .select(lit(104L).as("id"), $"text")
    val feed = Dedup.minhashBanded(
      corpus.filter($"id".isin(3L, 5L)).unionByName(copyOf4),
      "id", "text", shingleN = 2, numHashes = 32, bands = 16)
    val r = Dedup.minhashLshIncremental(feed, store, numHashes = 32,
        threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // exact copy: every signature component matches -> estimate 1.0
    assert(r(104L -> 4L) == 1.0, s"$r")
    // planted near-dup of a STORED doc is recovered
    assert(r.contains(3L -> 1L), s"$r")
    assert(r(3L -> 1L) >= 0.5 && r(3L -> 1L) < 1.0)
    // unrelated feed doc pairs with nothing; store-vs-store pairs
    // (1,4) can never appear — the join is new-vs-old by construction
    assert(!r.keySet.exists(p => p._1 == 5L), s"$r")
    assert(r.keySet.forall(p => Set(3L, 5L, 104L)(p._1)), s"$r")
  }

  test("simhash expression is deterministic; near-dups within hamming") {
    SimHash64.register(spark)
    val sigs = corpus.select($"id",
        SimHash64.simhash64(graft.ops.TextAnalysis.tokens($"text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    // bag-of-tokens: a permutation hashes identically
    val perm = Seq(("the lazy dog jumps over the quick brown fox " +
      "near the river bank")).toDF("text")
    val permSig = perm.select(SimHash64.simhash64(
      graft.ops.TextAnalysis.tokens($"text"))).as[Long].head()
    assert(permSig == sigs(1))
    // one substituted token of 13 -> few bits flip; unrelated text -> many
    assert(java.lang.Long.bitCount(sigs(1) ^ sigs(3)) <= 8)
    assert(java.lang.Long.bitCount(sigs(1) ^ sigs(4)) > 10)
    val pairs = Dedup.simhashPairs(corpus, "id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)), s"pairs=$pairs")
    assert(!pairs.contains((4L, 5L)))
  }

  test("ngramJaccardJoin computes exact jaccard on shared shingles") {
    val pairs = Dedup.ngramJaccardJoin(corpus, "id", "text", shingleN = 2,
        threshold = 0.4)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((1L, 3L)))
    // hand-check: texts 1 and 3 share 10 of 12+12 bigrams each
    val j = pairs((1L, 3L))
    assert(j > 0.5 && j < 1.0, s"jaccard=$j")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("connectedComponents finds min-label clusters incl. chains") {
    // components: {1,2,3,7} via chain 1-2, 2-3, 3-7; {10,11}; {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L), (21L, 20L))
      .toDF("id_a", "id_b")
    for ((side, cc) <- GraphSpec.ccSides; parts <- Seq(1, 4)) {
      val r = cc(pairs.repartition(parts), "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L),
        s"$side parts=$parts $r")
    }
  }

  test("fuzz: connectedComponents equals union-find on random graphs") {
    // seeded random edge lists (sparse to dense over up to 40 nodes,
    // chains, stars, cliques all arise) checked against a local
    // union-find — labels must be the per-component MINIMUM everywhere
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 5 + rnd.nextInt(36)
      val m = 1 + rnd.nextInt(2 * n)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          r
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expected = nodes.map(v => v -> find(v.toInt).toLong).toMap
        for ((side, cc) <- GraphSpec.ccSides) {
          val got = cc(edges.toDF("id_a", "id_b").repartition(3),
              "id_a", "id_b")
            .as[(Long, Long)].collect().toMap
          assert(got == expected, s"$side trial=$trial edges=$edges")
        }
      }
    }
  }

  test("connectedComponents converges on a long path in O(log n) rounds") {
    // a 200-node chain has diameter 199 — min-label propagation would
    // silently truncate at maxIter=20; large-star/small-star must merge
    // it to a single min-labeled component well inside the default cap
    val n = 200
    val chain = (0 until n - 1).map(i => (i.toLong + 1000L, i.toLong + 1001L))
      .toDF("id_a", "id_b")
    for ((side, cc) <- GraphSpec.ccSides) {
      val r = cc(chain.repartition(8), "id_a", "id_b")
        .as[(Long, Long)].collect()
      assert(r.length == n,
        s"$side: expected one label per node, got ${r.length}")
      assert(r.forall(_._2 == 1000L), s"$side: all labels must be the chain min")
    }
  }

  test("connectedComponents closes a 10-pair list in at most 2 Spark jobs") {
    // the driver side is one bounded collect; the distributed kernel
    // runs two fingerprint jobs plus checkpoints per round
    val pairs = ((1L to 5L).map(i => (i, i + 1)) ++
      (20L to 24L).map(i => (i + 1, i))).toDF("id_a", "id_b").cache()
    try {
      pairs.count()
      var labels = Map.empty[Long, Long]
      val jobs = jobsOf {
        labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
          .as[(Long, Long)].collect().toMap
      }
      assert(jobs <= 2, s"$jobs Spark jobs")
      assert(labels == ((1L to 6L).map(_ -> 1L) ++
        (20L to 25L).map(_ -> 20L)).toMap, s"$labels")
    } finally pairs.unpersist()
  }

  /** Word-bigram Jaccard pairs of [[corpus]] at `threshold`: the
    * all-pairs answer that LSH candidates plus exact verify reproduce.
    */
  private def naiveBigramPairs(threshold: Double): Set[(Long, Long)] = {
    val docs = corpus.as[(Long, String)].collect().toSeq
    def shingles(t: String) = t.trim.split("\\s+").sliding(2)
      .map(_.mkString(" ")).toSet
    (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      (sa, sb) = (shingles(ta), shingles(tb))
      if (sa & sb).size.toDouble / (sa | sb).size >= threshold
    } yield (a, b)).toSet
  }

  test("minhashLshBudgeted releases its signature cache, with and " +
    "without a bucket budget") {
    // the returned frames are local checkpoints, whose blocks the
    // ContextCleaner frees with the frames: every other RDD the call
    // persisted must be gone when it returns
    val sc = spark.sparkContext
    val expected = naiveBigramPairs(0.5)
    assert(expected == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"$expected")
    for (cap <- Seq(Int.MaxValue, 1)) {
      val before = sc.getPersistentRDDs.keySet
      val (p, budgeted) = Dedup.minhashLshBudgeted(corpus, "id", "text",
        shingleN = 2, numHashes = 32, bands = 16, threshold = 0.5,
        maxBucketSize = cap)
      val pairs = p.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val nBudgeted = budgeted.count()
      val leaked = (sc.getPersistentRDDs -- before).filterNot(_._2.isCheckpointed)
      assert(leaked.isEmpty, s"cap=$cap left persisted RDDs $leaked")
      if (cap == Int.MaxValue) {
        assert(pairs == expected, s"$pairs")
        assert(nBudgeted == 0)
      } else {
        // every oversized bucket becomes a star on its min id, so the
        // pairs with doc 1 (the cluster's min) survive the budget
        assert(pairs.subsetOf(expected) &&
          Set((1L, 2L), (1L, 3L)).subsetOf(pairs), s"$pairs")
        assert(nBudgeted > 0)
      }
    }
  }

  /** `f`, failing if it leaves anything persisted but the returned
    * frames' own checkpoint RDDs, which the ContextCleaner frees with
    * the frames. `f` consumes its result, so a cache that fed it has
    * been filled.
    */
  private def released[T](what: String)(f: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = f
    val leaked = (sc.getPersistentRDDs -- before).filterNot(_._2.isCheckpointed)
    assert(leaked.isEmpty, s"$what left persisted RDDs $leaked")
    out
  }

  test("simhashPairs releases its signature cache") {
    val pairs = released("simhashPairs")(Dedup.simhashPairs(corpus, "id",
      "text", maxHamming = 8).select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    assert(pairs.contains((1L, 3L)) && !pairs.contains((4L, 5L)), s"$pairs")
  }

  test("ngramJaccardJoin releases its shingle-set cache") {
    val pairs = released("ngramJaccardJoin")(Dedup.ngramJaccardJoin(corpus, "id",
      "text", shingleN = 2, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    assert(pairs == naiveBigramPairs(0.5), s"$pairs")
  }

  test("containmentJoin releases its shingle-set cache") {
    val sh = corpus.select($"id", TextAnalysis.tokens($"text").as("toks"))
      .select($"id", array_distinct(TextAnalysis.shinglesOf($"toks", 2)).as("sh"))
    val naive = sh.as("a").crossJoin(sh.as("b"))
      .filter($"a.id" =!= $"b.id")
      .filter(size(array_intersect($"a.sh", $"b.sh")).cast("double") /
        size($"a.sh") >= 0.8)
      .select("a.id", "b.id").as[(Long, Long)].collect().toSet
    val got = released("containmentJoin")(Dedup.containmentJoin(corpus, "id",
      "text", shingleN = 2, threshold = 0.8)
      .select("id_in", "id_of").as[(Long, Long)].collect().toSet)
    assert(got == naive && naive.contains((1L, 2L)), s"got=$got naive=$naive")
  }

  test("editDistance1Join releases its row and deletion-key caches") {
    val df = Seq(1L -> "kitten", 2L -> "mitten", 3L -> "kitten",
      4L -> null.asInstanceOf[String], 5L -> "sitting").toDF("id", "s")
    val got = released("editDistance1Join")(Dedup.editDistance1Join(df, "id", "s")
      .as[(Long, Long, Int)].collect().toSet)
    assert(got == Set((1L, 2L, 1), (1L, 3L, 0), (2L, 3L, 1)), s"$got")
  }

  test("prefix filtering is candidate-complete vs the naive all-pairs join") {
    import graft.ops.TextAnalysis
    // naive ground truth: all N^2/2 pairs, exact jaccard on shingle
    // sets. Thresholds include values where t * setSize lands exactly
    // on an integer (0.25, 0.5, 0.75 over 12-shingle docs) — the
    // float-boundary cases where a naive ceil(t * s) can round the
    // prefix one short and drop true pairs.
    val sh = corpus.select($"id",
        TextAnalysis.tokens($"text").as("toks"))
      .select($"id",
        array_distinct(TextAnalysis.shinglesOf($"toks", 2)).as("sh"))
    for (t <- Seq(0.25, 0.4, 0.5, 0.75)) {
      val naive = sh.as("a").crossJoin(sh.as("b"))
        .filter($"a.id" < $"b.id")
        .select($"a.id".as("id_a"), $"b.id".as("id_b"),
          (size(array_intersect($"a.sh", $"b.sh")).cast("double") /
            size(array_union($"a.sh", $"b.sh"))).as("j"))
        .filter($"j" >= t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val filtered = Dedup.ngramJaccardJoin(corpus, "id", "text",
          shingleN = 2, threshold = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(filtered == naive, s"t=$t prefix=$filtered naive=$naive")
    }
  }

  test("fuzz: jaccard and containment joins equal naive on random corpora") {
    // seeded scalacheck generator: small random corpora over a tiny
    // vocabulary (maximizes shared shingles — the regime where prefix
    // pruning could plausibly drop a true pair); every (corpus,
    // threshold) draw must reproduce the naive all-pairs result exactly
    import org.scalacheck.{Gen, rng}
    val vocab = Vector("a", "b", "c", "d", "e")
    val docGen = Gen.chooseNum(0, 12)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      .map(_.mkString(" "))
    val corpusGen = for {
      n <- Gen.chooseNum(2, 14)
      ds <- Gen.listOfN(n, docGen)
      t <- Gen.oneOf(0.3, 0.5, 0.75, 1.0)
    } yield (ds, t)
    val seed0 = rng.Seed(20260813L)
    var seed = seed0
    for (_ <- 1 to 12) {
      val (ds, t) = corpusGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val corpus = ds.zipWithIndex
        .map { case (s, i) => (i.toLong, s) }.toDF("id", "text")
      val sh = corpus.select($"id",
          TextAnalysis.tokens($"text").as("toks"))
        .select($"id",
          array_distinct(TextAnalysis.shinglesOf($"toks", 2)).as("sh"))
      val naiveJac = sh.as("a").crossJoin(sh.as("b"))
        .filter($"a.id" < $"b.id")
        .select($"a.id", $"b.id",
          (size(array_intersect($"a.sh", $"b.sh")).cast("double") /
            size(array_union($"a.sh", $"b.sh"))).as("j"))
        .filter($"j" >= t).select("a.id", "b.id")
        .as[(Long, Long)].collect().toSet
      val gotJac = Dedup.ngramJaccardJoin(corpus, "id", "text", 2, t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(gotJac == naiveJac,
        s"jaccard t=$t docs=$ds got=$gotJac naive=$naiveJac")
      val naiveCon = sh.as("a").crossJoin(sh.as("b"))
        .filter($"a.id" =!= $"b.id")
        .select($"a.id", $"b.id",
          (size(array_intersect($"a.sh", $"b.sh")).cast("double") /
            size($"a.sh")).as("c"))
        .filter($"c" >= t).select("a.id", "b.id")
        .as[(Long, Long)].collect().toSet
      val gotCon = Dedup.containmentJoin(corpus, "id", "text", 2, t)
        .select("id_in", "id_of").as[(Long, Long)].collect().toSet
      assert(gotCon == naiveCon,
        s"containment t=$t docs=$ds got=$gotCon naive=$naiveCon")
    }
  }

  test("containmentJoin equals the naive all-pairs containment join") {
    // hand-built corpus: 2 contains 1 fully (prefix quote), 3 shares
    // only part of 1, 4 is disjoint; plus threshold boundary docs
    val corpus = Seq(
      (1L, "a b c d e"),                 // 3 shingles: abc bcd cde
      (2L, "a b c d e f g h"),           // superset of 1's shingles
      (3L, "c d e x y z"),               // shares cde only
      (4L, "p q r s t"),                 // disjoint
      (5L, "a b c d x"),                 // abc bcd + bridge
      (6L, "")                           // empty -> [""] shingle
    ).toDF("id", "text")
    for (t <- Seq(0.5, 0.8, 1.0)) {
      val sh = corpus.select($"id",
          TextAnalysis.tokens($"text").as("toks"))
        .select($"id",
          array_distinct(TextAnalysis.shinglesOf($"toks", 3)).as("sh"))
      val naive = sh.as("a").crossJoin(sh.as("b"))
        .filter($"a.id" =!= $"b.id")
        .select($"a.id".as("id_in"), $"b.id".as("id_of"),
          (size(array_intersect($"a.sh", $"b.sh")).cast("double") /
            size($"a.sh")).as("c"))
        .filter($"c" >= t)
        .select("id_in", "id_of").as[(Long, Long)].collect().toSet
      val got = Dedup.containmentJoin(corpus, "id", "text",
          shingleN = 3, threshold = t)
        .select("id_in", "id_of").as[(Long, Long)].collect().toSet
      assert(got == naive, s"t=$t got=$got naive=$naive")
    }
  }

  test("bloomClean equals the exact anti-join") {
    // ids 1..50 carry keys {id, id+1000}; dirty reference holds keys of
    // every multiple of 3 -> clean = ids not divisible by 3
    val rows = spark.range(1, 51)
      .select($"id", explode(array($"id", $"id" + 1000)).as("h"))
    val dirty = spark.range(1, 51).filter($"id" % 3 === 0)
      .select($"id".as("h"))
    val clean = Dedup.bloomClean(rows, "id", "h", dirty, "h",
        expectedItems = 1000L)
      .as[Long].collect().toSet
    val expected = (1L until 51L).filterNot(_ % 3 == 0).toSet
    assert(clean == expected)
    // an aggressive fpp floods the prefilter with false positives; the
    // exact verify stage must still return the identical clean set
    val sloppy = Dedup.bloomClean(rows, "id", "h", dirty, "h",
        expectedItems = 10L, fpp = 0.5)
      .as[Long].collect().toSet
    assert(sloppy == expected)
  }

  test("bloomClean null-key policy: null hash = clean, matching " +
      "anti-join null semantics") {
    // in the exact anti-join a NULL key never equals any dirty hash,
    // so the row survives; the bloom path must agree (documented
    // policy, not an accident of primitive-arg null skipping)
    val rows = Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
      .toDF("id", "h")
    val dirty = Seq(10L).toDF("h")
    val clean = Dedup.bloomClean(rows, "id", "h", dirty, "h",
        expectedItems = 10L)
      .as[Long].collect().toSet
    val exact = rows.join(dirty.withColumnRenamed("h", "dh"),
        col("h") === col("dh"), "left_anti")
      .select("id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L) && exact == clean)
  }

  test("fuzz: chunkDedup equals a local keep-first replay") {
    // random tiny-vocab corpora (spans collide often); a sequential
    // local replay of the keep-globally-first rule must match exactly
    val rnd = new scala.util.Random(99)
    val vocab = Vector("a", "b", "c")
    for (_ <- 1 to 6) {
      val k = 1 + rnd.nextInt(3)
      val docs = (1L to (3 + rnd.nextInt(8)).toLong).map { id =>
        (id, Seq.fill(rnd.nextInt(8))(vocab(rnd.nextInt(3))).mkString(" "))
      }
      def spansOf(text: String): Seq[String] = {
        val toks = text.split("\\s+").filter(_.nonEmpty)
        toks.grouped(k).map(_.mkString(" ")).toSeq
      }
      val keeper = scala.collection.mutable.Map[String, (Long, Int)]()
      docs.foreach { case (id, text) =>
        spansOf(text).zipWithIndex.foreach { case (sp, i) =>
          val cand = (id, i)
          if (!keeper.contains(sp) ||
              Ordering[(Long, Int)].lt(cand, keeper(sp)))
            keeper(sp) = cand
        }
      }
      val expected = docs.map { case (id, text) =>
        val kept = spansOf(text).zipWithIndex
          .filter { case (sp, i) => keeper(sp) == ((id, i)) }
        (id, spansOf(text).length.toLong, kept.length.toLong,
          kept.map(_._1).mkString(" "))
      }
      val got = Dedup.chunkDedup(docs.toDF("doc_id", "text"),
          "doc_id", "text", chunkTokens = k)
        .orderBy("doc_id")
        .as[(Long, Long, Long, String)].collect().toSeq
      assert(got == expected, s"k=$k docs=$docs")
    }
  }

  test("chunkDedup keeps the globally-first span, preserves order") {
    val docs = Seq(
      (1L, "a b c d e f"),       // spans (k=3): "a b c", "d e f"
      (2L, "a b c x y z"),       // shares span "a b c" -> dropped here
      (3L, "x y z"),             // dup of doc 2's tail span -> doc 2 wins
      (4L, "p q"),               // short tail span, unique
      (5L, "")                   // empty: zero spans, empty text
    ).toDF("doc_id", "text")
    val r = Dedup.chunkDedup(docs, "doc_id", "text", chunkTokens = 3)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect()
    assert(r(0) == ((1L, 2L, 2L, "a b c d e f"))) // first occurrence kept
    assert(r(1) == ((2L, 2L, 1L, "x y z")))       // boilerplate stripped
    assert(r(2) == ((3L, 1L, 0L, "")))            // all spans were dups
    assert(r(3) == ((4L, 1L, 1L, "p q")))         // short span survives
    assert(r(4) == ((5L, 0L, 0L, "")))            // empty doc round-trips
  }

  test("editDistance1Join equals the naive all-pairs levenshtein join") {
    // one substitution, one insertion, one deletion, identical pair,
    // distance-2 decoys, a null (excluded by policy), empty strings
    val rows = Seq(1L -> "kitten", 2L -> "mitten", 3L -> "kittens",
      4L -> "kiten", 5L -> "kitten", 6L -> "mittens", 7L -> "sitting",
      8L -> "", 9L -> "", 10L -> null.asInstanceOf[String], 11L -> "a")
    val df = rows.toDF("id", "s")
    val got = graft.ops.Dedup.editDistance1Join(df, "id", "s")
      .as[(Long, Long, Int)].collect().toSet
    val naive = (for {
      (ia, sa) <- rows if sa != null
      (ib, sb) <- rows if sb != null && ia < ib
      d = {
        // classic DP levenshtein
        val m = Array.tabulate(sa.length + 1, sb.length + 1) {
          (i, j) => if (i == 0) j else if (j == 0) i else 0 }
        for (i <- 1 to sa.length; j <- 1 to sb.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
        m(sa.length)(sb.length)
      } if d <= 1
    } yield (ia, ib, d)).toSet
    assert(got == naive, s"got $got\nexpected $naive")
    // sanity on content: the known relations are present
    assert(got.contains((1L, 2L, 1)))  // substitution
    assert(got.contains((1L, 3L, 1)))  // insertion
    assert(got.contains((1L, 4L, 1)))  // deletion
    assert(got.contains((1L, 5L, 0)))  // identical
    assert(got.contains((8L, 9L, 0)))  // identical empties
    assert(got.contains((8L, 11L, 1))) // empty vs 1-char
    assert(!got.exists(p => p._1 == 10L || p._2 == 10L)) // null excluded
    assert(!got.contains((1L, 7L, 1))) // kitten-sitting is distance 3
  }

  test("fuzz: editDistance1Join equals naive on random short strings") {
    val rnd = new scala.util.Random(7)
    val alpha = "abc"
    val rows = (1L to 120L).map(i =>
      i -> (0 until (1 + rnd.nextInt(5)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    val df = rows.toDF("id", "s")
    val got = graft.ops.Dedup.editDistance1Join(df, "id", "s")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1) {
        (i, j) => if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val naive = (for {
      (ia, sa) <- rows; (ib, sb) <- rows
      if ia < ib && lev(sa, sb) <= 1
    } yield (ia, ib)).toSet
    assert(got == naive,
      s"missing ${naive -- got}, extra ${got -- naive}")
  }

  test("attachSets: broadcast and shuffle regimes agree, and the " +
      "plan actually switches") {
    // sets: sorted hashed "shingle" arrays; cand: a few id pairs
    val sets = Seq(
      (1L, Seq(10L, 20L, 30L)), (2L, Seq(10L, 20L, 40L)),
      (3L, Seq(50L, 60L, 70L)), (4L, Seq(10L, 60L, 80L, 90L)))
      .toDF("id", "sh")
    // (1,2) duplicated: the documented contract is that output
    // MULTIPLICITY is regime-dependent — broadcast streams raw
    // candidates (dup preserved), shuffle dedups before the exchange
    val cand = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
      .toDF("id_a", "id_b")
    // disable the planner's own auto-broadcast so the regime switch
    // under test is attachSets' explicit hint, not the tiny fixture
    // sneaking under autoBroadcastJoinThreshold
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (bc, sh) = try {
      val bc = Dedup.attachSets(cand, sets, "id_a", "id_b")
      val sh = Dedup.attachSets(cand, sets, "id_a", "id_b",
        maxBroadcastBytes = 0L)
      // tiny sets table => broadcast regime; cap 0 => shuffle regime
      assert(bc.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      assert(!sh.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      (bc.localCheckpoint(), sh.localCheckpoint())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id_a"), col("id_b"),
          col("sh_a").cast("string"), col("sh_b").cast("string"))
        .collect().map(_.toSeq).toSet
    assert(norm(bc) == norm(sh))
    assert(norm(bc).size == 4)
    // multiplicity contract: broadcast preserves the duplicate
    // candidate (5 rows), shuffle dedups pre-exchange (4 rows)
    assert(bc.count() == 5)
    assert(sh.count() == 4)
  }
}
