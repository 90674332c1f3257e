package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "the  quick brown fox jumps over the lazy dog"),  // ws-variant of 1 (exact dup)
    (4L, "completely different words entirely here now friends"),
    (5L, "another unrelated document about spark engines"),
  ).toDF("doc_id", "text")

  test("exact dedup groups whitespace-normalized duplicates") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(1L) == 2) // docs 1 and 3 share a fingerprint, canonical id 1
    assert(out(4L) == 1 && out(5L) == 1)
  }

  test("ngram jaccard finds the near-dup pair and nothing unrelated") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("stop-shingle cut drops ubiquitous shingles but keeps true near-dups") {
    // 'the quick brown' etc. appear in docs 1,2,3 (60% of corpus); with a
    // 0.5 cutoff those shingles stop generating pairs, yet docs 1 and 3
    // (identical content) still pair via their remaining shared shingles.
    val cut = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.3, stopShingleFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cut.contains((1L, 3L)))
    assert(!cut.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("decontamination drops training docs overlapping the eval set, keeps the rest") {
    // eval = doc 1; doc 3 is its exact dup, doc 2 a near-dup (many shared
    // 3-shingles), docs 4/5 unrelated
    val evalSet = docs.where(col("doc_id") === 1L)
    val train = docs.where(col("doc_id") =!= 1L)
    val kept = Dedup.decontaminate(train, evalSet, "doc_id", "text",
      k = 3, minShingles = 4).collect()
    assert(kept.map(_.getLong(0)).toSet == Set(4L, 5L))
    // all original columns survive the anti-join untouched
    assert(kept.head.schema.fieldNames.toSeq == Seq("doc_id", "text"))
    // an unreachable threshold removes nothing
    val all = Dedup.decontaminate(train, evalSet, "doc_id", "text",
      k = 3, minShingles = 100000).collect().map(_.getLong(0)).toSet
    assert(all == Set(2L, 3L, 4L, 5L))
  }

  test("contamination excision removes the eval-overlapping span plus margin, token-exact") {
    // eval holds tokens e1..e5; the train doc embeds them verbatim with
    // clean prefix/suffix; a second train doc is untouched and carries
    // odd whitespace that must round-trip byte-identical
    val evalSet = Seq((100L, "e1 e2 e3 e4 e5")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "p1 p2 p3 p4 e1 e2 e3 e4 e5 s1 s2 s3 s4"),
      (2L, "  clean   doc\twith  odd   spacing  ")).toDF("doc_id", "text")
    val got = Dedup.exciseContaminatedSpans(train, evalSet, "doc_id", "text",
      k = 5, margin = 1).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // window [e1..e5] at pos 5; margin 1 removes p4 and s1 too
    assert(got(1L) == "p1 p2 p3 s2 s3 s4", got(1L))
    assert(got(2L) == "  clean   doc\twith  odd   spacing  ", "untouched text must be byte-identical")

    // margin clamps at the document start (contamination at pos 1): the
    // left margin has nothing to remove, the right margin eats tail1 and
    // tail2 (positions 6-8 requested, 6-7 exist) — an over-long margin
    // never errors, and a doc can excise to empty
    val t2 = Seq((3L, "e1 e2 e3 e4 e5 tail1 tail2")).toDF("doc_id", "text")
    val g2 = Dedup.exciseContaminatedSpans(t2, evalSet, "doc_id", "text",
      k = 5, margin = 3).collect().head.getString(1)
    assert(g2 == "", g2)
    // margin 1 keeps tail2
    val g2b = Dedup.exciseContaminatedSpans(t2, evalSet, "doc_id", "text",
      k = 5, margin = 1).collect().head.getString(1)
    assert(g2b == "tail2", g2b)

    // overlapping contaminated windows merge: eval covers two windows
    // sharing 4 tokens; the union removes 6 tokens once
    val ev2 = Seq((101L, "a b c d e"), (102L, "b c d e f")).toDF("doc_id", "text")
    val t3 = Seq((4L, "x a b c d e f y")).toDF("doc_id", "text")
    val g3 = Dedup.exciseContaminatedSpans(t3, ev2, "doc_id", "text",
      k = 5, margin = 0).collect().head.getString(1)
    assert(g3 == "x y", g3)

    // matching is case-insensitive but the rebuild keeps original case
    val t4 = Seq((5L, "Pre E1 E2 E3 E4 E5 Post")).toDF("doc_id", "text")
    val g4 = Dedup.exciseContaminatedSpans(t4, evalSet, "doc_id", "text",
      k = 5, margin = 0).collect().head.getString(1)
    assert(g4 == "Pre Post", g4)

    // a LARGE fully-contaminated doc: every window matches, so the old
    // per-token array_contains rebuild was O(L·|removed|) = O(L²) — the
    // islands+cursor-fold rebuild stays O(L log L) and excises to empty;
    // a same-size doc with one contaminated island keeps its flanks
    val big = (0 until 20000).map(i => s"w${i % 40}").mkString(" ")
    val flanked = (0 until 9000).map(i => s"u$i").mkString(" ") +
      " " + "e1 e2 e3 e4 e5" + " " + (0 until 9000).map(i => s"v$i").mkString(" ")
    val t5 = Seq((6L, big), (7L, flanked)).toDF("doc_id", "text")
    val ev5 = Seq((103L, big), (104L, "e1 e2 e3 e4 e5")).toDF("doc_id", "text")
    val g5 = Dedup.exciseContaminatedSpans(t5, ev5, "doc_id", "text",
      k = 5, margin = 0).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(g5(6L) == "")
    assert(g5(7L) == flanked.replace(" e1 e2 e3 e4 e5 ", " "))
  }

  test("bloom-pruned decontamination: identical results, probe in the plan") {
    val evalSet = docs.where(col("doc_id") === 1L)
    val train = docs.where(col("doc_id") =!= 1L)
    for (min <- Seq(1, 4, 100000)) {
      val exact = Dedup.decontaminate(train, evalSet, "doc_id", "text",
        k = 3, minShingles = min).collect().map(_.getLong(0)).toSet
      val bloom = Dedup.decontaminateAtScale(train, evalSet, "doc_id", "text",
        k = 3, minShingles = min)
      assert(bloom.collect().map(_.getLong(0)).toSet == exact, s"minShingles=$min")
      // the map-side pre-filter is really there (no silent fallback)
      assert(bloom.queryExecution.executedPlan.toString.contains("might_contain"),
        bloom.queryExecution.executedPlan.toString)
    }
    // a tighter fpp changes nothing but the blob size — never the result
    val tight = Dedup.decontaminateAtScale(train, evalSet, "doc_id", "text",
      k = 3, minShingles = 4, fpp = 1e-6).collect().map(_.getLong(0)).toSet
    assert(tight == Set(4L, 5L))
  }

  test("minhash LSH recovers the exact-jaccard pairs on this corpus") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH verifies candidates with true jaccard -> subset; with 16 bands
    // of 2 rows recall on ~0.8-sim pairs is ~1 on this tiny corpus.
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 2L)))
  }

  test("minhash LSH at the d03 query parameters has full recall (oracle validity)") {
    // d03_minhash_lsh is oracle-compared against the EXACT pair SQL; that
    // is only sound while LSH recall is 1.0 at test scale — asserted here
    // at the exact d03 parameters (32 hashes, 8 bands of 4 rows).
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh == exact, "LSH must verify to the exact pair set (values included)")
  }

  test("artifact store round-trip: store-fed pair mining == direct calls, all three consumers") {
    // round-15 verdict Next #1: the dedup gates read one materialized
    // (id, sz, shs, sig) artifact table instead of re-shingling per
    // gate. Pin store-fed == direct THROUGH a real parquet round-trip
    // (schema/nullability survive), with the stop-shingle cut both off
    // and firing.
    val tmp = java.nio.file.Files.createTempDirectory("graft-mh-spec").toString
    Dedup.minhashArtifacts(docs, "doc_id", "text", k = 3, numHashes = 32)
      .write.mode("overwrite").parquet(tmp)
    val art = spark.read.parquet(tmp)
    val nDocs = docs.count()

    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val lshStore = tuples(Dedup.minhashLshPairsFromArtifacts(art,
      numHashes = 32, bands = 8, threshold = 0.5))
    val lshDirect = tuples(Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 3, numHashes = 32, bands = 8, threshold = 0.5))
    assert(lshStore == lshDirect && lshStore.nonEmpty,
      "store-fed LSH pairs must equal the direct call (values included)")

    // The shared pair core (built at minCoeff = the LOWEST consumer
    // threshold) feeds both coefficient projections — equality with the
    // direct from-text calls pinned with the cut off (1.0) and firing
    // (0.5), at the build threshold and above it, THROUGH a second
    // parquet round-trip (the Queries.dedupShinglePairs layout).
    for (frac <- Seq(1.0, 0.5)) {
      val ptmp = java.nio.file.Files.createTempDirectory("graft-shp-spec").toString
      Dedup.shinglePairsFromArtifacts(art, nDocs,
          minCoeff = 0.3, stopShingleFraction = frac)
        .write.mode("overwrite").parquet(ptmp)
      val pairs = spark.read.parquet(ptmp)
      for (t <- Seq(0.3, 0.6)) {
        assert(tuples(Dedup.ngramJaccardPairsFromArtifacts(pairs, threshold = t)) ==
          tuples(Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 3,
            threshold = t, stopShingleFraction = frac)),
          s"store-fed jaccard must equal direct at cut=$frac t=$t")
        assert(tuples(Dedup.containmentPairsFromArtifacts(pairs, threshold = t)) ==
          tuples(Dedup.containmentPairs(docs, "doc_id", "text", k = 3,
            threshold = t, stopShingleFraction = frac)),
          s"store-fed containment must equal direct at cut=$frac t=$t")
      }
    }
  }

  test("keepCanonical keeps one row per content with all original columns") {
    val kept = Dedup.keepCanonical(docs, "doc_id", "text").collect()
    assert(kept.map(_.getLong(0)).toSet == Set(1L, 2L, 4L, 5L)) // 3 is a dup of 1
    assert(kept.head.schema.fieldNames.toSeq == Seq("doc_id", "text"))
  }

  /** Collected (id, cluster_id) rows of a labels frame, NULL ids as None. */
  private def ccLabels(df: org.apache.spark.sql.DataFrame): Seq[(Option[Long], Option[Long])] =
    df.collect().toSeq.map(r => (Option(r.get(0)).map(_.toString.toLong),
      Option(r.get(1)).map(_.toString.toLong)))

  /** Ids of the RDDs the session holds persisted or local-checkpointed. */
  private def heldRdds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("duplicateClustersStar labels components with their minimum id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 7L)).toDF("id1", "id2")
    val comp = Dedup.duplicateClustersStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L && comp(7L) == 1L)
    assert(comp(5L) == 5L && comp(6L) == 5L)
    // int ids keep their type on the driver finish, as on the rounds
    val ints = pairs.select(col("id1").cast("int").as("id1"), col("id2").cast("int").as("id2"))
    val (intRounds, _) = Dedup.contractComponents(ints, "id1", "id2", 30, 0)
    assert(Dedup.duplicateClustersStar(ints).schema == intRounds.schema)
    assert(ccLabels(Dedup.duplicateClustersStar(ints)).toSet == ccLabels(intRounds).toSet)
    // string ids have no driver finish: they run the rounds to the same labels
    val strs = pairs.select(col("id1").cast("string").as("id1"), col("id2").cast("string").as("id2"))
    assert(ccLabels(Dedup.duplicateClustersStar(strs)).toSet ==
      comp.map { case (i, c) => (Some(i), Some(c)) }.toSet)
  }

  test("duplicateClustersStar matches a driver BFS labelling on every path") {
    // reference: breadth-first search over the pairs on the driver; every
    // id is a node, a NULL id is its own NULL-labelled node, and only a
    // pair of two ids links anything
    def bfs(pairs: Seq[(Option[Long], Option[Long])]): Map[Option[Long], Option[Long]] = {
      val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      val adj = pairs.collect { case (Some(a), Some(b)) => Seq(a -> b, b -> a) }.flatten
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      val label = scala.collection.mutable.Map.empty[Long, Long]
      for (Some(start) <- nodes.sortBy(_.getOrElse(Long.MinValue)) if !label.contains(start)) {
        val queue = scala.collection.mutable.Queue(start)
        label(start) = start // ascending starts: the first node met is the min
        while (queue.nonEmpty)
          adj.getOrElse(queue.dequeue(), Nil).foreach { w =>
            if (!label.contains(w)) { label(w) = start; queue.enqueue(w) }
          }
      }
      nodes.map(n => n -> n.map(label)).toMap
    }
    val rnd = new scala.util.Random(20261020L)
    val random = (1 to 4).map { _ =>
      val edges = Seq.fill(40)((rnd.nextInt(24).toLong, rnd.nextInt(24).toLong))
      // self-pairs and repeats in both orientations ride along
      val extra = edges.take(5).map(_.swap) ++ edges.take(3) ++
        Seq.fill(3)(rnd.nextInt(24).toLong).map(i => (i, i))
      (edges ++ extra).map { case (a, b) => (Option(a), Option(b)) }
    }
    val nulls = Seq((Some(1L), None), (None, Some(2L)), (Some(2L), Some(3L)),
      (Some(4L), Some(4L)), (Some(3L), Some(1L)))
    for (graph <- random ++ Seq(nulls, Nil)) {
      val pairs = graph.toDF("id1", "id2")
      val want = bfs(graph)
      def check(path: String, got: Seq[(Option[Long], Option[Long])]): Unit = {
        assert(got.size == want.size, s"$path: ${got.size} rows for ${want.size} ids")
        assert(got.toMap == want, s"$path labels differ on $graph")
      }
      check("driver finish", ccLabels(Dedup.duplicateClustersStar(pairs)))
      check("distributed rounds", ccLabels(Dedup.contractComponents(pairs, "id1", "id2", 30, 0)._1))
      // a row bound of the converged star's size: the rounds run until the
      // edge set fits it, then the driver finishes, holding nothing back
      val linked = graph.collect { case (Some(a), Some(b)) if a != b => Seq(a, b) }
      val linkedIds = linked.flatten.distinct
      val starRows = linkedIds.size - linkedIds.map(i => want(Some(i))).distinct.size
      val held = heldRdds()
      val (mixed, rounds) = Dedup.contractComponents(pairs, "id1", "id2", 30, starRows)
      check("rounds then driver finish", ccLabels(mixed))
      assert((heldRdds() -- held).isEmpty, s"the driver finish left RDDs persisted on $graph")
      if (linked.map(_.sorted).distinct.size > starRows)
        assert(rounds >= 1, s"a graph over its row bound ran no round: $graph")
    }
  }

  test("contraction rounds converge in O(log diameter) on a chain graph") {
    // worst case for plain label propagation: a 64-node path needs ~62
    // rounds. The alternating large/small-star contraction halves the
    // distances, so 2*log2(64) = 12 rounds must suffice (row bound 0: no
    // driver finish, every round distributed)
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val (labels, rounds) = Dedup.contractComponents(path, "id1", "id2", 14, 0)
    val comp = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 64 && comp.values.forall(_ == 0L))
    assert(rounds <= 12, s"expected <= 2*log2(64) star rounds, used $rounds")
    // partial labels are never returned silently
    intercept[IllegalStateException] {
      Dedup.contractComponents(path, "id1", "id2", 2, 0)
    }
  }

  test("duplicateClustersStar: planted giant component with hub skew, bounded rounds") {
    // The web-corpus dup-graph shape (d42_cc_giant's in-memory twin): a
    // GIANT component holding ~33% of 3000 ids — a depth-providing
    // chain over the multiples of 3 plus block hubs of degree ~100
    // (~50x the mean degree: the power-law skew the contraction's
    // re-point joins must survive) — next to 2-node background pairs.
    val n = 3000L
    val giant = (0L until n by 3).toSeq
    val chain = giant.dropRight(1).map(g => (g, g + 3))
    val hubs = giant.map(g => (g, g - g % 300)).filter { case (a, b) => a != b }
    val background = (1L until n - 3 by 30).map(i => (i, i + 3))
    val pairs = (chain ++ hubs ++ background).toDF("id1", "id2")
    val (cc, rounds) = Dedup.contractComponents(pairs, "id1", "id2", 14, 0)
    val labels = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every giant node collapses to the global min; the giant holds
    // >= 30% of all ids; small components stay separate beside it
    assert(giant.forall(g => labels(g) == 0L),
      giant.filter(g => labels(g) != 0L).take(5).toString)
    assert(giant.size * 10 >= 3 * n, s"giant=${giant.size} of $n")
    background.foreach { case (i, j) =>
      assert(labels(i) == i && labels(j) == i, s"pair ($i,$j): ${labels(i)},${labels(j)}")
    }
    assert(labels.size == giant.size + 2 * background.size)
    // round bound: block-hop diameter ~ n/300 = 10 -> the alternating
    // large/small-star contraction must stay logarithmic, not walk the
    // chain; 10 rounds is ~2x the measured count (5), far under the
    // linear regime
    assert(rounds <= 10, s"expected O(log diameter) rounds on the hubbed giant, used $rounds")
  }

  test("loopPartitions sizes the CC loops' exchanges from the measured edge count") {
    // one partition until ~4M edge rows (~64-128 MB), then linear growth
    // with no upper cap — the session's shuffle.partitions constant must
    // never leak into the loop (it is sized for corpus scans, not the
    // contracted edge set), in either direction.
    assert(Dedup.loopPartitions(0L, 32) == 1)
    assert(Dedup.loopPartitions(3400L, 32) == 1) // d42's sf0.1 edge set
    assert(Dedup.loopPartitions(350000L, 32) == 11) // d42's sf10 edge set
    assert(Dedup.loopPartitions(4000000L, 32) == 32) // core-filling regime
    assert(Dedup.loopPartitions(200000000L, 32) == 50) // byte regime takes over
    assert(Dedup.loopPartitions(1000000000L, 32) == 250)
    assert(Dedup.loopPartitions(1000000000000L, 32) == 250000)
  }

  test("contraction rounds throw instead of returning partial labels at maxIter") {
    // a path graph 0-1-2-...-9 takes more than 3 contraction rounds to
    // pull the far end down to label 0; maxIter=3 must fail loudly, not
    // silently (row bound 0: every round distributed)
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("id1", "id2")
    intercept[IllegalStateException] {
      Dedup.contractComponents(path, "id1", "id2", 3, 0)
    }
    // and with enough rounds the same graph fully converges to one label
    val ok = Dedup.contractComponents(path, "id1", "id2", 20, 0)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet == Set(0L) && ok.size == 10)
  }

  test("contraction releases its cached and checkpointed frames on every exit") {
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("id1", "id2")
    val before = heldRdds()
    intercept[IllegalStateException] {
      Dedup.contractComponents(path, "id1", "id2", 2, 0)
    }
    assert((heldRdds() -- before).isEmpty,
      s"a non-converging contraction left RDDs ${heldRdds() -- before} persisted")
    // a 12-clique's 66 edges contract to an 11-edge star in one round,
    // which fits a row bound of 11: the driver finishes and nothing stays held
    val clique = for (i <- 0L until 12L; j <- i + 1 until 12L) yield (i, j)
    val (labels, rounds) = Dedup.contractComponents(clique.toDF("id1", "id2"), "id1", "id2", 30, 11)
    assert(rounds >= 1 && labels.collect().map(_.getLong(1)).toSet == Set(0L))
    assert((heldRdds() -- before).isEmpty,
      s"a driver-finished contraction left RDDs ${heldRdds() -- before} persisted")
  }

  test("duplicateClustersStar labels a small graph within its job budget") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // store-fed pairs, as the d15 family reads them: one parquet file
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-budget").toString
    Seq((2L, 1L), (2L, 3L), (5L, 6L), (7L, 3L), (9L, 9L), (10L, 11L), (11L, 12L), (12L, 10L))
      .toDF("id1", "id2").coalesce(1).write.mode("overwrite").parquet(dir)
    val pairs = spark.read.parquet(dir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        Option(s.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("cc-budget-spec") => jobs.incrementAndGet()
          case Some("cc-budget-sentinel") => sentinel.countDown()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("cc-budget-spec", "connected components job budget")
      val labels = Dedup.duplicateClustersStar(pairs).collect()
      // RDD sentinel job in its own group: the listener bus is FIFO, so
      // once its start has arrived every job of the operator has been counted
      spark.sparkContext.setJobGroup("cc-budget-sentinel", "job budget sentinel")
      spark.sparkContext.parallelize(Seq(1)).count()
      assert(sentinel.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(labels.length == 10)
      assert(jobs.get() == 1, s"connected components of an 8-pair graph ran ${jobs.get()} jobs")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("approxRowCount estimates without a full corpus pass, exact-count fallback on tiny input") {
    // tiny input: the 1% sample is empty, so the zero-column exact count
    // answers — and the stop-shingle cut keeps behaving as with count()
    assert(Dedup.approxRowCount(docs) == 5L)
    val viaEstimate = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.3, stopShingleFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaEstimate.contains((1L, 3L)))
  }

  test("scale entry point applies the stop-shingle cut by default") {
    val atScale = Dedup.ngramJaccardPairsAtScale(docs, "doc_id", "text",
      k = 3, threshold = 0.3)
    val explicit = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.3, stopShingleFraction = 0.1)
    assert(atScale.collect().toSet == explicit.collect().toSet)
  }

  test("minhash band exchange carries only ids and bucket keys, not shingle payloads") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val plan = Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 3, numHashes = 32, bands = 8, threshold = 0.5).queryExecution.sparkPlan
    val bad = plan.collect {
      case e: ShuffleExchangeExec
          if e.output.exists(_.name == "band") && e.output.exists(_.name == "shingles") => e
    }
    assert(bad.isEmpty, s"shingle arrays ride the band shuffle:\n$plan")
  }

  test("substring-level dedup: stats count duplicated windows, strip keeps one occurrence") {
    // a shared 6-token run across docs 10/11, a doc repeating its own
    // 5-token run, and an untouched doc (raw text must survive exactly)
    val run = "alpha bravo charlie delta echo foxtrot"
    val corpus = Seq(
      (10L, s"$run unique tail ten"),
      (11L, s"$run other ending eleven"),
      (12L, "self one two three four self one two three four"),
      (13L, "nothing   shared here at all whatsoever"), // double space: raw preserved
    ).toDF("doc_id", "text")

    val stats = Dedup.dupSpanStats(corpus, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 10: 9 tokens -> 5 windows; the 2 windows inside the shared run
    // (positions 1-2) are duplicated in doc 11
    assert(stats(10L) == (5L, 2L), stats)
    assert(stats(11L) == (5L, 2L), stats)
    // doc 12: 10 tokens -> 6 windows; window 1 == window 6 (the repeated
    // 5-token phrase) -> 2 duplicated positions
    assert(stats(12L) == (6L, 2L), stats)
    assert(stats(13L) == (2L, 0L), stats)

    val cleaned = Dedup.stripDuplicatedSpans(corpus, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // canonical = min (id, pos): doc 10 keeps everything
    assert(cleaned(10L) == s"$run unique tail ten")
    // doc 11 loses the shared run's duplicated windows (tokens 1..6)
    assert(cleaned(11L) == "other ending eleven", cleaned(11L))
    // doc 12 keeps the first occurrence of its repeated phrase
    assert(cleaned(12L) == "self one two three four", cleaned(12L))
    // untouched docs keep their raw bytes (double space intact)
    assert(cleaned(13L) == "nothing   shared here at all whatsoever")
  }

  test("ExactSubstr: threshold boundary, longest-match merge, span accounting, full excision") {
    val run = "r1 r2 r3 r4 r5 r6" // 6 tokens — one over the k=5 threshold
    val runB = "s1 s2 s3 s4 s5" // exactly k tokens
    val corpus = Seq(
      (20L, s"$run tail20 x20"), // canonical for run
      (21L, s"$run tail21 y21"), // loses the run — ONE merged span of 6
      (22L, "b1 b2 b3 b4 below22 thresh"), // 4 shared tokens — under threshold
      (23L, "b1 b2 b3 b4 other23 words"), // kept verbatim
      (24L, s"$runB mid24a mid24b $run"), // canonical for runB; loses run
      (25L, s"zz $runB qq25"), // loses runB (canonical is 24)
      (26L, run), // fully duplicated doc -> empty string
      (27L, s"$run gap27 $runB") // TWO spans around a survivor
    ).toDF("doc_id", "text")

    val spans = Dedup.exactSubstrSpans(corpus, "doc_id", "text", minTokens = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // overlapping duplicated windows merged to the run's full extent
    // (6 tokens from 5-windows at pos 1 and 2 — the longest-match
    // extension), 1-based inclusive positions
    assert(spans == Set(
      (21L, 1L, 6L, 6L), (24L, 8L, 13L, 6L), (25L, 2L, 6L, 5L),
      (26L, 1L, 6L, 6L), (27L, 1L, 6L, 6L), (27L, 8L, 12L, 5L)), spans)

    val cleaned = Dedup.exactSubstrDedup(corpus, "doc_id", "text", minTokens = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(cleaned(20L) == (s"$run tail20 x20", 0L, 0L)) // canonical untouched
    assert(cleaned(21L) == ("tail21 y21", 1L, 6L))
    assert(cleaned(22L) == ("b1 b2 b3 b4 below22 thresh", 0L, 0L))
    assert(cleaned(23L) == ("b1 b2 b3 b4 other23 words", 0L, 0L))
    assert(cleaned(24L) == (s"$runB mid24a mid24b", 1L, 6L))
    assert(cleaned(25L) == ("zz qq25", 1L, 5L))
    assert(cleaned(26L) == ("", 1L, 6L)) // empty string, not dropped/NULL
    assert(cleaned(27L) == ("gap27", 2L, 11L))

    // stripDuplicatedSpans is exactSubstrDedup without the counts: same
    // text for every doc at k = minTokens, and the input's columns come
    // back unchanged — including a passthrough column named like one of
    // exactSubstrDedup's count columns
    val tagged = corpus.withColumn("n_spans", concat(lit("src-"), col("doc_id")))
    val stripped = Dedup.stripDuplicatedSpans(tagged, "doc_id", "text", k = 5)
    assert(stripped.columns.toSeq == tagged.columns.toSeq, stripped.columns.mkString(","))
    val strippedRows = stripped.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(strippedRows == cleaned.map { case (id, (text, _, _)) => id -> (text, s"src-$id") },
      strippedRows.toString)
  }

  test("ExactSubstr: overlapping windows with canonicals in different docs keep canonical copies intact") {
    // W1 = x1..x5 occurs in docs 10/20 (canonical (10,1));
    // W2 = x2..x5 y occurs in docs 5/10 (canonical (5,1)).
    // Doc 10's W2 occurrence is NON-canonical and covers positions 2-6;
    // per-window excision would remove 2-6 from doc 10 and 1-5 from
    // doc 20, leaving NO intact copy of the duplicated run x1..x5.
    // Canonical coverage must protect doc 10's positions 1-5.
    val corpus = Seq(
      (5L, "x2 x3 x4 x5 y"),
      (10L, "x1 x2 x3 x4 x5 y"),
      (20L, "x1 x2 x3 x4 x5 z"),
    ).toDF("doc_id", "text")
    val cleaned = Dedup.exactSubstrDedup(corpus, "doc_id", "text", minTokens = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(cleaned(5L) == ("x2 x3 x4 x5 y", 0L, 0L)) // W2 canonical untouched
    assert(cleaned(10L) == ("x1 x2 x3 x4 x5", 1L, 1L)) // only the unprotected y goes
    assert(cleaned(20L) == ("z", 1L, 5L)) // no canonical here: run excised
    // stripDuplicatedSpans shares the removal set — same protection
    val stripped = Dedup.stripDuplicatedSpans(corpus, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(stripped(10L) == "x1 x2 x3 x4 x5", stripped(10L))
  }

  test("ExactSubstr: a large fully-duplicated document rebuilds in linear time") {
    // 20k tokens, doc 31 a verbatim copy of doc 30: |removed| = L, so
    // the old array_contains-per-token rebuild paid O(L²) = 4·10⁸
    // comparisons in one task; the span cursor fold is O(L). Also mixes
    // a half-duplicated doc so the fold crosses span boundaries.
    val big = (1 to 20000).map(i => s"w$i").mkString(" ")
    val halfA = (1 to 10000).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (30L, big), (31L, big),
      (32L, s"pre32 $halfA post32")).toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val cleaned = Dedup.exactSubstrDedup(corpus, "doc_id", "text", minTokens = 50)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(cleaned(30L) == (big, 0L, 0L)) // canonical byte-identical
    assert(cleaned(31L) == (("", 1L, 20000L))) // full excision -> empty
    assert(cleaned(32L) == (("pre32 post32", 1L, 10000L)))
    // generous wall bound: the quadratic form took minutes here
    assert(secs < 60.0, s"rebuild took ${secs}s — quadratic regression?")
  }

  test("softDedupWeights: geometric-mean window commonness, closed form per doc") {
    val corpus = Seq(
      (1L, "a b c d"), // windows abc bcd; abc shared with doc 2
      (2L, "a b c e"), // windows abc bce
      (3L, "x y"), // under k -> no windows, weight 1
      (4L, "u v w u v w u v w"), // self-repeating: uvw x3, vwu x2, wuv x2
      (5L, "p q r s t") // all-unique -> weight exactly 1
    ).toDF("doc_id", "text")
    val w = Dedup.softDedupWeights(corpus, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def rounded(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // docs 1/2: mean ln c over {2, 1} -> weight = exp(-ln2/2) = 1/sqrt 2
    assert(w(1L) == (2L, rounded(math.exp(-math.log(2) / 2))), w(1L).toString)
    assert(w(2L) == (2L, rounded(math.exp(-math.log(2) / 2))))
    assert(w(3L) == (0L, 1.0))
    // doc 4: 7 windows with counts 3,2,2,3,2,2,3
    assert(w(4L) == (7L,
      rounded(math.exp(-(3 * math.log(3) + 4 * math.log(2)) / 7))), w(4L).toString)
    assert(w(5L) == (3L, 1.0))
  }

  test("containmentPairs: asymmetric coefficient, both directions from one pair row") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta"), // 2 shingles, both inside doc 11
      (11L, "alpha beta gamma delta epsilon zeta eta theta"), // 6 shingles
      (12L, "one two three four five six"), // unrelated
      (13L, "alpha beta gamma delta") // exact dup of 10
    ).toDF("doc_id", "text")
    def pairs(th: Double) =
      Dedup.containmentPairs(corpus, "doc_id", "text", k = 3, threshold = th)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val p5 = pairs(0.5)
    // full embedding: C(10->11) = 2/2 = 1; reverse 2/6 is below threshold
    assert(p5((10L, 11L)) == 1.0)
    assert(!p5.contains((11L, 10L)))
    // mutual exact dups contain each other — both ordered rows present
    assert(p5((10L, 13L)) == 1.0 && p5((13L, 10L)) == 1.0)
    assert(!p5.keys.exists(k => k._1 == 12L || k._2 == 12L))
    // lowering the threshold surfaces the weak reverse direction exactly
    val p3 = pairs(0.3)
    assert(p3((11L, 10L)) == 0.333333, p3((11L, 10L)).toString)
    assert(p3((11L, 13L)) == 0.333333)
  }

  test("containmentPairs: stop-shingle cut measures over the reduced universe") {
    // docs 1 and 3 are whitespace-variants (identical shingle sets): even
    // after the 0.5 cut drops the shingles shared by docs 1/2/3, the
    // survivors still contain each other fully in both directions
    val cut = Dedup.containmentPairs(docs, "doc_id", "text",
      k = 3, threshold = 0.9, stopShingleFraction = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cut.contains((1L, 3L)) && cut.contains((3L, 1L)))
    assert(!cut.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhashPairs rejects maxHamming beyond the 4-band pigeonhole guarantee") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 4)
    }
  }

  test("simhash: identical token bags collide, near-dups are close, different docs far") {
    val h = docs.select($"doc_id", Dedup.simhash64($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(3L)) // same bag of tokens
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(2L)) < hamming(h(1L), h(4L)))
  }

  test("simhash pairs via banding match brute-force hamming threshold") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 3L)))
  }

  test("hamming banding regime is corpus-sized: narrow at gate scale, wide past 2M") {
    // the single sizing rule every hamming call site (d04/m03/a02) uses
    assert(!Dedup.wideHammingBands(10 * 1000), "gate-scale corpora stay narrow")
    assert(!Dedup.wideHammingBands(1999999))
    assert(Dedup.wideHammingBands(2L * 1000 * 1000))
    assert(Dedup.hammingTableCount(Dedup.wideHammingBands(10 * 1000)) == 4)
    assert(Dedup.hammingTableCount(Dedup.wideHammingBands(5L * 1000 * 1000)) == 20)
  }

  test("narrow and wide hamming banding agree with brute force, each pair once") {
    // 40 base hashes + derived near-dups with 0..3 flipped bits, the
    // flips spread across different 11-bit blocks and 16-bit quarters so
    // both pigeonhole layouts are exercised at their completeness edge;
    // a few far pairs (flips in every block) must NOT appear.
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(40)(rnd.nextLong())
    val rows = base.zipWithIndex.flatMap { case (h, i) =>
      val id = i.toLong * 10
      Seq(id -> h,
        (id + 1) -> (h ^ (1L << (i % 64))),                        // 1 bit
        (id + 2) -> (h ^ (1L << (i % 11)) ^ (1L << (22 + i % 11))), // 2 bits, 2 blocks
        (id + 3) -> (h ^ (1L << 5) ^ (1L << 30) ^ (1L << 60)),      // 3 bits, 3 blocks/quarters
        (id + 4) -> (h ^ 0x0101010101010101L))                      // 8 bits — beyond radius
    }
    val df = rows.toDF("id", "h")
    def brute(maxH: Int) = (for {
      (a, ha) <- rows; (b, hb) <- rows if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= maxH
    } yield (a, b)).toSet
    for (wide <- Seq(false, true); maxH <- Seq(0, 3)) {
      val got = Dedup.hammingPairs64(df, "id", "h", maxH, wide)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == got.toSet.size, s"duplicate pairs (wide=$wide)")
      assert(got.toSet == brute(maxH), s"parity failed (wide=$wide, maxH=$maxH)")
    }
  }

  test("editDistancePairs equals brute-force levenshtein at both radii") {
    val vocab = Seq("cat", "cut", "cats", "at", "kitten", "sitten", "abc",
      "cba", "spark", "shark", "", "a").toDF("w")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val ws = vocab.collect().map(_.getString(0))
    for (k <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(vocab, "w", maxDist = k)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val want = (for {
        x <- ws; y <- ws if x < y
        d = lev(x, y) if d <= k
      } yield (x, y, d.toLong)).toSet
      assert(got == want, s"maxDist=$k")
    }
    // the interesting shapes really occur: sub, insert, delete, double-sub
    val g2 = Dedup.editDistancePairs(vocab, "w", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(Set(("cat", "cut"), ("cat", "cats"), ("at", "cat"),
      ("kitten", "sitten"), ("shark", "spark"), ("abc", "cba")).subsetOf(g2))
  }

  test("keepBestInCluster keeps the highest-score member per cluster, ties to min id, singletons untouched") {
    val docs = Seq(
      (1L, "x", 0.3), (2L, "x", 0.9), (3L, "x", 0.5),   // cluster {1,2,3}: 2 wins on score
      (4L, "y", 0.7), (5L, "y", 0.7),                   // cluster {4,5}: tie -> 4 wins
      (6L, "z", 0.1)                                    // singleton: kept regardless of score
    ).toDF("id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id1", "id2")
    val kept = Dedup.keepBestInCluster(docs, "id", pairs, col("score"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 6L), kept.toString)
  }

  test("keepBestInCluster preserves all original columns and non-clustered rows byte-for-byte") {
    val docs = Seq(
      (10L, "keep me", "srcA", 0.2), (11L, "dup hi", "srcB", 0.8),
      (12L, "dup lo", "srcC", 0.4)).toDF("id", "text", "source", "score")
    val pairs = Seq((11L, 12L)).toDF("id1", "id2")
    val kept = Dedup.keepBestInCluster(docs, "id", pairs, col("score"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3))).toSet
    assert(kept == Set((10L, "keep me", "srcA", 0.2), (11L, "dup hi", "srcB", 0.8)))
  }

  test("contaminationMatrix: per-set hit counting, matrix arithmetic, zero cells absent") {
    // eval set A = 7 tokens -> 5 three-shingles; B = 6 tokens -> 4
    val eval = Seq(
      (1L, "A", "w1 w2 w3 w4 w5 w6 w7"),
      (2L, "B", "x1 x2 x3 x4 x5 x6")
    ).toDF("id", "eset", "text")
    val train = Seq(
      (10L, "s1", "w1 w2 w3 w4 w5 w6"),    // 4 shingles shared with A -> contaminated
      (11L, "s1", "w1 w2 w3 w4 w5"),       // 3 with A -> clean at minShingles=4
      // 3 with A AND 3 with B: hits count PER SET, so 6 total shared
      // shingles still contaminate NEITHER — the per-set decision
      // decontaminate would make against each set alone
      (12L, "s1", "w1 w2 w3 w4 w5 junk x1 x2 x3 x4 x5"),
      (13L, "s2", "x1 x2 x3 x4 x5 x6 extra") // 4 with B -> contaminated
    ).toDF("id", "source", "text")
    val m = Dedup.contaminationMatrix(train, eval, "id", "text",
        "eset", "source", k = 3, minShingles = 4)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(m.keySet == Set(("A", "s1"), ("B", "s2")), m.toString) // zero cells absent
    assert(m(("A", "s1")) == ((1L, 3L, 0.333333)), m.toString)
    assert(m(("B", "s2")) == ((1L, 1L, 1.0)), m.toString)
  }

  test("minhash LSH grid-salts a planted hot band bucket: brute parity, bounded per-task input") {
    // 120 IDENTICAL documents: every band bucket concentrates the whole
    // corpus — the adversarial shape where an unsalted bucket self-join
    // lands 120²/2 candidate pairs on one task. A low skew threshold
    // forces the measured grid; the pair set must stay EXACTLY the
    // brute-force one (every identical pair at J=1.0, the distinct doc
    // unmatched), met once each.
    val hot = (0L until 120L).map(i => (i, "the same exact document body words"))
    val rows = hot :+ ((999L, "completely different text entirely here"))
    val df = rows.toDF("id", "text")
    val got = Dedup.minhashLshPairs(df, "id", "text", k = 3, numHashes = 32,
      bands = 8, threshold = 0.5, skewedBucketFreq = 10L, saltFan = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = (for { a <- 0L until 120L; b <- 0L until 120L if a < b }
      yield (a, b, 1.0)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    // the candidate join really is grid-salted (plan joins on salt cols)
    val plan = Dedup.minhashLshPairs(df, "id", "text", k = 3, numHashes = 32,
      bands = 8, threshold = 0.5, skewedBucketFreq = 10L, saltFan = 8)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt") && plan.contains("__rsalt"), plan.take(2000))
    // bounded per-task input: the deterministic id hash spreads the hot
    // bucket's 120 members across all 8 cells per side, no straggler cell
    val cells = df.select(pmod(xxhash64(col("id")), lit(8L)).as("c"))
      .groupBy("c").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.keySet == (0L until 8L).toSet)
    assert(cells.values.max <= 2 * cells.values.min, s"salt cells unbalanced: $cells")
    // and the default (cold) threshold returns the identical pair set —
    // the grid changes placement, never membership
    val cold = Dedup.minhashLshPairs(df, "id", "text", k = 3, numHashes = 32,
      bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cold == want)
  }

  test("hammingPairs64 grid-salts a planted hot band: brute parity in both regimes") {
    // 100 rows share ONE hash (every banding table concentrates them in
    // one bucket) plus a 1-bit neighbor and far rows; forcing the grid
    // (skewedBandFreq = 10) must reproduce the brute pair set exactly —
    // each pair once, at its first agreeing table, in BOTH band regimes.
    val rows = (0L until 100L).map(i => (i, 0x0123456789abcdefL)) ++
      Seq((200L, 0x0123456789abcdeeL),             // 1 bit off: pairs with all
        (300L, 0x0123456789abcdefL ^ 0x0101010101010101L)) // 8 bits: never
    val df = rows.toDF("id", "h")
    val brute = (for {
      (a, ha) <- rows; (b, hb) <- rows if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d.toLong)).toSet
    for (wide <- Seq(false, true)) {
      val got = Dedup.hammingPairs64(df, "id", "h", maxHamming = 3, wide = wide,
        skewedBandFreq = 10L, saltFan = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
      assert(got.length == got.toSet.size, s"duplicate pairs (wide=$wide)")
      assert(got.toSet == brute, s"parity failed (wide=$wide)")
    }
  }

  test("grid verdict cache: keyed repeat plan construction runs ZERO Spark jobs, both regimes, pair sets unchanged") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def mh(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val benign = (0L until 200L).map(i =>
      (i, s"unique document number $i body alpha$i beta$i gamma$i")).toDF("id", "text")
    val hotDf = ((0L until 120L).map(i => (i, "the same exact document body words"))
      :+ ((999L, "completely different text entirely here"))).toDF("id", "text")
    val hashes = ((0L until 100L).map(i => (i, 0x0123456789abcdefL))
      :+ ((300L, 0x0123456789abcdefL ^ 0x0101010101010101L))).toDF("id", "h")
    def benignPairs() = Dedup.minhashLshPairs(benign, "id", "text",
      verdictKey = "spec#verdict-benign")
    def hotPairs() = Dedup.minhashLshPairs(hotDf, "id", "text",
      skewedBucketFreq = 10L, saltFan = 8, verdictKey = "spec#verdict-hot")
    def hamPairs() = Dedup.hammingPairs64(hashes, "id", "h",
      skewedBandFreq = 10L, saltFan = 8, verdictKey = "spec#verdict-ham")
    // first keyed construction per dataset runs the probe and caches the
    // verdict (benign / hot / hot) for the JVM
    val benignWant = mh(benignPairs())
    val hotWant = mh(hotPairs())
    val hamWant = hamPairs().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // now re-CONSTRUCTING the plans must trigger no job at all: count
    // jobs in a dedicated job group (concurrent suites can't pollute it)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (s.properties != null &&
            "grid-verdict-spec" == s.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("grid-verdict-spec", "construction must be job-free")
      val plans = Seq(benignPairs(), hotPairs(), hamPairs())
      plans.foreach(_.queryExecution.executedPlan) // full planning, no action
      // sentinel job: the listener bus is FIFO, so once its event has
      // arrived, any construction-time job's event would have too. An
      // RDD action, not a DataFrame one — AQE splits df.count() into
      // one job per query stage, which would miscount the sentinel
      spark.sparkContext.parallelize(Seq(1)).count()
      val deadline = System.currentTimeMillis() + 30000
      while (jobs.get() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      spark.sparkContext.clearJobGroup()
      assert(jobs.get() == 1,
        s"plan construction ran ${jobs.get() - 1} Spark job(s) — the verdict cache missed")
      // the cached-verdict plans still compute the exact same pair sets
      assert(mh(benignPairs()) == benignWant)
      assert(mh(hotPairs()) == hotWant)
      assert(hamPairs().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == hamWant)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
