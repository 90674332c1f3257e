package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  // fact ~ lineitem, dim1 bounded (nation-like), dim2 unbounded (orders-like)
  private lazy val fact = (1 to 200).map(i => (i.toLong, i % 10, i % 3, i * 1.0))
    .toDF("fk", "ok", "nk", "v")
  private lazy val bigDim = (0 until 10).map(i => (i, s"order$i")).toDF("o_ok", "o_name")
  private lazy val smallDim = (0 until 3).map(i => (i, s"nation$i")).toDF("n_nk", "n_name")

  test("collectIfAtMost: an unbounded threshold returns every row, not an overflowed empty limit") {
    val docs = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val all = Relational.collectIfAtMost(docs, Long.MaxValue)
    assert(all.map(_.map(_.getLong(0)).toSet).contains(Set(1L, 2L, 3L, 4L, 5L)))
    assert(Relational.collectIfAtMost(docs, 5L).map(_.length).contains(5))
    assert(Relational.collectIfAtMost(docs, 4L).isEmpty)
    intercept[IllegalArgumentException](Relational.collectIfAtMost(docs, -1L))
  }

  test("starJoin result is the plain multi-join result") {
    val got = Relational.starJoin(fact, Seq(
      bigDim -> (col("ok") === col("o_ok")),
      smallDim -> (col("nk") === col("n_nk"))))
    val want = fact.join(bigDim, col("ok") === col("o_ok"))
      .join(smallDim, col("nk") === col("n_nk"))
    assert(got.count() == want.count() && got.count() == 200)
  }

  test("starJoin broadcasts only dims under the size threshold") {
    // Disable the planner's own auto-broadcast so the assertion isolates
    // starJoin's hint decision (at test sizes everything auto-broadcasts).
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // threshold 1 byte: nothing qualifies -> no broadcast hint anywhere;
      // the physical plan must fall back to a shuffle join for both dims.
      val none = Relational.starJoin(fact, Seq(
        bigDim -> (col("ok") === col("o_ok")),
        smallDim -> (col("nk") === col("n_nk"))), broadcastThreshold = 1L)
      val nonePlan = none.queryExecution.sparkPlan.toString
      assert(!nonePlan.contains("BroadcastHashJoin"), nonePlan)
      assert(nonePlan.contains("SortMergeJoin") || nonePlan.contains("ShuffledHashJoin"), nonePlan)

      // generous threshold: both dims are hinted broadcast-side.
      val all = Relational.starJoin(fact, Seq(
        bigDim -> (col("ok") === col("o_ok")),
        smallDim -> (col("nk") === col("n_nk"))), broadcastThreshold = 1L << 30)
      val allPlan = all.queryExecution.sparkPlan.toString
      assert(!allPlan.contains("SortMergeJoin") && !allPlan.contains("ShuffledHashJoin"), allPlan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("asOfJoin: latest right row at-or-before each left row, per key") {
    import spark.implicits._
    val l = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 10L, "d"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 10L, 1.0), (1L, 15L, 2.0), (2L, 30L, 3.0))
      .toDF("k", "rt", "v")
    val got = Relational.asOfJoin(l, r, Seq("k"), "t", "rt", Seq("v"))
      .collect().map(x => (x.getString(2), Option(x.get(3)), Option(x.get(4)))).toSet
    assert(got == Set(
      ("a", Some(10L), Some(1.0)),  // equal ts matches (inclusive)
      ("b", Some(15L), Some(2.0)),  // latest of the two predecessors
      ("c", None, None),            // nothing at-or-before → NULL payload
      ("d", None, None)))           // other key's rows invisible
    // one shuffle on the key, no join node at all — union + window
    val plan = Relational.asOfJoin(l, r, Seq("k"), "t", "rt", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, plan)
  }

  test("asOfJoin tolerance nulls matches older than the window") {
    import spark.implicits._
    val l = Seq((1L, 100L, "x"), (1L, 200L, "y")).toDF("k", "t", "tag")
    val r = Seq((1L, 95L, 1.0)).toDF("k", "rt", "v")
    val got = Relational.asOfJoin(l, r, Seq("k"), "t", "rt", Seq("v"),
        tolerance = Some(lit(10L)))
      .collect().map(x => (x.getString(2), Option(x.get(4)))).toSet
    // 95 is within 10 of 100, not of 200
    assert(got == Set(("x", Some(1.0)), ("y", None)))
  }

  test("asOfJoin forward: earliest right row at-or-after each left row") {
    val l = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 40L, "d"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 10L, 1.0), (1L, 15L, 2.0), (2L, 30L, 3.0))
      .toDF("k", "rt", "v")
    val got = Relational.asOfJoin(l, r, Seq("k"), "t", "rt", Seq("v"),
        direction = "forward")
      .collect().map(x => (x.getString(2), Option(x.get(3)), Option(x.get(4)))).toSet
    assert(got == Set(
      ("a", Some(10L), Some(1.0)),  // equal ts matches (inclusive)
      ("b", None, None),            // nothing at-or-after
      ("c", Some(10L), Some(1.0)),  // nearest of the two successors
      ("d", None, None)))           // other key's 30 is in the past
    // forward tolerance bounds how far AHEAD the match may be
    val tol = Relational.asOfJoin(l, r, Seq("k"), "t", "rt", Seq("v"),
        direction = "forward", tolerance = Some(lit(4L)))
      .collect().map(x => (x.getString(2), Option(x.get(4)))).toSet
    assert(tol == Set(("a", Some(1.0)), ("b", None), ("c", None), ("d", None)))
  }

  test("asOfJoin nearest: closer side wins, equal distance resolves backward") {
    val l = Seq((1L, 10L, "a"), (1L, 22L, "b"), (1L, 100L, "c"), (2L, 7L, "d"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 8L, 1.0), (1L, 30L, 2.0), (1L, 16L, 3.0)).toDF("k", "rt", "v")
    val got = Relational.asOfJoin(l, r, Seq("k"), "t", "rt", Seq("v"),
        direction = "nearest")
      .collect().map(x => (x.getString(2), Option(x.get(4)))).toSet
    assert(got == Set(
      ("a", Some(1.0)),  // |10-8|=2 beats |16-10|=6
      ("b", Some(3.0)),  // |22-16|=6 < |30-22|=8
      ("c", Some(2.0)),  // only past rows remain → backward
      ("d", None)))      // other key has no rows
    // equal distance → backward: left at 12 is 4 from both 8 and 16
    val tie = Relational.asOfJoin(Seq((1L, 12L, "x")).toDF("k", "t", "tag"),
        r, Seq("k"), "t", "rt", Seq("v"), direction = "nearest")
      .collect().map(x => Option(x.get(4))).toSeq
    assert(tie == Seq(Some(1.0)))
    // tolerance bounds BOTH sides before choosing
    val tol = Relational.asOfJoin(l, r, Seq("k"), "t", "rt", Seq("v"),
        direction = "nearest", tolerance = Some(lit(3L)))
      .collect().map(x => (x.getString(2), Option(x.get(4)))).toSet
    assert(tol == Set(("a", Some(1.0)), ("b", None), ("c", None), ("d", None)))
    // nearest still shuffles once: two windows share the partitioning
    val plan = Relational.asOfJoin(l, r, Seq("k"), "t", "rt", Seq("v"),
        direction = "nearest").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1, plan)
  }

  private lazy val rjLeft = Seq(
    (1L, "a", Some(5L)), (2L, "a", Some(9L)), (3L, "b", Some(-7L)),
    (4L, "a", Some(100L)), (5L, "b", Some(0L)), (6L, "c", Some(50L)),
    (7L, "a", None)                                  // NULL point
  ).toDF("lid", "k", "p")
  private lazy val rjRight = Seq(
    (10L, "a", Some(3L), Some(9L)),                  // straddles the 8-bin edge
    (11L, "a", Some(9L), Some(9L)),                  // zero-length
    (12L, "b", Some(-10L), Some(-1L)),               // all-negative
    (13L, "a", Some(12L), Some(11L)),                // inverted -> matches nothing
    (14L, "c", Some(0L), Some(63L)),                 // spans 8 bins
    (15L, "b", None, Some(5L)), (16L, "a", Some(5L), None) // NULL bounds
  ).toDF("rid", "k", "s", "e")

  test("rangeJoin equals the naive inequality join on every edge case") {
    val got = Relational.rangeJoin(rjLeft, rjRight, Seq("k"), "p", "s", "e", binWidth = 8)
      .select(col("lid"), col("r_rid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = rjLeft.join(rjRight,
        rjLeft("k") === rjRight("k") && rjLeft("p") >= rjRight("s") && rjLeft("p") <= rjRight("e"))
      .select(rjLeft("lid"), rjRight("rid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got == want)
    // the interesting cases really are in `want`: bin-straddle, zero-length, negatives
    assert(Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 12L), (6L, 14L)).subsetOf(want))
  }

  test("rangeJoin with no keys joins on the bin alone") {
    val got = Relational.rangeJoin(rjLeft, rjRight.drop("k"), Nil, "p", "s", "e", binWidth = 8)
      .select(col("lid"), col("r_rid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = rjLeft.join(rjRight,
        rjLeft("p") >= rjRight("s") && rjLeft("p") <= rjRight("e"))
      .select(rjLeft("lid"), rjRight("rid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("rangeJoin plans as an equi-join, never a nested-loop/cartesian") {
    val plan = Relational.rangeJoin(rjLeft, rjRight, Seq("k"), "p", "s", "e", binWidth = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("intervalJoin equals the naive overlap join, each pair exactly once") {
    // left intervals spanning multiple bins force the first-shared-bin
    // dedup rule to matter (a straddling pair meets in >1 bin)
    val li = Seq(
      (1L, "a", Some(0L), Some(20L)),   // spans bins 0..2
      (2L, "a", Some(9L), Some(9L)),    // zero-length at a bin edge
      (3L, "b", Some(-9L), Some(-2L)),  // negative
      (4L, "a", Some(30L), Some(25L)),  // inverted
      (5L, "a", None, Some(5L))         // NULL bound
    ).toDF("lid", "k", "ls", "le")
    val got = Relational.intervalJoin(li, rjRight, Seq("k"), "ls", "le", "s", "e", binWidth = 8)
      .select(col("lid"), col("r_rid")).collect().map(r => (r.getLong(0), r.getLong(1)))
    // naive reference under the declared semantics: inverted intervals
    // ([s,e] with e<s — empty as a set) match nothing
    val want = li.join(rjRight,
        li("k") === rjRight("k") && li("ls") <= li("le") && rjRight("s") <= rjRight("e") &&
          li("ls") <= rjRight("e") && rjRight("s") <= li("le"))
      .select(li("lid"), rjRight("rid")).collect().map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once: compare as multisets, not sets
    assert(want.nonEmpty && got.sorted.toSeq == want.sorted.toSeq)
    // the multi-shared-bin case really occurred: (1,[0,20]) × (10,[3,9]) share bins 0 and 1
    assert(got.contains((1L, 10L)) && got.count(_ == (1L, 10L)) == 1)
  }

  test("rangeJoin refuses intervals spanning more bins than the guard") {
    val wide = Seq((20L, "a", Some(0L), Some(8L * 4096))).toDF("rid", "k", "s", "e")
    val e = intercept[Exception] {
      Relational.rangeJoin(rjLeft, wide, Seq("k"), "p", "s", "e", binWidth = 8).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("rangeJoin")), e.toString)
  }

  private def gramSet(s: String, k: Int = 3): Set[String] = {
    val t = s.toLowerCase
    (0 to math.max(t.length - k, 0)).map(i => t.substring(i, math.min(i + k, t.length))).toSet
  }

  private def bruteFuzzy(ls: Seq[(Long, String)], rs: Seq[(Long, String)],
                         t: Double): Map[(Long, Long), Double] =
    (for {
      (lid, ln) <- ls; (rid, rn) <- rs
      a = gramSet(ln); b = gramSet(rn)
      inter = (a intersect b).size.toDouble
      jac = inter / (a.size + b.size - inter)
      if jac >= t
    } yield (lid, rid) -> jac).toMap

  test("fuzzyJoin equals brute force: the prefix filter loses no pair") {
    val words = Seq("red", "blue", "small", "large", "widget", "gizmo",
      "bolt", "ring", "gear", "hot")
    val rnd = new scala.util.Random(5)
    def name(): String =
      (0 until 2 + rnd.nextInt(2)).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    val ls = (0L until 60L).map(i => (i, name()))
    val rs = (0L until 60L).map(i => (i, name()))
    for (t <- Seq(0.4, 0.6, 0.9)) {
      val got = Relational.fuzzyJoin(ls.toDF("lid", "lname"), rs.toDF("rid", "rname"),
        "lid", "lname", "rid", "rname", threshold = t)
        .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
      val want = bruteFuzzy(ls, rs, t)
      assert(got.keySet == want.keySet, s"threshold $t")
      got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-6) }
    }
  }

  test("fuzzyJoin under heavy key skew still equals brute force") {
    // adversarial shape: most keys identical (one gram set shared by
    // hundreds of rows) — the prefix filter must stay correct when the
    // posting lists collapse onto a handful of grams
    val ls = (0L until 80L).map(i => (i, if (i % 4 == 0) "alpha beta gamma" else s"alpha beta gamma $i"))
    val rs = (0L until 80L).map(i => (i, if (i % 3 == 0) "alpha beta gamma" else s"delta $i"))
    val got = Relational.fuzzyJoin(ls.toDF("lid", "lname"), rs.toDF("rid", "rname"),
      "lid", "lname", "rid", "rname", threshold = 0.7)
      .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getDouble(2))).toMap
    val want = bruteFuzzy(ls, rs, 0.7)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-6) }
    assert(want.nonEmpty) // the skewed identicals really do pair up
  }

  test("fuzzyJoin edges: threshold 1 is exact equality; shorts and nulls") {
    val l = Seq((1L, "alpha beta"), (2L, "xy"), (3L, null.asInstanceOf[String]))
      .toDF("lid", "lname")
    val r = Seq((10L, "alpha beta"), (11L, "xy"), (12L, "alpha betA"),
      (13L, "zz")).toDF("rid", "rname")
    val got = Relational.fuzzyJoin(l, r, "lid", "lname", "rid", "rname", 1.0)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    // case-insensitive: "alpha betA" lowercases to an identical gram set
    assert(got == Set((1L, 10L, 1.0), (1L, 12L, 1.0), (2L, 11L, 1.0)))
  }

  test("fuzzyJoin salts hot-gram postings: adversarial all-similar keys, brute parity, bounded spread") {
    // 2000 near-identical keys per side — every key shares the long
    // common stem, so even the rarest prefix grams have posting lists
    // covering most of the corpus: the exact shape where an unsalted
    // gram equi-join lands |L|*|R| work for a hot gram on one task.
    // True pairs are only the suffix-equal ones (the unique suffix
    // drops gram-jaccard below threshold otherwise).
    val stem = "the quick brown fox jumps over the lazy dog catalog entry"
    val ls = (0L until 2000L).map(i => (i, s"$stem ${i % 500}"))
    val rs = (0L until 2000L).map(i => (10000L + i, s"$stem ${i % 500}"))
    val got = Relational.fuzzyJoin(ls.toDF("lid", "lname"), rs.toDF("rid", "rname"),
      "lid", "lname", "rid", "rname", threshold = 0.9,
      skewedGramFreq = 100L, saltFan = 8)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    // serial brute force over the distinct SUFFIX classes (keys in the
    // same class are gram-identical; cross-class pairs share the stem)
    def grams(s: String): Set[String] = s.toLowerCase.sliding(3).toSet
    val classGrams = (0 until 500).map(c => c -> grams(s"$stem $c")).toMap
    val want = (for {
      (lc, lg) <- classGrams.toSeq; (rc, rg) <- classGrams.toSeq
      inter = (lg & rg).size.toDouble
      j = inter / (lg.size + rg.size - inter)
      if j >= 0.9
      li <- 0L until 2000L if li % 500 == lc
      ri <- 0L until 2000L if ri % 500 == rc
    } yield (li, 10000L + ri, math.rint(j * 1e6) / 1e6)).toSet
    assert(got == want)
    assert(want.size >= 2000 * 4) // each key matches its 4+4 class-mates
    // the candidate join really is grid-salted: the physical plan joins
    // on (gram, salt, rsalt), and the deterministic id hash spreads any
    // hot gram's postings across all 8 cells per side with no cell
    // holding a straggler share (hash balance over 2000 ids)
    val plan = Relational.fuzzyJoin(ls.toDF("lid", "lname"),
      rs.toDF("rid", "rname"), "lid", "lname", "rid", "rname", 0.9,
      skewedGramFreq = 100L, saltFan = 8)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__salt") && plan.contains("__rsalt"), plan.take(2000))
    val cells = ls.toDF("lid", "lname")
      .select(pmod(xxhash64(col("lid")), lit(8L)).as("c"))
      .groupBy("c").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.keySet == (0L until 8L).toSet)
    assert(cells.values.max <= 2 * cells.values.min,
      s"salt cells unbalanced: $cells")
    // adaptive fan: UNCAPPED (saltFan past the need), the per-gram grid
    // sizes itself from the measured freq instead of the cap, and the
    // result must still be the exact pair set — each pair met exactly
    // once at (h(l), h(r)), no duplicates, no drops
    val adaptive = Relational.fuzzyJoin(ls.toDF("lid", "lname"),
      rs.toDF("rid", "rname"), "lid", "lname", "rid", "rname", 0.9,
      skewedGramFreq = 100L, saltFan = 1024)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    assert(adaptive == want)
  }

  test("fuzzyJoin grid salt at maximum pressure: every gram fanned, still the exact pair set") {
    // skewedGramFreq=1 forces EVERY gram to its full adaptive fan — the
    // degenerate all-cells case where an off-by-one in the grid (wrong
    // meet cell, double replication) would duplicate or drop pairs
    val l = Seq((1L, "alpha beta"), (2L, "alpha betx"), (3L, "gamma delta"),
      (4L, "unrelated")).toDF("lid", "lname")
    val r = Seq((10L, "alpha beta"), (11L, "gamma delta"), (12L, "alpha bety"))
      .toDF("rid", "rname")
    def grams(s: String): Set[String] =
      if (s.length < 3) Set(s.toLowerCase) else s.toLowerCase.sliding(3).toSet
    val want = (for {
      (li, lk) <- Seq((1L, "alpha beta"), (2L, "alpha betx"), (3L, "gamma delta"),
        (4L, "unrelated"))
      (ri, rk) <- Seq((10L, "alpha beta"), (11L, "gamma delta"), (12L, "alpha bety"))
      lg = grams(lk); rg = grams(rk)
      inter = (lg & rg).size.toDouble
      j = inter / (lg.size + rg.size - inter)
      if j >= 0.5
    } yield (li, ri, math.rint(j * 1e6) / 1e6)).toSet
    val got = Relational.fuzzyJoin(l, r, "lid", "lname", "rid", "rname", 0.5,
      skewedGramFreq = 1L, saltFan = 7)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    assert(got == want, s"got $got want $want")
  }

  test("fuzzyJoin: empty keys never match (no J=1.0 empty-empty pairs, no \"\" posting hotspot)") {
    // empty strings would gram to the single "" and pair all-with-all at
    // jaccard 1.0 through one unprunable posting list — they are treated
    // like NULL: unmatched
    val l = (1L to 50L).map(i => (i, "")) :+ ((99L, "alpha"))
    val r = (101L to 150L).map(i => (i, "")) :+ ((199L, "alpha"))
    val got = Relational.fuzzyJoin(l.toDF("lid", "lname"), r.toDF("rid", "rname"),
      "lid", "lname", "rid", "rname", 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    assert(got == Set((99L, 199L, 1.0)))
  }
}
