package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  test("deterministic split: weights respected, assignment stable across partitioning") {
    val ids = (0L until 2000L).toDF("id")
    val assigned = ids.withColumn("split", CorpusOps.splitColumn(col("id"), splits))
    val counts = assigned.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // every row lands in exactly one split
    assert(counts.values.sum == 2000L)
    assert(counts.keySet == Set("train", "val", "test"))
    // md5 is uniform: 2000 draws stay within ±4 sigma of the weights
    assert(math.abs(counts("train") - 1600L) < 72, counts.toString)
    assert(math.abs(counts("val") - 200L) < 54, counts.toString)
    assert(math.abs(counts("test") - 200L) < 54, counts.toString)

    // pure function of the id: a different partitioning/order changes nothing
    val reshuffled = ids.repartition(7, col("id"))
      .withColumn("split", CorpusOps.splitColumn(col("id"), splits))
    assert(reshuffled.collect().map(r => r.getLong(0) -> r.getString(1)).toMap ==
      assigned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)

    // the SQL rendering of the rule (the oracle side) agrees exactly
    ids.createOrReplaceTempView("ids")
    val viaSql = spark.sql(
      s"SELECT id, ${CorpusOps.splitSql("id", splits)} AS split FROM ids")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaSql == assigned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
  }

  test("token-budget sharding: id-ordered cumulative fill per group") {
    // tokens: a=3, b=2, c=4, d=1 (whitespace words); budget 5
    val docs = Seq(
      (1L, "g1", "one two three"),
      (2L, "g1", "four five"),
      (3L, "g1", "six seven eight nine"),
      (4L, "g1", "ten"),
      (5L, "g2", "a b c d e f"),
    ).toDF("id", "grp", "text")
    val sharded = CorpusOps.shardByTokenBudget(docs, "id", "text", "grp", maxTokens = 5)
      .select("id", "tokens", "shard").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // cumulative-before: id1 starts at 0 -> shard 0; id2 at 3 -> 0;
    // id3 at 5 -> shard 1; id4 at 9 -> shard 1; g2 restarts at 0
    assert(sharded(1L) == ((3L, 0L)))
    assert(sharded(2L) == ((2L, 0L)))
    assert(sharded(3L) == ((4L, 1L)))
    assert(sharded(4L) == ((1L, 1L)))
    assert(sharded(5L) == ((6L, 0L)))
  }

  test("mixture sampling: per-source rates, rate-0 drop, deterministic, SQL-equivalent") {
    val docs = (0L until 3000L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    val rates = Seq("src0" -> 0.0, "src1" -> 0.5, "src2" -> 1.0)
    val kept = docs.where(CorpusOps.mixtureFilter(col("id"), col("src"), rates))
    val bySrc = kept.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("src0"), "rate 0 must drop the source entirely")
    assert(bySrc("src2") == 1000L, "rate 1.0 keeps every row")
    assert(math.abs(bySrc("src1") - 500L) < 60, bySrc.toString) // ±4σ
    // a source with no configured rate keeps everything
    val defaulted = docs.where(CorpusOps.mixtureFilter(col("id"), col("src"),
      Seq("src0" -> 0.5))).groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(defaulted("src1") == 1000L && defaulted("src2") == 1000L)

    // deterministic: same kept ids under a different partitioning
    val ids1 = kept.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = docs.repartition(11, col("id"))
      .where(CorpusOps.mixtureFilter(col("id"), col("src"), rates))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)

    // independent of the split decision: among kept src1 rows the split
    // proportions still hold (a shared hash would correlate them)
    val both = docs.where(CorpusOps.mixtureFilter(col("id"), col("src"), rates))
      .withColumn("split", CorpusOps.splitColumn(col("id"), splits))
      .where(col("src") === "src1").groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(both.getOrElse("train", 0L) > 330L, both.toString) // ~0.8 of ~500

    // the SQL rendering of the predicate selects the same rows on Spark
    docs.createOrReplaceTempView("mix")
    val viaSql = spark.sql(
      s"SELECT id FROM mix WHERE ${CorpusOps.mixtureSql("id", "src", rates)}")
      .collect().map(_.getLong(0)).toSet
    assert(viaSql == ids1)
  }

  test("PII redaction replaces emails, IPv4s and long digit runs — and only those") {
    val got = Seq(
      "mail me at jane.doe+x@sub.example.org today",
      "server 192.168.100.7 rebooted",
      "acct 123456789012 and pin 1234",
      "plain text with no pii at all",
      "combo a@b.co from 10.0.0.1 ref 999999999",
    ).toDF("t").select(CorpusOps.redactPii(col("t")).as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(got(0) == "mail me at [EMAIL] today")
    assert(got(1) == "server [IP] rebooted")
    assert(got(2) == "acct [NUM] and pin 1234") // short digit runs survive
    assert(got(3) == "plain text with no pii at all")
    assert(got(4) == "combo [EMAIL] from [IP] ref [NUM]")
  }

  test("urlHost: scheme/userinfo/port/path stripped, scheme-less ok, junk is NULL") {
    val got = Seq(
      "https://Sub.Example.COM/path?q=1",
      "http://user:pw@example.com:8080/x#f",
      "example.com/page",
      "ftp+ssh://a.b.c/",
      "https://",
      null,
    ).toDF("u").select(CorpusOps.urlHost(col("u")).as("h"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(got == Seq(Some("sub.example.com"), Some("example.com"),
      Some("example.com"), Some("a.b.c"), None, None))
  }

  test("hostSuffixes: every ≥2-label suffix, single-label host is itself") {
    val got = Seq("a.b.example.com", "example.com", "localhost")
      .toDF("h").select(CorpusOps.hostSuffixes(col("h")).as("s"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(got(0) == Seq("a.b.example.com", "b.example.com", "example.com"))
    assert(got(1) == Seq("example.com"))
    assert(got(2) == Seq("localhost"))
  }

  test("stratifiedCap keeps at most N per stratum, deterministically") {
    val df = (1L to 40L).map(i => (i, if (i <= 30) "big" else "small", s"d$i"))
      .toDF("id", "src", "payload")
    val a = CorpusOps.stratifiedCap(df, "id", "src", cap = 5)
    assert(a.columns.toSeq == df.columns.toSeq)
    val bySrc = a.collect().groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(bySrc("big").size == 5 && bySrc("small").size == 5)
    // deterministic: a repartitioned rerun keeps the SAME rows
    val b = CorpusOps.stratifiedCap(df.repartition(7), "id", "src", cap = 5)
      .collect().groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(b == bySrc)
    // a stratum under the cap survives whole
    val c = CorpusOps.stratifiedCap(df, "id", "src", cap = 50).count()
    assert(c == 40L)
  }

  test("calibratedQualityFilter keeps ~keepRate of rows, threshold from exact percentile") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    val kept = CorpusOps.calibratedQualityFilter(df, col("score"), keepRate = 0.75)
    assert(kept.columns.toSeq == df.columns.toSeq)
    val ids = kept.select("id").as[Long].collect().toSet
    // 25th percentile of 1..100 (interpolated) = 25.75 → keep 26..100
    assert(ids == (26L to 100L).toSet)
  }

  test("domain blocklist: exact + subdomain blocking, unparseable URLs kept") {
    val df = Seq(
      (1L, "https://bad.test/x"),          // exact block
      (2L, "https://cdn.bad.test/y"),      // subdomain of a blocked domain
      (3L, "https://good.test/z"),         // survives
      (4L, "https://notbad.test/w"),       // NOT a dot-suffix match
      (5L, "%%%"),                         // unparseable → kept
    ).toDF("id", "url")
    val bl = Seq("bad.test").toDF("domain")
    val kept = CorpusOps.filterByDomainBlocklist(df, "id", "url", bl)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 5L))
  }

  test("tfidfTopTerms: hand-computed scores, deterministic rank") {
    val d = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry cherry durian")
    ).toDF("doc_id", "text")
    val got = CorpusOps.tfidfTopTerms(d, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._5).toList).toMap
    def s(tf: Int, df: Int) = BigDecimal(tf * math.log(3.0 / df))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: apple tf=2 df=1 beats banana tf=1 df=2
    assert(got(1L) == List((1L, "apple", 2L, s(2, 1), 1L), (1L, "banana", 1L, s(1, 2), 2L)))
    // doc 2: equal scores (both tf=1, df=2) -> term text breaks the tie
    assert(got(2L).map(_._2) == List("banana", "cherry"))
    // doc 3: cherry tf=2 still loses to durian's rarity? 2*ln(1.5)=0.81 vs ln(3)=1.10
    assert(got(3L).map(_._2) == List("durian", "cherry"))
  }

  test("bm25Scores: hand-computed score, non-matching docs absent") {
    val d = Seq(
      (1L, "spark spark join"),  // tf(spark)=2, tf(join)=1, len 3
      (2L, "data and more data"),
      (3L, "join")
    ).toDF("doc_id", "text")
    val got = CorpusOps.bm25Scores(d, "doc_id", "text", Seq("spark", "join"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(1L, 3L)) // doc 2 matches nothing
    // replay: N=3, avgdl=(3+4+1)/3, df(spark)=1, df(join)=2
    val avgdl = 8.0 / 3.0
    def idf(df: Int) = math.log(1.0 + (3L - df + 0.5) / (df + 0.5))
    def sat(tf: Long, dl: Long) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == r6(idf(1) * sat(2, 3) + idf(2) * sat(1, 3)))
    assert(got(3L) == r6(idf(2) * sat(1, 1)))
  }

  test("bm25ScoresForQuery tokenizes like the corpus side and dedups query terms") {
    val d = Seq((1L, "spark spark join"), (2L, "join only")).toDF("doc_id", "text")
    val explicit = CorpusOps.bm25Scores(d, "doc_id", "text", Seq("spark", "join"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q = CorpusOps.bm25ScoresForQuery(d, "doc_id", "text", "  Spark   JOIN spark ")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q == explicit)
    intercept[IllegalArgumentException] {
      CorpusOps.bm25ScoresForQuery(d, "doc_id", "text", "   ")
    }
  }

  test("pmiPairs: presence-based counts, hand-computed collocation scores") {
    val d = Seq(
      (1L, "x y"), (2L, "x y y"),   // duplicate y collapses to presence
      (3L, "x z"), (4L, "w")
    ).toDF("doc_id", "text")
    val got = CorpusOps.pmiPairs(d, "doc_id", "text", minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    def pmi(nab: Long, da: Long, db: Long) =
      BigDecimal(math.log(4.0 * nab / (da * db)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // df: x=3 y=2 z=1 w=1; pairs (x,y)=2, (x,z)=1
    assert(got == Map(
      ("x", "y") -> (2L, pmi(2, 3, 2)),
      ("x", "z") -> (1L, pmi(1, 3, 1))))
    // minCount cuts the rare pair
    val cut = CorpusOps.pmiPairs(d, "doc_id", "text", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(cut == Set(("x", "y")))
  }

  test("weightedSample: exact seeded winners, null/non-positive weights excluded") {
    val df = (1 to 200).map(i => (i.toLong, if (i % 50 == 0) 0.0 else i.toDouble))
      .toDF("id", "w")
    val got = CorpusOps.weightedSample(df, "id", col("w"), n = 20, seed = 9L)
      .select("id").as[Long].collect().toSeq
    // single-node replay: key = ln(u)/w, top 20
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(id: Long) = {
      val hex = md.digest(s"9:$id".getBytes("UTF-8")).take(4)
        .map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) + 1).toDouble / 4294967296.0
    }
    val want = (1 to 200).filter(_ % 50 != 0)
      .map(i => (i.toLong, math.log(u(i)) / i.toDouble))
      .sortBy { case (id, k) => (-k, id) }.take(20).map(_._1)
    assert(got.toSet == want.toSet && got.nonEmpty)
    // zero-weight rows can never win
    assert(!got.exists(_ % 50 == 0))
    // stable under physical layout
    val re = CorpusOps.weightedSample(df.repartition(13), "id", col("w"), n = 20, seed = 9L)
      .select("id").as[Long].collect().toSet
    assert(re == got.toSet)
  }

  test("temperatureMixture: exact closed-form copies, head down / tail up, pure function of id") {
    // sources: a ×4 docs, b ×1 doc; alpha = 0.5, budget = 5
    //   w_a = 2, w_b = 1, z = 3
    //   r_a = 5·(2/3)/4 = 0.833333 (6dp)  → copies ∈ {0, 1}
    //   r_b = 5·(1/3)/1 = 1.666667        → copies ∈ {1, 2}
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (5L, "b"))
      .toDF("id", "src")
    val got = CorpusOps.temperatureMixture(df, "id", "src", alpha = 0.5, budget = 5L)
      .select("id", "n_copies").as[(Long, Long)].collect().toMap
    // single-node replay of the md5-fraction rule
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex8(id: Long) = md.digest(s"temp:$id".getBytes("UTF-8")).take(4)
      .map(b => f"$b%02x").mkString
    def copies(id: Long, ri: Double): Long = {
      val r6 = BigDecimal(ri).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val frac = r6 - math.floor(r6)
      val bound = f"${math.floor(frac * 4294967296.0).toLong}%08x"
      math.floor(r6).toLong + (if (hex8(id) < bound) 1L else 0L)
    }
    val want = (Seq(1L, 2L, 3L, 4L).map(id => id -> copies(id, 5.0 * (2.0 / 3) / 4)) :+
        (5L -> copies(5L, 5.0 * (1.0 / 3))))
      .filter(_._2 > 0).toMap
    assert(got === want)
    // the tail source always keeps at least one epoch
    assert(got(5L) >= 1L)
    // pure function of (source stats, id): physical layout cannot change it
    val re = CorpusOps.temperatureMixture(df.repartition(3), "id", "src",
        alpha = 0.5, budget = 5L)
      .select("id", "n_copies").as[(Long, Long)].collect().toMap
    assert(re === got)
    // alpha = 1 is natural proportions: every r_i = budget/N exactly
    val nat = CorpusOps.temperatureMixture(df, "id", "src", alpha = 1.0, budget = 5L)
      .select("id", "n_copies").as[(Long, Long)].collect().toMap
    assert(nat === (1L to 5L).map(_ -> 1L).toMap)
    intercept[IllegalArgumentException] {
      CorpusOps.temperatureMixture(df, "id", "src", alpha = 0.0, budget = 5L)
    }
    intercept[IllegalArgumentException] {
      CorpusOps.temperatureMixture(df, "id", "src", alpha = 0.5, budget = 0L)
    }
  }

  test("epochShuffle: positions are the seeded permutation, stable under repartition") {
    val df = (0 until 500).map(i => (i.toLong, s"doc$i")).toDF("id", "body")
    val got = CorpusOps.epochShuffle(df, "id", seed = 42L)
    assert(got.columns.toSeq == Seq("id", "body", "epoch_pos"))
    val byId = got.select("id", "epoch_pos").as[(Long, Long)].collect().toMap
    // a permutation of 0..n-1
    assert(byId.values.toSeq.sorted == (0L until 500L))
    // matches the single-node replay of the same rule
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long) =
      md.digest(s"42:$id".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val want = (0L until 500L).sortBy(id => (key(id), id)).zipWithIndex
      .map { case (id, i) => id -> i.toLong }.toMap
    assert(byId == want)
    // pure function of (seed, id): physical layout cannot change it
    val re = CorpusOps.epochShuffle(df.repartition(7), "id", seed = 42L)
      .select("id", "epoch_pos").as[(Long, Long)].collect().toMap
    assert(re == byId)
    // a different seed is a different permutation
    val other = CorpusOps.epochShuffle(df, "id", seed = 43L)
      .select("id", "epoch_pos").as[(Long, Long)].collect().toMap
    assert(other != byId)
    // the enumeration stays in DataFrame algebra end-to-end — no RDD
    // round-trip node that would re-encode every row outside Tungsten
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), plan)
  }

  test("packSequences: greedy boundaries, oversized doc packs alone, stable under repartition") {
    // tokens per doc: 3, 2, 4, 1, 9, 2 — shard budget 100 (one shard),
    // seq budget 5: [3,2] fills pack 0 exactly, [4,1] pack 1, the
    // 9-token doc overflows any pack so packs alone as 2, trailing 2
    // opens pack 3 (greedy never reopens earlier packs).
    val docs = Seq(
      (1L, "g1", "one two three"),
      (2L, "g1", "four five"),
      (3L, "g1", "six seven eight nine"),
      (4L, "g1", "ten"),
      (5L, "g1", "a b c d e f g h i"),
      (6L, "g1", "tail doc"),
    ).toDF("id", "grp", "text")
    val packed = CorpusOps.packSequences(docs, "id", "text", "grp",
      shardTokens = 100, seqTokens = 5)
    val byId = packed.select("id", "shard", "pack").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byId == Map(1L -> (0L, 0L), 2L -> (0L, 0L), 3L -> (0L, 1L),
      4L -> (0L, 1L), 5L -> (0L, 2L), 6L -> (0L, 3L)), byId.toString)

    // pure function of (id order, token counts): partitioning is irrelevant
    val reshuffled = CorpusOps.packSequences(docs.repartition(5, col("id")),
        "id", "text", "grp", shardTokens = 100, seqTokens = 5)
      .select("id", "shard", "pack").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(reshuffled == byId)
  }

  test("packSequences on a corpus: budgets hold, packing matches the serial rule per shard") {
    // 200 docs, varied lengths, two groups; small budgets force many
    // shards and multi-doc packs
    val docs = (0L until 200L).map { i =>
      (i, if (i % 3 == 0) "gA" else "gB", Seq.fill((i % 7 + 1).toInt)("w").mkString(" "))
    }.toDF("id", "grp", "text")
    val rows = CorpusOps.packSequences(docs, "id", "text", "grp",
        shardTokens = 40, seqTokens = 10)
      .select("id", "grp", "tokens", "shard", "pack").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))

    // every multi-doc pack fits the sequence budget; a pack exceeds it
    // only when it is a single oversized document (none here: max 7 < 10)
    val packTotals = rows.groupBy(r => (r._2, r._4, r._5)).values
    assert(packTotals.forall(_.map(_._3).sum <= 10))

    // serial greedy replay per (group, shard) in id order reproduces
    // every pack id — the exact rule the recursive-CTE oracle runs
    rows.groupBy(r => (r._2, r._4)).foreach { case (_, shardRows) =>
      var pack = -1L; var fill = 0L
      shardRows.sortBy(_._1).foreach { case (_, _, t, _, gotPack) =>
        if (pack < 0L || fill + t > 10L) { pack += 1L; fill = t } else fill += t
        assert(gotPack == pack)
      }
    }
  }

  test("packSequencesBfd: strictly fewer packs than greedy on a skewed mix; serial replay exact") {
    // One shard, seq budget 128, doc tokens 100, 90, 28, 38 (id order).
    // Greedy next-fit: [100], [90, 28], [38] = 3 packs.
    // BFD (desc: 100, 90, 38, 28): [100, 28], [90, 38] = 2 packs.
    def w(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq((1L, "g", w(100)), (2L, "g", w(90)), (3L, "g", w(28)),
      (4L, "g", w(38))).toDF("id", "grp", "text")
    val greedy = CorpusOps.packSequences(docs, "id", "text", "grp",
        shardTokens = 1000, seqTokens = 128)
      .select("pack").collect().map(_.getLong(0)).distinct.length
    val bfdRows = CorpusOps.packSequencesBfd(docs, "id", "text", "grp",
        shardTokens = 1000, seqTokens = 128)
      .select("id", "pack").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(greedy == 3)
    assert(bfdRows.values.toSet.size == 2, bfdRows.toString)
    assert(bfdRows == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 0L), bfdRows.toString)
    // oversized doc still packs alone and never receives a roommate
    val docs2 = docs.union(Seq((5L, "g", w(200)), (6L, "g", w(5))).toDF("id", "grp", "text"))
    val bfd2 = CorpusOps.packSequencesBfd(docs2, "id", "text", "grp",
        shardTokens = 1000, seqTokens = 128)
      .select("id", "tokens", "pack").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val oversizedPack = bfd2(5L)._2
    assert(bfd2.values.count(_._2 == oversizedPack) == 1, bfd2.toString)

    // larger skewed corpus: serial BFD replay per (group, shard)
    // reproduces every pack id, and BFD never uses MORE packs than greedy
    val big = (0L until 300L).map { i =>
      (i, if (i % 2 == 0) "gA" else "gB", w((i * 37 % 90 + 5).toInt))
    }.toDF("id", "grp", "text")
    val bfdBig = CorpusOps.packSequencesBfd(big, "id", "text", "grp",
        shardTokens = 400, seqTokens = 100)
      .select("id", "grp", "tokens", "shard", "pack").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    bfdBig.groupBy(r => (r._2, r._4)).foreach { case (_, shardRows) =>
      val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
      shardRows.sortBy(r => (-r._3, r._1)).foreach { case (_, _, t, _, gotPack) =>
        var best = -1; var bestResid = Long.MaxValue
        fills.indices.foreach { i =>
          if (fills(i) <= 100L - t && 100L - fills(i) - t < bestResid) {
            bestResid = 100L - fills(i) - t; best = i
          }
        }
        val exp = if (best >= 0) { fills(best) += t; best.toLong }
          else { fills += t; (fills.length - 1).toLong }
        assert(gotPack == exp)
      }
      // multi-doc packs hold the budget
      shardRows.groupBy(_._5).values.foreach { p =>
        if (p.length > 1) assert(p.map(_._3).sum <= 100L)
      }
    }
    val greedyBig = CorpusOps.packSequences(big, "id", "text", "grp",
        shardTokens = 400, seqTokens = 100)
      .select("grp", "shard", "pack").distinct().count()
    val bfdPacks = bfdBig.map(r => (r._2, r._4, r._5)).distinct.length
    assert(bfdPacks <= greedyBig, s"BFD $bfdPacks vs greedy $greedyBig")
  }

  test("removeBoilerplateLines: distinct-doc counting, trim matching, minChars guard") {
    val docs = Seq(
      (1L, "HEADER\nunique one\n\nHEADER"), // boilerplate twice in one doc: counted once, both removed
      (2L, "HEADER\nunique two"),
      (3L, "no header here\nunique three"),
      (4L, "  HEADER  \nunique four"),      // trim-matched
      (5L, "HEADER\n HEADER"),              // every line removed
    ).toDF("id", "text")
    val out = CorpusOps.removeBoilerplateLines(docs, "id", "text", minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    // HEADER appears in 3 distinct docs (>= 2) -> stripped everywhere;
    // the empty line is under minChars and survives verbatim
    assert(out(1L) == (("unique one\n", 2L, 2L)), out(1L).toString)
    assert(out(2L) == (("unique two", 1L, 1L)))
    assert(out(3L) == (("no header here\nunique three", 2L, 0L)))
    assert(out(4L) == (("unique four", 1L, 1L)))
    // a document whose every line is boilerplate comes back empty, not dropped
    assert(out(5L) == (("", 0L, 2L)), out(5L).toString)

    // raising minChars above the key length exempts it from the rule
    val kept = CorpusOps.removeBoilerplateLines(docs, "id", "text",
        minDocs = 2, minChars = 7)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(kept.values.forall(_ == 0L), kept.toString)
  }

  test("crossEntropyScore: hand-computed add-1 smoothing, OOV floor, empty doc absent") {
    // LM corpus: "a a b" -> counts {a:2, b:1}, N=3, V=2, denom=5
    val ref = Seq((10L, "a a b")).toDF("id", "text")
    val lm = CorpusOps.unigramLm(ref, "text")
    assert(lm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 2L, "b" -> 1L))

    // doc 1 "a b a": H = -(2·ln(3/5) + 1·ln(2/5))/3
    // doc 2 "z":     all-OOV floor H = -ln(1/5)
    // doc 3 "":      zero tokens -> absent
    val docs = Seq((1L, "a b a"), (2L, "z"), (3L, "  ")).toDF("id", "text")
    val out = CorpusOps.crossEntropyScore(docs, "id", "text", lm)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    val h1 = -(2 * math.log(3.0 / 5) + math.log(2.0 / 5)) / 3
    assert(out.keySet == Set(1L, 2L))
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - h1) < 1e-12)
    assert(math.abs(out(1L)._3 - math.exp(h1)) < 1e-12)
    assert(out(2L)._1 == 1L && math.abs(out(2L)._2 - (-math.log(1.0 / 5))) < 1e-12)

    // in-distribution text scores strictly below out-of-distribution
    assert(out(1L)._2 < out(2L)._2)
  }

  test("chunkDocs: boundaries, overlap sharing, short docs, token coverage") {
    // chunk=4, overlap=1 -> stride=3; 10 tokens -> starts 1,4,7 (chunk 3
    // short by... n-start+1 = 4 exactly); 11 tokens -> starts 1,4,7,10
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "short doc"),
      (3L, ""),
    ).toDF("id", "text")
    val out = CorpusOps.chunkDocs(docs, "id", "text", chunkTokens = 4, overlapTokens = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))

    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 1L, 4L), (1L, 4L, 4L), (2L, 7L, 4L)))
    assert(d1.map(_._5).toSeq == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    // consecutive chunks share exactly `overlap` tokens
    assert(d1.sliding(2).forall { case Array(a, b) =>
      a._5.split(" ").takeRight(1).sameElements(b._5.split(" ").take(1)) })

    // short doc: one chunk, full text, length = token count
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 1L, 2L, "short doc")))
    // empty doc yields nothing
    assert(!out.exists(_._1 == 3L))

    // coverage: stitching non-overlap prefixes + the last chunk restores the doc
    val stitched = (d1.dropRight(1).map(_._5.split(" ").dropRight(1)) :+
      d1.last._5.split(" ")).flatten.mkString(" ")
    assert(stitched == "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")
  }

  test("c4Filters: line rules (punctuation, min words, javascript) and doc rules (lorem ipsum, brace, min sentences)") {
    val docs = Seq(
      // 0: clean doc, 5 dotted lines -> kept intact
      (0L, (1 to 5).map(i => s"alpha beta gamma line$i.").mkString("\n")),
      // 1: bare (unpunctuated) + short + javascript lines are stripped,
      //    5 good lines remain -> keep, clean_text = the good lines only
      (1L, ((1 to 5).map(i => s"delta epsilon zeta line$i.") ++ Seq(
        "no terminal punctuation here",
        "two words.",
        "javascript must be enabled to view this page.")).mkString("\n")),
      // 2: good lines but contains lorem ipsum -> dropped wholesale
      (2L, ((1 to 5).map(i => s"eta theta iota line$i.") :+
        "classic lorem ipsum filler.").mkString("\n")),
      // 3: good lines but contains a curly brace -> dropped wholesale
      (3L, ((1 to 5).map(i => s"kappa lambda mu line$i.") :+
        "code sample { }.").mkString("\n")),
      // 4: only 4 sentences survive -> below minSentences=5, dropped
      (4L, (1 to 4).map(i => s"nu xi omicron line$i.").mkString("\n"))
    ).toDF("id", "text")
    val out = CorpusOps.c4Filters(docs, "id", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out(0L)._4 && out(0L)._2 == 5 && out(0L)._3 == 5)
    assert(out(0L)._1 == (1 to 5).map(i => s"alpha beta gamma line$i.").mkString("\n"))
    assert(out(1L)._4 && out(1L)._2 == 5,
      s"bare/short/javascript lines must strip but doc survives: ${out(1L)}")
    assert(out(1L)._1 == (1 to 5).map(i => s"delta epsilon zeta line$i.").mkString("\n"))
    assert(!out(2L)._4, "lorem ipsum doc must drop")
    assert(!out(3L)._4, "curly-brace doc must drop")
    assert(!out(4L)._4 && out(4L)._3 == 4, "4 sentences < minSentences=5")
  }

  test("c4Filters: quote-terminated lines pass; empty survivor set yields empty clean_text") {
    val docs = Seq(
      (0L, "he said \"hello there friend.\"\nshe replied \"indeed.\""),
      (1L, "no punctuation at all\nstill none")
    ).toDF("id", "text")
    val out = CorpusOps.c4Filters(docs, "id", "text", minSentences = 1).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(out(0L)._2 == 2 && out(0L)._3)
    assert(out(1L)._1 == "" && out(1L)._2 == 0 && !out(1L)._3)
  }

  test("bigramCrossEntropy: closed-form arithmetic on a tiny LM") {
    val train = Seq("a b a b a c").toDF("text") // bigrams: ab ba ab ba ac -> c(ab)=2 c(ba)=2 c(ac)=1
    val lm = CorpusOps.bigramLm(train, "text")
    val got = lm.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a","b") -> 2L, ("b","a") -> 2L, ("a","c") -> 1L))
    // score "a b" under add-1: V = |{b, a, c}| = 3, c(a.) = 3
    // P(b|a) = (2+1)/(3+3) = 0.5 -> H = -ln(0.5)
    val score = CorpusOps.bigramCrossEntropy(Seq((7L, "a b")).toDF("id", "text"), "id", "text", lm)
      .collect().head
    assert(score.getLong(1) == 1L)
    assert(math.abs(score.getDouble(2) - math.log(2.0)) < 1e-12)
    // unseen prefix scores the uniform floor: P(x|z) = 1/V
    val floor = CorpusOps.bigramCrossEntropy(Seq((8L, "z x")).toDF("id", "text"), "id", "text", lm)
      .collect().head
    assert(math.abs(floor.getDouble(2) - math.log(3.0)) < 1e-12)
  }

  test("trigramCrossEntropy: closed-form arithmetic on a tiny LM, hashed == unhashed") {
    val train = Seq("a b c a b c").toDF("text") // trigrams: abc abc(x? ) -> see below
    val lm = CorpusOps.trigramLm(train, "text")
    // tokens [a,b,c,a,b,c] -> triples (a,b,c) (b,c,a) (c,a,b) (a,b,c)
    val got = lm.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(got == Map(("a","b","c") -> 2L, ("b","c","a") -> 1L, ("c","a","b") -> 1L))
    // score "a b c d" under add-1: V = |{c, a, b}| = 3
    //   (a,b,c): c=2, ctx(a,b)=2 -> P = (2+1)/(2+3) = 3/5
    //   (b,c,d): c=0, ctx(b,c)=1 -> P = (0+1)/(1+3) = 1/4
    //   H = -(ln 0.6 + ln 0.25)/2
    val doc = Seq((7L, "a b c d")).toDF("id", "text")
    val score = CorpusOps.trigramCrossEntropy(doc, "id", "text", lm).collect().head
    assert(score.getLong(1) == 2L)
    val want = -(math.log(0.6) + math.log(0.25)) / 2
    assert(math.abs(score.getDouble(2) - want) < 1e-12)
    // unseen context scores the uniform floor: P = 1/V
    val floor = CorpusOps.trigramCrossEntropy(
      Seq((8L, "x y z")).toDF("id", "text"), "id", "text", lm).collect().head
    assert(floor.getLong(1) == 1L)
    assert(math.abs(floor.getDouble(2) - math.log(3.0)) < 1e-12)
    // the hashed-context scale form scores identically (no collisions)
    val docs2 = Seq((7L, "a b c d"), (8L, "x y z"),
      (9L, "a b c a b c a"), (10L, "c a b c")).toDF("id", "text")
    val plain = CorpusOps.trigramCrossEntropy(docs2, "id", "text", lm)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val hashed = CorpusOps.trigramCrossEntropy(docs2, "id", "text", lm, hashContext = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(plain.keySet == hashed.keySet)
    plain.foreach { case (k, (n, h)) =>
      assert(hashed(k)._1 == n && math.abs(hashed(k)._2 - h) < 1e-12, s"id=$k")
    }
    // docs with < 3 tokens are absent
    assert(CorpusOps.trigramCrossEntropy(
      Seq((1L, "a b")).toDF("id", "text"), "id", "text", lm).count() == 0L)
  }

  test("dedupParagraphs: keep-first semantics, case/trim normalization, short lines immune") {
    val docs = Seq(
      (1L, "dup line x\nunique a\nab"),
      (2L, "unique b\n Dup Line X \ndup line x\nab"),
      (3L, "same line here\nsame line here"),
      (4L, "Same Line Here\ndup line x")).toDF("id", "text") // every line a later copy
    val got = CorpusOps.dedupParagraphs(docs, "id", "text", minChars = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 owns the first occurrence of the dup; everything kept
    assert(got(1L) == (("dup line x\nunique a\nab", 3L, 0L)), got(1L).toString)
    // doc 2 loses BOTH later copies (case/whitespace-normalized match);
    // the short "ab" line is structure and always survives
    assert(got(2L) == (("unique b\nab", 2L, 2L)), got(2L).toString)
    // within-doc duplicates: first position wins
    assert(got(3L) == (("same line here", 1L, 1L)), got(3L).toString)
    // a document whose every line is removed comes back empty, not dropped
    assert(got(4L) == (("", 0L, 2L)), got(4L).toString)
    // vs removeBoilerplateLines: that form drops ALL occurrences of
    // frequent lines — this one always preserves exactly one copy
    val all = CorpusOps.dedupParagraphs(docs, "id", "text", minChars = 5)
      .agg(sum(col("n_kept"))).head().getLong(0)
    assert(all == 6L) // 11 lines - 5 dropped copies
  }

  test("stupidBackoffScore: each tier of the ladder, closed form") {
    // train "a b c a b c": tri abc:2 bca:1 cab:1; bi ab:2 bc:2 ca:1;
    // uni a:2 b:2 c:2 (N=6, V=3)
    val train = Seq("a b c a b c").toDF("text")
    val uni = CorpusOps.unigramLm(train, "text")
    val bi = CorpusOps.bigramLm(train, "text")
    val tri = CorpusOps.trigramLm(train, "text")
    def score(docs: Seq[(Long, String)]) =
      CorpusOps.stupidBackoffScore(docs.toDF("id", "text"), "id", "text", uni, bi, tri)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // trigram tier: (a,b,c) seen -> S = c3/ctx2 = 2/2 = 1 -> ln 1 = 0
    // unigram tier: (b,c,d): c3=0, bi (c,d)=0 -> 0.4^2*(0+0.5)/(6+1.5)
    val got = score(Seq((7L, "a b c d")))
    val sUni = 0.16 * 0.5 / 7.5
    assert(got(7L)._1 == 2L)
    assert(math.abs(got(7L)._2 - (-(math.log(1.0) + math.log(sUni)) / 2)) < 1e-12)
    // bigram tier: (x,b,c): c3=0 but bi (b,c)=2, ctx1(b)=2
    //   -> S = 0.4 * 2/2 = 0.4
    val gotB = score(Seq((8L, "x b c")))
    assert(gotB(8L)._1 == 1L && math.abs(gotB(8L)._2 - (-math.log(0.4))) < 1e-12)
    // unigram tier with a SEEN token: (x,y,a): c3=0, bi (y,a)=0,
    //   c1(a)=2 -> S = 0.16*(2+0.5)/7.5
    val gotU = score(Seq((9L, "x y a")))
    assert(math.abs(gotU(9L)._2 - (-math.log(0.16 * 2.5 / 7.5))) < 1e-12)
    // in-domain text outscores (lower score) shuffled/OOV text
    val cmp = score(Seq((1L, "a b c a b c"), (2L, "q w e r t y")))
    assert(cmp(1L)._2 < cmp(2L)._2)
    // documents under three tokens are absent; empty LM refuses
    assert(score(Seq((3L, "a b"))).isEmpty)
    val blank = Seq((1L, " ")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      CorpusOps.stupidBackoffScore(blank, "id", "text",
        CorpusOps.unigramLm(blank, "text"), bi, tri)
    }
  }

  test("ngramLms: one-pass multi-order == per-order ngramLm, short docs contribute only their orders") {
    // doc 2 has 3 tokens: contributes bi/trigrams but no 4/5-grams;
    // doc 3 has 1 token: contributes nothing at any order
    val train = Seq("the cat sat on the mat", "the cat sat", "x").toDF("text")
    val all = CorpusOps.ngramLms(train, "text", 5, minN = 1)
    for (n <- 2 to 5) {
      val got = all.where(col("n") === n).drop("n")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val want = CorpusOps.ngramLm(train, "text", n)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got === want, s"order $n mismatch")
    }
    // the folded unigram tier == unigramLm, INCLUDING the 1-token doc
    // "x" no higher order sees; ctx is "" at n=1
    val uniGot = all.where(col("n") === 1).drop("n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val uniWant = CorpusOps.unigramLm(train, "text")
      .collect().map(r => ("", r.getString(0), r.getLong(1))).toSet
    assert(uniGot === uniWant)
    assert(uniWant.exists(_._2 == "x"))
    // minN = 2 excludes the unigram tier and the 1-token doc entirely
    assert(CorpusOps.ngramLms(train, "text", 5).where(col("n") === 1).count() === 0)
    intercept[IllegalArgumentException] { CorpusOps.ngramLms(train, "text", 1) }
    intercept[IllegalArgumentException] { CorpusOps.ngramLms(train, "text", 5, minN = 0) }
  }

  test("ngramLm tiers derive the named-column bigram/trigram LM shapes exactly") {
    // the Queries lmBigram/lmTrigram derivations: n=2's ctx IS the
    // previous token; n=3's space-joined ctx splits back bijectively
    // (whitespace tokens contain no spaces) — pinned so the per-JVM
    // materialized ladder serves the d36/d41/d43 gates row-identically
    // to the per-gate bigramLm/trigramLm rebuilds it replaced
    val train = Seq("the cat sat on the mat", "the cat sat", "x").toDF("text")
    val biGot = CorpusOps.ngramLm(train, "text", 2)
      .select(col("ctx").as("prev_token"), col("token"),
        col("ngram_count").as("bigram_count"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val biWant = CorpusOps.bigramLm(train, "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(biGot === biWant)
    val c = split(col("ctx"), " ")
    val triGot = CorpusOps.ngramLm(train, "text", 3)
      .select(element_at(c, 1).as("prev2_token"), element_at(c, 2).as("prev_token"),
        col("token"), col("ngram_count").as("trigram_count"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val triWant = CorpusOps.trigramLm(train, "text")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(triGot === triWant)
  }

  test("stupidBackoffScoreN: every tier of the 5-gram ladder closed-form; hashed == unhashed; order-3 == fixed trigram form") {
    // train "the cat sat on the mat": uni the:2 cat sat on mat (N=6,
    // V=5); the only 5-grams are (the cat sat on the) and
    // (cat sat on the mat)
    val train = Seq("the cat sat on the mat").toDF("text")
    val uni = CorpusOps.unigramLm(train, "text")
    val lms = (2 to 5).map(n => CorpusOps.ngramLm(train, "text", n))
    def score(docs: Seq[(Long, String)], hash: Boolean = false) =
      CorpusOps.stupidBackoffScoreN(docs.toDF("id", "text"), "id", "text",
          uni, lms, hashContext = hash)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val tiers = Seq(
      // tier 5: full 5-gram seen → S = c5/t4 = 1/1, score −ln 1 = 0
      (1L, "the cat sat on the", 1.0),
      // tier 4: c5=0; 4-gram (sat on the)←(cat sat on) ctx seen → 0.4·1/1
      (2L, "x cat sat on the", 0.4),
      // tier 3: c5=c4=0; trigram (sat on)→the → 0.4²·1/1
      (3L, "x y sat on the", 0.16),
      // tier 2: down to bigram (on)→the → 0.4³·1/1
      (4L, "x y z on the", 0.064),
      // tier 1, unseen token: 0.4⁴·(0+0.5)/(6+0.5·5)
      (5L, "x y z w q", 0.0256 * 0.5 / 8.5),
      // tier 1, seen token (the, c1=2): 0.4⁴·(2+0.5)/8.5
      (6L, "x y z w the", 0.0256 * 2.5 / 8.5))
    val got = score(tiers.map(t => (t._1, t._2)))
    tiers.foreach { case (id, txt, sExp) =>
      assert(got(id)._1 == 1L, s"doc $id '$txt': n_scored ${got(id)._1}")
      assert(math.abs(got(id)._2 - (-math.log(sExp))) < 1e-12,
        s"doc $id '$txt': score ${got(id)._2} != ${-math.log(sExp)}")
    }
    // hashed contexts reproduce the string-keyed scores
    val hashed = score(tiers.map(t => (t._1, t._2)), hash = true)
    tiers.foreach { case (id, _, _) =>
      assert(math.abs(hashed(id)._2 - got(id)._2) < 1e-12, s"doc $id hashed diverged")
    }
    // docs under the top order are absent
    assert(score(Seq((9L, "the cat sat on"))).isEmpty)
    // ctxLms of size 2 IS the trigram ladder: equals stupidBackoffScore
    val docs3 = Seq((1L, "the cat sat on the mat"), (2L, "x b the cat q"),
      (3L, "q w e r t y"))
    val viaN = CorpusOps.stupidBackoffScoreN(docs3.toDF("id", "text"), "id",
        "text", uni, lms.take(2))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val viaFixed = CorpusOps.stupidBackoffScore(docs3.toDF("id", "text"), "id",
        "text", uni, CorpusOps.bigramLm(train, "text"),
        CorpusOps.trigramLm(train, "text"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(viaN.keySet == viaFixed.keySet)
    viaN.foreach { case (id, (nS, s)) =>
      assert(nS == viaFixed(id)._1)
      assert(math.abs(s - viaFixed(id)._2) < 1e-12, s"doc $id: N-form $s != fixed ${viaFixed(id)._2}")
    }
    // ngramLm guards its order
    intercept[IllegalArgumentException] { CorpusOps.ngramLm(train, "text", 1) }
  }

  test("trigram context adds discrimination over bigram on pair-preserving rephrasings") {
    // train "a b a c a b a c": doc2 below uses only PAIRS the corpus
    // contains (ac, ca, ab), but its TRIPLES (aca, cab) are the rare
    // ones — the phrase-order signal a bigram model mostly misses.
    // Closed-form check (α=1): trigram V=3, doc1 triples aba (c=2,
    // ctx(ab)=2), bac (c=2, ctx(ba)=2) → H1 = −ln(3/5); doc2 triples
    // aca (c=1, ctx(ac)=1), cab (c=1, ctx(ca)=1) → H2 = −ln(1/2).
    // Trigram gap = ln(6/5); the bigram gap on the same docs is only
    // ln(6/5)/2.
    val train = Seq("a b a c a b a c").toDF("text")
    val blm = CorpusOps.bigramLm(train, "text")
    val tlm = CorpusOps.trigramLm(train, "text")
    val docs = Seq((1L, "a b a c"), (2L, "a c a b")).toDF("id", "text")
    val bh = CorpusOps.bigramCrossEntropy(docs, "id", "text", blm).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val th = CorpusOps.trigramCrossEntropy(docs, "id", "text", tlm).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(th(1L) - math.log(5.0 / 3)) < 1e-12, th.toString)
    assert(math.abs(th(2L) - math.log(2.0)) < 1e-12, th.toString)
    val triGap = th(2L) - th(1L)
    val biGap = bh(2L) - bh(1L)
    assert(math.abs(triGap - math.log(1.2)) < 1e-12)
    assert(triGap > biGap + 1e-12, s"triGap=$triGap biGap=$biGap")
  }

  test("bigramCrossEntropy is word-order sensitive where unigram cannot be") {
    val train = Seq.fill(50)("the quick brown fox jumps over the lazy dog").toDF("text")
    val lm = CorpusOps.bigramLm(train, "text")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "dog lazy the over jumps fox brown quick the")).toDF("id", "text")
    val h = CorpusOps.bigramCrossEntropy(docs, "id", "text", lm).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(h(1L) < h(2L), s"natural order must score lower cross-entropy: $h")
    // same tokens -> identical unigram score; the bigram model separates them
    val ulm = CorpusOps.unigramLm(train, "text")
    val uh = CorpusOps.crossEntropyScore(docs, "id", "text", ulm).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(uh(1L) - uh(2L)) < 1e-12)
  }

  test("targetMixtureRates: binding source at rate 1.0, closed-form rates, end-to-end composition") {
    // src A: 1000 docs x 10 tokens; B: 300 x 10; C: 200 x 10
    val docs = ((1 to 1000).map(i => (i.toLong, "A", Seq.fill(10)("w").mkString(" "))) ++
      (1 to 300).map(i => (1000L + i, "B", Seq.fill(10)("w").mkString(" "))) ++
      (1 to 200).map(i => (1300L + i, "C", Seq.fill(10)("w").mkString(" "))))
      .toDF("id", "source", "text")
    // target 50/30/20: B is scarcest relative to target (3000/0.3=10000
    // < A 20000, = C 10000 -> min over both; ties fine). T' = 10000.
    val rates = CorpusOps.targetMixtureRates(docs, "source", "text",
      Seq("A" -> 0.5, "B" -> 0.3, "C" -> 0.2)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rates("A")._1 == 10000L && rates("B")._1 == 3000L && rates("C")._1 == 2000L)
    assert(rates("B")._3 == 1.0, s"binding source must keep everything: $rates")
    assert(rates("C")._3 == 1.0, s"tied-binding source must keep everything: $rates")
    assert(math.abs(rates("A")._3 - 0.5) < 1e-9, s"A halves: $rates")

    // end-to-end: apply the rates with mixtureFilter; achieved token
    // shares land within sampling tolerance of the 50/30/20 target
    val rateMap = rates.map { case (s, (_, _, r)) => s -> r }.toSeq
    val kept = docs.where(CorpusOps.mixtureFilter(col("id"), col("source"), rateMap))
    val keptTok = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1) * 10.0).toMap
    val total = keptTok.values.sum
    assert(math.abs(keptTok("A") / total - 0.5) < 0.03, keptTok.toString)
    assert(math.abs(keptTok("B") / total - 0.3) < 0.03, keptTok.toString)
    assert(math.abs(keptTok("C") / total - 0.2) < 0.03, keptTok.toString)
  }

  test("targetMixtureRates rejects targets over sources missing from the corpus") {
    val docs = Seq((1L, "A", "x y z")).toDF("id", "source", "text")
    intercept[IllegalArgumentException] {
      CorpusOps.targetMixtureRates(docs, "source", "text", Seq("A" -> 0.5, "NOPE" -> 0.5))
    }
  }

  test("tokenDrift: identical snapshots diverge zero, drifted snapshots positive, JS symmetric and bounded") {
    val a = Seq((1L, "s", "x x y z"), (2L, "s", "x y y z")).toDF("id", "source", "text")
    val same = CorpusOps.tokenDrift(a, a, "source", "text").collect().head
    assert(same.getAs[Double]("kl_b_vs_a") == 0.0 && same.getAs[Double]("js") == 0.0)
    assert(same.getAs[Long]("n_tokens_a") == 8L && same.getAs[Long]("vocab") == 3L)

    val b = Seq((3L, "s", "q q q r"), (4L, "s", "q r r r")).toDF("id", "source", "text")
    val drift = CorpusOps.tokenDrift(a, b, "source", "text").collect().head
    assert(drift.getAs[Double]("kl_b_vs_a") > 0.1, drift.toString)
    assert(drift.getAs[Double]("js") > 0.1 && drift.getAs[Double]("js") <= math.log(2) + 1e-9)
    // JS is symmetric; KL is not
    val rev = CorpusOps.tokenDrift(b, a, "source", "text").collect().head
    assert(math.abs(rev.getAs[Double]("js") - drift.getAs[Double]("js")) < 1e-9)

    // per-source isolation: a drifted source alongside a stable one
    val a2 = a.unionAll(Seq((5L, "t", "m m n")).toDF("id", "source", "text"))
    val b2 = b.unionAll(Seq((6L, "t", "m m n")).toDF("id", "source", "text"))
    val by = CorpusOps.tokenDrift(a2, b2, "source", "text").collect()
      .map(r => r.getString(0) -> r.getAs[Double]("js")).toMap
    assert(by("t") == 0.0 && by("s") > 0.1, by.toString)
  }

  test("tokenDriftFromCounts == tokenDrift, row for row (pre-aggregated reference)") {
    val a = Seq((1L, "s", "x x y z"), (2L, "s", "x y y z"),
      (3L, "t", "m m n")).toDF("id", "source", "text")
    val b = Seq((4L, "s", "q q q r"), (5L, "t", "m n n")).toDF("id", "source", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))).toSet
    val direct = rows(CorpusOps.tokenDrift(a, b, "source", "text"))
    val viaCounts = rows(CorpusOps.tokenDriftFromCounts(
      CorpusOps.tokenDriftCounts(a, "source", "text"), b, "source", "text"))
    assert(viaCounts == direct, s"direct=$direct via=$viaCounts")
  }

  test("importanceWeights: closed-form DSIR log weights over the union vocabulary") {
    val docs = Seq((1L, "a a b"), (2L, "c c c"), (3L, "   ")).toDF("id", "text")
    val target = CorpusOps.unigramLm(docs.where(col("id") === 1), "text")
    val raw = CorpusOps.unigramLm(docs, "text")
    val got = CorpusOps.importanceWeights(docs, "id", "text", target, raw)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // union vocab {a,b,c}: ct=(2,1,0), cr=(2,1,3); Nt=3, Nr=6, V=3, α=0.5
    val wA = math.log(2.5 / 4.5) - math.log(2.5 / 7.5) // = w(b)
    val wC = math.log(0.5 / 4.5) - math.log(3.5 / 7.5)
    assert(got.keySet == Set(1L, 2L)) // the zero-token doc is absent
    assert(got(1L)._1 == 3L && math.abs(got(1L)._2 - (2 * wA + wA)) < 1e-9)
    assert(got(2L)._1 == 3L && math.abs(got(2L)._2 - 3 * wC) < 1e-9)
    // target-like docs weigh higher than target-unlike ones
    assert(got(1L)._2 > 0 && got(2L)._2 < 0)
    // empty union vocabulary (all-whitespace text -> both LMs empty)
    // fails with the actual cause, not an opaque NPE from a NULL sum
    val blank = Seq((1L, "   "), (2L, "\t")).toDF("id", "text")
    val emptyLm = CorpusOps.unigramLm(blank, "text")
    val e = intercept[IllegalArgumentException] {
      CorpusOps.importanceWeights(blank, "id", "text", emptyLm, emptyLm).collect()
    }
    assert(e.getMessage.contains("union vocabulary"), e.getMessage)
  }

  test("importanceResample picks target-like docs, deterministically, any partitioning") {
    val docs = ((0 until 10).map(i => (i.toLong, "a a a"))
      ++ (10 until 20).map(i => (i.toLong, "z z z"))).toDF("id", "text")
    val target = CorpusOps.unigramLm(docs.where(col("id") < 10), "text")
    val raw = CorpusOps.unigramLm(docs, "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      CorpusOps.importanceResample(d, "id", "text", target, raw, n = 5, seed = 42L)
        .select("id").collect().map(_.getLong(0)).toSet
    val won = run(docs)
    // a z-doc outscores an a-doc only with probability ~e^-12 — the draw
    // must land entirely in the target-like half
    assert(won.size == 5 && won.forall(_ < 10L), won.toString)
    // pure function of (seed, id): same winners on a re-run and on a
    // different physical partitioning
    assert(run(docs) == won && run(docs.repartition(7)) == won)
    // a different seed is a different (but equally deterministic) draw
    val won2 = CorpusOps.importanceResample(docs, "id", "text", target, raw,
      n = 5, seed = 43L).select("id").collect().map(_.getLong(0)).toSet
    assert(won2.size == 5 && won2.forall(_ < 10L))
  }

  test("NbClassifier: closed-form log-odds, sign separates the classes, OOV floor") {
    val pos = Seq((1L, "good fine"), (2L, "good good")).toDF("id", "text")
    val neg = Seq((3L, "spam bad"), (4L, "bad bad")).toDF("id", "text")
    val m = CorpusOps.NbClassifier.train(pos, neg, "text")
    // union vocab {good,fine,spam,bad}: cp=(3,1,0,0), cn=(0,0,1,3);
    // Np=Nn=4, V=4 → both denoms 6, prior = ln(2/2) = 0, floor = 0
    assert(m.prior == 0.0 && math.abs(m.oovFloor) < 1e-12)
    val w = m.tokenLogOdds.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(w("good") - math.log(7.0)) < 1e-9)
    assert(math.abs(w("fine") - math.log(3.0)) < 1e-9)
    assert(math.abs(w("bad") + math.log(7.0)) < 1e-9)
    val scores = CorpusOps.NbClassifier.score(
        pos.unionAll(neg).unionAll(Seq((5L, "good bad zzz")).toDF("id", "text")),
        "id", "text", m)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(math.abs(scores(1L)._2 - math.log(21.0)) < 1e-9) // w(good)+w(fine)
    assert(scores(1L)._2 > 0 && scores(2L)._2 > 0) // curated-like
    assert(scores(3L)._2 < 0 && scores(4L)._2 < 0) // crawl-like
    // unseen token takes the floor: good + bad + floor = 0 here
    assert(scores(5L)._1 == 3L && math.abs(scores(5L)._2) < 1e-9)
    // empty classes are a caller error, not a NaN model
    intercept[IllegalArgumentException] {
      CorpusOps.NbClassifier.train(pos.where(col("id") < 0), neg, "text")
    }
  }

  test("corpusCard: per-source datasheet numbers, closed form") {
    val docs = Seq(
      (1L, "web", "en", "one two three"),
      (2L, "web", "en", "one two three"),    // exact dup of 1
      (3L, "web", "de", "eins zwei"),
      (4L, "books", "en", "a b c d e f")
    ).toDF("id", "source", "lang", "text")
    val card = CorpusOps.corpusCard(docs, "source", "text", "lang")
      .collect().map(r => r.getString(0) -> r).toMap
    val web = card("web")
    assert(web.getAs[Long]("n_docs") == 3L)
    assert(web.getAs[Long]("n_tokens") == 8L)           // 3 + 3 + 2
    assert(web.getAs[Double]("mean_tokens") == 2.67)
    assert(web.getAs[Double]("p50_tokens") == 3.0)      // median of (3,3,2)
    assert(web.getAs[Double]("mean_chars") == 11.67)    // (13 + 13 + 9) / 3
    assert(math.abs(web.getAs[Double]("lang_share") - 2.0 / 3) < 1e-6)
    assert(math.abs(web.getAs[Double]("exact_dup_ratio") - 1.0 / 3) < 1e-6)
    val books = card("books")
    assert(books.getAs[Long]("n_docs") == 1L && books.getAs[Long]("n_tokens") == 6L)
    assert(books.getAs[Double]("exact_dup_ratio") == 0.0)
    assert(books.getAs[Double]("lang_share") == 1.0)
  }

  test("leakageSafeSplit: near-dup components co-travel; singletons match splitColumn") {
    val docs = (1L to 10L).toDF("id")
    // components {1,2,3} (a chain — co-travel must hold transitively,
    // not just per-pair) and {7,8}; 4,5,6,9,10 singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id1", "id2")
    val got = CorpusOps.leakageSafeSplit(docs, pairs, "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 10)
    // whole component shares one split, decided by its min label
    def ruleOf(key: Long): String =
      Seq(key).toDF("k").select(CorpusOps.splitColumn(col("k"), splits))
        .head().getString(0)
    assert(Set(got(1L), got(2L), got(3L)).size == 1)
    assert(got(1L) == ruleOf(1L))
    assert(got(7L) == got(8L) && got(7L) == ruleOf(7L))
    // a singleton splits exactly as plain splitColumn would — the rule
    // degrades to the id-hash split when no dup structure exists
    Seq(4L, 5L, 6L, 9L, 10L).foreach(id => assert(got(id) == ruleOf(id), s"id=$id"))
  }

  test("canonicalizeUrl: each normalization rule on hand-built URLs") {
    def canon(u: String): String =
      Seq(Tuple1(u)).toDF("u").select(CorpusOps.canonicalizeUrl(col("u")))
        .head().getString(0)
    // case, default port, duplicate + trailing slashes, tracker drop,
    // param sort, fragment — the full rule set at once
    assert(canon("HTTPS://WWW.Example.COM:443//docs//5/?utm_source=x&b=2&a=1#frag")
      == "https://www.example.com/docs/5?a=1&b=2")
    // scheme-less resolves as http
    assert(canon("example.com/p/3") == "http://example.com/p/3")
    // userinfo stripped, non-default port kept, empty query drops '?'
    assert(canon("http://user:pw@Host.com:8080/p?fbclid=z") == "http://host.com:8080/p")
    // root path normalizes to '/'
    assert(canon("http://example.com:80/") == "http://example.com/")
    assert(canon("https://example.com") == "https://example.com/")
    // https non-default port survives; http's default would not
    assert(canon("https://example.com:8443/x") == "https://example.com:8443/x")
    assert(canon("https://example.com:80/x") == "https://example.com:80/x")
    // params sort bytewise; duplicates survive (they can be meaningful)
    assert(canon("https://example.com/a/?x=1&x=0") == "https://example.com/a?x=0&x=1")
    // utm_ prefix family drops, real params stay; path case preserved
    assert(canon("https://example.com/A?utm_campaign=1&keep=2")
      == "https://example.com/A?keep=2")
    // protocol-relative (crawled-href form) resolves as http
    assert(canon("//cdn.example.com/lib.js?a=1") == "http://cdn.example.com/lib.js?a=1")
    // hostless input has no canonical key — NULL, not a key of ""
    Seq("/about", "//", "").foreach { u =>
      val r = Seq(Tuple1(u)).toDF("u")
        .select(CorpusOps.canonicalizeUrl(col("u"))).head()
      assert(r.isNullAt(0), s"'$u' should canonicalize to NULL")
    }
    // NULL in, NULL out
    val n = Seq(Tuple1(null: String)).toDF("u")
      .select(CorpusOps.canonicalizeUrl(col("u"))).head()
    assert(n.isNullAt(0))
  }

  test("extractHtmlText: element removal, block newlines, entity order, whitespace rules") {
    def x(h: String): String =
      Seq(Tuple1(h)).toDF("h").select(CorpusOps.extractHtmlText(col("h")))
        .head().getString(0)
    assert(x("<p>hello world</p>") == "hello world")
    // script/style go WITH their content; markup inside them never leaks
    assert(x("<script>var a='<p>x</p>';</script>after") == "after")
    assert(x("<style>p { color: red; }</style>x") == "x")
    assert(x("a<!-- hidden\ncomment -->b") == "a b")
    // block-closing tags preserve paragraph structure as newlines
    assert(x("<p>one</p><p>two</p>") == "one\ntwo")
    assert(x("l1<br>l2<BR/>l3") == "l1\nl2\nl3")
    assert(x("<h2>T</h2>body") == "T\nbody")
    // empty paragraphs collapse to at most one blank line
    assert(x("<p>a</p><p></p><p></p><p>b</p>") == "a\n\nb")
    // entities decode AFTER tag stripping ("&lt;i&gt;" stays text) and
    // &amp; decodes last ("&amp;lt;" -> the literal string "&lt;")
    assert(x("&amp;lt;b&amp;gt; &lt;i&gt; &quot;q&quot; &#39;a&#39; x&nbsp;y")
      == "&lt;b&gt; <i> \"q\" 'a' x y")
    assert(x("a   b\t\tc") == "a b c")
    assert(x("  <p> padded </p>  ") == "padded")
  }

  test("dedupByCanonicalUrl: min-id survivor per canonical key, n_dups, payload intact") {
    val rows = Seq(
      (1L, "https://example.com/a?utm_source=x", "p1"),
      (2L, "https://example.com/b", "p2"),
      (3L, "HTTPS://Example.com:443/a/", "p3"),  // canonical-equal to 1
      (4L, "example.com/c", "p4"),
      (5L, "http://example.com:80/c", "p5"),      // canonical-equal to 4
      (6L, null: String, "p6"),                   // no URL: must survive
      (7L, "/bare/path", "p7")                    // hostless: must survive
    ).toDF("id", "url", "payload")
    val got = CorpusOps.dedupByCanonicalUrl(rows, "id", "url")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("canonical_url"), r.getAs[Long]("n_dups"),
         r.getAs[String]("payload"))).toMap
    assert(got.keySet == Set(1L, 2L, 4L, 6L, 7L))
    assert(got(1L) == (("https://example.com/a", 2L, "p1")))
    assert(got(2L) == (("https://example.com/b", 1L, "p2")))
    assert(got(4L) == (("http://example.com/c", 2L, "p4")))
    // keyless rows pass through individually — NOT collapsed into one
    // NULL dedup group
    assert(got(6L) == ((null, 1L, "p6")))
    assert(got(7L) == ((null, 1L, "p7")))
  }

  test("perplexityBuckets: per-language scoring parity and clean tertile partition") {
    // two languages with sharply different repetition profiles; doc 99
    // is zero-token and must be absent from the output
    val rows = (
      (1L to 9L).map(i => (i, "aa", ("common word " * i.toInt) + s"rare$i token"))
        :+ (99L, "aa", "   ")
    ) ++ (11L to 16L).map(i => (i, "bb", s"x y z w$i " * (i.toInt - 10)))
    val df = rows.toDF("id", "lang", "text")
    val got = CorpusOps.perplexityBuckets(df, "id", "text", "lang")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getString(3))).toMap
    assert(!got.contains(99L) && got.size == 15)

    // xent parity: bucketing scores each doc exactly as crossEntropyScore
    // does against its own language slice's unigram LM
    for (lang <- Seq("aa", "bb")) {
      val slice = df.where(col("lang") === lang && length(trim(col("text"))) > 0)
      val expected = CorpusOps.crossEntropyScore(slice, "id", "text",
          CorpusOps.unigramLm(slice, "text"))
        .collect().map(r => r.getLong(0) ->
          BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble).toMap
      expected.foreach { case (id, x) => assert(got(id)._2 == x, s"id $id") }
    }

    // tertile partition: within each language every head score <= every
    // middle score <= every tail score, and all three buckets are
    // populated when there are >= 3 documents
    for (lang <- Seq("aa", "bb")) {
      val byBucket = got.values.filter(_._1 == lang).toSeq
        .groupBy(_._3).map { case (b, v) => b -> v.map(_._2) }
      assert(byBucket.keySet == Set("head", "middle", "tail"), lang)
      assert(byBucket("head").max <= byBucket("middle").min, lang)
      assert(byBucket("middle").max <= byBucket("tail").min, lang)
    }
  }

  test("tokenizerEval: fertility, compression and word-splitting arithmetic by hand") {
    val df = Seq(
      ("g1", "ab ab"),        // each word -> [ab, </w>]: 4 tokens, 2 words
      ("g1", "AB"),           // normalization: same encoding as "ab"
      ("g2", "x"),            // merged word-final token x</w>: 1 token
      ("g2", null: String)    // null text is excluded entirely
    ).toDF("source", "text")
    val enc = Bpe.encodeUdf(Seq(("a", "b"), ("x", Bpe.EndOfWord)))
    val got = CorpusOps.tokenizerEval(df, "text", "source", enc)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    // g1: 2 docs, 3 words, 6 tokens ([ab,</w>] x3), bytes 5 + 2 = 7
    assert(got("g1") == ((2L, 3L, 6L, 7L, 2.0, round6(7.0 / 6), 0.5)), got("g1").toString)
    // g2: the null row vanishes; "x" is one fully-merged word-final token
    assert(got("g2") == ((1L, 1L, 1L, 1L, 1.0, 1.0, 0.0)), got("g2").toString)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
