package graft.cube

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CuttingBoardSpec extends SparkSpec {
  import spark.implicits._

  private def freshBoard() = {
    val df = Seq(
      ("A", "x", 2020, 1.0), ("A", "y", 2020, 2.0), ("A", "x", 2021, 4.0),
      ("B", "x", 2020, 8.0), ("B", "y", 2021, 16.0),
    ).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(
        Measure("sum_v", col("v"), Agg.Sum),
        Measure("n", lit(1), Agg.Count),
        Measure("avg_v", col("v"), Agg.Avg)))
    new CuttingBoard(df, cube)
  }

  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.toSeq.init.mkString(",") -> r.toSeq.last).toMap

  test("exact repeat query is a cache hit with identical result") {
    val board = freshBoard()
    val q = CubeQuery().addAxis("k").addValue("sum_v")
    val first = asMap(board.slice(q))
    val second = asMap(board.slice(q))
    assert(first == second)
    assert(board.stats == (1L, 1L)) // one miss, one hit
  }

  test("coarser query re-aggregates the cached finer slice") {
    val board = freshBoard()
    val fine = CubeQuery().addAxis("k").addAxis("s").addValue("sum_v").addValue("n")
    board.slice(fine).collect()
    val coarse = CubeQuery().addAxis("k").addValue("sum_v").addValue("n")
    val got = board.slice(coarse).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(board.stats._1 == 1L) // served from cache
    assert(got("A") == (7.0, 3L) && got("B") == (24.0, 2L))
  }

  test("drill-down (eq filter on cached axis + axis removed) is served from cache") {
    val board = freshBoard()
    val base = CubeQuery().addAxis("k").addAxis("y").addValue("sum_v")
    board.slice(base).collect()
    val drilled = base.addFilter("k", "A").removeAxis("k")
    val got = board.slice(drilled).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(board.stats._1 == 1L)
    assert(got(2020) == 3.0 && got(2021) == 4.0)
  }

  test("a cached slice with a SET axis is never marginalized (would multi-count)") {
    val df = Seq(("A", "red blue", 1.0), ("A", "red", 2.0), ("B", "blue", 4.0))
      .toDF("k", "tg", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("tags", split(col("tg"), " "), isSet = true)),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum), Measure("n", lit(1), Agg.Count)))
    val board = new CuttingBoard(df, cube)
    // fine slice on (k, tags): row 1 exploded under red AND blue
    board.slice(CubeQuery().addAxis("k").addAxis("tags").addValue("n").addValue("sum_v")).collect()
    // coarser (k): must NOT be served by summing the exploded slice
    // (that would count row 1 twice); a base-data recompute is correct
    val got = board.slice(CubeQuery().addAxis("k").addValue("n").addValue("sum_v"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(board.stats == (0L, 2L)) // two misses, no reuse
    assert(got("A") == (2L, 3.0) && got("B") == (1L, 4.0))
    // keeping the set axis, the cached slice IS a legitimate exact hit
    val again = board.slice(CubeQuery().addAxis("k").addAxis("tags").addValue("n").addValue("sum_v"))
    assert(again.collect().length == 3 && board.stats._1 == 1L)
  }

  test("quotient measure (Avg) is served coarser through companions, never avg-of-avgs") {
    val board = freshBoard()
    board.slice(CubeQuery().addAxis("k").addAxis("s").addValue("avg_v")).collect()
    val coarse = CubeQuery().addAxis("k").addValue("avg_v")
    val got = board.slice(coarse).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(board.stats == (1L, 1L), "quotient coarsening must be a cache hit")
    // A rows {1,2,4}: avg-of-avgs over (x: 2.5, y: 2.0) would be 2.25 —
    // the companion path re-sums Σx and n instead and lands the true avg
    assert(got("A") == 7.0 / 3 && got("B") == 12.0)
    board.clear()
  }

  test("quotient coarsening parity: Avg/StdDev/Ratio served from a finer slice match a fresh recompute") {
    val df = Seq(("A", "x", 1.0, 1.0), ("A", "x", 3.0, 2.0), ("A", "y", 5.0, 1.0),
      ("B", "x", 8.0, 4.0), ("B", "y", 4.0, 4.0)).toDF("k", "s", "v", "d")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s")),
      measures = Seq(
        Measure("avg_v", col("v"), Agg.Avg),
        Measure("sd_v", col("v"), Agg.StdDev),
        Measure("ratio", lit(1), Agg.Ratio(col("v"), col("d"))),
        Measure("grp", col("d"), Agg.GroupConsistent)))
    val board = new CuttingBoard(df, cube)
    val fine = CubeQuery().addAxis("k").addAxis("s").addValue("avg_v")
      .addValue("sd_v").addValue("ratio")
    board.slice(fine).collect()
    val coarse = CubeQuery().addAxis("k").addValue("avg_v").addValue("sd_v")
      .addValue("ratio")
    val got = board.slice(coarse).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(board.stats == (1L, 1L), "quotient coarsening must be a cache hit")
    assert(board.lastServedFrom.contains(fine))
    val want = Slicer.slice(board.dataset, cube, coarse).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got == want)
    // A {1,3,5}: avg 3, sample sd 2, ratio 9/4; B {8,4}: avg 6, sd √8, 12/8
    assert(got("A") == ((3.0, 2.0, 2.25)))
    assert(got("B") == ((6.0, math.sqrt(8.0), 1.5)))
    // an extra eq-filter on the dropped axis rides the same reuse path
    val filteredQ = CubeQuery().addAxis("k").addFilter("s", "x").addValue("avg_v")
    val gotF = board.slice(filteredQ).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(board.stats == (2L, 1L), "filtered quotient drill must be a cache hit")
    assert(gotF == Map("A" -> 2.0, "B" -> 8.0))
    // GroupConsistent still has no mergeable cached form: base recompute
    val fineGrp = CubeQuery().addAxis("k").addAxis("s").addValue("grp")
    board.slice(fineGrp).collect()
    board.slice(CubeQuery().addAxis("k").addValue("grp")).collect()
    assert(board.stats == (2L, 3L), "group coarsening must NOT be served from cache")
    board.clear()

    // the mergeability table, one Agg kind at a time: a coarser query over
    // a mergeable measure is served from the finer slice and equals a
    // fresh recompute; the rest fall through to the base scan
    val wide = df
      .withColumn("tags", when(col("v") > 4, array().cast("array<string>"))
        .otherwise(array(col("s"))))
      .withColumn("cur", when(col("v") === 8.0, "eur").otherwise("usd"))
    val kinds: Seq[(Agg, org.apache.spark.sql.Column, Boolean)] = Seq(
      (Agg.Sum, col("v"), true), (Agg.Count, lit(1), true),
      (Agg.Min, col("v"), true), (Agg.Max, col("v"), true),
      (Agg.Avg, col("v"), true), (Agg.StdDev, col("v"), true),
      (Agg.Ratio(col("v"), col("d")), lit(1), true),
      (Agg.UnionSet, col("tags"), true), (Agg.UnionIncludedEmpty, col("tags"), true),
      (Agg.GroupConsistent, col("d"), false), (Agg.CountDistinct, col("d"), false),
      (Agg.ApproxDistinct(), col("d"), false),
      (Agg.Labeled(col("cur"), Agg.Sum), col("v"), false))
    kinds.foreach { case (agg, e, mergeable) =>
      assert(agg.mergeable == mergeable, s"$agg")
      val kCube = CubeDef(labels = Seq(Label("k"), Label("s")),
        measures = Seq(Measure("m", e, agg)))
      val kBoard = new CuttingBoard(wide, kCube)
      val kFine = CubeQuery().addAxis("k").addAxis("s").addValue("m")
      kBoard.slice(kFine).collect()
      val kCoarse = CubeQuery().addAxis("k").addValue("m")
      val kGot = kBoard.slice(kCoarse).collect().map(r => r.getString(0) -> r.get(1)).toMap
      assert(kBoard.lastServedFrom == (if (mergeable) Some(kFine) else None), s"$agg")
      val kWant = Slicer.slice(wide, kCube, kCoarse).collect()
        .map(r => r.getString(0) -> r.get(1)).toMap
      assert(kGot == kWant, s"$agg")
      kBoard.clear()
    }
  }

  test("invisible quotient value rides strategy-2: accumulated in the merge, hidden from the output") {
    val board = freshBoard()
    board.slice(CubeQuery().addAxis("k").addAxis("s").addValue("avg_v")
      .addValue("n")).collect()
    // coarser query keeps avg_v INVISIBLE: it must still re-aggregate
    // through the companions (it is in valuesInSlice) but the served
    // frame shows only the visible columns
    val coarse = CubeQuery().addAxis("k").addValue("avg_v", visible = false)
      .addValue("n")
    val out = board.slice(coarse)
    assert(out.columns.toSeq == Seq("k", "n"))
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(board.stats == (1L, 1L), "invisible-quotient coarsening must be a cache hit")
    assert(got == Map("A" -> 3L, "B" -> 2L))
    board.clear()
  }

  test("hierarchy widening serves quotient measures (monthly Avg from a day-grained cache)") {
    val df = Seq(
      ("2024-01-03", 1.0), ("2024-01-20", 2.0), ("2024-02-03", 4.0),
      ("2024-02-29", 8.0), ("2024-03-01", 16.0),
    ).toDF("d", "v").withColumn("d", to_date(col("d")))
    val cube = CubeDef(
      labels = DateLabels.hierarchy("d", dim = "t"),
      measures = Seq(Measure("avg_v", col("v"), Agg.Avg)))
    val board = new CuttingBoard(df, cube)
    board.slice(CubeQuery().addAxis("d_day").addValue("avg_v")).collect()
    val monthly = CubeQuery().addAxis("d_month").addValue("avg_v")
    val got = board.slice(monthly).collect()
      .map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
    assert(board.stats._1 == 1L, "expected a widening cache hit")
    assert(got == Map("2024-01-01" -> 1.5, "2024-02-01" -> 6.0, "2024-03-01" -> 16.0))
    board.clear()
  }

  test("values-less (row-count) query is served coarser from a finer cached slice") {
    val board = freshBoard()
    // from a VALUE-CARRYING finer slice: __m_n is the per-group support
    board.slice(CubeQuery().addAxis("k").addAxis("s").addValue("sum_v")).collect()
    val counts = board.slice(CubeQuery().addAxis("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(board.stats == (1L, 1L), "row-count coarsening must be a cache hit")
    assert(counts == Map("A" -> 3L, "B" -> 2L))
    board.clear()
    // from a VALUES-LESS finer slice: its visible "count" column re-sums
    val board2 = freshBoard()
    board2.slice(CubeQuery().addAxis("k").addAxis("y")).collect()
    val counts2 = board2.slice(CubeQuery().addAxis("k")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(board2.stats == (1L, 1L), "count-from-count coarsening must be a cache hit")
    assert(counts2 == Map("A" -> 3L, "B" -> 2L))
    board2.clear()
  }

  test("pivot query is never served from a cached long slice") {
    val board = freshBoard()
    val long = CubeQuery().addAxis("k").addAxis("s").addValue("sum_v")
    board.slice(long).collect()
    val piv = long.setPivot("s") // same axes vector — would match Strategy 1
    val out = board.slice(piv)
    assert(board.stats._1 == 0L) // must NOT be a cache hit
    assert(out.columns.toSet == Set("k", "x", "y")) // wide pivoted shape
    board.clear()
  }

  test("invisible value is accumulated in the slice and reusable from cache") {
    val board = freshBoard()
    val probe = CubeQuery().addAxis("k").addValue("sum_v", visible = false).addValue("n")
    val first = board.slice(probe)
    assert(first.columns.contains("sum_v")) // accumulated though invisible
    // a later query wanting sum_v visibly is covered by the cached slice
    val visible = CubeQuery().addAxis("k").addValue("sum_v").addValue("n")
    val got = board.slice(visible).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(board.stats._1 == 1L)
    assert(got("A") == 7.0 && got("B") == 24.0)
    board.clear()
  }

  test("hierarchy widening: month axis + month filter served from a day-grained cache") {
    val df = Seq(
      ("2024-01-03", 1.0), ("2024-01-20", 2.0), ("2024-02-03", 4.0),
      ("2024-02-29", 8.0), ("2024-03-01", 16.0),
    ).toDF("d", "v").withColumn("d", to_date(col("d")))
    val cube = CubeDef(
      labels = DateLabels.hierarchy("d", dim = "t"),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum), Measure("n", lit(1), Agg.Count)))
    val board = new CuttingBoard(df, cube)

    val fine = CubeQuery().addAxis("d_day").addValue("sum_v").addValue("n")
    board.slice(fine).collect() // warm the day-grained cache

    // month axis is NOT a cached axis — it derives by truncating d_day
    val monthly = CubeQuery().addAxis("d_month").addValue("sum_v").addValue("n")
    val got = board.slice(monthly).collect()
      .map(r => r.getDate(0).toString -> (r.getDouble(1), r.getLong(2))).toMap
    assert(board.stats._1 == 1L, "expected a widening cache hit")
    assert(got("2024-01-01") == (3.0, 2L))
    assert(got("2024-02-01") == (12.0, 2L))
    assert(got("2024-03-01") == (16.0, 1L))

    // month FILTER from the same day-grained cache, quarter axis derived
    val q1feb = CubeQuery().addAxis("d_quarter").addValue("sum_v")
      .addFilter("d_month", java.sql.Date.valueOf("2024-02-01"))
    val feb = board.slice(q1feb).collect()
    assert(board.stats._1 == 2L)
    assert(feb.length == 1 && feb(0).getDouble(1) == 12.0)

    // equals the direct computation
    val direct = Slicer.slice(df, cube, monthly).collect()
      .map(r => r.getDate(0).toString -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got == direct)
    board.clear()
  }

  test("UnionSet + UnionIncludedEmpty re-aggregate correctly from a cached finer slice") {
    val df = Seq(
      ("A", "x", Seq("p", "q")), ("A", "y", Seq.empty[String]),
      ("B", "x", Seq("r")), ("B", "y", Seq("p")),
    ).toDF("k", "s", "tags")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s")),
      measures = Seq(
        Measure("tag_set", col("tags"), Agg.UnionSet),
        Measure("tag_empty", col("tags"), Agg.UnionIncludedEmpty)))
    val board = new CuttingBoard(df, cube)
    val fine = CubeQuery().addAxis("k").addAxis("s").addValue("tag_set").addValue("tag_empty")
    board.slice(fine).collect()
    val coarse = CubeQuery().addAxis("k").addValue("tag_set").addValue("tag_empty")
    val got = board.slice(coarse).collect()
      .map(r => r.getString(0) -> ((r.getSeq[String](1), r.getBoolean(2)))).toMap
    assert(board.stats._1 == 1L, "expected a re-agg cache hit")
    assert(got("A") == ((Seq("p", "q"), true)))  // empty-set row propagates the flag
    assert(got("B") == ((Seq("p", "r"), false)))
    board.clear()
  }

  test("week-grained cache is NEVER widened to coarser periods (ISO weeks straddle years)") {
    // The ISO week starting 2019-12-30 contains 2020-01-02: serving a
    // yearly query from a weekly slice via trunc(week,'year') would put
    // that row's value in 2019. The widening must refuse week sources.
    val df = Seq(
      ("2019-12-30", 1.0), ("2020-01-02", 2.0), ("2020-06-15", 4.0),
    ).toDF("d", "v").withColumn("d", to_date(col("d")))
    val cube = CubeDef(
      labels = DateLabels.hierarchy("d", dim = "t"),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    val board = new CuttingBoard(df, cube)

    val weekly = CubeQuery().addAxis("d_week").addValue("sum_v")
    board.slice(weekly).collect() // warm a week-grained cache

    val yearly = CubeQuery().addAxis("d_year").addValue("sum_v")
    val got = board.slice(yearly).collect()
      .map(r => r.getDate(0).toString -> r.getDouble(1)).toMap
    assert(board.stats._1 == 0L, "yearly query must NOT be served from the weekly slice")
    assert(got("2019-01-01") == 1.0 && got("2020-01-01") == 6.0)

    // an exact week-for-week repeat is still a legitimate hit
    board.slice(weekly).collect()
    assert(board.stats._1 == 1L)
    board.clear()
  }

  test("cost-based reuse picks the cheapest compatible slice, not the most recent") {
    val df = Seq(
      ("2024-01-03", 1.0), ("2024-01-20", 2.0), ("2024-02-03", 4.0),
      ("2024-05-29", 8.0), ("2024-11-01", 16.0),
    ).toDF("d", "v").withColumn("d", to_date(col("d")))
    val cube = CubeDef(
      labels = DateLabels.hierarchy("d", dim = "t"),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    val board = new CuttingBoard(df, cube)

    val monthly = CubeQuery().addAxis("d_month").addValue("sum_v")
    val daily = CubeQuery().addAxis("d_day").addValue("sum_v")
    board.slice(monthly).collect() // 4 rows — the cheap source
    board.slice(daily).collect()   // 5 rows — finer, AND most recently used

    val yearly = CubeQuery().addAxis("d_year").addValue("sum_v")
    val got = board.slice(yearly).collect().map(r => r.getDouble(1))
    assert(board.stats._1 == 1L)
    // first-match MRU would serve from the daily slice; cost-based must
    // pick the smaller monthly one (bacon estimate_cost analogue)
    assert(board.lastServedFrom.map(_.axes) == Some(Vector("d_month")))
    assert(got.toSeq == Seq(31.0))
    board.clear()
  }

  test("cost is rows × width: a narrow finer slice beats a wide one with fewer rows") {
    // k: 3 values, s: 4, t: 2
    val df = Seq.tabulate(48)(i => (s"k${i % 3}", s"s${i % 4}", s"t${i % 2}", i.toDouble))
      .toDF("k", "s", "t", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("t")),
      measures = (1 to 9).map(i => Measure(s"m$i", col("v") * i, Agg.Sum)))
    val board = new CuttingBoard(df, cube)

    // wide: 6 rows (k×t) but 11 columns; cost 66
    val wide = CubeQuery().addAxis("k").addAxis("t")
    val wideAll = (1 to 9).foldLeft(wide)((q, i) => q.addValue(s"m$i"))
    // narrow: 12 rows (k×s) but 3 columns; cost 36 — row count alone
    // would rank it WORSE (12 > 6)
    val narrow = CubeQuery().addAxis("k").addAxis("s").addValue("m1")
    board.slice(wideAll).collect()
    board.slice(narrow).collect()

    val target = CubeQuery().addAxis("k").addValue("m1")
    val got = board.slice(target).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(board.stats._1 == 1L)
    assert(board.lastServedFrom.map(_.axes) == Some(Vector("k", "s")),
      s"rows×width must pick the narrow slice; served from ${board.lastServedFrom}")
    val want = df.groupBy("k").agg(sum(col("v") * 1).as("m1")).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(got == want)
    board.clear()
  }

  test("refresh() drops the cache and serves the new dataset") {
    val board = freshBoard()
    val q = CubeQuery().addAxis("k").addValue("sum_v")
    val before = asMap(board.slice(q))
    assert(before("A") == 7.0)
    val df2 = Seq(("A", "x", 2020, 100.0)).toDF("k", "s", "y", "v")
    board.refresh(df2)
    val after = asMap(board.slice(q))
    assert(after("A") == 100.0, "post-refresh slice must reflect the new data")
    assert(board.stats == (0L, 2L), "refresh invalidates the cache (no stale hit)")
    board.clear()
  }

  test("append() merges the delta into mergeable cached slices without a base rescan") {
    val board = freshBoard()
    val q = CubeQuery().addAxis("k").addValue("sum_v").addValue("n")
    board.slice(q).collect()
    assert(board.stats == (0L, 1L))
    board.append(Seq(("A", "z", 2022, 10.0), ("C", "x", 2022, 5.0))
      .toDF("k", "s", "y", "v"))
    val got = board.slice(q).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // served FROM CACHE (a hit), yet current: new group C appears, A grows
    assert(board.stats == (1L, 1L), "maintained slice must stay a cache hit")
    assert(got == Map("A" -> (17.0, 4L), "B" -> (24.0, 2L), "C" -> (5.0, 1L)))
    // the grown dataset answers fresh queries too
    assert(board.dataset.count() == 7L)
    board.clear()
  }

  test("append() maintains Avg/StdDev/Ratio slices at delta cost through companions") {
    val df = Seq(("A", 1.0, 1.0), ("A", 3.0, 2.0), ("B", 8.0, 4.0))
      .toDF("k", "v", "d")
    val cube = CubeDef(
      labels = Seq(Label("k")),
      measures = Seq(
        Measure("avg_v", col("v"), Agg.Avg),
        Measure("sd_v", col("v"), Agg.StdDev),
        Measure("ratio", lit(1), Agg.Ratio(col("v"), col("d"))),
        Measure("grp", col("d"), Agg.GroupConsistent)))
    val board = new CuttingBoard(df, cube)
    val q = CubeQuery().addAxis("k").addValue("avg_v").addValue("sd_v")
      .addValue("ratio")
    board.slice(q).collect()
    board.append(Seq(("A", 5.0, 1.0), ("B", 4.0, 4.0)).toDF("k", "v", "d"))
    val got = board.slice(q).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    // served FROM CACHE (a hit) — the quotient components merged, the
    // finished values rebuilt — and hash-exact vs a fresh recompute
    assert(board.stats == (1L, 1L), "quotient slice must stay a cache hit")
    val want = Slicer.slice(board.dataset, cube, q).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(got == want)
    // A {1,3,5}: avg 3, sample sd 2, ratio 9/4; B {8,4}: avg 6, sd √8, 12/8
    assert(got("A") == ((3.0, 2.0, 2.25)))
    assert(got("B") == ((6.0, math.sqrt(8.0), 1.5)))
    // GroupConsistent stays unmergeable: evicted, recompute is correct
    val qGrp = CubeQuery().addAxis("k").addValue("grp")
    board.slice(qGrp).collect()
    board.append(Seq(("B", 1.0, 5.0)).toDF("k", "v", "d"))
    val grp = board.slice(qGrp).collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(board.stats == (1L, 3L), "group slice must evict on append")
    assert(grp("B").isEmpty && grp("A").isEmpty) // B now disagrees; A always did
    board.clear()
  }

  test("delete() subtracts from invertible slices at delta cost; emptied groups drop out") {
    val board = freshBoard()
    val q = CubeQuery().addAxis("k").addValue("sum_v").addValue("n")
    board.slice(q).collect()
    assert(board.stats == (0L, 1L))
    // delete one A row and BOTH B rows: A shrinks, B's group disappears
    board.delete(Seq(("A", "y", 2020, 2.0), ("B", "x", 2020, 8.0),
      ("B", "y", 2021, 16.0)).toDF("k", "s", "y", "v"))
    val got = board.slice(q).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    // served FROM CACHE (a hit), yet current: no zero-support B row
    assert(board.stats == (1L, 1L), "maintained slice must stay a cache hit")
    assert(got == Map("A" -> (5.0, 2L)))
    assert(board.dataset.count() == 2L)
    // grand-total (axis-less) slice also maintains through the delete
    val tot = CubeQuery().addValue("sum_v").addValue("n")
    board.slice(tot).collect()
    board.delete(Seq(("A", "x", 2020, 1.0)).toDF("k", "s", "y", "v"))
    val t = board.slice(tot).head()
    assert(t.getDouble(0) == 4.0 && t.getLong(1) == 1L, t.toString)
    board.clear()
  }

  test("values-less (row-count) slice maintains across append and delete") {
    // the reference's default query carries no values — it slices to a
    // row count, which merges and inverts like any Count measure (the
    // __m_n companion is its delete support)
    val board = freshBoard()
    val q = CubeQuery().addAxis("k")
    board.slice(q).collect()
    assert(board.stats == (0L, 1L))
    board.append(Seq(("A", "z", 2022, 10.0), ("C", "x", 2022, 5.0))
      .toDF("k", "s", "y", "v"))
    val got = board.slice(q).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(board.stats == (1L, 1L), "count-only slice must stay a cache hit")
    assert(got == Map("A" -> 4L, "B" -> 2L, "C" -> 1L))
    // delete empties C entirely — its group must drop out
    board.delete(Seq(("C", "x", 2022, 5.0), ("A", "z", 2022, 10.0))
      .toDF("k", "s", "y", "v"))
    val got2 = board.slice(q).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(board.stats == (2L, 1L), "count-only slice must stay a hit across delete")
    assert(got2 == Map("A" -> 3L, "B" -> 2L))
    board.clear()
  }

  test("delete() maintains NULL groups (null-safe axis join)") {
    // a NULL axis value forms its own group; the delta join must be
    // null-SAFE or that group silently stale-serves pre-delete numbers
    val df = Seq((Some("A"), 1.0), (None, 2.0), (None, 4.0), (Some("B"), 8.0))
      .toDF("k", "v")
    val cube = CubeDef(
      labels = Seq(Label("k")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum),
        Measure("n", lit(1), Agg.Count)))
    val board = new CuttingBoard(df, cube)
    val q = CubeQuery().addAxis("k").addValue("sum_v").addValue("n")
    board.slice(q).collect()
    // shrink the NULL group, empty it on a second delete
    board.delete(Seq((None: Option[String], 2.0)).toDF("k", "v"))
    val got = board.slice(q).collect()
      .map(r => Option(r.getString(0)) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(board.stats == (1L, 1L), "maintained slice must stay a cache hit")
    assert(got == Map(Some("A") -> (1.0, 1L), None -> (4.0, 1L),
      Some("B") -> (8.0, 1L)))
    board.delete(Seq((None: Option[String], 4.0)).toDF("k", "v"))
    val got2 = board.slice(q).collect()
      .map(r => Option(r.getString(0)) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got2 == Map(Some("A") -> (1.0, 1L), Some("B") -> (8.0, 1L)),
      "emptied NULL group must drop out")
    board.clear()
  }

  test("delete() maintains quotient and Sum-only slices; Min still evicts (not invertible)") {
    // Min is not invertible from its finished value (deleting the group
    // minimum must surface the runner-up) — it evicts. Avg/StdDev/Ratio
    // invert through their companions, and a Sum-only slice no longer
    // needs an explicit Count: the __m_n companion is its support.
    val df = Seq(("A", 1.0, 1.0), ("A", 3.0, 2.0), ("A", 5.0, 1.0),
      ("B", 8.0, 4.0)).toDF("k", "v", "d")
    val cube = CubeDef(
      labels = Seq(Label("k")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum),
        Measure("n", lit(1), Agg.Count),
        Measure("min_v", col("v"), Agg.Min),
        Measure("avg_v", col("v"), Agg.Avg),
        Measure("sd_v", col("v"), Agg.StdDev),
        Measure("ratio", lit(1), Agg.Ratio(col("v"), col("d")))))
    val board = new CuttingBoard(df, cube)
    val qMin = CubeQuery().addAxis("k").addValue("min_v").addValue("n")
    val qSumOnly = CubeQuery().addAxis("k").addValue("sum_v")
    val qQuot = CubeQuery().addAxis("k").addValue("avg_v").addValue("sd_v")
      .addValue("ratio")
    board.slice(qMin).collect(); board.slice(qSumOnly).collect()
    board.slice(qQuot).collect()
    assert(board.stats == (0L, 3L))
    // delete the A minimum and the ONLY B row: runner-up must surface in
    // the min slice (via eviction + recompute), B must drop everywhere
    board.delete(Seq(("A", 1.0, 1.0), ("B", 8.0, 4.0)).toDF("k", "v", "d"))
    val gotSum = board.slice(qSumOnly).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gotQuot = board.slice(qQuot).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(board.stats == (2L, 3L),
      "Sum-only and quotient slices must stay cache hits across delete")
    assert(gotSum == Map("A" -> 8.0))
    // A {3,5}: avg 4, sample sd √2, ratio 8/3 — hash-exact vs fresh
    val wantQuot = Slicer.slice(board.dataset, cube, qQuot).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(gotQuot == wantQuot)
    assert(gotQuot == Map("A" -> ((4.0, math.sqrt(2.0), 8.0 / 3.0))))
    val gotMin = board.slice(qMin).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(board.stats == (2L, 4L), "min slice must have been evicted")
    assert(gotMin == Map("A" -> 3.0))
    board.clear()
  }

  test("delete() by key columns anti-joins the base (the O(|takedown|) form)") {
    val df = Seq((1L, "A", 1.0), (2L, "A", 2.0), (3L, "B", 8.0))
      .toDF("id", "k", "v")
    val cube = CubeDef(
      labels = Seq(Label("k")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum),
        Measure("n", lit(1), Agg.Count)))
    val board = new CuttingBoard(df, cube)
    val q = CubeQuery().addAxis("k").addValue("sum_v").addValue("n")
    board.slice(q).collect()
    // the takedown frame deliberately carries a WRONG group and a STALE
    // measure value — only the key may be trusted: the subtracted
    // amounts must come from the BASE row id 2 actually holds
    board.delete(Seq((2L, "B", 99.0)).toDF("id", "k", "v"), keyCols = Seq("id"))
    val got = board.slice(q).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(board.stats == (1L, 1L))
    assert(got == Map("A" -> (1.0, 1L), "B" -> (8.0, 1L)))
    assert(board.dataset.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    board.clear()
  }

  test("delete() round-trips through the warehouse: fresh boards never reload pre-delete bytes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-del").toString
    val df = Seq(("A", "x", 2020, 1.0), ("A", "y", 2021, 2.0), ("B", "x", 2020, 8.0))
      .toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum),
        Measure("n", lit(1), Agg.Count),
        Measure("min_v", col("v"), Agg.Min)))
    val b1 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    val qInv = CubeQuery().addAxis("k").addValue("sum_v").addValue("n")
    val qMin = CubeQuery().addAxis("k").addValue("min_v").addValue("n")
    b1.slice(qInv).collect(); b1.slice(qMin).collect()
    b1.delete(Seq(("A", "x", 2020, 1.0)).toDF("k", "s", "y", "v"))
    // fresh board over the same warehouse: the maintained slice reloads
    // POST-delete, the evicted slice's table is GONE (cold recompute)
    val post = df.where(!(col("k") === "A" && col("s") === "x"))
    val b2 = new CuttingBoard(post, cube, warehouseDir = Some(dir))
    val gotInv = b2.slice(qInv).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(b2.stats == (1L, 0L), "maintained slice must reload from the warehouse")
    assert(gotInv == Map("A" -> (2.0, 1L), "B" -> (8.0, 1L)))
    val gotMin = b2.slice(qMin).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(b2.stats == (1L, 1L), "evicted slice must NOT reload — recompute")
    assert(gotMin == Map("A" -> 2.0, "B" -> 8.0))
    b1.clear(); b2.clear()
  }

  test("append() writes maintained slices through to the warehouse") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-app").toString
    val df = Seq(("A", "x", 2020, 1.0), ("B", "x", 2020, 8.0)).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    val b1 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    val q = CubeQuery().addAxis("k").addValue("sum_v")
    b1.slice(q).collect()
    b1.append(Seq(("A", "y", 2021, 2.0)).toDF("k", "s", "y", "v"))
    // a FRESH board over the same warehouse reloads the MAINTAINED slice
    val b2 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    val got = asMap(b2.slice(q))
    assert(b2.stats == (1L, 0L), "reloaded maintained slice serves the hit")
    assert(got("A") == 3.0 && got("B") == 8.0)
    b1.clear(); b2.clear()
  }

  test("persisted slices survive into a fresh board (parquet warehouse)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val df = Seq(
      ("A", "x", 2020, 1.0), ("A", "y", 2020, 2.0), ("A", "x", 2021, 4.0),
      ("B", "x", 2020, 8.0), ("B", "y", 2021, 16.0),
    ).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum), Measure("n", lit(1), Agg.Count)))
    val q = CubeQuery().addAxis("k").addAxis("s").addValue("sum_v").addValue("n")

    val b1 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    val first = asMap(b1.slice(q).select("k", "s", "sum_v"))
    assert(b1.stats == (0L, 1L))
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("slice_")),
      "materialization must exist on disk")

    // a brand-new board over the same warehouse — the in-memory persist()
    // of b1 is irrelevant; the slice reloads from its parquet table
    val b2 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    val second = asMap(b2.slice(q).select("k", "s", "sum_v"))
    assert(b2.stats == (1L, 0L), "must be served from the persisted slice, not recomputed")
    assert(second == first)

    // strategy 2 works over the RELOADED slice: coarser re-aggregation
    val coarse = CubeQuery().addAxis("k").addValue("sum_v").addValue("n")
    val got = b2.slice(coarse).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(b2.stats._1 == 2L)
    assert(got("A") == (7.0, 3L) && got("B") == (24.0, 2L))

    // refresh purges the warehouse: a third board starts cold
    b2.refresh(df)
    val b3 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    b3.slice(q).collect()
    assert(b3.stats == (0L, 1L), "refresh must invalidate persisted slices")
    b1.clear(); b2.clear(); b3.clear()
  }

  test("quotient coarsening works over a warehouse-RELOADED slice (companions survive parquet)") {
    // the companion columns ride the persisted table, so a brand-new
    // board (fresh JVM in production) serves coarser Avg/StdDev/Ratio
    // queries from the reloaded finer slice without a base rescan
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-quot").toString
    val df = Seq(("A", "x", 1.0, 1.0), ("A", "x", 3.0, 2.0), ("A", "y", 5.0, 1.0),
      ("B", "x", 8.0, 4.0), ("B", "y", 4.0, 4.0)).toDF("k", "s", "v", "d")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s")),
      measures = Seq(
        Measure("avg_v", col("v"), Agg.Avg),
        Measure("sd_v", col("v"), Agg.StdDev),
        Measure("ratio", lit(1), Agg.Ratio(col("v"), col("d")))))
    val fine = CubeQuery().addAxis("k").addAxis("s").addValue("avg_v")
      .addValue("sd_v").addValue("ratio")
    val b1 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    b1.slice(fine).collect()
    val b2 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    val coarse = CubeQuery().addAxis("k").addValue("avg_v").addValue("sd_v")
      .addValue("ratio")
    val got = b2.slice(coarse).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(b2.stats == (1L, 0L), "reloaded quotient slice must serve the coarse query")
    assert(b2.lastServedFrom.map(_.axes).contains(Vector("k", "s")))
    assert(got("A") == ((3.0, 2.0, 2.25)))
    assert(got("B") == ((6.0, math.sqrt(8.0), 1.5)))
    b1.clear(); b2.clear()
  }

  test("warehouse GC evicts the least-recently-served cold slice past maxWarehouseSlices") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-gc").toString
    val df = Seq(("A", "x", 2020, 1.0), ("B", "y", 2021, 8.0)).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    var now = 1_000_000L
    // memory holds only ONE slice, so older materializations go cold on
    // disk — the accretion scenario the GC exists for
    val board = new CuttingBoard(df, cube, maxSlices = 1,
      warehouseDir = Some(dir), clock = () => { now += 1000; now },
      maxWarehouseSlices = 2)
    def manifests() = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("slice_") && f.getName.endsWith(".manifest"))
      .map(f => java.nio.file.Files.readAllLines(f.toPath).get(0)).toSet
    board.slice(CubeQuery().addAxis("k").addValue("sum_v")).collect()
    board.slice(CubeQuery().addAxis("s").addValue("sum_v")).collect()
    assert(manifests().size == 2, "two slices fit the budget")
    board.slice(CubeQuery().addAxis("y").addValue("sum_v")).collect()
    val left = manifests()
    assert(left.size == 2, "GC must hold the warehouse at maxWarehouseSlices")
    assert(!left.exists(_.startsWith("a:k/")), "oldest cold slice (k) evicted")
    assert(left.exists(_.startsWith("a:s/")) && left.exists(_.startsWith("a:y/")))
    // tables match manifests — no orphaned parquet dirs
    val tables = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("slice_")).map(_.getName).toSet
    assert(tables.map(_ + ".manifest") == new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".manifest")).map(_.getName).toSet)
    // the evicted query recomputes soundly (miss, correct values)
    val again = asMap(board.slice(CubeQuery().addAxis("k").addValue("sum_v")))
    assert(again("A") == 1.0 && again("B") == 8.0)
    board.clear()
  }

  test("warehouse GC byte budget never deletes tables pinned by the in-memory cache") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-gcb").toString
    val df = Seq(("A", "x", 2020, 1.0), ("B", "y", 2021, 8.0)).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    var now = 1_000_000L
    // 1-byte budget: EVERYTHING is over budget, so only pinning protects
    val board = new CuttingBoard(df, cube, maxSlices = 1,
      warehouseDir = Some(dir), clock = () => { now += 1000; now },
      maxWarehouseBytes = 1L)
    val q1 = CubeQuery().addAxis("k").addValue("sum_v")
    val q2 = CubeQuery().addAxis("s").addValue("sum_v")
    board.slice(q1).collect()
    board.slice(q2).collect() // q1 went cold → evicted; q2 pinned in memory
    val names = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".manifest"))
      .map(f => java.nio.file.Files.readAllLines(f.toPath).get(0)).toSet
    assert(names.size == 1 && names.head.startsWith("a:s/"),
      s"only the pinned slice survives a 1-byte budget, got $names")
    // and the pinned slice still serves correctly from its table
    assert(asMap(board.slice(q2)) == Map("x" -> 1.0, "y" -> 8.0))
    board.clear()
  }

  test("a torn manifest never hides valid persisted slices (atomic manifest write)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-torn").toString
    val df = Seq(("A", "x", 2020, 1.0), ("B", "x", 2020, 2.0)).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    val q = CubeQuery().addAxis("k").addValue("sum_v")

    val b1 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    val first = asMap(b1.slice(q))
    // the manifest reached its final name via rename — no temp debris
    assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".tmp")),
      "manifest temp file must not survive a successful write")

    // a crashed writer's torn manifest (truncated mid-line): reload must
    // skip it and still serve the valid slice next to it
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "slice_deadbeef.manifest"), "axes=k&values=su")
    val b2 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    assert(asMap(b2.slice(q)) == first)
    assert(b2.stats == (1L, 0L), "valid slice must load despite the garbage manifest")
    b1.clear(); b2.clear()
  }

  test("TTL: an expired board auto-refreshes from its dataset source on the next slice") {
    var now = 1000L
    var source = Seq(("A", "x", 2020, 1.0), ("B", "x", 2020, 2.0)).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    val board = new CuttingBoard(source, cube, maxAgeMillis = Some(60000L),
      datasetSource = Some(() => source), clock = () => now)
    val q = CubeQuery().addAxis("k").addValue("sum_v")
    assert(asMap(board.slice(q))("A") == 1.0)
    now += 30000L
    board.slice(q).collect()
    assert(board.stats._1 == 1L, "inside the TTL the cache serves")

    // the dataset moves on; the board is past its max age → next slice
    // re-pulls the source and must NOT serve the stale cached value
    source = Seq(("A", "x", 2020, 100.0)).toDF("k", "s", "y", "v")
    now += 61000L
    val after = asMap(board.slice(q))
    assert(after("A") == 100.0, "expired board must re-check its dataset source")
    assert(board.stats == (1L, 2L), "post-expiry slice is a miss, not a stale hit")
    board.clear()
  }

  test("cached result equals direct Slicer result") {
    val board = freshBoard()
    val fine = CubeQuery().addAxis("k").addAxis("s").addAxis("y").addValue("sum_v")
    board.slice(fine).collect()
    val q = CubeQuery().addAxis("s").addValue("sum_v").addFilter("y", 2020)
    val viaCache = asMap(board.slice(q))
    val direct = asMap(Slicer.slice(board.dataset, board.cubedef, q))
    assert(board.stats._1 == 1L)
    assert(viaCache == direct)
    board.clear()
  }

  test("a cache hit is not blocked by a concurrently running miss (per-query locks)") {
    // the miss side is made slow with a sleeping UDF; the board serves
    // HTTP through CubeService, so a cold slice monopolizing one global
    // lock would stall every cached dashboard panel behind it
    val slow = udf { (v: Double) => Thread.sleep(2500); v }
    val df = Seq(("A", "x", 2020, 1.0), ("B", "y", 2021, 2.0)).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(
        Measure("sum_v", col("v"), Agg.Sum),
        Measure("slow_sum", slow(col("v")), Agg.Sum)))
    val board = new CuttingBoard(df, cube)
    val fast = CubeQuery().addAxis("k").addValue("sum_v")
    board.slice(fast).collect() // warm the cache
    assert(board.stats == (0L, 1L))
    val missStarted = new java.util.concurrent.CountDownLatch(1)
    val misser = new Thread(() => {
      missStarted.countDown()
      board.slice(CubeQuery().addAxis("s").addValue("slow_sum")).collect()
      ()
    })
    misser.start()
    missStarted.await()
    Thread.sleep(300) // let the miss reach its materializing Spark job
    val t0 = System.nanoTime()
    val served = asMap(board.slice(fast))
    val hitMillis = (System.nanoTime() - t0) / 1e6
    misser.join(30000)
    assert(served == Map("A" -> 1.0, "B" -> 2.0))
    assert(board.stats == (1L, 2L), s"stats=${board.stats}") // warm miss + slow miss + this hit
    assert(hitMillis < 2000,
      f"cache hit took $hitMillis%.0f ms — it waited on the running miss")
    board.clear()
  }

  test("append() survives cache eviction mid-merge (temp-write + swap, never overwrite-in-place)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-evict").toString
    val df = Seq(("A", "x", 2020, 1.0), ("B", "x", 2020, 8.0)).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    val board = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    val q = CubeQuery().addAxis("k").addValue("sum_v")
    board.slice(q).collect()
    // evict every persisted block: the merge's cached-slice side now MUST
    // re-read the warehouse parquet files — the files an overwrite-in-
    // place materialization would be deleting under the running job
    spark.sharedState.cacheManager.clearCache()
    board.append(Seq(("A", "y", 2021, 2.0)).toDF("k", "s", "y", "v"))
    val got = asMap(board.slice(q))
    assert(got("A") == 3.0 && got("B") == 8.0)
    // and the swapped table on disk is the merged one (a fresh board
    // reloads it rather than recomputing)
    val b2 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    assert(asMap(b2.slice(q)) == got)
    assert(b2.stats == (1L, 0L))
    board.clear(); b2.clear()
  }

  test("sliceHaving: coarse HAVING on Avg is served from the finer cached slice, values == fresh recompute") {
    val board = freshBoard()
    val fine = CubeQuery().addAxis("k").addAxis("s").addValue("avg_v").addValue("n")
    board.slice(fine).collect()
    // coarse query + a measure predicate: the slice serves from cache
    // (quotient rebuilt from companions) and the HAVING term evaluates
    // on the finished frame — no base rescan
    val coarse = CubeQuery().addAxis("k").addValue("avg_v").addValue("n")
    val got = board.sliceHaving(coarse, Seq(Filter("avg_v", FilterOp.Gt, 3.0)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(board.stats == (1L, 1L), "HAVING query must be a cache hit")
    assert(board.lastServedFrom.map(_.axes).contains(Vector("k", "s")))
    // fresh recompute parity: A avg {1,2,4} = 7/3 < 3 filtered out;
    // B avg {8,16} = 12 kept
    assert(got == Map("B" -> 12.0))
    // the same threshold against a fresh Slicer pass agrees exactly
    val fresh = Slicer.slice(board.dataset, board.cubedef, coarse)
      .where(col("avg_v") > 3.0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(fresh == got)
    // a term naming a non-measure (or hidden) column refuses loudly
    intercept[IllegalArgumentException] {
      board.sliceHaving(coarse, Seq(Filter("nope", FilterOp.Gt, 1.0)))
    }
    // limit would apply before the predicate — refused
    intercept[IllegalArgumentException] {
      board.sliceHaving(coarse.setLimit(1), Seq(Filter("avg_v", FilterOp.Gt, 3.0)))
    }
    board.clear()
  }

  test("sliceHaving composed with hierarchy widening + label filter serves from cache, values == fresh recompute") {
    // the combined case: widened date axis (month from a day-grained
    // cache) + eq-filter on a DROPPED label axis + a quotient-measure
    // HAVING predicate, all through the one served path
    val df = Seq(
      ("A", "2024-01-03", 1.0), ("A", "2024-01-20", 2.0), ("B", "2024-01-21", 7.0),
      ("A", "2024-02-03", 4.0), ("A", "2024-02-29", 8.0), ("B", "2024-02-10", 3.0),
      ("A", "2024-03-01", 16.0),
    ).toDF("k", "d", "v").withColumn("d", to_date(col("d")))
    val cube = CubeDef(
      labels = Label("k") +: DateLabels.hierarchy("d", dim = "t"),
      measures = Seq(Measure("avg_v", col("v"), Agg.Avg),
        Measure("n", lit(1), Agg.Count)))
    val board = new CuttingBoard(df, cube)
    board.slice(CubeQuery().addAxis("k").addAxis("d_day")
      .addValue("avg_v").addValue("n")).collect()
    val coarse = CubeQuery().addAxis("d_month").addValue("avg_v").addValue("n")
      .addFilter("k", "A")
    val got = board.sliceHaving(coarse, Seq(Filter("avg_v", FilterOp.Gt, 2.0)))
      .collect().map(r => r.getDate(0).toString -> (r.getDouble(1), r.getLong(2))).toMap
    assert(board.stats == (1L, 1L), "the composed HAVING query must serve from cache")
    assert(board.lastServedFrom.map(_.axes).contains(Vector("k", "d_day")))
    // A's months: Jan avg {1,2} = 1.5 (cut by HAVING), Feb avg {4,8} = 6,
    // Mar avg {16} = 16; B's rows are gone before aggregation (WHERE)
    assert(got == Map("2024-02-01" -> (6.0, 2L), "2024-03-01" -> (16.0, 1L)))
    val fresh = Slicer.slice(df, cube, coarse).where(col("avg_v") > 2.0)
      .collect().map(r => r.getDate(0).toString -> (r.getDouble(1), r.getLong(2))).toMap
    assert(fresh == got)
    // a pivoted query renames measure columns per pivot value — refused
    intercept[IllegalArgumentException] {
      board.sliceHaving(
        CubeQuery().addAxis("d_month").addAxis("k").addValue("avg_v").setPivot("k"),
        Seq(Filter("avg_v", FilterOp.Gt, 2.0)))
    }
    board.clear()
  }

  test("sliceHaving: values-less query filters its row count") {
    val board = freshBoard()
    val q = CubeQuery().addAxis("k")
    val got = board.sliceHaving(q, Seq(Filter("count", FilterOp.Ge, 3L)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("A" -> 3L))
    board.clear()
  }

  test("strategy-1: a user measure merely NAMED count is never served as a row count") {
    // cube whose Sum measure is called "count" — the values-less default
    // query must serve the __m_n companion (true row count), not the sum
    val df = Seq(("A", 10.0), ("A", 20.0), ("B", 5.0)).toDF("k", "v")
    val cube = CubeDef(
      labels = Seq(Label("k")),
      measures = Seq(Measure("count", col("v"), Agg.Sum)))
    val board = new CuttingBoard(df, cube)
    board.slice(CubeQuery().addAxis("k").addValue("count")).collect()
    val got = board.slice(CubeQuery().addAxis("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(board.stats._1 == 1L, "exact-axes match must still serve from cache")
    assert(got == Map("A" -> 2L, "B" -> 1L),
      s"row count must come from __m_n, not the Sum named 'count' — got $got")
    board.clear()
  }

  test("two boards over one warehouse: concurrent same-slice writes serialize (no torn table)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-2w").toString
    val df = Seq(("A", "x", 2020, 1.0), ("B", "x", 2020, 8.0)).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    val b1 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    val b2 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    val q = CubeQuery().addAxis("k").addValue("sum_v")
    // both boards miss and materialize the SAME fingerprint concurrently:
    // the JVM-wide warehouse write lock serializes the temp-then-swap,
    // so neither clobbers the other's in-flight temp dir
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (r1, r2) = Await.result(
      Future(asMap(b1.slice(q))).zip(Future(asMap(b2.slice(q)))), 120.seconds)
    assert(r1 == Map("A" -> 1.0, "B" -> 8.0) && r2 == r1)
    // the surviving table is complete and reloadable by a fresh board
    val b3 = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    assert(asMap(b3.slice(q)) == r1)
    assert(b3.stats == (1L, 0L), "fresh board must reload a complete table")
    b1.clear(); b2.clear(); b3.clear()
  }

  test("a driver-held slice serves exact hits as a LocalRelation and reuse hits without an Exchange") {
    val board = freshBoard()
    val fine = CubeQuery().addAxis("k").addAxis("s").addValue("sum_v").addValue("avg_v")
    board.slice(fine).collect()
    val exact = board.slice(fine.removeValue("avg_v"))
    assert(exact.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      exact.queryExecution.optimizedPlan.treeString)
    val coarse = CubeQuery().addAxis("k").addValue("sum_v").addValue("avg_v")
    val reused = board.slice(coarse)
    val got = reused.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(board.stats == (2L, 1L) && board.lastServedFrom.contains(fine))
    val executed = reused.queryExecution.executedPlan.toString
    assert(!executed.contains("Exchange"), executed)
    val want = Slicer.slice(board.dataset, board.cubedef, coarse).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == want)
    board.clear()
  }

  test("a slice over the driver-held bound stays a persisted frame and serves Slicer.slice's rows") {
    val n = CuttingBoard.LocalRows + 1
    val df = spark.range(n).withColumn("v", col("id") % 7)
    val cube = CubeDef(
      labels = Seq(Label("id"), Label("g", col("id") % 3)),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    val board = new CuttingBoard(df, cube)
    val q = CubeQuery().addAxis("id").addAxis("g").addValue("sum_v")
    board.slice(q).collect()
    val served = board.slice(q)
    assert(served.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.isDefined, served.queryExecution.optimizedPlan.treeString)
    def rows(f: org.apache.spark.sql.DataFrame) = f.collect().map(_.toSeq).toSet
    assert(rows(served) == rows(Slicer.slice(df, cube, q)))
    val coarse = CubeQuery().addAxis("g").addValue("sum_v")
    assert(rows(board.slice(coarse)) == rows(Slicer.slice(df, cube, coarse)))
    assert(board.stats == (2L, 1L))
    board.clear()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a board dropped without clear() leaves Spark's cache manager empty") {
    spark.sharedState.cacheManager.clearCache()
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-drop").toString
    val df = Seq(("A", "x", 2020, 1.0), ("B", "y", 2021, 8.0)).toDF("k", "s", "y", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s"), Label("y")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum), Measure("avg_v", col("v"), Agg.Avg)))
    val q = CubeQuery().addAxis("k").addAxis("s").addValue("sum_v").addValue("avg_v")
    Seq(new CuttingBoard(df, cube), new CuttingBoard(df, cube, warehouseDir = Some(dir)))
      .foreach { board =>
        board.slice(q).collect()
        board.slice(CubeQuery().addAxis("k").addValue("avg_v")).collect()
        board.append(Seq(("C", "x", 2022, 2.0)).toDF("k", "s", "y", "v"))
        board.delete(Seq(("A", "x", 2020, 1.0)).toDF("k", "s", "y", "v"))
        assert(asMap(board.slice(q).select("k", "s", "sum_v")) ==
          Map("B,y" -> 8.0, "C,x" -> 2.0))
      }
    // a fresh board reloading the warehouse holds its slices the same way
    val reloaded = new CuttingBoard(df, cube, warehouseDir = Some(dir))
    assert(reloaded.slice(q).collect().length == 2 && reloaded.stats == (1L, 0L))
    assert(spark.sharedState.cacheManager.isEmpty,
      "every slice here fits the driver-held bound: nothing may stay persisted")
  }

  test("served slices order, tie-break and limit by Slicer.slice's rule (exact and reuse hits)") {
    // every sum_v ties at 1.0, so only the row-axis tie-break decides
    // which rows an ordered, limited query lists
    val keys = Seq("x", "d", "m", "a", "y", "c", "k", "b", "e", "l", "f", "j")
    val df = keys.flatMap(k => Seq((k, "p", 0.25), (k, "q", 0.75))).toDF("k", "s", "v")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s")),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    val coarse = CubeQuery().addAxis("k").addValue("sum_v")
    val presented = Seq(
      coarse.orderBy("-sum_v").setLimit(3),
      coarse.orderBy("-sum_v").setLimit(3).setOffset(2),
      coarse.orderBy("sum_v").setOffset(9))
    def rows(f: org.apache.spark.sql.DataFrame) = f.collect().map(_.toSeq).toSeq
    // cached at the query's own grain (exact hits) and one axis finer
    // (reuse hits)
    Seq(coarse, coarse.addAxis("s")).foreach { cached =>
      val board = new CuttingBoard(df, cube)
      board.slice(cached).collect()
      presented.foreach { q =>
        assert(rows(board.slice(q)) == rows(Slicer.slice(df, cube, q)), s"$q served from $cached")
      }
      assert(board.stats == (3L, 1L) && board.lastServedFrom.contains(cached))
      board.clear()
    }
  }

  test("long append / multiset-delete / key-delete sequences keep every slice a hit equal to Slicer.slice") {
    val rng = new scala.util.Random(17)
    val ks = Vector(Some("A"), Some("B"), Some("C"), None)
    var nextId = 0L
    def fresh(k: Option[String]) = {
      nextId += 1
      (nextId, k, if (rng.nextBoolean()) "x" else "y", rng.nextInt(20) * 0.5, 1.0 + rng.nextInt(4))
    }
    // the NULL-k group is small so a key delete can empty it
    var model = Vector.fill(36)(fresh(ks(rng.nextInt(3)))) ++ Vector.fill(4)(fresh(None))
    def frame(rs: Seq[(Long, Option[String], String, Double, Double)]) =
      rs.toDF("id", "k", "s", "v", "d")
    val cube = CubeDef(
      labels = Seq(Label("k"), Label("s")),
      measures = Seq(
        Measure("sum_v", col("v"), Agg.Sum),
        Measure("n", lit(1), Agg.Count),
        Measure("avg_v", col("v"), Agg.Avg),
        Measure("sd_v", col("v"), Agg.StdDev),
        Measure("ratio", lit(1), Agg.Ratio(col("v"), col("d")))))
    val slices = Seq(
      CubeQuery().addAxis("k").addAxis("s").addValue("sum_v").addValue("n"),
      CubeQuery().addAxis("k").addValue("avg_v").addValue("sd_v").addValue("ratio"),
      CubeQuery().addAxis("s"),
      CubeQuery().addValue("sum_v").addValue("n"))
    val board = new CuttingBoard(frame(model), cube)
    slices.foreach(q => board.slice(q).collect())
    def close(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
      case _ => a == b
    }
    def byAxes(f: org.apache.spark.sql.DataFrame, nAxes: Int) =
      f.collect().map(r => r.toSeq.take(nAxes) -> r.toSeq.drop(nAxes)).toMap
    (1 to 21).foreach { batch =>
      batch % 3 match {
        case 1 =>
          // new rows, a NULL-k row and an exact copy of a live row
          val added = Vector.fill(5)(fresh(ks(rng.nextInt(4)))) :+ fresh(None) :+
            model(rng.nextInt(model.length))
          board.append(frame(added))
          model ++= added
        case 2 =>
          // multiset delete: one copy of each deleted row goes
          val gone = rng.shuffle(model.indices.toVector).take(4)
          board.delete(frame(gone.map(model)))
          model = model.indices.filterNot(gone.contains).map(model).toVector
        case _ =>
          val ids =
            if (batch == 6) model.filter(_._2.isEmpty).map(_._1).distinct
            else rng.shuffle(model.map(_._1).distinct).take(3)
          board.delete(ids.toDF("id"), keyCols = Seq("id"))
          model = model.filterNot(r => ids.contains(r._1))
      }
      val (hits, misses) = board.stats
      slices.foreach { q =>
        val got = byAxes(board.slice(q), q.axes.length)
        val want = byAxes(Slicer.slice(board.dataset, cube, q), q.axes.length)
        assert(got.keySet == want.keySet, s"batch $batch, $q")
        got.foreach { case (axes, vs) =>
          assert(vs.length == want(axes).length &&
            vs.zip(want(axes)).forall { case (a, b) => close(a, b) },
            s"batch $batch, $q, group $axes: $vs vs ${want(axes)}")
        }
      }
      assert(board.stats == (hits + slices.length, misses), s"batch $batch: every slice must stay a hit")
    }
    assert(board.dataset.count() == model.length.toLong)
    board.clear()
  }

  test("a grand total whose every row is deleted keeps Slicer.slice's one row, and appends refill it") {
    val df = Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, "A", 4.0)).toDF("id", "k", "v")
    val cube = CubeDef(
      labels = Seq(Label("k")),
      measures = Seq(
        Measure("sum_v", col("v"), Agg.Sum),
        Measure("n", lit(1), Agg.Count),
        Measure("avg_v", col("v"), Agg.Avg)))
    val q = CubeQuery().addValue("sum_v").addValue("n").addValue("avg_v")
    def rows(f: org.apache.spark.sql.DataFrame) = f.collect().map(_.toSeq).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-wh-total").toString
    Seq(new CuttingBoard(df, cube), new CuttingBoard(df, cube, warehouseDir = Some(dir)))
      .foreach { board =>
        board.slice(q).collect()
        board.delete(df.select("id"), keyCols = Seq("id"))
        val emptied = rows(board.slice(q))
        assert(emptied == rows(Slicer.slice(board.dataset, cube, q)))
        assert(emptied == Seq(Seq(null, 0L, null)))
        board.append(Seq((4L, "B", 3.0), (5L, "A", 5.0)).toDF("id", "k", "v"))
        val refilled = rows(board.slice(q))
        assert(refilled == rows(Slicer.slice(board.dataset, cube, q)))
        assert(refilled == Seq(Seq(8.0, 2L, 4.0)))
        assert(board.stats == (2L, 1L), "the grand total must stay a hit through both writes")
        board.clear()
      }
  }
}
