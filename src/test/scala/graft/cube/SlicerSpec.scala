package graft.cube

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

class SlicerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("A", "x", 1.0, Seq("p", "q")),
    ("A", "y", 2.0, Seq("q")),
    ("B", "x", 3.0, Seq("r")),
    ("B", "x", 4.0, Seq("p", "r")),
    ("B", null.asInstanceOf[String], 5.0, Seq.empty[String]),
  ).toDF("k", "s", "v", "tags")

  private val cube = CubeDef(
    labels = Seq(Label("k"), Label("s"), Label("tags", col("tags"), isSet = true)),
    measures = Seq(
      Measure("sum_v", col("v"), Agg.Sum),
      Measure("n", lit(1), Agg.Count),
      Measure("avg_v", col("v"), Agg.Avg),
      Measure("grp_s", col("s"), Agg.GroupConsistent),
    ))

  private def rows(q: CubeQuery, totals: Slicer.Totals = Slicer.NoTotals): Map[Any, Row] =
    Slicer.slice(df, cube, q, totals).collect().map(r => r.get(0) -> r).toMap

  test("groupBy slice with Sum and Count") {
    val m = rows(CubeQuery().addAxis("k").addValue("sum_v").addValue("n"))
    assert(m("A").getDouble(1) == 3.0 && m("A").getLong(2) == 2)
    assert(m("B").getDouble(1) == 12.0 && m("B").getLong(2) == 3)
  }

  test("reference Average divides by total rows, not non-null values") {
    val d2 = Seq(("A", Some(2.0)), ("A", None), ("A", Some(4.0))).toDF("k", "v")
    val c2 = CubeDef(Seq(Label("k")), Seq(Measure("avg_v", col("v"), Agg.Avg)))
    val r = Slicer.slice(d2, c2, CubeQuery().addAxis("k").addValue("avg_v")).collect()(0)
    assert(r.getDouble(1) == 2.0) // (2+4)/3, not /2
  }

  test("GroupConsistent yields value iff group agrees, null on mixed or null-containing") {
    val m = rows(CubeQuery().addAxis("k").addValue("grp_s"))
    assert(m("A").isNullAt(1)) // x vs y
    assert(m("B").isNullAt(1)) // contains null
    val single = Slicer.slice(df.where($"s" === "y"), cube,
      CubeQuery().addAxis("k").addValue("grp_s")).collect()(0)
    assert(single.getString(1) == "y")
  }

  test("UnionSet + UnionIncludedEmpty mirror Union.get's (set, included_empty) pair") {
    val c2 = cube.withMeasures(Seq(
      Measure("tag_set", col("tags"), Agg.UnionSet),
      Measure("tag_empty", col("tags"), Agg.UnionIncludedEmpty)))
    val m = Slicer.slice(df, c2,
        CubeQuery().addAxis("k").addValue("tag_set").addValue("tag_empty"))
      .collect().map(r => r.getString(0) -> ((r.getSeq[String](1), r.getBoolean(2)))).toMap
    assert(m("A") == ((Seq("p", "q"), false)))
    assert(m("B") == ((Seq("p", "r"), true))) // the empty-tags row sets the flag
    // null sets count as empty too (reference: make_set(None) = ∅)
    val withNull = Seq(("C", null.asInstanceOf[Seq[String]])).toDF("k", "tags")
    val c3 = CubeDef(Seq(Label("k")),
      Seq(Measure("tag_empty", col("tags"), Agg.UnionIncludedEmpty)))
    val r = Slicer.slice(withNull, c3, CubeQuery().addAxis("k").addValue("tag_empty")).collect()(0)
    assert(r.getBoolean(1))
  }

  test("null-safe ne filter keeps null rows (Python semantics)") {
    val q = CubeQuery().addAxis("k").addValue("n").addFilter("s", "x", FilterOp.Ne)
    val m = rows(q)
    assert(m("A").getLong(1) == 1) // only y
    assert(m("B").getLong(1) == 1) // the null row survives ne
  }

  test("set ops: hasany / hasall / disjointfrom") {
    def n(op: String, v: Seq[String]): Long =
      Slicer.slice(df, cube, CubeQuery().addValue("n").addFilter("tags", v, op))
        .collect()(0).getLong(0)
    assert(n(FilterOp.HasAny, Seq("p")) == 2)
    assert(n(FilterOp.HasAll, Seq("p", "q")) == 1)
    assert(n(FilterOp.DisjointFrom, Seq("p", "q")) == 2) // ("r") and the empty set
  }

  test("set ops work on non-string (int) array labels") {
    val d2 = Seq((1, Seq(1, 2)), (2, Seq(3)), (3, Seq.empty[Int])).toDF("id", "xs")
    val c2 = CubeDef(Seq(Label("id"), Label("xs", col("xs"), isSet = true)),
      Seq(Measure("n", lit(1), Agg.Count)))
    def n(op: String, v: Seq[Int]): Long =
      Slicer.slice(d2, c2, CubeQuery().addValue("n").addFilter("xs", v, op))
        .collect()(0).getLong(0)
    assert(n(FilterOp.HasAny, Seq(1, 3)) == 2)
    assert(n(FilterOp.HasAll, Seq(1, 2)) == 1)
    assert(n(FilterOp.DisjointFrom, Seq(1)) == 2)
  }

  test("pivot produces one column per pivot value") {
    val q = CubeQuery().addAxis("k").addValue("sum_v").setPivot("s")
    val out = Slicer.slice(df, cube, q, pivotValues = Seq("x", "y"))
    assert(out.columns.toSeq == Seq("k", "x", "y"))
    val m = out.collect().map(r => r.getString(0) -> r).toMap
    assert(m("A").getDouble(1) == 1.0 && m("A").getDouble(2) == 2.0)
    assert(m("B").getDouble(1) == 7.0 && m("B").isNullAt(2))
  }

  test("order by a pivoted column (o:name:pivotval)") {
    val q = CubeQuery().addAxis("k").addValue("sum_v").setPivot("s")
      .orderBy("-sum_v", Seq("x"))
    val out = Slicer.slice(df, cube, q, pivotValues = Seq("x", "y")).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("B", "A")) // by column x: 7 > 1
  }

  test("rollup adds the grand-total row") {
    val out = Slicer.slice(df, cube, CubeQuery().addAxis("k").addValue("sum_v"),
      totals = Slicer.RollupTotals).collect()
    assert(out.length == 3)
    val total = out.find(_.isNullAt(0)).get
    assert(total.getDouble(1) == 15.0)
  }

  test("order + limit") {
    val q = CubeQuery().addAxis("k").addValue("sum_v").orderBy("-sum_v").setLimit(1)
    val out = Slicer.slice(df, cube, q).collect()
    assert(out.length == 1 && out(0).getString(0) == "B")
  }

  test("URL-parsed relative date filter slices correctly (typed codec path)") {
    val d2 = Seq(("2026-02-03", 1.0), ("2026-02-20", 2.0), ("2026-03-05", 4.0))
      .toDF("dt", "v").withColumn("dt", to_date($"dt"))
    val c2 = CubeDef(
      labels = DateLabels.hierarchy("dt", dim = "t"),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))
    val today = java.time.LocalDate.of(2026, 8, 12)
    val q = UrlQueryBuilder.parse("a:dt_month/v:sum_v/f:dt_month:-6", c2, today)
    val out = Slicer.slice(d2, c2, q).collect()
    assert(out.length == 1 && out(0).getDouble(1) == 3.0) // Feb only
  }

  test("filters push down to the scan (PushedFilters in the plan)") {
    val tmp = java.nio.file.Files.createTempDirectory("graftpq").toString
    df.write.mode("overwrite").parquet(tmp)
    val pdf = spark.read.parquet(tmp)
    val q = CubeQuery().addAxis("k").addValue("n").addFilter("k", "A", FilterOp.Eq)
    val plan = Slicer.slice(pdf, cube, q).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [EqualNullSafe(k,A)]"), plan)
  }
}
