package graft.cube

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ObserversSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("A", "x", 1.0), ("A", "y", 2.0), ("B", "x", 3.0),
  ).toDF("k", "s", "v")

  private val cube = CubeDef(
    labels = Seq(Label("k"), Label("s")),
    measures = Seq(Measure("sum_v", col("v"), Agg.Sum)))

  test("csv render with escaping") {
    val slice = Slicer.slice(df, cube,
      CubeQuery().addAxis("k").addValue("sum_v").orderBy("k"))
    val csv = Observers.toCsv(slice)
    assert(csv.startsWith("k,sum_v"))
    assert(csv.contains("A,3.0") && csv.contains("B,3.0"))
    val tricky = Seq(("a,b", 1.0)).toDF("k", "sum_v")
    assert(Observers.toCsv(tricky).contains("\"a,b\""))
  }

  test("json rows render") {
    val slice = Slicer.slice(df, cube, CubeQuery().addAxis("k").addValue("sum_v"))
    val json = Observers.toJsonRows(slice)
    assert(json.startsWith("[") && json.contains("\"sum_v\""))
  }

  test("json rows render the same bytes as toJSON: nulls, timestamp, date, array, decimal, dotted name") {
    val typed = spark.sql(
      """SELECT * FROM VALUES
        |  ('a', TIMESTAMP'2024-02-29 13:45:01.123456', DATE'2024-02-29',
        |   array(1, NULL, 3), CAST(12.345 AS DECIMAL(10, 3)), 1.5D),
        |  ('b"q', TIMESTAMP'1969-12-31 23:59:59', DATE'1900-01-01',
        |   array(), CAST(-0.5 AS DECIMAL(10, 3)), CAST('NaN' AS DOUBLE)),
        |  (NULL, NULL, NULL, NULL, NULL, NULL)
        |  AS t(k, ts, d, xs, dec, v)""".stripMargin)
      .withColumnRenamed("v", "v.w")
    val local = spark.createDataFrame(java.util.Arrays.asList(typed.collect(): _*), typed.schema)
    Seq(typed, local, typed.where(col("k").isNotNull)).foreach { f =>
      assert(Observers.toJsonRows(f) == "[" + f.toJSON.collect().mkString(",") + "]")
    }
  }

  test("pivot table computes cells, row/col totals and grand total in one pass") {
    val t = Observers.pivotTable(df, cube, "k", "s", "sum_v")
    assert(t.colKeys == Vector("x", "y"))
    val rowA = t.rows.find(_._1 == "A").get
    assert(rowA._2 == Vector(Some(1.0), Some(2.0)) && rowA._3.contains(3.0))
    val rowB = t.rows.find(_._1 == "B").get
    assert(rowB._2 == Vector(Some(3.0), None) && rowB._3.contains(3.0))
    assert(t.colTotals == Vector(Some(4.0), Some(2.0)))
    assert(t.grandTotal.contains(6.0))
    assert(Observers.render(t).contains("TOTAL"))
  }

  test("excel XML export is well-formed with typed cells") {
    val slice = Slicer.slice(df, cube,
      CubeQuery().addAxis("k").addValue("sum_v").orderBy("k"))
    val xml = Observers.toExcelXml(slice.withColumnRenamed("k", "k<&>"))
    // well-formedness via the JDK parser
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    val doc = f.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    assert(doc.getElementsByTagName("Row").getLength == 3) // header + 2 rows
    assert(xml.contains("""ss:Type="Number">3.0"""))
    assert(xml.contains("k&lt;&amp;&gt;"))
  }

  test("excel style layer: parsed style ids on title/value/total/date cells, frozen header, widths") {
    val slice = Slicer.slice(df, cube,
      CubeQuery().addAxis("k").addValue("sum_v").orderBy("k"))
    val totals = Slicer.slice(df, cube, CubeQuery().addValue("sum_v"))
    val xml = Observers.toExcelXml(slice, totals = Some(totals))
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    // the excel.py:34-40 style table is declared in the Styles part
    val styles = doc.getElementsByTagName("Style")
    val ids = (0 until styles.getLength)
      .map(i => styles.item(i).getAttributes.getNamedItem("ss:ID").getNodeValue).toSet
    assert(ids == Set("title", "value", "total", "ldate"), ids.toString)
    // per-cell style ids: row 0 all title; data rows value-styled
    // measures; the last row is the bold totals row, label cell included
    val rows = doc.getElementsByTagName("Row")
    assert(rows.getLength == 4) // header + 2 data + totals
    def cellStyles(r: Int): Seq[String] = {
      val cells = rows.item(r).getChildNodes
      (0 until cells.getLength).map { i =>
        val a = cells.item(i).getAttributes.getNamedItem("ss:StyleID")
        if (a == null) "" else a.getNodeValue
      }
    }
    assert(cellStyles(0) == Seq("title", "title"))
    assert(cellStyles(1) == Seq("", "value"))
    assert(cellStyles(3) == Seq("total", "total"))
    // the totals row carries the grand total as a typed Number
    assert(xml.contains("""<Cell ss:StyleID="total"><Data ss:Type="Number">6.0"""))
    // number formats: measures #,##0.00, dates DD/MM/YY
    assert(xml.contains("""<Style ss:ID="value"><NumberFormat ss:Format="#,##0.00"/>"""))
    assert(xml.contains("DD/MM/YY"))
    // frozen title row (WSWrapper.freeze_titles)
    assert(xml.contains("<FreezePanes/>") && xml.contains("<SplitHorizontal>1</SplitHorizontal>"))
    // autofit estimate: one Column width per column
    assert(doc.getElementsByTagName("Column").getLength == 2)
    // date labels render as DateTime cells with the ldate style
    val dated = Seq((java.sql.Date.valueOf("2024-01-03"), 1.0)).toDF("d", "v")
    val dx = Observers.toExcelXml(dated)
    assert(dx.contains(
      """<Cell ss:StyleID="ldate"><Data ss:Type="DateTime">2024-01-03T00:00:00.000"""),
      dx.take(800))
  }

  private def parseXml(s: String): org.w3c.dom.Document =
    javax.xml.parsers.DocumentBuilderFactory.newInstance().newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(s"<root>$s</root>".getBytes("UTF-8")))

  test("1-D HTML table: well-formed, filter links round-trip, totals and pager") {
    val q = CubeQuery().addAxis("k").addValue("sum_v")
    val nav = new Navigator(cube, q)
    val slice = Slicer.slice(df, cube, q)
    val totals = Slicer.slice(df, cube, CubeQuery().addValue("sum_v"))
    val html = Observers.htmlTable1d(slice, nav, totals = Some(totals))

    val doc = parseXml(html) // well-formed XML, numeric entities only
    assert(doc.getElementsByTagName("table").getLength == 1)
    // titles + 2 value rows + totals
    assert(doc.getElementsByTagName("tr").getLength == 4)
    assert(html.contains("""<table class="bacon bacon-values">"""))
    assert(html.contains("""<tr class="totals">""") && html.contains("6"))

    // every label cell is a filter link whose URL parses back to the
    // original query plus the eq filter (the template's filter_url)
    val as = doc.getElementsByTagName("a")
    val hrefs = (0 until as.getLength).map(i =>
      as.item(i).getAttributes.getNamedItem("href").getNodeValue)
    val filterHref = hrefs.find(h => h.contains("f:k") || h.contains("f%3Ak")).getOrElse(
      fail(s"no filter link in: $hrefs"))
    val parsed = UrlQueryBuilder.parse(filterHref, cube)
    assert(parsed.filters.exists(f => f.name == "k" && f.op == FilterOp.Eq))

    // pagination: pageSize 1 → pager appears, page links carry limit/offset
    val paged = Observers.htmlTable1d(slice, nav, pageSize = 1, curPage = 0)
    assert(paged.contains("""<div class="bacon-pager">"""))
    assert(paged.contains("Next"))
    val pagedDoc = parseXml(paged)
    assert(pagedDoc.getElementsByTagName("tr").getLength == 2) // titles + 1 row

    // escaping: a value with markup-significant chars survives parsing
    val trickyDf = Seq(("<a&b>", 1.0)).toDF("k", "v")
    val trickySlice = Slicer.slice(trickyDf, cube, q)
    val trickyHtml = Observers.htmlTable1d(trickySlice, new Navigator(cube, q))
    assert(parseXml(trickyHtml).getElementsByTagName("td").getLength >= 2)
    assert(trickyHtml.contains("&lt;a&amp;b&gt;"))
  }

  test("paged 1-D renders run LIMIT/OFFSET in the plan, not on the driver") {
    val q = CubeQuery().addAxis("k").addValue("sum_v")
    val slice = Slicer.slice(df, cube, q)
    val paged = Observers.pagedSlice(slice, Seq("k"), hasOrder = false,
      pageSize = 1, curPage = 1)
    // the limit+offset live in the query plan — only one page's rows
    // ever reach the driver (recordListing's pattern, now shared by the
    // html renderer)
    assert(paged.queryExecution.optimizedPlan.toString.toLowerCase.contains("limit"),
      paged.queryExecution.optimizedPlan.toString)
    assert(paged.collect().map(_.getString(0)).toSeq == Seq("B"))
    // page past the end renders empty, deterministically
    assert(Observers.pagedSlice(slice, Seq("k"), hasOrder = false,
      pageSize = 1, curPage = 9).collect().isEmpty)
  }

  test("pivot HTML table mirrors the one-pass PivotTable with nav links") {
    val q = CubeQuery().addAxis("k").addAxis("s").setPivot("s").addValue("sum_v")
    val nav = new Navigator(cube, q)
    val t = Observers.pivotTable(df, cube, "k", "s", "sum_v")
    val html = Observers.htmlTablePivot(t, nav)

    val doc = parseXml(html)
    assert(html.contains("""<table class="bacon bacon-pivot">"""))
    // pivot header + titles + 2 body rows + totals
    assert(doc.getElementsByTagName("tr").getLength == 5)
    // pivot header: one filter link per pivot value (x, y)
    assert(html.contains("""<tr class="pivot">"""))
    t.colKeys.foreach(ck => assert(html.contains(s"""<span class="label">$ck</span>""")))
    // row totals column and the grand total render (doubles at 2 dp)
    assert(html.contains("""<td class="total">3.00</td>"""))
    assert(html.contains("""<td class="total">6.00</td>"""))
    // cells format through the commas recipe (doubles at 2 dp would be
    // "1.00" — integers collapse is not applied to Double cells)
    assert(html.contains("1.00") && html.contains("4.00"))
  }

  test("plot descriptor: pivot-aware series, measure-title labels, axis format") {
    val dfd = Seq(
      ("2024-01-01", "x", 1.0), ("2024-01-01", "y", 2.0),
      ("2024-02-01", "x", 4.0), ("2024-03-01", "y", 8.0),
    ).toDF("d", "s", "v").withColumn("d", to_date(col("d")))
    val c = CubeDef(
      labels = DateLabels.hierarchy("d", dim = "t") :+ Label("s"),
      measures = Seq(Measure("sum_v", col("v"), Agg.Sum, title = Some("Total V"))))

    // pivoted second axis → one series per (measure × pivot value)
    val q = CubeQuery().addAxis("d_month").addAxis("s").setPivot("s").addValue("sum_v")
    val d = Observers.plotDescriptor(dfd, c, q)
    assert(d.xAxis == "d_month" && d.xFormat == "date:month")
    assert(d.xs == Vector("2024-01-01", "2024-02-01", "2024-03-01"))
    assert(d.series.map(_.key) == Vector("sum_v:x", "sum_v:y"))
    assert(d.series.map(_.label) == Vector("Total V · x", "Total V · y"))
    val byKey = d.series.map(s => s.key -> s.ys).toMap
    assert(byKey("sum_v:x") == Vector(Some(1.0), Some(4.0), None)) // gaps stay gaps
    assert(byKey("sum_v:y") == Vector(Some(2.0), None, Some(8.0)))
    assert(d.url == UrlQueryBuilder.toUrlString(q, c))
    val json = Observers.plotJson(d)
    assert(json.contains("\"x_format\":\"date:month\"") && json.contains("Total V · x"))
    assert(json.contains("\"width\":640"))

    // plain 1-D query: one series per measure, same values as the slice
    val q1 = CubeQuery().addAxis("d_month").addValue("sum_v")
    val d1 = Observers.plotDescriptor(dfd, c, q1)
    assert(d1.series.map(_.key) == Vector("sum_v"))
    assert(d1.series.head.ys == Vector(Some(3.0), Some(4.0), Some(8.0)))
    assert(d1.xTitle == "D Month")

    // a 2-D query with no pivot is not plottable
    intercept[IllegalArgumentException] {
      Observers.plotDescriptor(dfd, c, CubeQuery().addAxis("d_month").addAxis("s").addValue("sum_v"))
    }
  }

  test("pivot table keeps genuinely-NULL axis values distinct from totals rows") {
    val dfn = Seq(("A", "x", 1.0), ("A", null.asInstanceOf[String], 2.0), ("B", "x", 4.0))
      .toDF("k", "s", "v")
    val t = Observers.pivotTable(dfn, cube, "k", "s", "sum_v")
    assert(t.colKeys == Vector("(none)", "x"))
    val rowA = t.rows.find(_._1 == "A").get
    assert(rowA._2 == Vector(Some(2.0), Some(1.0)))
    assert(rowA._3.contains(3.0)) // row total includes the null-keyed cell
    assert(t.grandTotal.contains(7.0))
  }

  test("pagination math: page count, link row with ellipsis, page query") {
    import Observers.Pagination._
    assert(numPages(95, 10) == 10 && numPages(100, 10) == 10 && numPages(101, 10) == 11)
    assert(numPages(5, 0) == 1)
    assert(pages(5, 10, 0).isEmpty) // one page -> no nav row

    // 10 pages, current = 5: Prev · 1 2 3 4 5 · [6] · 7 8 9 10 · Next
    val p = pages(100, 10, 5)
    assert(p.head.label == "« Prev" && p.head.page.contains(4))
    assert(p.last.label == "Next »" && p.last.page.contains(6))
    assert(p.count(_.current) == 1 && p.find(_.current).get.label == "6")

    // 30 pages, current = 15: runs longer than 7 elide to 2 + "..." + 2
    val big = pages(300, 10, 15)
    assert(big.count(_.label == "...") == 2)
    val labels = big.map(_.label)
    assert(labels.containsSlice(Seq("1", "2", "...", "14", "15")))
    assert(labels.containsSlice(Seq("17", "18", "...", "29", "30")))

    // Prev disabled on first page, Next disabled on last
    assert(pages(100, 10, 0).head.page.isEmpty)
    assert(pages(100, 10, 9).last.page.isEmpty)

    val q = pageQuery(CubeQuery().addAxis("k"), 25, 3)
    assert(q.limit.contains(25) && q.offset.contains(75))
  }

  test("commas formatting mirrors the reference recipe") {
    assert(Format.withCommas("%.4f", 1234567.5678) == "1,234,567.5678")
    assert(Format.withCommas("$%.4f", -1234567.5678) == "$-1,234,567.5678")
    assert(Format.withCommas("%d", 1000000L) == "1,000,000")
    assert(Format.withCommas("%d", -100L) == "-100")
    assert(Format.withCommas("%.4f", 0.1234) == "0.1234")
    assert(Format.int(1000) == "1,000")
  }

  test("record listing pages the raw records behind a rendered row") {
    val data = Seq(
      ("A", "x", 1.0), ("A", "x", 2.0), ("A", "y", 3.0), ("B", "x", 4.0),
      ("A", "x", 5.0), ("A", "x", 6.0), ("A", "x", 7.0),
    ).toDF("k", "s", "v")
    val nav = new Navigator(cube, CubeQuery().addAxis("k").addAxis("s").addValue("sum_v"))
    // the TableDetails click-through: the records behind rendered cell (A, x)
    val q = nav.rowFilter(Seq("k" -> "A", "s" -> "x"))
    val listing = Observers.recordListing(data, cube, q,
      columns = Seq("k", "s", "v"), orderBy = Seq("v"), pageSize = 2, page = 1)
    assert(listing.totalRows == 5)
    assert(listing.rows == Vector(Vector("A", "x", "5.0"), Vector("A", "x", "6.0")))
    assert(listing.pageLinks.nonEmpty && listing.pageLinks.count(_.current) == 1)
    assert(listing.pageLinks.find(_.current).get.label == "2")
    // page 0 sees the first records, same total
    val p0 = Observers.recordListing(data, cube, q,
      columns = Seq("k", "s", "v"), orderBy = Seq("v"), pageSize = 2, page = 0)
    assert(p0.rows == Vector(Vector("A", "x", "1.0"), Vector("A", "x", "2.0")))
  }

  test("linked table JSON carries per-cell, header, row and page action URLs") {
    val t = Observers.pivotTable(df, cube, "k", "s", "sum_v")
    val nav = new Navigator(cube, CubeQuery().addAxis("k").addValue("sum_v").setPivot("s"))
    val json = Observers.tableJson(t, nav, urlPrefix = "/cube/", pageSize = 1, curPage = 0)
    assert(json.contains("\"row_axis\":\"k\"") && json.contains("\"col_axis\":\"s\""))
    // column headers: filter to the pivot value + order by the pivoted measure
    assert(json.contains("\"filter_url\"") && json.contains("\"order_url\""))
    // cells: the row-filter URL carries BOTH axis eq-filters
    assert(json.contains("f:k:A") && json.contains("f:s:x"))
    // row actions: hide (ni merge) and raw-record details
    assert(json.contains("\"hide_url\"") && json.contains("f:k:ni:A"))
    assert(json.contains("\"details_url\""))
    // header actions on the row axis
    assert(json.contains("\"drop_url\"") && json.contains("\"pivot_url\""))
    // pagination: 2 rows at pageSize 1 → a pages row with a real page-2 link
    assert(json.contains("\"pages\"") && json.contains("l:1:1"))
    assert(json.count(_ == '{') == json.count(_ == '}'))
    assert(json.count(_ == '[') == json.count(_ == ']'))
  }

  test("nav widgets: DatesRangeWidget emits the reference's four url templates; panel JSON carries every widget") {
    val c = CubeDef(
      labels = Seq(
        Label("day", col("d"), dimension = Some("time"),
          codec = Some(ValueCodec.DateUnitCodec("day"))),
        Label("month", col("d"), dimension = Some("time"),
          codec = Some(ValueCodec.DateUnitCodec("month"))),
        Label("year", col("d"), dimension = Some("time"),
          codec = Some(ValueCodec.DateUnitCodec("year"))),
        Label("flag", col("f"))),
      measures = Seq(Measure("n", lit(1), Agg.Count)))
    // the current query carries a time filter the widget must CLEAR
    // (whole-dimension removal) and a non-time filter it must keep
    val q = CubeQuery().addAxis("flag").addValue("n")
      .addFilter("month", java.sql.Date.valueOf("2024-03-01"), FilterOp.Ge)
      .addFilter("flag", "x")
    val nav = new Navigator(c, q)

    // nav.py:48-66 — no value / only start / only end / both, with
    // __from__/__to__ placeholders where the sentinel dates encoded
    val urls = Observers.DatesRangeWidget("Dates", "day").urls(nav, "/cube/")
    assert(urls == Seq(
      "/cube/f:flag:x/a:flag/v:n",
      "/cube/f:flag:x/f:day:ge:__from__/a:flag/v:n",
      "/cube/f:flag:x/f:day:le:__to__/a:flag/v:n",
      "/cube/f:flag:x/f:day:ge:__from__/f:day:le:__to__/a:flag/v:n"), urls)
    intercept[IllegalArgumentException] {
      Observers.DatesRangeWidget("Dates", "day", toolkit = "dojo")
    }
    // coarser codecs render the sentinel through their OWN format
    // ("8192-01" on a month axis, bare "8192" on a year axis) — the
    // templates must still carry placeholders, never year-8192 dates
    val mUrls = Observers.DatesRangeWidget("Dates", "month").urls(nav, "/cube/")
    assert(mUrls == Seq(
      "/cube/f:flag:x/a:flag/v:n",
      "/cube/f:flag:x/f:month:ge:__from__/a:flag/v:n",
      "/cube/f:flag:x/f:month:le:__to__/a:flag/v:n",
      "/cube/f:flag:x/f:month:ge:__from__/f:month:le:__to__/a:flag/v:n"), mUrls)
    // year granularity renders both sentinels as bare years; the
    // distinct sentinel YEARS (8192/8193) keep from and to apart
    val yUrls = Observers.DatesRangeWidget("Dates", "year").urls(nav, "/cube/")
    assert(yUrls(3) ==
      "/cube/f:flag:x/f:year:ge:__from__/f:year:le:__to__/a:flag/v:n", yUrls)

    // nav.py:70 — cleared + __PLACEHOLDER__ templates
    val sf = Observers.StringFilterWidget("Find day", "day", FilterOp.Eq)
      .urls(nav, "/cube/")
    assert(sf == Seq(
      "/cube/f:flag:x/a:flag/v:n",
      "/cube/f:flag:x/f:day:__PLACEHOLDER__/a:flag/v:n"), sf)

    // nav.py:98-142 — current-query, fixed-query and filter-swap buttons
    val panel = Observers.NavPanel("side", Seq(
      Observers.DatesRangeWidget("Dates", "day"),
      Observers.StringFilterWidget("Find day", "day"),
      Observers.ButtonsWidget("Quick", Seq(
        Observers.PanelButton("Refresh"),
        Observers.FixedQueryButton("Reset", CubeQuery().addAxis("flag").addValue("n")),
        Observers.FilterButton("Only y", "flag", "y"),
        Observers.FilterButton("All flags", "flag", Observers.RemoveFilter,
          imageUrl = Some("/img/x.png"))))))
    val json = Observers.navPanelJson(panel, nav, "/cube/")
    assert(json.contains("\"name\":\"side\""))
    assert(json.contains("\"type\":\"dates_range\"") && json.contains("\"toolkit\":\"prototype\""))
    assert(json.contains("\"type\":\"string_filter\"") && json.contains("__PLACEHOLDER__"))
    assert(json.contains("\"type\":\"buttons\""))
    // PanelButton: the untouched current query (month filter intact)
    assert(json.contains("\"label\":\"Refresh\",\"image_url\":null,\"url\":\"/cube/f:month:ge:2024-03/f:flag:x/a:flag/v:n\""), json)
    assert(json.contains("\"label\":\"Reset\",\"image_url\":null,\"url\":\"/cube/a:flag/v:n\""))
    // FilterButton: flag filter swapped / removed, month filter kept
    assert(json.contains("\"label\":\"Only y\",\"image_url\":null,\"url\":\"/cube/f:month:ge:2024-03/f:flag:y/a:flag/v:n\""))
    assert(json.contains("\"label\":\"All flags\",\"image_url\":\"/img/x.png\",\"url\":\"/cube/f:month:ge:2024-03/a:flag/v:n\""))
    assert(json.count(_ == '{') == json.count(_ == '}'))
    assert(json.count(_ == '[') == json.count(_ == ']'))
  }

  test("nav widgets render to the reference's server-side HTML (templates re-expressed)") {
    val c = CubeDef(
      labels = Seq(
        Label("day", col("d"), dimension = Some("time"),
          codec = Some(ValueCodec.DateUnitCodec("day"))),
        Label("flag", col("f"))),
      measures = Seq(Measure("n", lit(1), Agg.Count)))
    val q = CubeQuery().addAxis("flag").addValue("n")
      .addFilter("day", java.time.LocalDate.of(2024, 3, 5), FilterOp.Ge)
      .addFilter("flag", "x&co")
    val nav = new Navigator(c, q)
    val panel = Observers.NavPanel("side", Seq(
      Observers.DatesRangeWidget("Dates", "day"),
      Observers.StringFilterWidget("Find flag", "flag"),
      Observers.ButtonsWidget("Quick", Seq(
        Observers.PanelButton("Refresh"),
        Observers.FilterButton("All flags", "flag", Observers.RemoveFilter,
          imageUrl = Some("/img/x.png"))))))
    val html = Observers.navPanelHtml(panel, nav, "/cube/")

    // panel chrome + one _widget.tmpl row per widget with its label cell
    assert(html.startsWith("""<div class="bacon-panel bacon-widgets"><table class="widgets">"""))
    assert(html.endsWith("</table></div>"))
    assert(html.sliding(19).count(_ == """<tr class="widget">""") == 3)
    assert(html.contains("""<td class="label">Dates:</td>"""))
    assert(html.contains("""<td class="label">Find flag:</td>"""))

    // DatesRangeWidget: the reference's unique id, the 4-url script,
    // prototype-toolkit $() access, placeholder substitution chain, and
    // the CURRENT ge-filter value rendered dd/MM/yyyy into the from box
    assert(html.contains("bacon.bacon_dates_range_day = function ()"))
    assert(html.contains("""$("bacon_dates_range_day_from").value"""))
    // function replacers + encodeURIComponent: non-date input must not
    // expand JS dollar-patterns or leak raw '&'/'%' into the URL
    assert(html.contains(
      """url.replace("__from__", function () { return encodeURIComponent(dfrom); })"""))
    assert(html.contains(
      """.replace("__to__", function () { return encodeURIComponent(dto); })"""))
    assert(html.contains("""id="bacon_dates_range_day_from" value="05/03/2024""""))
    assert(html.contains("""id="bacon_dates_range_day_to" value=""""))
    // jquery toolkit switches the input access + datepicker init
    val jq = Observers.navPanelHtml(Observers.NavPanel("side",
      Seq(Observers.DatesRangeWidget("Dates", "day", toolkit = "jquery"))), nav)
    assert(jq.contains("""$("#bacon_dates_range_day_from").val()"""))
    assert(jq.contains(".datepicker({dateFormat: 'dd/mm/yy'})"))

    // an Eq filter on the date axis prefills BOTH boxes — getRange
    // (cubequery.py:202) folds eq into from AND to
    val eqNav = new Navigator(c, CubeQuery().addAxis("flag").addValue("n")
      .addFilter("day", java.time.LocalDate.of(2024, 3, 5), FilterOp.Eq))
    val eqHtml = Observers.navPanelHtml(Observers.NavPanel("side",
      Seq(Observers.DatesRangeWidget("Dates", "day"))), eqNav)
    assert(eqHtml.contains("""id="bacon_dates_range_day_from" value="05/03/2024""""))
    assert(eqHtml.contains("""id="bacon_dates_range_day_to" value="05/03/2024""""))

    // StringFilterWidget: unique id, querySelector read, current value
    // HTML-escaped, __PLACEHOLDER__ template escapejs'd in the script
    assert(html.contains("bacon.bacon_string_filter_flag = function ()"))
    assert(html.contains("document.querySelector('#bacon_string_filter_flag')"))
    assert(html.contains("""value="x&amp;co""""))
    // escapejs: no raw & or < survives inside the script's url strings
    val script = html.substring(html.indexOf("bacon.bacon_string_filter_flag"),
      html.indexOf("</script>", html.indexOf("bacon.bacon_string_filter_flag")))
    assert(!script.contains("&") || script.contains("\\u0026"), script)
    assert(script.contains("__PLACEHOLDER__"))
    // URL-context escaping: the typed value substitutes through a
    // function replacer with encodeURIComponent
    assert(script.contains("encodeURIComponent(value)"))
    assert(script.contains("function () { return encodeURIComponent(value); }"))

    // ButtonsWidget: span button for the plain one, img for the image
    // one, hrefs carrying the swapped queries
    assert(html.contains("""<span class="button">Refresh</span>"""))
    assert(html.contains("""<img class="button" src="/img/x.png" alt="All flags" title="All flags" />"""))
  }

  test("escapejs covers U+2028/U+2029: JS line separators cannot end the literal") {
    // a filter value carrying the JS line/paragraph separators would
    // terminate the emitted string literal in pre-ES2019 parsers if it
    // reached the <script> raw — Django's escapejs escapes both, so the
    // rendered widget script must too
    val c = CubeDef(
      labels = Seq(Label("flag", col("f"))),
      measures = Seq(Measure("n", lit(1), Agg.Count)))
    val nav = new Navigator(c, CubeQuery().addAxis("flag").addValue("n")
      .addFilter("flag", "a\u2028b\u2029c"))
    val html = Observers.navPanelHtml(Observers.NavPanel("side",
      Seq(Observers.StringFilterWidget("Find flag", "flag"))), nav)
    val script = html.substring(html.indexOf("<script"),
      html.indexOf("</script>"))
    assert(!script.contains('\u2028') && !script.contains('\u2029'), script)
    assert(script.contains("\\u2028") && script.contains("\\u2029"))
  }

  test("navJson payload carries dimensioned axes, filter actions and hidden values") {
    val c = CubeDef(
      labels = Seq(
        Label("year", col("d"), dimension = Some("time")),
        Label("month", col("d"), childOf = Seq("year"), dimension = Some("time")),
        Label("flag", col("f"))),
      measures = Seq(
        Measure("n", lit(1), Agg.Count),
        Measure("extra", col("e"), Agg.Sum, showByDefault = false)))
    val nav = new Navigator(c,
      CubeQuery().addAxis("year").addValue("n").addFilter("flag", "x", FilterOp.Eq))
    val json = Observers.navJson(nav, urlPrefix = "/cube/")

    assert(json.contains("\"dimension\":\"time\"") && json.contains("\"Other axes\""))
    assert(json.contains("\"label\":\"Month\""))           // expandable
    assert(json.contains("\"url\":null") || !json.contains("\"Year\",\"url\":\"")) // year used
    assert(json.contains("\"label\":\"Flag = x\""))
    assert(json.contains("\"drop_url\":\"/cube/a:year/v:n\""))
    assert(json.contains("\"invert_url\":\"/cube/f:flag:ne:x/a:year/v:n\""))
    assert(json.contains("\"show_url\"") && json.contains("\"extra\""))
    // valid JSON (parseable by the JVM's own nashorn-free check: braces balance)
    assert(json.count(_ == '{') == json.count(_ == '}'))
    assert(json.count(_ == '[') == json.count(_ == ']'))
  }
}
