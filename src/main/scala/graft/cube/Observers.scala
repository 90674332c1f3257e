package graft.cube

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Slice renderers — the reference's observers (bacon/observers/tables.py,
  * csv.py, json.py) re-targeted at DataFrames.
  *
  * Scale note: renderers materialize ONLY the final aggregated slice
  * (post-groupBy, small by construction — its size is the product of axis
  * cardinalities, not the dataset size). Totals/subtotals are computed
  * distributed via rollup before collection, never by re-scanning.
  */
object Observers {

  /** CSV of a slice (header + rows). Escapes quotes/separators RFC-4180
    * style like the reference's csv observer.
    */
  def toCsv(slice: DataFrame, sep: String = ","): String = {
    def cell(v: Any): String = {
      val s = if (v == null) "" else String.valueOf(v)
      if (s.contains(sep) || s.contains("\"") || s.contains("\n"))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    val header = slice.columns.mkString(sep)
    val rows = slice.collect().map(r => r.toSeq.map(cell).mkString(sep))
    (header +: rows).mkString("\n")
  }

  /** JSON rows (the shape of the reference's json observer payload).
    * Rendered as a projection (`to_json(struct(...))`, the same bytes as
    * `toJSON`) rather than `toJSON`, a MapPartitions that always runs a
    * job: over a driver-held slice the projection folds at plan time and
    * collects with no job.
    */
  def toJsonRows(slice: DataFrame): String = {
    val fields = slice.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    slice.select(to_json(struct(fields: _*))).collect()
      .map(_.getString(0)).mkString("[", ",", "]")
  }

  /** A rendered 2-D pivot table with row and column totals — the
    * reference's Table2D observer (bacon/observers/tables.py).
    */
  final case class PivotTable(
      rowAxis: String, colAxis: String, measure: String,
      colKeys: Vector[String],
      rows: Vector[(String, Vector[Option[Double]], Option[Double])], // label, cells, row total
      colTotals: Vector[Option[Double]],
      grandTotal: Option[Double])

  /** Build a 2-D pivot table with totals in ONE distributed pass: a cube
    * over (rowAxis, colAxis) yields cells, row totals, column totals and
    * the grand total from the same shuffle (the reference re-walks its
    * nested dicts per total).
    */
  def pivotTable(df: DataFrame, cube: CubeDef, rowAxis: String, colAxis: String,
                 measure: String, filters: Vector[Filter] = Vector.empty): PivotTable = {
    val q = CubeQuery(axes = Vector(rowAxis, colAxis),
      valueDefs = Vector(measure -> true), filters = filters)
    // grouping_level (grouping_id) distinguishes subtotal rows from rows
    // whose axis value is genuinely NULL: bit set = axis aggregated away.
    val cells = Slicer.slice(df, cube, q, totals = Slicer.CubeTotals,
      withGroupingId = true).collect()

    def key(r: Row, i: Int): Option[String] = Option(r.get(i)).map(String.valueOf)
    def level(r: Row): Long = String.valueOf(r.get(3)).toLong
    def value(r: Row): Option[Double] =
      Option(r.get(2)).map(v => String.valueOf(v).toDouble)
    def k(r: Row, i: Int): String = key(r, i).getOrElse("(none)")

    val full = cells.filter(level(_) == 0)
    val rowTot = cells.filter(level(_) == 1).map(r => k(r, 0) -> value(r)).toMap
    val colTot = cells.filter(level(_) == 2).map(r => k(r, 1) -> value(r)).toMap
    val grand = cells.find(level(_) == 3).flatMap(value)

    val rowKeys = full.map(k(_, 0)).distinct.sorted.toVector
    val colKeys = full.map(k(_, 1)).distinct.sorted.toVector
    val cellMap = full.map(r => (k(r, 0), k(r, 1)) -> value(r)).toMap

    PivotTable(
      rowAxis, colAxis, measure, colKeys,
      rows = rowKeys.map(rk =>
        (rk, colKeys.map(ck => cellMap.getOrElse((rk, ck), None)), rowTot.getOrElse(rk, None))),
      colTotals = colKeys.map(ck => colTot.getOrElse(ck, None)),
      grandTotal = grand)
  }

  /** Excel export (the reference's excel observer,
    * bacon/observers/excel.py) as SpreadsheetML 2003 XML — opens in
    * Excel/LibreOffice, zero external dependencies. Carries the
    * reference's STYLE layer (excel.py:34-40's easyxf table):
    *  - `title`: bold, centered column headers, frozen via
    *    WorksheetOptions FreezePanes (WSWrapper.freeze_titles)
    *  - `value`: #,##0.00 number format on measure cells
    *  - `total`: bold + #,##0.00 on the optional totals row
    *  - `ldate`: DD/MM/YY on date/timestamp labels, emitted as typed
    *    DateTime cells
    * plus content-sized column widths (WSWrapper.autofit — SpreadsheetML
    * has no true autofit, so widths are estimated from the longest
    * rendered value). Numeric columns are typed Number cells so
    * spreadsheet aggregation works.
    */
  def toExcelXml(slice: DataFrame, sheetName: String = "slice",
                 totals: Option[DataFrame] = None): String = {
    import org.apache.spark.sql.types.{DateType, TimestampType, NumericType}
    def esc(s: String): String = s
      .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
    val fields = slice.schema.fields
    val numeric = fields.map(_.dataType.isInstanceOf[NumericType])
    val dateish = fields.map(f =>
      f.dataType == DateType || f.dataType == TimestampType)
    def dateIso(v: Any): String = v match {
      case d: java.sql.Date => s"${d}T00:00:00.000"
      case t: java.sql.Timestamp =>
        t.toLocalDateTime.format(
          java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS"))
      case other => String.valueOf(other)
    }
    val rows = slice.collect()
    val totalRows = totals.map(_.collect().toSeq).getOrElse(Seq.empty)
    // WSWrapper.autofit equivalent: SpreadsheetML has no client-side
    // autofit for text, so estimate width from the longest rendered
    // value (~6pt/char, clamped) — the same effect the reference gets.
    val widths = fields.indices.map { i =>
      val content = rows.iterator.map(r =>
        if (r.isNullAt(i)) 0 else String.valueOf(r.get(i)).length)
      val maxLen = (Iterator(fields(i).name.length) ++ content).max
      math.min(math.max(maxLen, 4), 60) * 6
    }
    def cell(v: Any, i: Int, styleId: Option[String]): String = {
      val style = styleId.fold("")(s => s""" ss:StyleID="$s"""")
      if (v == null) s"<Cell$style/>"
      else if (dateish(i))
        s"""<Cell$style><Data ss:Type="DateTime">${dateIso(v)}</Data></Cell>"""
      else if (numeric(i))
        s"""<Cell$style><Data ss:Type="Number">${String.valueOf(v)}</Data></Cell>"""
      else
        s"""<Cell$style><Data ss:Type="String">${esc(String.valueOf(v))}</Data></Cell>"""
    }
    /** Data-row style: `value` on numeric cells, `ldate` on date
      * labels, default on text labels.
      */
    def rowXml(r: org.apache.spark.sql.Row): String =
      fields.indices.map { i =>
        val style =
          if (numeric(i)) Some("value")
          else if (dateish(i)) Some("ldate")
          else None
        cell(if (r.isNullAt(i)) null else r.get(i), i, style)
      }.mkString("<Row>", "", "</Row>\n")
    // Totals rows align to the slice's columns BY NAME (the totals
    // frame carries only measures — axis cells render empty), and are
    // `total`-styled throughout: the reference writes even the empty
    // label cells of the totals row bold.
    val totalFieldIdx = totals.map(_.schema.fieldNames.zipWithIndex.toMap)
    def totalRowXml(t: org.apache.spark.sql.Row): String =
      fields.indices.map { i =>
        val v = totalFieldIdx.get.get(fields(i).name)
          .map(j => if (t.isNullAt(j)) null else t.get(j)).orNull
        cell(v, i, Some("total"))
      }.mkString("<Row>", "", "</Row>\n")
    val sb = new StringBuilder
    sb ++= """<?xml version="1.0"?>""" + "\n"
    sb ++= """<Workbook xmlns="urn:schemas-microsoft-com:office:spreadsheet"""" +
      """ xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet"""" +
      """ xmlns:x="urn:schemas-microsoft-com:office:excel">""" + "\n"
    // the excel.py:34-40 style table, rendered as a SpreadsheetML part
    sb ++= """<Styles>""" + "\n"
    sb ++= """<Style ss:ID="title"><Font ss:Bold="1"/>""" +
      """<Alignment ss:Horizontal="Center"/></Style>""" + "\n"
    sb ++= """<Style ss:ID="value"><NumberFormat ss:Format="#,##0.00"/></Style>""" + "\n"
    sb ++= """<Style ss:ID="total"><Font ss:Bold="1"/>""" +
      """<NumberFormat ss:Format="#,##0.00"/></Style>""" + "\n"
    sb ++= """<Style ss:ID="ldate"><NumberFormat ss:Format="DD/MM/YY"/></Style>""" + "\n"
    sb ++= """</Styles>""" + "\n"
    sb ++= s"""<Worksheet ss:Name="${esc(sheetName)}"><Table>""" + "\n"
    sb ++= widths.map(w => s"""<Column ss:Width="$w"/>""").mkString("", "", "\n")
    sb ++= slice.columns.map(c =>
      s"""<Cell ss:StyleID="title"><Data ss:Type="String">${esc(c)}</Data></Cell>""")
      .mkString("<Row>", "", "</Row>\n")
    rows.foreach(r => sb ++= rowXml(r))
    totalRows.foreach(r => sb ++= totalRowXml(r))
    sb ++= "</Table>\n"
    // freeze_titles: split below row 1, titles stay pinned on scroll
    sb ++= """<WorksheetOptions xmlns="urn:schemas-microsoft-com:office:excel">""" +
      """<FreezePanes/><FrozenNoSplit/><SplitHorizontal>1</SplitHorizontal>""" +
      """<TopRowBottomPane>1</TopRowBottomPane><ActivePane>2</ActivePane>""" +
      """</WorksheetOptions>""" + "\n"
    sb ++= "</Worksheet></Workbook>\n"
    sb.result()
  }

  /** Plot descriptor — the reference's plot observer
    * (bacon/observers/plot.py): a 1-D slice as (x labels, one series per
    * measure), ready for any charting frontend.
    */
  final case class PlotData(xAxis: String, xs: Vector[String],
                            series: Vector[(String, Vector[Option[Double]])])

  def plotData(slice: DataFrame, xAxis: String, measures: Seq[String]): PlotData = {
    val rows = slice.orderBy(col(xAxis).asc_nulls_first).collect()
    val xs = rows.map(r => Option(r.getAs[Any](xAxis)).map(String.valueOf).getOrElse("")).toVector
    val series = measures.toVector.map { m =>
      m -> rows.map(r => Option(r.getAs[Any](m)).map(v => String.valueOf(v).toDouble)).toVector
    }
    PlotData(xAxis, xs, series)
  }

  /** One plot series: stable key, human label, y per x position. */
  final case class PlotSeries(key: String, label: String, ys: Vector[Option[Double]])

  /** Full plot descriptor — parity with the reference's plot observer
    * surface (bacon/observers/plot.py:1-70: TimePlotData sorts the 1-D
    * slice on the axis value, exposes one value array per measure, a
    * figure size and the query URL), plus what its frontends derive from
    * the controller: human series labels from measure titles, an x-axis
    * format hint from the label's codec, and pivot-aware series — with a
    * pivoted second axis, one series per (measure × pivot value), the
    * plotted twin of the pivoted table's columns.
    */
  final case class PlotDescriptor(
      xAxis: String, xTitle: String, xFormat: String,
      xs: Vector[String],
      series: Vector[PlotSeries],
      width: Int, height: Int, url: String)

  def plotDescriptor(dataset: DataFrame, cube: CubeDef, q: CubeQuery,
                     urlPrefix: String = "",
                     size: (Int, Int) = (640, 480)): PlotDescriptor = {
    require(q.rowAxes.length == 1,
      s"plot needs exactly one row axis, got ${q.rowAxes.mkString(",")}")
    require(q.values.nonEmpty, "plot needs at least one visible measure")
    val xAxis = q.rowAxes.head
    val pivotAxis = q.pivot.headOption
    // compute in LONG shape, ordered by the x value in its native type
    // (string-sorting dates/numbers on the driver would misorder them)
    val longQ = q.copy(pivots = Set.empty, order = Vector.empty, limit = None, offset = None)
    val slice = Slicer.slice(dataset, cube, longQ)
    val rows = slice.orderBy(col(xAxis).asc_nulls_first).collect()

    def str(v: Any): String = Option(v).map(String.valueOf).getOrElse("")
    def num(r: Row, m: String): Option[Double] =
      Option(r.getAs[Any](m)).map(v => String.valueOf(v).toDouble)
    def mTitle(m: String): String = cube.measure(m).title.getOrElse(m)

    val xs = rows.map(r => str(r.getAs[Any](xAxis))).distinct.toVector
    val series: Vector[PlotSeries] = pivotAxis match {
      case None =>
        q.values.map(m => PlotSeries(m, mTitle(m), rows.toVector.map(num(_, m))))
      case Some(p) =>
        val pKeys = rows.map(r => str(r.getAs[Any](p))).distinct.sorted.toVector
        val cell = rows.map(r => (str(r.getAs[Any](xAxis)), str(r.getAs[Any](p))) -> r).toMap
        for { m <- q.values; pk <- pKeys } yield PlotSeries(
          s"$m:$pk", s"${mTitle(m)} · $pk",
          xs.map(x => cell.get((x, pk)).flatMap(num(_, m))))
    }

    val xFormat = {
      val fromCodec =
        if (cube.hasLabel(xAxis))
          cube.label(xAxis).codec.collect { case ValueCodec.DateUnitCodec(u) => s"date:$u" }
        else None
      fromCodec.getOrElse(slice.schema(xAxis).dataType match {
        case _: org.apache.spark.sql.types.NumericType => "number"
        case org.apache.spark.sql.types.DateType => "date:day"
        case _: org.apache.spark.sql.types.TimestampType => "datetime"
        case _ => "category"
      })
    }
    val xTitle = if (cube.hasLabel(xAxis)) cube.label(xAxis).prettyTitle else xAxis

    PlotDescriptor(xAxis, xTitle, xFormat, xs, series,
      size._1, size._2, urlPrefix + UrlQueryBuilder.toUrlString(q, cube))
  }

  /** JSON render of a PlotDescriptor (the payload a charting frontend
    * binds to — the reference hands matplotlib a Figure; the engine-side
    * contract is this descriptor).
    */
  def plotJson(d: PlotDescriptor): String = {
    def jnum(v: Option[Double]): String = v.map(_.toString).getOrElse("null")
    jobj(Seq(
      "x_axis" -> jstr(d.xAxis),
      "x_title" -> jstr(d.xTitle),
      "x_format" -> jstr(d.xFormat),
      "xs" -> jarr(d.xs.map(jstr)),
      "series" -> jarr(d.series.map(s =>
        jobj(Seq(
          "key" -> jstr(s.key),
          "label" -> jstr(s.label),
          "ys" -> jarr(s.ys.map(jnum)))))),
      "width" -> d.width.toString,
      "height" -> d.height.toString,
      "url" -> jstr(d.url)))
  }

  /** Paginated table math — the reference's PaginatedViewer
    * (bacon/observers/tables.py:16-131): page count, the Prev/1 2 … n/Next
    * link row with ellipsis runs, and the query for a given page.
    */
  object Pagination {
    /** One navigation entry: (label, target page if clickable, is-current). */
    final case class PageLink(label: String, page: Option[Int], current: Boolean)

    /** tables.py:104 num_pages (pageSize 0 = everything on one page). */
    def numPages(nrows: Long, pageSize: Int): Int =
      if (pageSize <= 0) 1 else math.ceil(nrows.toDouble / pageSize).toInt

    /** tables.py:112 pages: Prev · pages before (elided to 2+…+2 when the
      * run exceeds 7) · current (static) · pages after · Next. Empty when
      * everything fits one page.
      */
    def pages(nrows: Long, pageSize: Int, curPage: Int): Vector[PageLink] = {
      val n = numPages(nrows, pageSize)
      if (n <= 1) return Vector.empty
      def link(p: Int) = PageLink((p + 1).toString, Some(p), current = false)
      def run(start: Int, end: Int): Vector[PageLink] =
        if (end - start < 7) (start until end).map(link).toVector
        else ((start until start + 2).map(link).toVector :+ PageLink("...", None, current = false)) ++
          (end - 2 until end).map(link)
      (PageLink("« Prev", if (curPage > 0) Some(curPage - 1) else None, current = false) +:
        run(0, curPage)) ++
        (PageLink((curPage + 1).toString, None, current = true) +:
          run(curPage + 1, n)) :+
        PageLink("Next »", if (curPage < n - 1) Some(curPage + 1) else None, current = false)
    }

    /** The query showing page `p` (0-based) — tables.py:126 to_string_page
      * re-expressed as limit/offset on the CubeQuery.
      */
    def pageQuery(q: CubeQuery, pageSize: Int, p: Int): CubeQuery =
      q.setLimit(pageSize).setOffset(p * pageSize)
  }

  // ---- JSON nav payload (bacon/observers/json.py render_nav_json) ----

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def jobj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
  private def jarr(items: Seq[String]): String = items.mkString("[", ",", "]")

  /** The structured payload a frontend binds its navigation UI to —
    * axes grouped by dimension with expansion URLs, active filters with
    * drop/invert/related URLs, hidden values with show URLs
    * (bacon/observers/json.py:13 render_nav_json). URLs come from the
    * typed UrlQueryBuilder so date filters survive the round-trip.
    */
  def navJson(nav: Navigator, urlPrefix: String = ""): String = {
    def url(q: CubeQuery): String =
      jstr(urlPrefix + UrlQueryBuilder.toUrlString(q, nav.cubedef))

    val byDim = nav.expansions
      .groupBy { case (l, _) => l.dimension.getOrElse("Other axes") }
    val axes = nav.expansions.map(_._1.dimension.getOrElse("Other axes"))
      .distinct.map { dim =>
        jobj(Seq(
          "dimension" -> jstr(dim),
          "axes" -> jarr(byDim(dim).map { case (l, q) =>
            jobj(Seq(
              "label" -> jstr(l.prettyTitle),
              "url" -> q.fold("null")(url)))
          })))
      }

    val filters = nav.filters.map { f =>
      val pv = f.value match {
        case vs: Seq[_] => vs.map(String.valueOf).sorted.mkString(", ")
        case v          => String.valueOf(v)
      }
      val pn = if (nav.cubedef.hasLabel(f.name)) nav.cubedef.label(f.name).prettyTitle else f.name
      jobj(Seq(
        "label" -> jstr(s"$pn ${nav.prettyOp.getOrElse(f.op, f.op)} $pv"),
        "drop_url" -> url(f.queryWithout),
        "invert_url" -> url(f.queryInvert),
        "related_urls" -> jobj(f.queryRelated.toSeq.sortBy(_._1).map { case (op, q) =>
          nav.prettyOp.getOrElse(op, op) -> url(q)
        })))
    }

    val values = nav.hiddenValues.map { case (m, q) =>
      jobj(Seq(
        "label" -> jstr(m.title.getOrElse(m.name)),
        "show_url" -> url(q)))
    }

    jobj(
      (if (axes.nonEmpty) Seq("axes" -> jarr(axes)) else Nil) ++
        (if (filters.nonEmpty) Seq("filters" -> jarr(filters)) else Nil) ++
        (if (values.nonEmpty) Seq("values" -> jarr(values)) else Nil))
  }

  /** Paginated raw-record listing — the reference's TableDetails observer
    * (bacon/observers/tables.py:195): the un-aggregated records behind one
    * rendered row (query built by Navigator.rowFilter), paged with the
    * same Pagination math as the slice tables.
    *
    * Scale note: only the requested page is collected; the filter runs
    * distributed with full predicate pushdown (Slicer.filter), and the
    * count is a column-pruned aggregate.
    */
  final case class RecordListing(
      columns: Vector[String],
      rows: Vector[Vector[String]], // rendered cells, "" for null
      totalRows: Long, page: Int, pageSize: Int,
      pageLinks: Vector[Pagination.PageLink])

  def recordListing(dataset: DataFrame, cube: CubeDef, q: CubeQuery,
                    columns: Seq[String], orderBy: Seq[String],
                    pageSize: Int, page: Int = 0): RecordListing = {
    val filtered = Slicer.filter(dataset, cube, q)
    // columns may be label names (computed expressions) or raw dataset
    // columns — labels resolve through the cubedef like everywhere else
    val selected = filtered.select(columns.map(c =>
      if (cube.hasLabel(c)) cube.label(c).named else col(c)): _*)
    val total = selected.count()
    val ordered =
      if (orderBy.nonEmpty) selected.orderBy(orderBy.map(col(_).asc): _*) else selected
    val pageRows =
      (if (pageSize > 0) ordered.offset(page * pageSize).limit(pageSize) else ordered).collect()
    RecordListing(
      columns.toVector,
      pageRows.toVector.map(_.toSeq.toVector.map(v =>
        Option(v).map(String.valueOf).getOrElse(""))),
      total, page, pageSize,
      Pagination.pages(total, pageSize, page))
  }

  /** JSON render of a RecordListing (the TableDetails payload a frontend
    * binds to — columns, rendered page rows, pagination links).
    */
  def recordListingJson(rl: RecordListing): String =
    jobj(Seq(
      "columns" -> jarr(rl.columns.map(jstr)),
      "rows" -> jarr(rl.rows.map(r => jarr(r.map(jstr)))),
      "total_rows" -> rl.totalRows.toString,
      "page" -> rl.page.toString,
      "page_size" -> rl.pageSize.toString,
      "pages" -> jarr(rl.pageLinks.map(pl => jobj(Seq(
        "label" -> jstr(pl.label),
        "page" -> pl.page.map(_.toString).getOrElse("null"),
        "current" -> pl.current.toString))))))

  /** The linked table payload — the reference's render_table_json
    * (bacon/observers/json.py:140-353): the rendered pivot table where
    * every header, row label, cell and page is an action URL (LinkMap),
    * assembled from PivotTable + UrlMaker + Pagination.
    */
  def tableJson(t: PivotTable, nav: Navigator, urlPrefix: String = "",
                pageSize: Int = 0, curPage: Int = 0): String = {
    val um = new UrlMaker(nav, urlPrefix)
    def jnum(v: Option[Double]): String = v.map(_.toString).getOrElse("null")
    def jopt(v: Option[String]): String = v.map(jstr).getOrElse("null")

    val columns = t.colKeys.map { ck =>
      jobj(Seq(
        "key" -> jstr(ck),
        // filter to this pivot value (keeps the row axis)
        "filter_url" -> jstr(um.filterUrl2(t.colAxis, ck)),
        // order by this pivoted measure column (None when already so)
        "order_url" -> jopt(um.orderUrl(t.measure, Seq(ck)))))
    }

    val rows = t.rows.map { case (rk, cells, rowTotal) =>
      jobj(Seq(
        "key" -> jstr(rk),
        "filter_url" -> jstr(um.filterUrl(t.rowAxis, rk)),
        "hide_url" -> jstr(um.hideLabeledValueUrl(t.rowAxis, rk)),
        "details_url" -> jstr(um.rowFilterUrl(Seq(t.rowAxis -> rk))),
        "cells" -> jarr(t.colKeys.zip(cells).map { case (ck, v) =>
          jobj(Seq(
            "value" -> jnum(v),
            "url" -> jstr(um.rowFilterUrl(Seq(t.rowAxis -> rk, t.colAxis -> ck)))))
        }),
        "total" -> jnum(rowTotal)))
    }

    val pages = Pagination.pages(t.rows.length.toLong, pageSize, curPage).map { pl =>
      jobj(Seq(
        "label" -> jstr(pl.label),
        "url" -> jopt(pl.page.map(p => urlPrefix +
          UrlQueryBuilder.toUrlString(Pagination.pageQuery(nav.query, pageSize, p), nav.cubedef))),
        "current" -> pl.current.toString))
    }

    jobj(Seq(
      "row_axis" -> jstr(t.rowAxis),
      "col_axis" -> jstr(t.colAxis),
      "measure" -> jstr(t.measure),
      "row_axis_links" -> jobj(Seq(
        "drop_url" -> jstr(um.dropAxisUrl(t.rowAxis)),
        "pivot_url" -> jstr(um.pivotUrl(t.colAxis)),
        "order_reset_url" -> jopt(um.resetOrderUrl))),
      "columns" -> jarr(columns),
      "rows" -> jarr(rows),
      "col_totals" -> jarr(t.colTotals.map(jnum)),
      "grand_total" -> jnum(t.grandTotal)) ++
      (if (pages.nonEmpty) Seq("pages" -> jarr(pages)) else Nil))
  }

  // ---- HTML table render (bacon/django/templates/bacon/_table_1d.tmpl,
  //      _table_pivot.tmpl, _table_pager.tmpl re-expressed) -------------

  private def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  /** Table-cell formatting: integers with thousand separators, floats at
    * 2 dp with separators (Format = the reference's commas recipe),
    * NULL as a non-breaking space like the templates' `default:"&#160;"`.
    */
  private def prettyCell(v: Any): String = v match {
    case null => "&#160;"
    case n: java.lang.Long => esc(Format.int(n))
    case n: java.lang.Integer => esc(Format.int(n.toLong))
    case n: java.lang.Short => esc(Format.int(n.toLong))
    case n: java.lang.Double => esc(Format.withCommas("%.2f", n))
    case n: java.lang.Float => esc(Format.withCommas("%.2f", n.toDouble))
    case n: java.math.BigDecimal => esc(Format.withCommas(n.toPlainString))
    case other => esc(String.valueOf(other))
  }

  private def navButton(title: String, glyph: String, href: String): String =
    s"""<a class="nav button" title="${esc(title)}" href="${esc(href)}"><span>$glyph</span></a>"""
  private def navButtonOpt(title: String, glyph: String, href: Option[String]): String =
    href.fold("")(navButton(title, glyph, _))

  /** The ∧/∨ order affordances of _order_buttons.tmpl (desc is the
    * primary "Order" like the reference; a None URL means the table is
    * already ordered that way and the button is omitted).
    */
  private def orderButtons(um: UrlMaker, measure: String, pivotKey: Seq[String] = Nil): String =
    navButtonOpt("Order", "&#8743;", um.orderUrl(measure, pivotKey)) +
      navButtonOpt("Order ascending", "&#8744;", um.orderAscUrl(measure, pivotKey))

  /** The Prev/1 2 … n/Next link row (_table_pager.tmpl over the
    * Pagination math); empty string when everything fits one page.
    */
  private def pagerHtml(nav: Navigator, urlPrefix: String,
                        nrows: Long, pageSize: Int, curPage: Int): String = {
    val links = Pagination.pages(nrows, pageSize, curPage)
    if (links.isEmpty) return ""
    val items = links.map { pl =>
      val label = esc(pl.label)
      pl.page match {
        case Some(p) =>
          val u = urlPrefix + UrlQueryBuilder.toUrlString(
            Pagination.pageQuery(nav.query, pageSize, p), nav.cubedef)
          s"""<a class="page" href="${esc(u)}">$label</a>"""
        case None if pl.current => s"""<span class="page current">$label</span>"""
        case None => s"""<span class="page">$label</span>"""
      }
    }
    items.mkString("""<div class="bacon-pager">""", "", "</div>")
  }

  /** HTML render of a 1-D (non-pivot) slice — the reference's
    * `{% table %}` tag with Table1D + _table_1d.tmpl: a
    * `table.bacon.bacon-values` whose header carries the nav affordances
    * (pivot &#8599;, drop/hide &#10005;, order &#8743;/&#8744;, reset) and whose label
    * cells are filter links, all URLs from the typed UrlMaker. The output
    * is well-formed XML (numeric entities only) so a frontend can embed
    * or post-process it.
    *
    * Scale note: renders the POST-AGGREGATION slice only; with no
    * explicit ordering the collected rows sort by label text so the
    * render is deterministic.
    */
  def htmlTable1d(slice: DataFrame, nav: Navigator, urlPrefix: String = "",
                  pageSize: Int = 0, curPage: Int = 0,
                  totals: Option[DataFrame] = None): String = {
    val q = nav.query
    require(q.pivot.isEmpty, "pivot query: use htmlTablePivot")
    val cube = nav.cubedef
    val um = new UrlMaker(nav, urlPrefix)
    val labels = q.rowAxes
    val values = q.values

    // paged renders run LIMIT/OFFSET in the PLAN (recordListing's
    // pattern) — a high-cardinality axis never lands wholesale on the
    // driver; only the pager's count aggregates the full slice. Unpaged
    // renders keep the collect-then-sort (small by construction).
    val totalRows: Long = if (pageSize > 0) slice.count() else 0L
    val page =
      if (pageSize > 0)
        pagedSlice(slice, labels, q.order.nonEmpty, pageSize, curPage).collect().toVector
      else {
        val collected0 = slice.collect().toVector
        if (q.order.nonEmpty) collected0
        else collected0.sortBy(r => labels.map(l =>
          Option(r.getAs[Any](l)).map(String.valueOf).getOrElse("")).mkString(" "))
      }

    val sb = new StringBuilder
    sb ++= """<table class="bacon bacon-values">"""
    // titles row
    sb ++= """<tr class="titles">"""
    if (labels.isEmpty) sb ++= """<td class="empty-table">Click on an axis to filter</td>"""
    labels.zipWithIndex.foreach { case (l, i) =>
      sb ++= """<th class="label">"""
      if (i == 0) sb ++= navButtonOpt("Reset order", "&#8634;", um.resetOrderUrl)
      sb ++= navButton("Pivot on axis", "&#8599;", um.pivotUrl(l))
      sb ++= s"""<span class="label">${esc(cube.label(l).prettyTitle)}</span>"""
      sb ++= navButton("Drop axis", "&#10005;", um.dropAxisUrl(l))
      sb ++= "</th>"
    }
    values.foreach { m =>
      sb ++= """<th class="value">"""
      sb ++= orderButtons(um, m)
      sb ++= s"""<span class="label">${esc(cube.measure(m).title.getOrElse(m))}</span>"""
      sb ++= navButton("Hide value", "&#10005;", um.hideValueUrl(m))
      sb ++= "</th>"
    }
    sb ++= "</tr>"
    // value rows: every label cell is a filter link
    page.foreach { r =>
      sb ++= """<tr class="values">"""
      labels.foreach { l =>
        val v = r.getAs[Any](l)
        sb ++= """<td class="label">"""
        if (v == null) sb ++= "&#160;"
        else sb ++= s"""<a class="nav" title="Filter by value" href="${esc(um.filterUrl(l, v))}">${esc(String.valueOf(v))}</a>"""
        sb ++= "</td>"
      }
      values.foreach(m => sb ++= s"""<td class="value">${prettyCell(r.getAs[Any](m))}</td>""")
      sb ++= "</tr>"
    }
    // totals row (the template's {% if table.totals %})
    totals.flatMap(_.collect().headOption).foreach { t =>
      sb ++= """<tr class="totals">"""
      labels.foreach(_ => sb ++= """<td class="label">&#160;</td>""")
      values.foreach(m => sb ++= s"""<td class="value">${prettyCell(t.getAs[Any](m))}</td>""")
      sb ++= "</tr>"
    }
    sb ++= "</table>"
    sb ++= pagerHtml(nav, urlPrefix,
      if (pageSize > 0) totalRows else page.length.toLong, pageSize, curPage)
    sb.result()
  }

  /** One page of a rendered slice with LIMIT/OFFSET in the plan. Without
    * an explicit query order the rows sort by the label columns
    * (nulls first) so pages are deterministic across renders.
    */
  private[cube] def pagedSlice(slice: DataFrame, labels: Seq[String],
                               hasOrder: Boolean, pageSize: Int, curPage: Int): DataFrame = {
    val ordered =
      if (hasOrder || labels.isEmpty) slice
      else slice.orderBy(labels.map(l => col(l).asc_nulls_first): _*)
    ordered.offset(curPage * pageSize).limit(pageSize)
  }

  /** HTML render of a pivoted slice — _table_pivot.tmpl over the same
    * one-pass PivotTable that backs tableJson: a pivot header row
    * (un-pivot &#8601;, per-column filter + hide links, the Total column),
    * a titles row with per-pivot-column order buttons, body rows with
    * row totals, and the column-totals/grand-total footer.
    */
  def htmlTablePivot(t: PivotTable, nav: Navigator, urlPrefix: String = "",
                     pageSize: Int = 0, curPage: Int = 0): String = {
    val cube = nav.cubedef
    val um = new UrlMaker(nav, urlPrefix)
    val mTitle = cube.measure(t.measure).title.getOrElse(t.measure)

    val rows =
      if (pageSize > 0) t.rows.slice(curPage * pageSize, (curPage + 1) * pageSize)
      else t.rows

    val sb = new StringBuilder
    sb ++= """<table class="bacon bacon-pivot">"""
    // pivot header row: the pivoted axis with per-value filter/hide links
    sb ++= """<tr class="pivot">"""
    sb ++= """<th class="button">"""
    sb ++= navButton("Pivot on axis", "&#8601;", um.pivotUrl(t.colAxis))
    sb ++= s"""<span class="label">${esc(cube.label(t.colAxis).prettyTitle)}</span>"""
    sb ++= navButton("Drop axis", "&#10005;", um.dropAxisUrl(t.colAxis))
    sb ++= "</th>"
    t.colKeys.foreach { ck =>
      sb ++= """<th class="value">"""
      sb ++= s"""<a class="nav" title="Filter by value" href="${esc(um.filterUrl2(t.colAxis, ck))}"><span class="label">${esc(ck)}</span></a>"""
      sb ++= navButton("Hide value", "&#10005;", um.hideLabeledValueUrl(t.colAxis, ck))
      sb ++= "</th>"
    }
    sb ++= """<th class="value">Total</th>"""
    sb ++= "</tr>"
    // titles row: the row axis + one measure title per pivot column
    sb ++= """<tr class="titles">"""
    sb ++= """<th class="label">"""
    sb ++= navButtonOpt("Reset order", "&#8634;", um.resetOrderUrl)
    sb ++= navButton("Pivot on axis", "&#8599;", um.pivotUrl(t.rowAxis))
    sb ++= s"""<span class="label">${esc(cube.label(t.rowAxis).prettyTitle)}</span>"""
    sb ++= navButton("Drop axis", "&#10005;", um.dropAxisUrl(t.rowAxis))
    sb ++= "</th>"
    t.colKeys.foreach { ck =>
      sb ++= """<th class="value">"""
      sb ++= orderButtons(um, t.measure, Seq(ck))
      sb ++= s"""<span class="label">${esc(mTitle)}</span>"""
      sb ++= "</th>"
    }
    sb ++= s"""<th class="value">${orderButtons(um, t.measure)}<span class="label">${esc(mTitle)}</span>"""
    sb ++= navButton("Hide value", "&#10005;", um.hideValueUrl(t.measure))
    sb ++= "</th>"
    sb ++= "</tr>"
    // body rows with row totals
    def cell(v: Option[Double]): String =
      v.map(x => prettyCell(java.lang.Double.valueOf(x))).getOrElse("&#160;")
    rows.foreach { case (rk, cells, rowTotal) =>
      sb ++= """<tr class="values">"""
      sb ++= s"""<td class="label"><a class="nav" title="Filter by value" href="${esc(um.filterUrl(t.rowAxis, rk))}"><span>${esc(rk)}</span></a></td>"""
      cells.foreach(v => sb ++= s"""<td class="value">${cell(v)}</td>""")
      sb ++= s"""<td class="total">${cell(rowTotal)}</td>"""
      sb ++= "</tr>"
    }
    // column totals + grand total
    sb ++= """<tr class="totals">"""
    sb ++= """<td class="label">&#160;</td>"""
    t.colTotals.foreach(v => sb ++= s"""<td class="value">${cell(v)}</td>""")
    sb ++= s"""<td class="total">${cell(t.grandTotal)}</td>"""
    sb ++= "</tr>"
    sb ++= "</table>"
    sb ++= pagerHtml(nav, urlPrefix, t.rows.length.toLong, pageSize, curPage)
    sb.result()
  }

  // ---- Nav widget descriptors (bacon/observers/nav.py:1-142) ----

  /** A navigation widget rendered inside a [[NavPanel]] — the
    * reference's NavWidget hierarchy (bacon/observers/nav.py:14). Each
    * widget contributes a typed JSON descriptor with the template URLs
    * a frontend fills in; the `__from__`/`__to__`/`__PLACEHOLDER__`
    * markers are the reference's own contract.
    */
  sealed trait NavWidget { def label: String }

  /** Two-date range selector over a time-dimension axis
    * (nav.py:21 DatesRangeWidget). `urls` returns the reference's four
    * query templates — no value, only start, only end, both — built by
    * filtering on the sentinel dates 8192-01-01 / 8193-12-31 through
    * the REAL typed codec and then template-substituting, the
    * nav.py:48-66 mechanism (the reference's sentinels are
    * 8192-01-01/8192-12-31; the end sentinel here deliberately sits in
    * year 8193 — see below). The sentinel guarantees the URL carries a
    * well-formed date in the right position before the placeholder
    * replaces it. Unlike the reference, the axis codec may render
    * coarser than a day ("8192-01" on a month axis, the snapped Monday
    * on a week axis), so the replaced token is the codec's OWN
    * rendering of the sentinel — and the two sentinels sit in different
    * YEARS so a year-granularity axis still tells from/to apart. The
    * substitution is a replace-ALL of the rendered sentinel, which is
    * safe because no real cube data lives in years 8192/8193 — the
    * token cannot appear in the URL except as the sentinel.
    */
  final case class DatesRangeWidget(label: String, axis: String,
                                    toolkit: String = "prototype") extends NavWidget {
    require(Seq("jquery", "prototype").contains(toolkit),
      s"toolkit not supported: $toolkit")
    def urls(nav: Navigator, urlPrefix: String = ""): Seq[String] = {
      def url(q: CubeQuery): String =
        urlPrefix + UrlQueryBuilder.toUrlString(q, nav.cubedef)
      val from = java.time.LocalDate.of(8192, 1, 1)
      val to = java.time.LocalDate.of(8193, 12, 31)
      def tok(d: java.time.LocalDate): String =
        if (nav.cubedef.hasLabel(axis)) nav.cubedef.label(axis).unparseValue(d)
        else d.toString
      val (fromTok, toTok) = (tok(from), tok(to))
      val q0 = nav.removeDimensionFilters(axis)
      val q1 = q0.addFilter(axis, from, FilterOp.Ge)
      val q2 = q0.addFilter(axis, to, FilterOp.Le)
      val q3 = q1.addFilter(axis, to, FilterOp.Le)
      Seq(url(q0),
        url(q1).replace(fromTok, "__from__"),
        url(q2).replace(toTok, "__to__"),
        url(q3).replace(fromTok, "__from__").replace(toTok, "__to__"))
    }
  }

  /** Free-text filter input on one axis (nav.py:70 StringFilterWidget):
    * two templates — filters cleared, and filtering on `__PLACEHOLDER__`
    * with the widget's operator.
    */
  final case class StringFilterWidget(label: String, axis: String,
                                      op: String = FilterOp.Eq) extends NavWidget {
    def urls(nav: Navigator, urlPrefix: String = ""): Seq[String] = {
      def url(q: CubeQuery): String =
        urlPrefix + UrlQueryBuilder.toUrlString(q, nav.cubedef)
      val q0 = nav.removeDimensionFilters(axis)
      Seq(url(q0), url(q0.addFilter(axis, "__PLACEHOLDER__", op)))
    }
  }

  /** A button redirecting to a query when clicked (nav.py:98 Button /
    * :113 FixedQueryButton / :122 FilterButton). The three reference
    * behaviours as one ADT: current query unchanged, a fixed query, or
    * the current query with one filter swapped (value = [[RemoveFilter]]
    * clears it — nav.py:124 REMOVE).
    */
  sealed trait NavButton {
    def label: String
    def imageUrl: Option[String]
    def query(nav: Navigator): CubeQuery = this match {
      case PanelButton(_, _)          => nav.query
      case FixedQueryButton(_, q, _)  => q
      case FilterButton(_, axis, v, _) =>
        val q = nav.query.removeFilter(axis)
        v match {
          case RemoveFilter => q
          case value        => q.addFilter(axis, value)
        }
    }
  }
  case object RemoveFilter
  final case class PanelButton(label: String,
                               imageUrl: Option[String] = None) extends NavButton
  final case class FixedQueryButton(label: String, q: CubeQuery,
                                    imageUrl: Option[String] = None) extends NavButton
  final case class FilterButton(label: String, axis: String, value: Any,
                                imageUrl: Option[String] = None) extends NavButton

  /** Button-group widget (nav.py:92 ButtonsWidget). */
  final case class ButtonsWidget(label: String,
                                 buttons: Seq[NavButton]) extends NavWidget

  /** A named container of widgets (nav.py:5 NavPanel). */
  final case class NavPanel(name: String, widgets: Seq[NavWidget])

  /** The JSON descriptor a frontend binds a [[NavPanel]] to: one typed
    * object per widget with its template URLs — the rendering of
    * nav.py's widget surface (each get_urls contract preserved
    * verbatim, markers included). Companion of [[navJson]], which
    * carries the axis/filter/value navigation; this carries the custom
    * panel chrome.
    */
  def navPanelJson(panel: NavPanel, nav: Navigator, urlPrefix: String = ""): String = {
    def url(q: CubeQuery): String =
      jstr(urlPrefix + UrlQueryBuilder.toUrlString(q, nav.cubedef))
    val widgets = panel.widgets.map {
      case w @ DatesRangeWidget(label, axis, toolkit) =>
        jobj(Seq(
          "type" -> jstr("dates_range"), "label" -> jstr(label),
          "axis" -> jstr(axis), "toolkit" -> jstr(toolkit),
          "urls" -> jarr(w.urls(nav, urlPrefix).map(jstr))))
      case w @ StringFilterWidget(label, axis, op) =>
        jobj(Seq(
          "type" -> jstr("string_filter"), "label" -> jstr(label),
          "axis" -> jstr(axis), "op" -> jstr(op),
          "urls" -> jarr(w.urls(nav, urlPrefix).map(jstr))))
      case ButtonsWidget(label, buttons) =>
        jobj(Seq(
          "type" -> jstr("buttons"), "label" -> jstr(label),
          "buttons" -> jarr(buttons.map { b =>
            jobj(Seq(
              "label" -> jstr(b.label),
              "image_url" -> b.imageUrl.fold("null")(jstr),
              "url" -> url(b.query(nav))))
          })))
    }
    jobj(Seq("name" -> jstr(panel.name), "widgets" -> jarr(widgets)))
  }

  /** Django-escapejs-style escaping for URL strings embedded inside the
    * widget <script> blocks: backslash, both quote kinds, angle
    * brackets, ampersand, equals and control chars become \uXXXX so the
    * emitted JS literal can never break out of its string or close the
    * surrounding script tag (the reference pipes every urls.N through
    * |escapejs in each bacon/django/templates/bacon/nav/widgets
    * template).
    */
  private def escJs(s: String): String = s.flatMap {
    case c if c == '\\' || c == '\'' || c == '"' || c == '<' || c == '>' ||
        c == '&' || c == '=' || c < ' ' ||
        // U+2028/U+2029 line separators terminate a JS string literal in
        // pre-ES2019 parsers; Django's escapejs escapes them, so we do too
        c == '\u2028' || c == '\u2029' => f"\\u${c.toInt}%04X"
    case c => c.toString
  }

  private def ddmmyyyy(v: Any): String = v match {
    case d: java.time.LocalDate =>
      d.format(java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy"))
    case other => String.valueOf(other)
  }

  /** Server-rendered HTML for a [[NavPanel]]'s widgets — the reference's
    * nav-widget template stack re-expressed
    * (bacon/django/templatetags/bacon_nav.py:8-62 dispatch +
    * bacon/django/templates/bacon/nav/_widget.tmpl and
    * nav/widgets/{DatesRangeWidget,StringFilterWidget,ButtonsWidget,
    * _button}.tmpl): the same structure a bacon page serves —
    * `<div class="bacon-panel bacon-widgets"><table class="widgets">`
    * of `<tr class="widget">` rows, each widget's `<script>` defining
    * `bacon.<unique>` over its escapejs'd template URLs, the
    * dd/mm/yyyy inputs wired to it, and the image/span button anchors.
    * `unique` follows the reference exactly
    * (`bacon_dates_range_<axis>` / `bacon_string_filter_<axis>`);
    * current values come from the live query's filters the way
    * render_DatesRangeWidget/render_StringFilterWidget read them.
    * JSON-consuming frontends keep [[navPanelJson]]; this is the
    * server-rendered-HTML consumer's surface, completing the parity
    * with [[htmlTable1d]]/[[htmlTablePivot]]/[[pagerHtml]].
    */
  def navPanelHtml(panel: NavPanel, nav: Navigator, urlPrefix: String = ""): String = {
    def widgetRow(label: String, body: String): String =
      s"""<tr class="widget"><td class="label">${esc(label)}:</td>""" +
        s"""<td class="widget">$body</td></tr>"""
    val rendered = panel.widgets.map {
      case w @ DatesRangeWidget(label, axis, toolkit) =>
        val u = w.urls(nav, urlPrefix)
        val unique = s"bacon_dates_range_$axis"
        // getRange (cubequery.py:202) folds an Eq filter into BOTH
        // bounds — an eq-filtered axis prefills from = to, like the
        // reference's render_DatesRangeWidget
        val (rangeFrom, rangeTo) = nav.query.getRange(axis)
        val valueFrom = rangeFrom.map(ddmmyyyy).getOrElse("")
        val valueTo = rangeTo.map(ddmmyyyy).getOrElse("")
        val readInputs = toolkit match {
          case "jquery" =>
            s"""var dfrom = $$("#${unique}_from").val().replace(/(..)\\/(..)\\/(....)/, "$$3-$$2-$$1");
               |var dto = $$("#${unique}_to").val().replace(/(..)\\/(..)\\/(....)/, "$$3-$$2-$$1");""".stripMargin
          case _ =>
            s"""var dfrom = $$("${unique}_from").value.replace(/(..)\\/(..)\\/(....)/, "$$3-$$2-$$1");
               |var dto = $$("${unique}_to").value.replace(/(..)\\/(..)\\/(....)/, "$$3-$$2-$$1");""".stripMargin
        }
        val datepickerInit = if (toolkit == "jquery")
          s"""
             |$$(document).ready(function () {
             |  $$('div.$unique input.date_range').datepicker({dateFormat: 'dd/mm/yy'});
             |})""".stripMargin
        else ""
        val body =
          s"""<script type="text/javascript">
             |try { bacon; } catch(e) { bacon = {}; }
             |bacon.$unique = function () {
             |  var urls = [
             |    "${escJs(u(0))}",
             |    "${escJs(u(1))}",
             |    "${escJs(u(2))}",
             |    "${escJs(u(3))}" ];
             |$readInputs
             |  var url = urls[(dfrom ? 1 : 0) + (dto ? 2 : 0)];
             |  // function replacers + encodeURIComponent: a non-date input
             |  // passes through the rewrite regex untouched and must not
             |  // expand dollar-patterns or inject raw '&'/'%' into the URL
             |  url = url.replace("__from__", function () { return encodeURIComponent(dfrom); })
             |           .replace("__to__", function () { return encodeURIComponent(dto); });
             |  document.location = url;
             |}$datepickerInit
             |</script>
             |<div class="$unique">
             |From&#160;<input id="${unique}_from" value="${esc(valueFrom)}" type="text" class="date_range" maxlength="10" size="8" datepicker="true" datepicker_format="DD/MM/YYYY" onchange="bacon.$unique()" />
             |To&#160;<input id="${unique}_to" value="${esc(valueTo)}" type="text" class="date_range" maxlength="10" size="8" datepicker="true" datepicker_format="DD/MM/YYYY" onchange="bacon.$unique()" /></div>""".stripMargin
        widgetRow(label, body)
      case w @ StringFilterWidget(label, axis, op) =>
        val u = w.urls(nav, urlPrefix)
        val unique = s"bacon_string_filter_$axis"
        val value = nav.query.getFilter(axis, op).map(String.valueOf).getOrElse("")
        val body =
          s"""<script type="text/javascript">
             |try { bacon; } catch(e) { bacon = {}; }
             |bacon.$unique = function () {
             |  var urls = [
             |    "${escJs(u(0))}",
             |    "${escJs(u(1))}"
             |  ];
             |  var value = document.querySelector('#$unique').value;
             |  var url = urls[value ? 1 : 0];
             |  // function replacer: a typed "dollar-ampersand" must not expand as a JS
             |  // replacement pattern; encodeURIComponent keeps '%'/'&'
             |  // URL-safe (escapejs protected the script context only)
             |  document.location = url.replace('__PLACEHOLDER__',
             |    function () { return encodeURIComponent(value); });
             |}
             |</script>
             |<div class="$unique">
             |<input id="$unique" value="${esc(value)}" type="text" class="string_filter" size="8" onchange="bacon.$unique()" />
             |</div>""".stripMargin
        widgetRow(label, body)
      case ButtonsWidget(label, buttons) =>
        val body = buttons.map { b =>
          val href = esc(urlPrefix + UrlQueryBuilder.toUrlString(b.query(nav), nav.cubedef))
          b.imageUrl match {
            case Some(img) =>
              s"""<a href="$href"><img class="button" src="${esc(img)}" alt="${esc(b.label)}" title="${esc(b.label)}" /></a>"""
            case None =>
              s"""<a href="$href"><span class="button">${esc(b.label)}</span></a>"""
          }
        }.mkString
        widgetRow(label, body)
    }
    s"""<div class="bacon-panel bacon-widgets"><table class="widgets">${rendered.mkString}</table></div>"""
  }

  /** Plain-text render of a PivotTable (debug/demo — the HTML twin is
    * htmlTablePivot; this one stays for terminal output).
    */
  def render(t: PivotTable): String = {
    val header = (t.rowAxis +: t.colKeys :+ "TOTAL").mkString("\t")
    def fmt(v: Option[Double]): String = v.map(x => f"$x%.2f").getOrElse("")
    val body = t.rows.map { case (rk, cells, tot) =>
      (rk +: cells.map(fmt) :+ fmt(tot)).mkString("\t")
    }
    val totals = ("TOTAL" +: t.colTotals.map(fmt) :+ fmt(t.grandTotal)).mkString("\t")
    (header +: body :+ totals).mkString("\n")
  }
}
