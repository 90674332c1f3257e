package graft.cube

/** Interactive navigation over a cube — the drill-down logic of the
  * reference Navigator (bacon/cubenav.py:18). Pure query manipulation;
  * execution stays in the Slicer.
  */
final class Navigator(val cubedef: CubeDef, val query: CubeQuery) {

  def withQuery(q: CubeQuery): Navigator = new Navigator(cubedef, q)

  /** All labels with, per label, the expanded query if that label can be
    * added as an axis (bacon/cubenav.py:49 iter_expansions). Labels are
    * offered in (dimension, rank) order; hidden labels are skipped.
    */
  def expansions: Seq[(Label, Option[CubeQuery])] = {
    val labels = cubedef.labels
      .filterNot(_.hidden)
      .sortBy(l => (l.dimension.getOrElse("￿"), cubedef.rank(l.name)))
    labels.map(l => l -> expandIfYouCan(query, l))
  }

  /** bacon/cubenav.py:59 _expand_if_you_can — a label can be added iff its
    * dimension's already-used labels form a chain with it (hierarchies
    * must stay totally ordered along an axis path).
    */
  def expandIfYouCan(q: CubeQuery, label: Label): Option[CubeQuery] = {
    val name = label.name
    val used = q.axes.toSet
    if (used.contains(name)) return None

    val dimLabels = cubedef.connected(name)
    val usedInDim = dimLabels & used
    if (usedInDim.isEmpty) return Some(q.addAxis(name))

    val anc = cubedef.ancestors(name)
    val des = cubedef.descendants(name)
    if (!usedInDim.subsetOf(anc | des)) return None

    val usedDes = des & usedInDim
    if (usedDes.nonEmpty) {
      val ref = usedDes.minBy(cubedef.rank)
      return Some(q.addAxis(name, before = Some(ref)))
    }
    val usedAnc = anc & usedInDim
    if (usedAnc.nonEmpty) {
      val ref = usedAnc.maxBy(cubedef.rank)
      return Some(q.addAxis(name, after = Some(ref)))
    }
    Some(q.addAxis(name))
  }

  /** Current filters with their manipulation targets (remove / invert /
    * related variants) — bacon/cubenav.py:96 iter_filters.
    */
  final case class CurrentFilter(
      name: String, op: String, value: Any,
      queryWithout: CubeQuery, queryInvert: CubeQuery,
      queryRelated: Map[String, CubeQuery])

  def filters: Seq[CurrentFilter] =
    query.filters.map { f =>
      CurrentFilter(f.name, f.op, f.value,
        queryWithout = query.removeFilterExact(f.name, f.op, f.value),
        queryInvert = query.invertFilter(f.name, f.value, f.op),
        queryRelated = query.relatedFilters(f.name, f.value, f.op))
    }

  /** Drill: filter on a value of the first axis and drop that axis —
    * the click-through the reference optimizes with DrillOnFirstAxis
    * (bacon/cutting.py:274); a CuttingBoard serves it by re-aggregating
    * the cached finer slice.
    */
  def drill(value: Any): Navigator = {
    require(query.axes.nonEmpty, "cannot drill a 0-dimensional query")
    val first = query.axes.head
    withQuery(query.addFilter(first, value).removeAxis(first))
  }

  // ---- manipulation surface (bacon/cubenav.py:152-265) -------------

  /** Hidden/hideable values with the query that would reveal each:
    * measures marked showByDefault=false that the query doesn't carry,
    * plus query-hidden values (bacon/cubenav.py:152 hidden_values).
    */
  def hiddenValues: Seq[(Measure, CubeQuery)] =
    cubedef.measures.filter(m => !m.showByDefault && !query.allValues.contains(m.name))
      .map(m => m -> query.addValue(m.name)) ++
      query.hiddenValues.map(n => cubedef.measure(n) -> query.showValue(n))

  /** Filter on a cell's labeled value and drop that axis — the standard
    * cell click-through (bacon/cubenav.py:164 filter).
    */
  def filterOn(name: String, value: Any, op: String = FilterOp.Eq): CubeQuery =
    query.addFilter(name, value, op).removeAxis(name)

  /** Record-listing query for one rendered row: the row's axis values as
    * eq filters plus every current filter, no axes/values — feeding a
    * TableDetails-style raw listing (bacon/cubenav.py:176 row_filter).
    */
  def rowFilter(cells: Seq[(String, Any)]): CubeQuery = {
    val base = cells.foldLeft(CubeQuery()) { case (q, (n, v)) => q.addFilter(n, v) }
    query.filters.foldLeft(base)((q, f) => q.addFilter(f.name, f.value, f.op))
  }

  def dropAxis(name: String): CubeQuery = query.removeAxis(name)

  /** Hide a value column; resets the ordering if it ordered by that value
    * (bacon/cubenav.py:191 hide_value). Not-shown-by-default measures are
    * removed from the query entirely rather than marked hidden.
    */
  def hideValue(name: String): CubeQuery = {
    val q0 =
      if (cubedef.hasMeasure(name) && !cubedef.measure(name).showByDefault)
        query.removeValue(name)
      else query.hideValue(name)
    if (q0.order.exists(_.name == name)) q0.noOrder else q0
  }

  /** Exclude one labeled value: merge into an existing `ni` filter on the
    * label, or start one (bacon/cubenav.py:207 hide_labeled_value) — the
    * "hide this row" action on a rendered table.
    */
  def hideLabeledValue(name: String, value: Any): CubeQuery =
    query.filters.find(f => f.name == name && f.op == FilterOp.Ni) match {
      case Some(f) =>
        // Normalize any collection-valued filter (Seq from URL parsing,
        // but Set/other Iterables from hand-built queries) before merging
        // so a Set value doesn't nest inside the new Seq.
        val existing = f.value match {
          case vs: Iterable[_] => vs.toSeq
          case v               => Seq(v)
        }
        val merged = (existing :+ value).distinct
        query.removeFilterExact(f.name, f.op, f.value)
          .addFilter(name, merged, FilterOp.Ni)
      case None => query.addFilter(name, Seq(value), FilterOp.Ni)
    }

  /** Pivot toggle respecting Label.allowPivot (bacon/cubenav.py:241
    * set_pivot ignores the request rather than produce a bombing query).
    */
  def setPivot(name: String): CubeQuery =
    if (cubedef.hasLabel(name) && !cubedef.label(name).allowPivot) query
    else query.setPivot(name)

  def unsetPivot(name: String): CubeQuery = query.unsetPivot(name)

  def orderByDesc(name: String, pivotKey: Seq[String] = Nil): CubeQuery =
    query.noOrder.orderBy("-" + name, pivotKey)
  def orderByAsc(name: String, pivotKey: Seq[String] = Nil): CubeQuery =
    query.noOrder.orderBy(name, pivotKey)
  def resetOrder: CubeQuery = query.noOrder

  /** Remove every filter on any label of `axisName`'s dimension — "clear
    * the whole time dimension" (bacon/cubenav.py:252
    * remove_dimension_filters). Labels without a declared dimension
    * leave the query unchanged, as in the reference.
    */
  def removeDimensionFilters(axisName: String): CubeQuery = {
    val dim = cubedef.label(axisName).dimension
    if (dim.isEmpty) return query
    query.filters.foldLeft(query) { (q, f) =>
      if (cubedef.hasLabel(f.name) && cubedef.label(f.name).dimension == dim)
        q.removeFilterExact(f.name, f.op, f.value)
      else q
    }
  }

  /** Display symbol per operator (bacon/cubenav.py:137 _pretty_op). */
  val prettyOp: Map[String, String] = Map(
    FilterOp.Eq -> "=", FilterOp.Ne -> "is not",
    FilterOp.Gt -> ">", FilterOp.Ge -> "≥",
    FilterOp.Lt -> "<", FilterOp.Le -> "≤",
    FilterOp.In -> "is any of:", FilterOp.Ni -> "is none of:",
    FilterOp.HasAll -> "has all of:", FilterOp.HasNone -> "has none of:",
    FilterOp.HasAny -> "has any of:", FilterOp.HasOnly -> "has only:")
}

/** Action-URL factory over a Navigator — the reference's UrlMaker mixin
  * (bacon/cubenav.py:272-337), which turns every rendered table cell,
  * header and filter chip into a link. Returns None exactly where the
  * reference does (action is a no-op or not available).
  */
final class UrlMaker(nav: Navigator, prefix: String = "") {
  private def url(q: CubeQuery): String =
    prefix + UrlQueryBuilder.toUrlString(q, nav.cubedef)

  def filterUrl(name: String, value: Any, op: String = FilterOp.Eq): String =
    url(nav.filterOn(name, value, op))
  /** Add a filter without dropping the axis (cubenav.py:281 filter_url2). */
  def filterUrl2(name: String, value: Any): String =
    url(nav.query.addFilter(name, value))
  def dropAxisUrl(name: String): String = url(nav.dropAxis(name))
  def hideValueUrl(name: String): String = url(nav.hideValue(name))
  def hideLabeledValueUrl(name: String, value: Any): String =
    url(nav.hideLabeledValue(name, value))
  def rowFilterUrl(cells: Seq[(String, Any)]): String = url(nav.rowFilter(cells))

  /** Toggle: pivot if not pivoted, unpivot if it is (cubenav.py:305). */
  def pivotUrl(name: String): String =
    if (nav.query.pivot.contains(name)) url(nav.unsetPivot(name))
    else url(nav.setPivot(name))

  /** None when already ordered this way (cubenav.py:313 order_url). */
  def orderUrl(name: String, pivotKey: Seq[String] = Nil): Option[String] =
    nav.query.order.headOption match {
      case Some(o) if !o.ascending && o.name == name && o.pivotKey == pivotKey => None
      case _ => Some(url(nav.orderByDesc(name, pivotKey)))
    }
  def orderAscUrl(name: String, pivotKey: Seq[String] = Nil): Option[String] =
    nav.query.order.headOption match {
      case Some(o) if o.ascending && o.name == name && o.pivotKey == pivotKey => None
      case _ => Some(url(nav.orderByAsc(name, pivotKey)))
    }
  def resetOrderUrl: Option[String] =
    if (nav.query.order.nonEmpty) Some(url(nav.resetOrder)) else None
}
