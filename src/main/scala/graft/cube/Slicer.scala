package graft.cube

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Compiles a CubeQuery over a CubeDef into a DataFrame plan — the Spark
  * re-expression of the reference's CuttingBoard (bacon/cutting.py:21).
  *
  * Where the reference folds Python objects into nested dicts on one
  * thread, we emit a declarative plan: `where` (filters, pushed to the
  * parquet scan by Catalyst) → `groupBy`/`rollup`/`cube`/`pivot` (one
  * shuffle, map-side partial aggregation) → `orderBy`/`limit`. The
  * reference's slice cache + reuse strategies (bacon/cutting.py:205-522)
  * live in [[CuttingBoard]], which re-aggregates its persisted
  * finer-grained slices by the accumulators' merge rules ([[Agg.merge]]).
  */
object Slicer {

  /** Totals mode — NoTotals for plain slices; RollupTotals/CubeTotals add
    * the subtotal levels the table observers need (bacon computes these by
    * re-iterating the slice; rollup does it in the same shuffle).
    */
  sealed trait Totals
  case object NoTotals extends Totals
  case object RollupTotals extends Totals
  case object CubeTotals extends Totals

  /** AND of all compiled filter predicates, if any. */
  def filterPredicate(cube: CubeDef, q: CubeQuery): Option[Column] =
    q.filters
      .map(f => FilterOp.compile(f.op, cube.label(f.name).expr, f.value))
      .reduceOption(_ && _)

  /** The filtered (un-aggregated) dataset — bacon CuttingBoard.filter. */
  def filter(df: DataFrame, cube: CubeDef, q: CubeQuery): DataFrame =
    filterPredicate(cube, q).map(df.where).getOrElse(df)

  /** make_set'd element stream of a set label (bacon/cutting.py:788
    * semantics carried to the axis position): NULL → empty array,
    * empty-string elements discarded (string sets only), duplicates
    * collapsed — so a row with tags [a, a] contributes ONCE to group a.
    */
  private def setElems(df: DataFrame, label: Label): Column = {
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val dt = df.select(label.expr).schema.head.dataType
    val stringy = dt match {
      case ArrayType(StringType, _) => true
      case _: ArrayType             => false
      case other => throw new IllegalArgumentException(
        s"set label '${label.name}' is not array-typed (got $other)")
    }
    val nonNull = coalesce(label.expr, array().cast(dt))
    array_distinct(if (stringy) array_remove(nonNull, "") else nonNull)
  }

  /** Execute the query. With `pivotValues` supplied the pivot column set is
    * fixed (no extra distinct-values job — the scale-friendly path).
    *
    * A set-valued label as an axis means per-element row multiplication:
    * the row joins EVERY group named by one of its elements (a document
    * tagged [news, sports] counts under both), rows with an empty set
    * contribute to none. Compiled as a Generate (explode) ahead of the
    * aggregation — one extra narrow column through the shuffle, no
    * second pass.
    */
  /** `extraAggs` rides EXTRA aggregate columns through the same groupBy
    * (one pass, one shuffle) — the CuttingBoard materializes its hidden
    * maintenance companions (per-group sum/count/sum² parts of quotient
    * accumulators) this way. Plain-groupBy path only: pivot/totals
    * slices are never cached, so they never need companions.
    */
  def slice(
      df: DataFrame,
      cube: CubeDef,
      q: CubeQuery,
      totals: Totals = NoTotals,
      pivotValues: Seq[Any] = Nil,
      withGroupingId: Boolean = false,
      extraAggs: Seq[Column] = Nil,
  ): DataFrame = {
    val filtered0 = filter(df, cube, q)
    // Explode set axes AFTER filtering (set filters test the whole set,
    // as in the reference) and BEFORE grouping. Multiple set axes
    // cross-product, the natural per-element semantics.
    val setAxes = q.axes.filter(a => cube.label(a).isSet)
    val filtered = setAxes.foldLeft(filtered0) { (acc, a) =>
      acc.withColumn(a, explode(setElems(acc, cube.label(a))))
    }
    def axisCol(a: String): Column =
      if (setAxes.contains(a)) col(a) else cube.label(a).named
    // Aggregate everything the query keeps in the slice — including
    // values added with visible=false ("accumulated, not shown"), which
    // the CuttingBoard relies on for cache coverage. A query with no
    // values at all still yields a row count (the reference's default).
    val aggCols0 = q.valuesInSlice.map(v => cube.measure(v).compiled)
    val aggCols = if (aggCols0.nonEmpty) aggCols0 else Seq(count(lit(1)).as("count"))

    val result =
      if (q.pivot.nonEmpty) {
        val rowCols = q.rowAxes.map(axisCol)
        def pivotExpr(p: String): Column =
          if (setAxes.contains(p)) col(p) else cube.label(p).expr
        val pivotCol =
          if (q.pivot.size == 1) pivotExpr(q.pivot.head)
          else concat_ws("/", q.pivot.map(p => pivotExpr(p).cast("string")): _*)
        val grouped = filtered.groupBy(rowCols: _*)
        val pivoted =
          if (pivotValues.nonEmpty) grouped.pivot(pivotCol, pivotValues)
          else grouped.pivot(pivotCol)
        pivoted.agg(aggCols.head, aggCols.tail: _*)
      } else {
        val axisCols = q.axes.map(axisCol)
        val grouped = totals match {
          case NoTotals     => filtered.groupBy(axisCols: _*)
          case RollupTotals => filtered.rollup(axisCols: _*)
          case CubeTotals   => filtered.cube(axisCols: _*)
        }
        val out0 =
          if (withGroupingId && totals != NoTotals) aggCols :+ grouping_id().as("grouping_level")
          else aggCols
        val out = out0 ++ (if (totals == NoTotals) extraAggs else Nil)
        grouped.agg(out.head, out.tail: _*)
      }

    present(result, q)
  }

  /** Presentation: order by `q.order` with a stable tie-break on the row
    * axes present in `df`, then offset and limit. [[slice]] ends with it,
    * and so does every frame the [[CuttingBoard]] serves, so a cache hit
    * lists the same rows, in the same order, as a fresh slice.
    */
  private[cube] def present(df: DataFrame, q: CubeQuery): DataFrame = {
    val ordered = if (q.order.isEmpty) df else {
      val cols = q.order.map { o =>
        // bacon/cubequery.py:278 — with a pivot key the sort targets that
        // pivoted column rather than the measure-totals column. With ONE
        // measure Spark names the pivoted column after the pivot value
        // alone; with several it suffixes the measure (`x_sum_v`), so the
        // ordered measure's suffix selects the right one.
        val name = o.pivotKey.mkString("/") match {
          case pv if o.pivotKey.nonEmpty && df.columns.contains(pv) => pv
          case pv if o.pivotKey.nonEmpty && df.columns.contains(s"${pv}_${o.name}") =>
            s"${pv}_${o.name}"
          case _ => o.name
        }
        val c = col(name)
        if (o.ascending) c.asc_nulls_first else c.desc_nulls_last
      }
      // stable tiebreak on the row axes that exist in the output
      val ties = q.rowAxes.filter(df.columns.contains).map(col(_).asc_nulls_first)
      df.orderBy(cols ++ ties: _*)
    }
    val skipped = q.offset.fold(ordered)(ordered.offset)
    q.limit.fold(skipped)(skipped.limit)
  }
}
