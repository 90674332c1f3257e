package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}
import graft.cube._

/** The cube-side state of one run: base tables, one CuttingBoard per
  * cube, and what each request was served, for the correctness check.
  */
final class CubeServer(spark: SparkSession, tr: Tracer, label: String,
                       val bases: Map[String, DataFrame], warehouse: Option[String]) {
  val boards: Map[String, CuttingBoard] = bases.map { case (name, df) =>
    name -> new CuttingBoard(df, Gen.cubeDef(name),
      warehouseDir = warehouse.map(w => s"$w/$name"))
  }

  /** Per board: the distinct results served for each (data version, query
    * URL), with the request indexes that received each.
    */
  val served = mutable.Map.empty[(String, Int, String), mutable.Map[CubeServer.Rows, List[Int]]]
  val version = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val seen = mutable.Set.empty[(String, String)]
  var hits, misses, reuses, remisses = 0L

  /** Start counting hits and misses afresh (after set-up). */
  def resetCounts(): Unit = { hits = 0; misses = 0; reuses = 0; remisses = 0 }

  /** Serve one request the way a CubeService route does: parse, build the
    * navigator, slice (plus the grand-total slice for html), render. The
    * served frame is collected inside the board span, so the board span
    * carries the board's Spark work and render works on collected rows.
    */
  def serve(req: Req, idx: Int): Unit = {
    val id = s"$label-$idx"
    val board = boards(req.cube)
    tr.span("request", id) {
      val q = tr.span("url.parse", id)(UrlQueryBuilder.parse(req.url, board.cubedef))
      val nav = tr.span("nav", id) {
        val n = new Navigator(board.cubedef, q)
        n.expansions.size + n.filters.size
        n
      }
      val main = slice(board, req.cube, q, idx, id)
      val totals =
        if (req.route == "html" && q.pivot.isEmpty && q.values.nonEmpty)
          Some(slice(board, req.cube, q.copy(axes = Vector.empty, pivots = Set.empty,
            order = Vector.empty, limit = None, offset = None), idx, id))
        else None
      tr.span("render", id) {
        if (req.route == "html" && q.pivot.isEmpty) Observers.htmlTable1d(main, nav, totals = totals).length
        else Observers.toJsonRows(main).length
      }
    }
  }

  private def slice(board: CuttingBoard, cube: String, q: CubeQuery, idx: Int, id: String): DataFrame = {
    val (h0, _) = board.stats
    val key = UrlQueryBuilder.toUrlString(q, board.cubedef)
    val (collected, schema) = tr.span("board", id) {
      val df = board.slice(q)
      (df.collect(), df.schema)
    }
    val local = spark.createDataFrame(java.util.Arrays.asList(collected: _*), schema)
    val hit = board.stats._1 > h0
    if (hit) {
      hits += 1
      if (board.lastServedFrom.exists(c => c.axes != q.axes || c.filters.toSet != q.filters.toSet))
        reuses += 1
    } else {
      misses += 1
      if (seen.contains(cube -> key)) remisses += 1
    }
    seen += cube -> key
    tr.rename("board", if (hit) "board.hit" else "board.miss")
    val rows = CubeServer.rows(collected, schema)
    val byResult = served.getOrElseUpdate((cube, version(cube), key), mutable.Map.empty)
    byResult(rows) = idx :: byResult.getOrElse(rows, Nil)
    local
  }

  /** Run a write batch through the board's incremental maintenance. */
  def write(w: Write, frame: DataFrame, keyCols: Seq[String], idx: Int): Unit = {
    val board = boards(w.cube)
    tr.span(s"board.${w.kind}", s"$label-$idx") {
      if (w.kind == "append") board.append(frame) else board.delete(frame, keyCols)
    }
    version(w.cube) += 1
  }

  /** Check every served result against an uncached Slicer.slice over the
    * data the board held at that version. Returns the indexes of the
    * requests that received a wrong result.
    */
  def verify(dataAt: (String, Int) => DataFrame): Set[Int] = {
    val data = served.keys.map(k => (k._1, k._2)).toSeq.distinct
      .map(v => v -> dataAt(v._1, v._2).persist()).toMap
    val bad = served.keys.toSeq.flatMap { case k @ (cube, v, url) =>
      val cd = Gen.cubeDef(cube)
      val ref = Slicer.slice(data((cube, v)), cd, UrlQueryBuilder.parse(url, cd))
      val expect = CubeServer.rows(ref.collect(), ref.schema)
      served(k).toSeq.flatMap { case (got, reqs) =>
        if (CubeServer.same(got, expect)) Nil
        else {
          System.err.println(s"MISMATCH $cube v$v $url: ${reqs.size} request(s); " +
            s"served ${got.take(3)}, expected ${expect.take(3)}")
          reqs
        }
      }
    }.toSet
    data.values.foreach(_.unpersist())
    bad
  }

  def close(): Unit = boards.values.foreach(_.clear())
}

object CubeServer {
  /** A result as a row multiset: per row, its non-floating values as one
    * key string (columns sorted by name) and its floating values; sorted
    * by key. Group keys are unique, so rows align by key.
    */
  type Rows = Vector[(String, Vector[Double])]

  def rows(collected: Array[Row], schema: StructType): Rows = {
    val cols = schema.fieldNames.indices.sortBy(schema.fieldNames(_))
    val floating = schema.fields.map(_.dataType match {
      case DoubleType | FloatType => true
      case _ => false
    })
    collected.toVector.map { r =>
      val key = cols.filterNot(floating).map { i =>
        r.get(i) match {
          case null => "null"
          case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
          case x => x.toString
        }
      }.mkString("|")
      val nums = cols.filter(floating).map { i =>
        if (r.isNullAt(i)) Double.NaN else r.getAs[Number](i).doubleValue
      }.toVector
      key -> nums
    }.sortBy(_._1)
  }

  /** Equal as multisets, doubles compared to a relative 1e-9: re-aggregated
    * and directly aggregated sums may differ in the last bits.
    */
  def same(a: Rows, b: Rows): Boolean =
    a.size == b.size && a.zip(b).forall { case ((ka, xa), (kb, xb)) =>
      ka == kb && xa.size == xb.size && xa.zip(xb).forall { case (x, y) =>
        (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      }
    }
}
