package perfbench

import graft.cube._

/** One cube request as a client sends it: which board, which route
  * (`html` renders the table with a grand-total row, `rows` returns JSON
  * rows) and the UrlQueryBuilder string.
  */
final case class Req(cube: String, route: String, url: String)

/** A cube-ingest operation: a dashboard read, or a write batch. */
sealed trait Op
final case class Read(req: Req) extends Op
final case class Write(cube: String, kind: String, batch: Int) extends Op

/** The drill vocabulary of one cube: value sets a session starts from,
  * its date hierarchy (coarse to fine, with the URL tokens of the coarsest
  * level) and its categorical labels with their values.
  */
final case class CubeSpec(name: String, measureSets: Vector[Vector[String]],
                          hierarchy: Vector[String], topValues: Vector[String],
                          cats: Vector[(String, Vector[String])])

/** Seeded request streams for the two cube workloads. */
object CubeStreams {
  private val years = (1992 to 1998).map(_.toString).toVector

  val specs: Vector[CubeSpec] = Vector(
    CubeSpec("lineitem",
      Vector(Vector("sum_qty", "sum_price"), Vector("sum_disc_price", "n_rows"),
        Vector("avg_qty", "sum_qty"), Vector("margin_ratio", "n_rows"),
        Vector("std_qty", "max_qty"), Vector("n_parts")),
      Vector("l_shipdate_year", "l_shipdate_quarter", "l_shipdate_month"), years,
      Vector("l_returnflag" -> Vector("A", "N", "R"), "l_linestatus" -> Vector("O", "F"))),
    CubeSpec("orders",
      Vector(Vector("sum_total", "n_orders"), Vector("min_total", "max_total"),
        Vector("n_orders"), Vector("n_cust")),
      Vector("o_orderdate_year", "o_orderdate_quarter", "o_orderdate_month"), years,
      Vector("o_orderstatus" -> Vector("F", "O", "P"),
        "o_orderpriority" -> Gen.priorities.toVector)),
    CubeSpec("events",
      Vector(Vector("sum_value", "n_events"), Vector("n_events"), Vector("n_users")),
      Vector("ts_month", "ts_day"), Vector("2024-01", "2024-02", "2024-03"),
      Vector("event_type" -> Gen.eventTypes.distinct.toVector)),
  )

  private def url(spec: CubeSpec, q: CubeQuery): String =
    UrlQueryBuilder.toUrlString(q, Gen.cubeDef(spec.name))

  /** The cube-explore walk: drill sessions of a fixed shape with seeded
    * content, one session stream per cube, interleaved request by request
    * (lineitem, orders, events, lineitem, ...) so any stretch of the walk
    * mixes the cubes and session steps alike whatever the seed. A session
    * starts from a (top level x category) slice, drills one date level,
    * rolls up, clicks a top-level row (filter), inverts that filter,
    * filters on a category, pivots, and goes back to an earlier query (the
    * session's root in the first session, then the previous session's
    * drill). Sessions rotate through the cube's value sets and categories,
    * so every seed walks the same query shapes in the same order and a run
    * of a few seconds sees the same mix of hits, reuses and misses; the
    * seed picks the values clicked and filtered on.
    */
  def explore(seed: Long, n: Int): Vector[Req] = {
    val perCube = specs.map(spec => sessions(spec, seed, (n + specs.size - 1) / specs.size))
    (0 until n).map(i => perCube(i % specs.size)(i / specs.size)).toVector
  }

  private def sessions(spec: CubeSpec, seed: Long, n: Int): Vector[Req] = {
    val r = new java.util.SplittableRandom(seed * 31 + spec.name.hashCode)
    val cd = Gen.cubeDef(spec.name)
    val out = Vector.newBuilder[Req]
    var history = Vector.empty[Req] // most recent first
    var count = 0
    def emit(req: Req): Unit = { out += req; history = req +: history; count += 1 }
    def html(q: CubeQuery) = Req(spec.name, "html", url(spec, q))
    def rows(q: CubeQuery) = Req(spec.name, "rows", url(spec, q))
    var session = 0
    while (count < n) {
      val (cat, catValues) = spec.cats(session % spec.cats.size)
      val vals = spec.measureSets(session % spec.measureSets.size)
      session += 1
      val top = spec.hierarchy(0)
      val root = vals.foldLeft(CubeQuery().addAxis(top).addAxis(cat))(_ addValue _)
      emit(html(root))
      val fine = new Navigator(cd, root).expandIfYouCan(root, cd.label(spec.hierarchy(1))).get
      emit(html(fine))
      val rolled = new Navigator(cd, fine).dropAxis(cat)
      emit(if (session % 2 == 0) html(rolled) else rows(rolled))
      val topValue = cd.label(top).parseValue(
        spec.topValues(r.nextInt(spec.topValues.size)), java.time.LocalDate.of(2024, 6, 1))
      val clicked = new Navigator(cd, rolled).drill(topValue).query
      emit(html(clicked))
      emit(html(clicked.invertFilter(top, topValue, FilterOp.Eq)))
      emit(rows(new Navigator(cd, fine).filterOn(cat, catValues(r.nextInt(catValues.size)))))
      emit(rows(root.setPivot(cat)))
      emit(history(if (session == 1) 6 else 13))
    }
    out.result().take(n)
  }

  /** The fixed cube-ingest dashboards: every query fits the default cache
    * together; all but the min/max one are delta-maintainable on delete.
    */
  val dashboards: Vector[Req] = Vector(
    Req("lineitem", "html", "a:l_returnflag/a:l_linestatus/v:sum_qty/v:sum_price/v:avg_qty"),
    Req("lineitem", "html", "a:l_linestatus/v:min_qty/v:max_qty"),
    Req("events", "html", "a:event_type/v:sum_value/v:n_events"),
    Req("events", "rows", "a:ts_month/a:event_type/v:sum_value"),
  )

  /** Reads between two writes in cube-ingest. */
  val readsPerWrite = 6

  /** The cube-ingest operation stream: a write (appends and key deletes,
    * alternating boards), then `readsPerWrite` dashboard reads, round robin
    * over the dashboards. The seed picks the rows appended and the keys
    * deleted (see Ingest).
    */
  def ingest(n: Int): Vector[Op] = {
    val reads = Iterator.continually(dashboards).flatten
    val kinds = Vector("lineitem" -> "append", "events" -> "append",
      "lineitem" -> "delete", "events" -> "delete")
    Iterator.from(0).flatMap { i =>
      val (cube, kind) = kinds(i % kinds.size)
      Write(cube, kind, i / kinds.size) +: Vector.fill(readsPerWrite)(Read(reads.next()))
    }.take(n).toVector
  }
}
