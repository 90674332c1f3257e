package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale of the generated base tables. */
final case class CubeScale(orders: Long, events: Long)

object CubeScale {
  def of(tiny: Boolean): CubeScale = if (tiny) CubeScale(2000, 5000) else CubeScale(10000, 25000)
}

/** Base tables written as parquet under `dir` and read back, the way a
  * board is built over stored data.
  */
final class CubeData(spark: SparkSession, val gen: Gen, val dir: String, val scale: CubeScale,
                     tables: Seq[String]) {
  val all: Map[String, DataFrame] = tables.map { name =>
    val df = name match {
      case "lineitem" => gen.lineitem(0, scale.orders)
      case "orders"   => gen.orders(0, scale.orders)
      case "events"   => gen.events(0, scale.events)
    }
    val path = s"$dir/$name.parquet"
    df.write.mode("overwrite").parquet(path)
    name -> spark.read.parquet(path)
  }.toMap

  def bytes(table: String): Long = Files.size(new java.io.File(s"$dir/$table.parquet"))
}

object CubeData {
  val tables = Seq("lineitem", "orders", "events")

  /** The run's base tables, from the run's seed. */
  def generate(ctx: RunContext): CubeData =
    new CubeData(ctx.spark, new Gen(ctx.spark, ctx.seed), s"${ctx.work}/data", CubeScale.of(ctx.tiny), tables)
}

object Files {
  def size(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(size).sum
    else if (f.exists()) f.length() else 0L

  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(delete)
    f.delete(); ()
  }
}

/** A workload served by CuttingBoards. */
trait CubeWorkload extends Workload {
  protected def ctx: RunContext
  def servers: Seq[CubeServer]

  /** Build the boards over `data` and fill them before timing, which also
    * warms the JVM: serving starts from a steady state.
    */
  def setupWith(data: CubeData): Unit

  def setup(): Unit = setupWith(CubeData.generate(ctx))

  override def release(): Unit = servers.foreach(_.close())
}

/** cube-explore: the read-only drill session over three boards. */
object Explore {
  /** Requests of the walk served in set-up: each cube's first slice and
    * its drill-down, so timing starts at the roll-up.
    */
  val primed = 6
}

final class Explore(protected val ctx: RunContext) extends CubeWorkload {
  import ctx._
  private var server: CubeServer = _
  private var stream: Vector[Req] = Vector.empty
  def servers: Seq[CubeServer] = Option(server).toSeq

  def setupWith(data: CubeData): Unit = {
    stream = CubeStreams.explore(seed, 2000)
    server = new CubeServer(spark, tracer, "explore", data.all, None)
    (0 until Explore.primed).foreach(i => server.serve(stream(i), -1 - i))
    server.resetCounts()
  }

  def op(i: Int): String = { server.serve(stream((Explore.primed + i) % stream.size), i); "req" }

  def verify(): Set[Int] = server.verify((cube, _) => server.bases(cube))

  def perLayer: Map[String, Double] = cubeLayers(tracer, servers)

  def properties(ops: Int): Map[String, Any] = {
    val used = stream.slice(Explore.primed, Explore.primed + ops)
    Map(
      "requests_generated" -> stream.size,
      "cache_slices_per_board" -> 20,
      "distinct_queries_per_board" ->
        used.groupBy(_.cube).map { case (c, rs) => c -> rs.map(_.url).distinct.size },
      "revisit_share" -> revisitShare(used),
      "hit_ratio" -> ratio(server.hits, server.hits + server.misses),
      "reuse_ratio" -> ratio(server.reuses, server.hits),
      "remiss_ratio" -> ratio(server.remisses, server.misses))
  }

  def bytesStoredRatio: Option[Double] = None
}

/** cube-ingest: a dashboard set read repeatedly while append and key
  * delete batches land, with a warehouse so maintenance writes parquet.
  */
final class Ingest(protected val ctx: RunContext) extends CubeWorkload {
  import ctx._
  private val batchOrders = if (tiny) 50L else 100L
  private val batchEvents = if (tiny) 200L else 400L
  private val deleteKeys = if (tiny) 20 else 100
  private var server: CubeServer = _
  private var data: CubeData = _
  private var ops: Vector[Op] = Vector.empty
  private var opsRun = 0
  private def warehouse = s"$work/warehouse"
  def servers: Seq[CubeServer] = Option(server).toSeq

  private def appendFrame(d: CubeData, cube: String, batch: Int): DataFrame = {
    val s = d.scale
    cube match {
      case "lineitem" => d.gen.lineitem(s.orders + batch * batchOrders, s.orders + (batch + 1) * batchOrders)
      case "events"   => d.gen.events(s.events + batch * batchEvents, s.events + (batch + 1) * batchEvents)
    }
  }

  /** Keys of base rows to delete: line 1 of seeded orders (every order has
    * one), or seeded event ids. Batches draw from disjoint key ranges.
    */
  private def deleteFrame(d: CubeData, cube: String, batch: Int): DataFrame = {
    val r = d.gen.rng(s"delete-$cube-$batch")
    val n = if (cube == "lineitem") d.scale.orders else d.scale.events
    val per = n / 64
    val ks = (0 until deleteKeys).map(_ => (batch % 64) * per + r.nextLong(per)).distinct
    if (cube == "lineitem") spark.createDataFrame(ks.map(k => (k, 1))).toDF("l_orderkey", "l_linenumber")
    else spark.createDataFrame(ks.map(Tuple1(_))).toDF("event_id")
  }

  private def keyCols(cube: String) =
    if (cube == "lineitem") Seq("l_orderkey", "l_linenumber") else Seq("event_id")

  private def frameOf(d: CubeData, w: Write): DataFrame =
    if (w.kind == "append") appendFrame(d, w.cube, w.batch) else deleteFrame(d, w.cube, w.batch)

  def setupWith(d: CubeData): Unit = {
    Files.delete(new java.io.File(warehouse))
    data = d
    ops = CubeStreams.ingest(2000)
    opsRun = 0
    server = new CubeServer(spark, tracer, "ingest", d.all.filter(t => Ingest.tables.contains(t._1)), Some(warehouse))
    // the dashboards fit the cache: materialize them once before timing
    CubeStreams.dashboards.zipWithIndex.foreach { case (r, i) => server.serve(r, -1 - i) }
    server.resetCounts()
  }

  def op(i: Int): String = {
    opsRun = math.min(i + 1, ops.size)
    ops(i % ops.size) match {
      case Read(r) => server.serve(r, i); "req"
      case w: Write => server.write(w, frameOf(data, w), keyCols(w.cube), i); "write"
    }
  }

  private def writesRun: Vector[Write] = ops.take(opsRun).collect { case w: Write => w }

  /** Base parquet bytes plus the appended rows at the base's bytes per row. */
  private def inputBytes: Long = Ingest.tables.map { c =>
    val perRow = data.bytes(c).toDouble / server.bases(c).count()
    val appended = writesRun.filter(w => w.cube == c && w.kind == "append")
    data.bytes(c) + (appended.map(frameOf(data, _).count()).sum * perRow).toLong
  }.sum

  /** The board's data at a version: base plus the appends minus the key
    * deletes of the first `v` writes to that board.
    */
  private def dataAt(cube: String, v: Int): DataFrame = {
    val writes = writesRun.filter(_.cube == cube).take(v)
    val appended = writes.filter(_.kind == "append")
      .foldLeft(server.bases(cube))((acc, w) => acc.unionByName(frameOf(data, w)))
    val deletes = writes.filter(_.kind == "delete").map(frameOf(data, _))
    if (deletes.isEmpty) appended
    else appended.join(deletes.reduce(_ unionByName _).distinct(), keyCols(cube), "left_anti")
  }

  def verify(): Set[Int] = server.verify(dataAt)

  /** The write-path layers; the read layers come from [[cubeLayers]]. */
  def writeLayers: Map[String, Double] = {
    val (appendMs, appendC) = tracer.byName("board.append")
    val (deleteMs, _) = tracer.byName("board.delete")
    Map(
      "board.append.ms" -> Stats.median(appendMs),
      "board.append.jobs" -> perCall(appendC.jobs, appendMs.size),
      "board.append.shuffle_bytes" -> perCall(appendC.shuffleBytes, appendMs.size),
      "board.delete.ms" -> Stats.median(deleteMs),
      "board.warehouse_bytes" -> warehouseBytes.toDouble)
  }

  def perLayer: Map[String, Double] = cubeLayers(tracer, servers) ++ writeLayers

  private def warehouseBytes: Long = Files.size(new java.io.File(warehouse))

  def properties(ops: Int): Map[String, Any] = {
    val used = this.ops.take(ops)
    val reads = used.collect { case Read(r) => r }
    Map(
      "operations_generated" -> this.ops.size,
      "dashboard_queries" -> CubeStreams.dashboards.size,
      "cache_slices_per_board" -> 20,
      "revisit_share" -> revisitShare(reads),
      "write_share" -> ratio((used.size - reads.size).toLong, used.size.toLong),
      "hit_ratio" -> ratio(server.hits, server.hits + server.misses),
      "warehouse_bytes" -> warehouseBytes,
      "input_bytes" -> inputBytes)
  }

  def bytesStoredRatio: Option[Double] = Some(warehouseBytes.toDouble / inputBytes)
}

object Ingest {
  val tables = Seq("lineitem", "events")
}

/** cube-mixed: the explore walk and the ingest stream interleaved over one
  * set of base tables, each on its own boards. Even operations are drill
  * requests; odd ones are dashboard reads or write batches.
  */
final class Mixed(protected val ctx: RunContext) extends CubeWorkload {
  private val explore = new Explore(ctx)
  private val ingest = new Ingest(ctx)
  def servers: Seq[CubeServer] = explore.servers ++ ingest.servers

  def setupWith(data: CubeData): Unit = {
    explore.setupWith(data)
    ingest.setupWith(data)
  }

  def op(i: Int): String = if (i % 2 == 0) explore.op(i / 2) else ingest.op(i / 2)

  def verify(): Set[Int] = explore.verify().map(_ * 2) ++ ingest.verify().map(_ * 2 + 1)

  def perLayer: Map[String, Double] = cubeLayers(ctx.tracer, servers) ++ ingest.writeLayers

  def properties(ops: Int): Map[String, Any] =
    Map("explore" -> explore.properties((ops + 1) / 2), "ingest" -> ingest.properties(ops / 2))

  def bytesStoredRatio: Option[Double] = ingest.bytesStoredRatio
}
