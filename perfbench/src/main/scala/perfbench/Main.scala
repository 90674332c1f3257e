package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM, one Spark session, one workload.
  *
  *   perfbench.Main --workload <cube-explore|cube-ingest|cube-mixed|corpus-build>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --report <file>
  *     [--spans <file>] [--tiny]
  *
  * Writes the run's report (end-to-end metrics, per-layer metrics in a
  * traced run, input properties) as one JSON object to `--report`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val tiny = args.contains("--tiny")
    val opts = args.filterNot(_ == "--tiny").sliding(2, 2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new java.io.File(opts("work")).getAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.checkpoint.dir", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionS = (System.nanoTime() - mainNs) / 1e9

    val tracer = new Tracer(spark.sparkContext)
    val ctx = RunContext(spark, tracer, seed, work, tiny)
    val w: Workload = name match {
      case "cube-explore" => new Explore(ctx)
      case "cube-ingest"  => new Ingest(ctx)
      case "cube-mixed"   => new Mixed(ctx)
      case "corpus-build" => new Corpus(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    w.setup()
    val setupS = (System.nanoTime() - mainNs) / 1e9
    System.err.println(s"session ${sessionS}s, set-up ${setupS}s")

    val heap0 = heapAfterGcMb()
    val gc0 = gcSeconds()
    val latencies = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val failed = mutable.Set.empty[Int]
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var i = 0
    if (trace) tracer.start()
    // closed loop, one client: the next operation starts when the last ends
    while (System.nanoTime() < end) {
      val s = System.nanoTime()
      val kind =
        try w.op(i)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"operation $i failed: $e")
            failed += i
            "failed"
        }
      val ms = (System.nanoTime() - s) / 1e6
      latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      i += 1
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    tracer.stop()
    val gcS = gcSeconds() - gc0
    w.release()
    val heapEnd = heapAfterGcMb()

    failed ++= w.verify().filter(_ >= 0)
    val attempted = i
    val reqs = latencies.getOrElse("req", mutable.ArrayBuffer.empty[Double]).toSeq
    val writes = latencies.getOrElse("write", mutable.ArrayBuffer.empty[Double]).toSeq
    val (tailMs, tailName) = Stats.tail(reqs)

    // printed beside the end-to-end metrics, carried as per-layer ones
    val extras: Map[String, Double] =
      Map("error_ratio" -> failed.size.toDouble / attempted) ++
        (if (writes.nonEmpty) Map("write_p50_ms" -> Stats.median(writes)) else Map.empty) ++
        (if (w.itemsPerOp != 1.0) Map("docs_per_s" -> reqs.size * w.itemsPerOp / wallS) else Map.empty) ++
        w.bytesStoredRatio.map("bytes_stored_ratio" -> _)
    val e2e = Map[String, Map[String, Any]](
      "setup_s" -> Map("value" -> setupS, "unit" -> "s", "session_s" -> sessionS),
      "req_p50_ms" -> Map("value" -> Stats.median(reqs), "unit" -> "ms", "stat" -> "p50", "n" -> reqs.size),
      "req_tail_ms" -> Map("value" -> tailMs, "unit" -> "ms", "stat" -> tailName, "n" -> reqs.size),
      "req_per_s" -> Map("value" -> reqs.size / (reqs.sum / 1e3), "unit" -> "1/s",
        "stat" -> "requests per second of serving time", "n" -> reqs.size),
      "heap_retained_mb" -> Map("value" -> heapEnd, "unit" -> "MB", "stat" -> "driver heap after full GC")) ++
      extras.map { case (k, v) => k -> Map[String, Any]("value" -> v, "unit" -> extraUnits(k)) }

    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else w.perLayer ++ extras ++ Map(
        "jvm.gc_s" -> gcS,
        "jvm.heap_growth_mb" -> (heapEnd - heap0),
        "trace.overhead_ratio" -> tracer.overheadNs / 1e9 / wallS)

    opts.get("spans").filter(_ => trace).foreach(p => tracer.write(java.nio.file.Paths.get(p)))
    val report = Json.obj(Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "cores" -> cores,
      "measured_s" -> wallS, "attempted" -> attempted, "failed" -> failed.size,
      "end_to_end" -> e2e, "per_layer" -> layers,
      "properties" -> w.properties(attempted)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("report")), report)
    spark.stop()
    // a library thread pool left non-daemon must not hold the JVM open
    System.exit(0)
  }

  private val extraUnits =
    Map("error_ratio" -> "ratio", "write_p50_ms" -> "ms", "docs_per_s" -> "1/s", "bytes_stored_ratio" -> "ratio")

  private def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** Minimal JSON writer for the report. */
object Json {
  def obj(m: Map[String, Any]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.map { case (k, x) => k.toString -> x }.toMap)
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
