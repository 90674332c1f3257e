package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload sees of the run: the session, the tracer, the seed,
  * its scratch directory and whether it runs at smoke-test size.
  */
final case class RunContext(spark: SparkSession, tracer: Tracer, seed: Long,
                            work: String, tiny: Boolean)

/** One benchmark workload. The harness calls [[setup]] once, then [[op]]
  * with increasing indexes until the time is up, then [[release]] and
  * [[verify]].
  */
trait Workload {
  /** Generate the inputs from the seed, build the state and warm up. */
  def setup(): Unit

  /** Run operation `i`; returns its kind: "req" or "write". */
  def op(i: Int): String

  /** Drop the state the workload keeps live on purpose (board caches), so
    * the heap measured after it is what the run left behind.
    */
  def release(): Unit = ()

  /** Check the outputs; returns the indexes of operations that were wrong. */
  def verify(): Set[Int]

  /** Per-layer metrics from the tracer (traced run only). */
  def perLayer: Map[String, Double]

  /** The workload's generated-input properties, over the first `ops`
    * operations (the ones run).
    */
  def properties(ops: Int): Map[String, Any]

  /** Bytes the workload left on disk per input byte, if it stores any. */
  def bytesStoredRatio: Option[Double]

  /** Units of work per operation, for the throughput line of the report
    * (documents per pipeline run for corpus-build).
    */
  def itemsPerOp: Double = 1.0

  protected def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b

  protected def perCall(total: Long, calls: Int): Double =
    if (calls == 0) 0.0 else total.toDouble / calls

  protected def revisitShare(reqs: Seq[Req]): Double = {
    val seen = scala.collection.mutable.Set.empty[Req]
    ratio(reqs.count(r => !seen.add(r)).toLong, reqs.size.toLong)
  }

  /** The cube request layers: median self time per call of each span, Spark
    * work per board call, and the board's hit/reuse/re-miss ratios.
    */
  protected def cubeLayers(tr: Tracer, servers: Seq[CubeServer]): Map[String, Double] = {
    def med(name: String) = Stats.median(tr.byName(name)._1)
    val (hitMs, hitC) = tr.byName("board.hit")
    val (missMs, missC) = tr.byName("board.miss")
    val hits = servers.map(_.hits).sum
    val misses = servers.map(_.misses).sum
    Map(
      "url.parse.ms" -> med("url.parse"),
      "nav.ms" -> med("nav"),
      "render.ms" -> med("render"),
      "request.unspanned_ms" -> med("request"),
      "board.hit.ms" -> Stats.median(hitMs),
      "board.hit.jobs" -> perCall(hitC.jobs, hitMs.size),
      "board.hit_ratio" -> ratio(hits, hits + misses),
      "board.reuse_ratio" -> ratio(servers.map(_.reuses).sum, hits),
      "board.miss.ms" -> Stats.median(missMs),
      "board.miss.jobs" -> perCall(missC.jobs, missMs.size),
      "board.miss.input_bytes" -> perCall(missC.inputBytes, missMs.size),
      "board.miss.shuffle_bytes" -> perCall(missC.shuffleBytes, missMs.size),
      "board.remiss_ratio" -> ratio(servers.map(_.remisses).sum, misses))
  }
}
