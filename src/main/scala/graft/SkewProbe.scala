package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Skew-evidence probe for the LSH grid salt (diagnostic, not part of
  * the driver contract; r16 verdict Next #4): builds an ADVERSARIAL
  * embedding corpus — the sf0.1 vectors plus one hot cluster of
  * identical-direction vectors, the "all-near-identical crawl segment"
  * case — and runs the d16 operator (Similarity.cosineDupPairs at the
  * gate's plane/table parameters) twice:
  *
  *  - DORMANT: skewedBucketFreq = Long.MaxValue — the salt never fires,
  *    every table's hot bucket joins in ONE task (the straggler the
  *    salt exists to kill);
  *  - SALTED: skewedBucketFreq below the cluster size — the sampled
  *    probe detects the hot buckets and the 2-D grid salt spreads each
  *    bucket's pairs over fan² join blocks.
  *
  * The pair SET is identical by construction (SimilaritySpec pins
  * salted == dormant exactly); this probe documents the RUNTIME shape:
  * per-stage max vs median task time. The cluster size (2500) and probe
  * threshold (1000) are scaled down from the gate default (20000) so
  * the dormant side terminates in bench-scale time — the candidate
  * volume is numTables·f²/2 pairs whatever the threshold, and a
  * 20000-row cluster's dormant side is exactly the multi-hour
  * straggler the salt prevents; the machinery exercised is identical
  * (same detection probe, same bandSelfJoin, same verdict
  * cache).
  *
  *   runMain graft.SkewProbe [clusterSize] [skewedBucketFreq]
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val clusterSize = args.headOption.map(_.toInt).getOrElse(2500)
    val fireFreq = if (args.length > 1) args(1).toLong else 1000L
    // 256 shuffle partitions with AQE coalescing off = the production
    // shape (partitions ≫ hot buckets). At the bench's cores-sized
    // partition count the 16 per-table hot buckets spread over the 32
    // partitions by accident and the straggler hides; at scale a join
    // runs thousands of partitions and each hot bucket IS one task.
    val spark = Session.local()
      .config("spark.sql.shuffle.partitions", "256")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // adversarial corpus: sf0.1 embeddings + one identical-direction
    // cluster (cosine 1.0 within — every pair is a true near-dup and
    // every LSH table puts the whole cluster in one bucket)
    val base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val v0 = base.where(col("vec_id") === 1L)
      .select(col("embedding")).head().getSeq[Float](0)
    val hot = spark.range(clusterSize.toLong)
      .select((col("id") + 1000000L).as("vec_id"),
        typedlit(v0).as("embedding"), lit(99).as("label"))
    val dir = JvmStore.scratch("graft-skew")
    base.unionByName(hot).repartition(8)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val df = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = df.count()
    val planes = graft.sim.Similarity.suggestedPlanes(n)
    println(s"[skewprobe] corpus n=$n (hot cluster $clusterSize) planes=$planes tables=16")

    // per-stage max/median task runtime
    val stageTasks = new ConcurrentHashMap[Int, java.util.List[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = if (t.taskMetrics != null) {
        stageTasks.computeIfAbsent(t.stageId,
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Long]()))
          .add(t.taskMetrics.executorRunTime)
      }
    })

    def run(mode: String, freq: Long): Unit = {
      stageTasks.clear()
      val pairs = graft.sim.Similarity.cosineDupPairs(df, "vec_id", "embedding",
        threshold = 0.45, numPlanes = planes, numTables = 16,
        skewedBucketFreq = freq, saltFan = 64,
        verdictKey = s"$dir#skewprobe#$mode")
      val t0 = System.nanoTime()
      pairs.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500)
      val worst = {
        import scala.jdk.CollectionConverters._
        stageTasks.asScala.toSeq.map { case (sid, l) =>
          val ts = l.asScala.map(_.toLong).sorted
          (sid, ts.size, ts.last, ts(ts.size / 2))
        }.sortBy(-_._3).take(4)
      }
      println(f"[skewprobe] mode=$mode%-8s wall=$wall%.2fs  worst stages (id, tasks, maxTaskMs, medianTaskMs):")
      worst.foreach { case (sid, sz, mx, md) =>
        println(f"[skewprobe]   stage=$sid%4d tasks=$sz%4d max=$mx%6d median=$md%6d skew=${if (md > 0) mx.toDouble / md else mx.toDouble}%.1fx")
      }
      val out = s"plans/r17/d16skew_${mode}.txt"
      try {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans/r17"))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
          pairs.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
        println(s"[skewprobe] plan -> $out")
      } catch { case e: Throwable => println(s"[skewprobe] plan dump failed: $e") }
    }

    run("dormant", Long.MaxValue)
    run("salted", fireFreq)
    spark.stop()
  }
}
