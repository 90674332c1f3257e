package graft

/** Plan-hygiene audit: derives every SparkEntry query's physical plan
  * and flags nested-loop / cartesian joins — the two shapes that turn
  * into cluster-killers at 100 TB. Run: `runMain graft.PlanAudit`.
  *
  * Known-benign hits (bounded by construction, asserted here so a NEW
  * smell fails loudly while the declared ones stay documented):
  *  - d05_embed_dup / d06_cosine_topk — the DECLARED exact all-pairs
  *    baselines behind the LSH/IVF scale paths; both sit behind the
  *    64 MB `guardQuadratic` stats check.
  *  - e02_ann_ivf / e03_ann_index / e08_ivfadc / e09_ivfadc_residual /
  *    e12_pq_batch_search — rankCentroids' vectors × broadcast
  *    (centroids) cross join: the IVF assignment/probe pass against a
  *    numCentroids-row (~16) broadcast table, a map-side pass by
  *    design.
  *  - q53_mutual_info — the joint contingency table × its ONE-ROW total
  *    (the standard scalar-attach cross join; the "loop" side is a
  *    single row, and the joint table is categorical-sized).
  */
object PlanAudit {
  private val KnownBenign = Set(
    "d05_embed_dup", "d06_cosine_topk", "e02_ann_ivf", "e03_ann_index",
    // same rankCentroids vectors × broadcast(≤16-row centroid table)
    // pass as e02/e03 (e12: the QUERY frame's probe ranking against the
    // loaded index's centroid table)
    "e08_ivfadc", "e09_ivfadc_residual", "e12_pq_batch_search",
    // same pass again: e16 builds its seed index in-gate (residual
    // assignment) and batch-probes it (searchBatch) — both are
    // rankCentroids against the ≤√n-row broadcast centroid table
    "e16_knn_label_indexed",
    // e03's search against the per-JVM PREBUILT index: the identical
    // rankCentroids query-batch × broadcast(loaded ≤√n-row centroid
    // table) probe pass, minus the build
    "e03b_ann_index_serve",
    "q53_mutual_info")

  /** Queries whose (only) unpartitioned windows are
    * [[graft.ops.BoundedSpine.prefixSum]] call sites — O(B) spines by
    * the documented contract (Bench silences the WindowExec warning;
    * THIS check is where a NEW unpartitioned window fails loudly).
    */
  private val KnownBoundedSpine = Set("q35_running_total", "t08_epoch_shuffle")

  def main(args: Array[String]): Unit = {
    val spark = Session.local(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    var unexpected = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = fn(spark, dir).queryExecution
        val plan = qe.executedPlan.toString
        val hits = Seq("BroadcastNestedLoopJoin", "CartesianProduct").filter(plan.contains)
        if (hits.nonEmpty && !KnownBenign(name)) {
          unexpected += 1
          println(s"PLAN-SMELL $name: ${hits.mkString(",")}")
        }
        // Unpartitioned windows move ALL rows to one partition — a
        // cluster-killer unless the frame is a bounded spine
        // (BoundedSpine's contract). lit(0) partition keys fold to an
        // EMPTY logical partitionSpec, so this catches the sanctioned
        // shape and any new accidental global window alike.
        val unpartWindows = qe.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }
        if (unpartWindows.nonEmpty && !KnownBoundedSpine(name)) {
          unexpected += 1
          println(s"PLAN-SMELL $name: ${unpartWindows.size} unpartitioned window(s) " +
            "outside the BoundedSpine whitelist")
        } else if (unpartWindows.nonEmpty)
          // visible proof the detector fires on the sanctioned shape —
          // if a whitelisted query ever STOPS printing this line, the
          // whitelist entry is stale and should be removed
          println(s"PLAN-OK $name: ${unpartWindows.size} bounded-spine window(s)")
      } catch { case e: Throwable =>
        println(s"PLAN-ERR $name: ${String.valueOf(e.getMessage).take(80)}")
      }
    }
    println(s"plan audit done, $unexpected unexpected smells")
    spark.stop()
    if (unexpected > 0) sys.exit(1)
  }
}
