package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic: dump ONE gate query's physical plan to a file, from a
  * fresh session with the bench session shape (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus) and the query's expression-id counter
  * pinned as Bench pins it ([[Bench.pinExprIds]]). The text written is
  * [[Bench.canonicalPlan]] — the same text Bench hashes into its `plans`
  * map — so a cross-commit plan-hash diff is adjudicated by running
  * this at both commits and diffing the dumps: identical output means
  * the plans are the same, a real diff is a plan change. At the same
  * SPARK_GRAFT_CPUS and sf dir, the first 12 hex digits of the dump's
  * MD5 are the query's Bench hash.
  *
  *   runMain graft.PlanDump <queryName> <outFile> [sfDir] [formatted]
  *
  * With the optional 4th arg `formatted`, writes the canonical text of
  * `explain("formatted")` instead (the round-evidence format for
  * plans/r{N}/<query>_{before,after}.txt).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <queryName> <outFile> [sfDir] [formatted]")
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val formatted = args.length > 3 && args(3) == "formatted"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Bench.pinExprIds(args(0))
    val df = SparkEntry.queries(args(0))(spark, sfDir)
    val text =
      if (formatted)
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      else df.queryExecution.executedPlan.toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), Bench.canonicalPlan(text))
    spark.stop()
  }
}
