package graft

/** Diagnostic: dump ONE gate query's physical plan to a file, from a
  * fresh session built exactly as Bench builds its own ([[Session.local]]
  * with no overrides) and the query's expression-id counter pinned as
  * Bench pins it ([[Bench.pinExprIds]]). The text written is
  * [[Bench.canonicalPlan]] — the same text Bench hashes into its `plans`
  * map — so a cross-commit plan-hash diff is adjudicated by running
  * this at both commits and diffing the dumps: identical output means
  * the plans are the same, a real diff is a plan change. Both mains take
  * one session builder, so at the same SPARK_GRAFT_CPUS and sf dir the
  * first 12 hex digits of the dump's MD5 are the query's Bench hash by
  * construction.
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
    val spark = Session.local().getOrCreate()
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
