package graft

import graft.cube._
import graft.tables.Tpch

/** End-to-end example session: a bacon-style interactive analysis, run
  * against the TPC-H test tables. Usage: runMain graft.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.local(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val board = new CuttingBoard(Tpch.table(spark, sfDir, "lineitem"), Tpch.lineitemCube)

    // A user drills in: totals -> by flag -> by flag+status -> filter R
    val q0 = UrlQueryBuilder.parse("v:sum_qty/v:n_rows")
    println("== grand total ==")
    println(Observers.toCsv(board.slice(q0)))

    val q1 = q0.addAxis("l_returnflag")
    println("\n== by return flag ==")
    println(Observers.toCsv(board.slice(q1.orderBy("-sum_qty"))))

    val q2 = q1.addAxis("l_linestatus")
    println("\n== by flag x status ==")
    println(Observers.toCsv(board.slice(q2)))

    val nav = new Navigator(Tpch.lineitemCube, q2)
    val drilled = nav.drill("R").query
    println("\n== drilled into flag=R (served from the cached finer slice) ==")
    println(Observers.toCsv(board.slice(drilled)))

    val (hits, misses) = board.stats
    println(s"\nslice cache: $hits hits, $misses misses")

    println("\n== pivot table with totals (2-D observer) ==")
    println(Observers.render(Observers.pivotTable(
      board.dataset, board.cubedef, "l_returnflag", "l_linestatus", "sum_qty")))

    println("\n== same query as a URL ==")
    println(UrlQueryBuilder.toUrlString(drilled))
    spark.stop()
  }
}
