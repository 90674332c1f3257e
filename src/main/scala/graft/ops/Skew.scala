package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.cube.Agg

/** Skew mitigation for hot keys at scale.
  *
  * AQE's skew-join handling covers joins; for aggregations over power-law
  * keys (the norm in web corpora — host names, languages, templates) a
  * two-phase salted aggregation bounds any single reducer's input:
  * phase 1 aggregates on (key, salt) — map-side combine already shrinks
  * this — phase 2 merges the ≤`salts` partials per key.
  */
object Skew {

  /** Salted two-phase aggregation. `aggs` are (output name, measure
    * expression, Agg); every Agg must have a merge rule
    * ([[Agg.mergeable]]: Sum/Count/Min/Max/Union and the quotients
    * Avg/StdDev/Ratio) — any other is refused. Phase 1 emits each
    * directly mergeable partial plus the companions a quotient needs
    * ([[Agg.companions]]); phase 2 is [[Agg.merge]].
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], salts: Int,
                aggs: Seq[(String, Column, Agg)]): DataFrame = {
    val salted = df.withColumn("__salt__", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val partials = aggs.collect { case (n, c, a) if a.remerge.isDefined => a.compile(c).as(n) } ++
      Agg.companions(aggs).map { case (n, c) => c.as(n) }
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt__")): _*)
      .agg(partials.head, partials.tail: _*)
    Agg.merge(phase1, keys.map(col), aggs).select((keys ++ aggs.map(_._1)).map(col): _*)
  }
}
