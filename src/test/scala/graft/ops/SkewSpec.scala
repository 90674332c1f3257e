package graft.ops

import graft.SparkSpec
import graft.cube.Agg
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals direct aggregation") {
    val df = Seq.tabulate(1000)(i => (if (i % 10 == 0) "cold" else "hot", i.toDouble))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = Skew.saltedAgg(df, Seq("k"), salts = 8,
        Seq(("s", col("v"), Agg.Sum), ("n", lit(1), Agg.Count)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted == direct)
  }

  test("AQE skew-join splits the hot partition at runtime") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ

      // one pathologically hot key with a fat payload vs a uniform side
      val hot = spark.range(20000)
        .select((col("id") % 50).multiply(when(col("id") % 50 === 0, 0).otherwise(1)).as("k"),
          concat_ws("", Seq.fill(8)(md5(col("id").cast("string"))): _*).as("pad"))
      val dim = spark.range(50).select(col("id").as("k"), col("id").as("attr"))
      val joined = hot.join(dim, "k")
      joined.collect() // execute THIS Dataset's plan -> final adaptive plan
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"skew join did not fire:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("salted quotients (Avg/StdDev/Ratio) equal direct aggregation") {
    val df = Seq.tabulate(1000)(i =>
      (if (i % 10 == 0) "cold" else "hot", (i % 7).toDouble, (i % 3).toDouble))
      .toDF("k", "v", "d")
    def byKey(f: org.apache.spark.sql.DataFrame) = f.collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val direct = byKey(df.groupBy("k").agg(
      (sum("v") / count(lit(1))).as("avg"), stddev_samp("v").as("sd"),
      (sum("v") / sum("d")).as("ratio")))
    val salted = byKey(Skew.saltedAgg(df, Seq("k"), salts = 8,
      Seq(("avg", col("v"), Agg.Avg), ("sd", col("v"), Agg.StdDev),
        ("ratio", lit(1), Agg.Ratio(col("v"), col("d"))))))
    assert(salted.keySet == direct.keySet)
    for (k <- direct.keySet; (a, b) <- salted(k).zip(direct(k)))
      assert(math.abs(a - b) <= 1e-9 * math.abs(b), s"$k: $a vs $b")
  }

  test("an Agg with no merge rule is refused") {
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("k", "v")
    val e = intercept[IllegalArgumentException](Skew.saltedAgg(df, Seq("k"), salts = 4,
      Seq(("s", col("v"), Agg.Sum), ("nd", col("v"), Agg.CountDistinct))))
    assert(e.getMessage.contains("nd"))
  }

  test("salted min/max merge correctly") {
    val df = Seq(("a", 5.0), ("a", 1.0), ("a", 9.0), ("b", 2.0)).toDF("k", "v")
    val out = Skew.saltedAgg(df, Seq("k"), salts = 4,
        Seq(("mn", col("v"), Agg.Min), ("mx", col("v"), Agg.Max)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out("a") == (1.0, 9.0) && out("b") == (2.0, 2.0))
  }
}
