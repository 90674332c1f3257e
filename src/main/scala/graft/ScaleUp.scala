package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-evidence data generator: replicates the driver's sf0.1 tables
  * `factor`× with key remapping, producing an sf1-equivalent dataset the
  * bench can run against — the "would the plans and walls survive 10×"
  * artifact (BENCH_sf1.json). Usage:
  *
  *   runMain graft.ScaleUp <srcDir> <dstDir> [factor]
  *
  * Replica r of each FACT table offsets every surrogate key by
  * r × (max(key)+1) of its defining table, so referential joins keep
  * exactly the sf0.1 fan-out (each order still has its customer, each
  * lineitem its order/part/supplier). The small dims (region, nation)
  * copy as-is, like TPC-H's fixed tables; customer/supplier/part scale
  * with the facts, as TPC-H scales them.
  *
  * Two content columns get a per-replica DETERMINISTIC perturbation so
  * similarity structure scales LINEARLY instead of quadratically:
  *  - `documents.text`: replica r > 0 prefixes every token with "q<r>"
  *    — within-replica shingle/near-dup structure is preserved exactly,
  *    cross-replica Jaccard drops to ~0. Without this every doc would
  *    gain factor-1 verbatim twins and every LSH bucket would go
  *    quadratic in `factor` — benchmarking a pathology, not scale.
  *  - `embeddings.embedding`: replica r rotates the vector by r % dim
  *    dimensions and, past the dim-th replica, additionally flips a
  *    per-generation sign pattern — both isometries, so norms and
  *    within-replica angles are EXACTLY preserved while cross-replica
  *    cosine decays to noise. Same reasoning as the text perturbation.
  * Replica 0 is byte-identical to the source, so sf0.1 ⊂ sf1.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <dstDir> [factor]")
    val (src, dst) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local().config("spark.sql.shuffle.partitions", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    /** max(key)+1 — the per-replica key stride of a table. */
    def stride(t: String, key: String): Long =
      read(t).agg(max(col(key))).head().getLong(0) + 1L
    /** Union of `factor` replicas of `df`, each transformed by `f(r)`. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => f(df, r)).reduce(_ unionByName _)

    val kCust = stride("customer", "c_custkey")
    val kSupp = stride("supplier", "s_suppkey")
    val kPart = stride("part", "p_partkey")
    val kOrd = stride("orders", "o_orderkey")

    // fixed dims: copy-through (coalesced — they are tiny)
    write(read("region").coalesce(1), "region", 1)
    write(read("nation").coalesce(1), "nation", 1)

    write(replicate(read("customer")) { (d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(r * kCust))
    }, "customer", 8)
    write(replicate(read("supplier")) { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * kSupp))
    }, "supplier", 4)
    write(replicate(read("part")) { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * kPart))
    }, "part", 8)
    write(replicate(read("orders")) { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * kOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(r * kCust))
    }, "orders", 16)
    write(replicate(read("lineitem")) { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * kOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(r * kPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * kSupp))
    }, "lineitem", 32)

    val kEvent = stride("events", "event_id")
    val kUser = stride("events", "user_id")
    write(replicate(read("events")) { (d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * kEvent))
        .withColumn("user_id", col("user_id") + lit(r * kUser))
    }, "events", 16)

    val kDoc = stride("documents", "doc_id")
    write(replicate(read("documents")) { (d, r) =>
      val txt =
        if (r == 0) col("text")
        else concat_ws(" ", transform(split(col("text"), " "),
          t => concat(lit(s"q$r"), t)))
      d.withColumn("doc_id", col("doc_id") + lit(r * kDoc))
        .withColumn("text", txt)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents", 16)

    val kVec = stride("embeddings", "vec_id")
    val kLabel = read("embeddings").agg(max(col("label"))).head().getInt(0) + 1
    val dim = read("embeddings").select(size(col("embedding"))).head().getInt(0)
    write(replicate(read("embeddings")) { (d, r) =>
      // Only `dim` distinct rotations exist, so factors above `dim`
      // compose a second isometry: generation g = r / dim applies a ±1
      // diagonal (sign s(i) = (-1)^popcount(i & g)), which preserves
      // every within-replica inner product exactly while same-rotation
      // vectors across generations decorrelate (cosine → Σ±x_i² noise,
      // or exactly -1 for g XOR h covering all coords — never a
      // near-dup at the positive thresholds the gates use).
      val shift = r % dim
      val gen = r / dim
      val rot0 =
        if (shift == 0) col("embedding")
        else concat(slice(col("embedding"), shift + 1, dim - shift),
          slice(col("embedding"), 1, shift))
      val rot =
        if (gen == 0) rot0
        else transform(rot0, (x, i) =>
          when(bit_count(i.bitwiseAND(lit(gen))) % 2 === 1, -x).otherwise(x))
      // labels are CLUSTER ids — they must remap per replica like every
      // other surrogate key, or each cluster's membership grows `factor`×
      // and the cluster-scoped pair joins (SemDedup e05/e06) go quadratic
      // in the factor (measured 83× wall at 3× data before this remap)
      d.withColumn("vec_id", col("vec_id") + lit(r * kVec))
        .withColumn("label", col("label") + lit(r * kLabel))
        .withColumn("embedding", rot)
    }, "embeddings", 8)

    println(s"""{"scaled":"$dst","factor":$factor}""")
    spark.stop()
  }
}
