package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search" — the codebook half of FAISS's IVF-PQ, the
  * canonical 100 TB ANN layout): the vector is split into `m`
  * subvectors, each quantized by its own `k`-centroid L2 codebook, so a
  * d-dim float vector compresses to m small codes (m bytes at k ≤ 256 —
  * 32× smaller than 64 float32 dims) while asymmetric distance
  * computation (ADC) still approximates exact L2 by summing per-
  * subspace lookup-table entries.
  *
  * Complements the existing ANN tiers: [[Similarity.quantizeInt8]] is
  * 4× lossless-ish scalar compression, IVF prunes WHICH vectors are
  * scored; PQ shrinks WHAT is scored per vector. Composing IVF cells
  * with PQ codes is exactly FAISS IVFADC.
  *
  * Scale shape:
  *  - `train`: ALL m subspace k-means run in the SAME distributed
  *    Lloyd passes — one exploded (id, sub, subv) frame, assignment =
  *    one broadcast join against the (m·k)-row codebook table + one
  *    map-side-combinable argmin, refit = one per-(sub, code)
  *    mean — per iteration, independent of m. Training data is
  *    capped by `trainCap` (sampled), like IVF.
  *  - `encode`: one corpus pass — explode, broadcast-join the m·k
  *    codebooks, argmin per (id, sub), reassemble ordered by sub.
  *    Codes-only output: the float vectors never ship again.
  *  - `adcTopK`: the query's m×k lookup table is built DRIVER-side
  *    (m·k subvector distances — tiny) and carried as a literal, so
  *    scoring is a pure codegen'd array-aggregate over each row's
  *    codes: no join, no vector column, one narrow pass + top-k.
  */
object Pq {

  /** Train per-subspace L2 codebooks: returns (sub, code, cv) with
    * `sub` ∈ [0, m), `code` ∈ [1, k] and `cv` the dsub-dim centroid.
    * `dim` must divide evenly by `m`. Deterministic: sampled training
    * set (seed 42, like IVF), lowest-id init per subspace.
    */
  def train(df: DataFrame, idCol: String, vecCol: String,
            m: Int, k: Int, iters: Int = 5,
            trainCap: Long = 1000000L): DataFrame = {
    require(m > 0 && k > 0 && iters >= 1)
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim=$dim must divide evenly into m=$m subspaces")
    val dsub = dim / m
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val nEst = Similarity.estRows(v)
    val trainV =
      if (nEst <= trainCap) v
      else v.sample(withReplacement = false,
          math.min(1.0, trainCap.toDouble / nEst), seed = 42L)
        .localCheckpoint(true)
    val sub = subvectors(trainV, dsub, m).localCheckpoint(true)
    // init: the k lowest-id training subvectors PER subspace — the same
    // deterministic init as the IVF quantizer. Each id contributes
    // exactly one subvector per subspace, so this is just the slices of
    // the k lowest-id training vectors, sliced DRIVER-side from one
    // bounded orderBy/limit collect (identical floats — Scala slice ==
    // the Spark slice expression; code = 1-based rank by id per sub,
    // exactly the row_number the previous window form stamped).
    //
    // The per-round codebook is a driver-held LocalRelation — see
    // trainQuantizer's job-structure note: broadcast from LocalTableScan
    // is job-free, the refit carries subv through the aggregation
    // instead of re-joining `sub`, and each round collapses to ONE job.
    val spark = df.sparkSession
    val bookSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sub",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("code",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("cv", sub.schema("subv").dataType)))
    val initRows = trainV.select(col("id"), col("v"))
      .orderBy(col("id")).limit(k).collect()
    var books = graft.ops.Relational.localTable(spark,
      (for {
        s <- 0 until m
        (r, i) <- initRows.zipWithIndex // collect() of orderBy+limit is id-ordered
      } yield org.apache.spark.sql.Row(
        s, i + 1, r.getSeq[Float](1).slice(s * dsub, (s + 1) * dsub))).toArray,
      bookSchema)
    // bytes-sized shuffle partitions for the bounded loop — see
    // trainQuantizer's scope note (m subvector rows per train vector)
    val loopP = Similarity.boundedShufflePartitions(spark,
      math.min(nEst, trainCap) * m)
    val prevP = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopP.toString)
    try {
      for (_ <- 1 to iters) {
        val assigned = assignCarrying(sub, books)
        val refit = Similarity.centroids(
            assigned.select(concat_ws(":", col("sub"), col("code")).as("__g"), col("subv")),
            "__g", "subv")
          .select(split(col("grp"), ":").getItem(0).cast("int").as("sub"),
            split(col("grp"), ":").getItem(1).cast("int").as("code"),
            transform(col("centroid"), x => x.cast("float")).as("cv"))
        books = graft.ops.Relational.localTable(spark, refit.collect(), bookSchema)
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevP)
    books
  }

  /** Encode every vector to its m-code array (1-based codes, ordered by
    * subspace). Returns (idCol, codes: Array[Int]).
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             codebooks: DataFrame): DataFrame = {
    val mk = codebooks.agg(max(col("sub")), max(size(col("cv")))).head()
    val (m, dsub) = (mk.getInt(0) + 1, mk.getInt(1))
    val sub = subvectors(df.select(col(idCol).as("id"), col(vecCol).as("v")), dsub, m)
    assign(sub, codebooks)
      .groupBy(col("id"))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("code")))),
        s => s.getField("code")).as("codes"))
      .select(col("id").as(idCol), col("codes"))
  }

  /** ADC top-k: approximate L2 distances of `query` to every encoded
    * row by summing the per-subspace query↔centroid distances its codes
    * select. `codebooks` is collected driver-side (m·k rows — the
    * lookup table IS the method; never data-sized). Returns
    * (idCol, d2) rows, the k smallest.
    */
  def adcTopK(codes: DataFrame, idCol: String, query: Array[Float],
              codebooks: DataFrame, k: Int): DataFrame = {
    val lutCol = typedlit(lutArray(query, codebooks.collect()).map(_.toSeq).toSeq)
    val contrib = transform(col("codes"),
      (c, i) => element_at(element_at(lutCol, (i + 1).cast("int")), c))
    codes
      .withColumn("d2", aggregate(contrib, lit(0.0f), (acc, x) => acc + x))
      .select(col(idCol), col("d2"))
      .orderBy(col("d2").asc, col(idCol).asc)
      .limit(k)
  }

  /** FAISS IVFADC with exact rerank — the full composition of the three
    * ANN tiers: the IVF coarse quantizer prunes WHICH rows are touched
    * (only the query's `nProbe` nearest cells), the PQ codes shrink
    * WHAT is scored per touched row (ADC over m codes, no vector
    * bytes), and the exact rerank restores the fine ranking ADC ties
    * away — the top `candidates` ADC hits re-score against their true
    * float vectors (one id-equi-join against the corpus, candidate-
    * sized) and the best `k` by exact L2 win.
    *
    * Cell assignment reuses the IVF machinery ([[Similarity]]'s
    * broadcast-centroid argmax); the query's probe cells are chosen
    * DRIVER-side against the collected centroid table (numCentroids
    * rows — never data-sized). One corpus pass to train+encode (cached
    * by the caller in real use via [[train]]/[[encode]]), one narrow
    * codes scan per query, one candidate-sized join.
    */
  def ivfAdcTopK(df: DataFrame, idCol: String, vecCol: String,
                 query: Array[Float], k: Int,
                 m: Int = 8, codesPerSub: Int = 16,
                 numCentroids: Int = 16, nProbe: Int = 4,
                 candidates: Int = 100, iters: Int = 3,
                 trainCap: Long = 1000000L): DataFrame = {
    require(k <= candidates, s"k=$k > candidates=$candidates")
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val cents = Similarity.trainQuantizer(v, numCentroids, iters, trainCap)
    val cells = Similarity.rankCentroids(v, cents, 1)
    val books = train(df, idCol, vecCol, m, codesPerSub, iters, trainCap)
    // cid travels WITH the codes (attached once, at build time — the
    // same one-corpus-pass join the stored index pays when writing),
    // so query-time pruning is a FILTER on the codes scan, never a
    // corpus-wide join against a probed-id list.
    val codes = encode(df, idCol, vecCol, books).withColumnRenamed(idCol, "id")
      .join(cells.select(col("id"), col("cid")), Seq("id"))
    // the query's nProbe nearest cells, picked on the driver from the
    // numCentroids-row centroid table (same cosine ranking the
    // assignment pass used)
    val probeCids = probeCells(cents.collect(), query, nProbe)
    val pruned = codes.where(col("cid").isin(probeCids.toSeq: _*))
    val cand = adcTopK(pruned, "id", query, books, candidates)
    exactRerank(cand, v, idCol, query, k)
  }

  /** FAISS IVFADC proper — RESIDUAL encoding (Jégou et al. 2011 §IV.B,
    * what faiss.IndexIVFPQ actually stores): the PQ codebooks quantize
    * `v − centroid(cell(v))` instead of `v`. Residual energy is a
    * fraction of vector energy once the coarse quantizer has explained
    * the cell structure, so the same m×k code budget buys a finer
    * grid — on clustered data the ADC error drops and recall rises at
    * identical storage (PqSpec measures both against the non-residual
    * [[ivfAdcTopK]]).
    *
    * The price is query-side only: ADC needs ONE lookup table per
    * probed cell (the query's residual differs per cell), so the
    * literal carried into the scan is nProbe·m·k floats instead of
    * m·k — still driver-built, still tiny, and the scan itself stays
    * a narrow codes-only pass selected by the row's own cell id (the
    * codes table carries cid, so pruning is a FILTER, not a join).
    * Same exact rerank as [[ivfAdcTopK]].
    */
  def ivfAdcResidualTopK(df: DataFrame, idCol: String, vecCol: String,
                         query: Array[Float], k: Int,
                         m: Int = 8, codesPerSub: Int = 16,
                         numCentroids: Int = 16, nProbe: Int = 4,
                         candidates: Int = 100, iters: Int = 3,
                         trainCap: Long = 1000000L): DataFrame = {
    require(k <= candidates, s"k=$k > candidates=$candidates")
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val cents = Similarity.trainQuantizer(v, numCentroids, iters, trainCap)
    val cells = Similarity.rankCentroids(v, cents, 1)
    // residuals: one corpus pass — cell assignment equi-join + a
    // broadcast join against the numCentroids-row centroid table
    val resid = v.join(cells, Seq("id"))
      .join(broadcast(cents.select(col("cid"), col("cv").as("__ccv"))), Seq("cid"))
      .select(col("id"), col("cid"),
        zip_with(col("v"), col("__ccv"), (a, b) => a - b).as("rv"))
      // reused by train's dim probe + sampling, encode's pass and the
      // codes-cid join — materialize once instead of re-running the
      // assignment join per consumer
      .localCheckpoint(true)
    val books = train(resid, "id", "rv", m, codesPerSub, iters, trainCap)
    val codes = encode(resid, "id", "rv", books)
      .join(resid.select(col("id"), col("cid")), Seq("id"))
    val centRows = cents.collect()
    val probeCids = probeCells(centRows, query, nProbe)
    // per-probed-cell LUTs over the query's residual against THAT cell
    val centVecs = centRows.map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    val bookRows = books.collect()
    val lutByCid: Map[Int, Seq[Seq[Float]]] = probeCids.map { cid =>
      val cv = centVecs(cid)
      val qr = Array.tabulate(query.length)(i => query(i) - cv(i))
      cid -> lutArray(qr, bookRows).map(_.toSeq).toSeq
    }.toMap
    val lutCol = typedlit(lutByCid)
    val contrib = transform(col("codes"),
      (c, i) => element_at(element_at(
        element_at(lutCol, col("cid")), (i + 1).cast("int")), c))
    val cand = codes.where(col("cid").isin(probeCids.toSeq: _*))
      .withColumn("d2", aggregate(contrib, lit(0.0f), (acc, x) => acc + x))
      .select(col("id"), col("d2"))
      .orderBy(col("d2").asc, col("id").asc)
      .limit(candidates)
    exactRerank(cand, v, idCol, query, k)
  }

  /** The nProbe nearest cells to `query`, ranked driver-side over the
    * collected numCentroids-row centroid table — the same cosine
    * ranking the assignment pass uses, never data-sized.
    */
  private[sim] def probeCells(centRows: Array[org.apache.spark.sql.Row],
                         query: Array[Float], nProbe: Int): Array[Int] = {
    val qn = math.sqrt(query.map(x => x.toDouble * x).sum)
    centRows.map { r =>
      val cv = r.getSeq[Float](1)
      val cn = r.getAs[Number](2).doubleValue()
      val d = cv.indices.map(i => cv(i).toDouble * query(i)).sum
      (d / (qn * cn), r.getInt(0))
    }.sortBy { case (cos, cid) => (-cos, cid) }.take(nProbe).map(_._2)
  }

  /** The m×k ADC lookup table for one query (or query residual):
    * lut(s)(code−1) = ‖query_sub(s) − codebook(s, code)‖². Driver-side
    * arithmetic over the collected m·k codebook rows.
    */
  private[sim] def lutArray(query: Array[Float],
                       rows: Array[org.apache.spark.sql.Row]): Array[Array[Float]] = {
    val m = rows.map(_.getInt(0)).max + 1
    val dsub = query.length / m
    require(query.length == m * dsub, s"query dim ${query.length} != m*dsub")
    val kCodes = rows.map(_.getInt(1)).max
    val lut = Array.fill(m, kCodes)(Float.MaxValue)
    rows.foreach { r =>
      val (s, c) = (r.getInt(0), r.getInt(1))
      val cv = r.getSeq[Float](2)
      var d = 0.0f
      var i = 0
      while (i < dsub) {
        val diff = query(s * dsub + i) - cv(i); d += diff * diff; i += 1
      }
      lut(s)(c - 1) = d
    }
    lut
  }

  /** Exact rerank: the candidate ids equi-join back to their float
    * vectors (candidate-sized, AQE broadcasts it) and the best k by
    * true L2 win, ties toward the lower id.
    */
  private[sim] def exactRerank(cand: DataFrame, v: DataFrame, idCol: String,
                          query: Array[Float], k: Int): DataFrame = {
    val qCol = typedlit(query.toSeq)
    cand.join(v.select(col("id"), col("v")), Seq("id"))
      // native codegen'd L2 (bit-identical float accumulation to the
      // interpreted aggregate(zip_with(...)) form it replaces)
      .withColumn("exact_d2",
        graft.functions.VectorFunctions.l2sq(col("v"), qCol))
      .select(col("id").as(idCol), col("exact_d2"))
      .orderBy(col("exact_d2").asc, col(idCol).asc)
      .limit(k)
  }

  /** (id, sub, subv): the m dsub-wide slices of each vector. */
  private[sim] def subvectors(v: DataFrame, dsub: Int, m: Int): DataFrame =
    v.select(col("id"), posexplode(
        transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("v"), s * dsub + 1, lit(dsub)))).as(Seq("sub", "subv")))

  /** Argmin L2 code per (id, sub): broadcast the (m·k)-row codebook
    * table, one distance expression, map-side-combinable min(struct).
    */
  private[sim] def assign(sub: DataFrame, codebooks: DataFrame): DataFrame = {
    // native codegen'd L2 (bit-identical float accumulation to the
    // interpreted aggregate(zip_with(...)) form it replaces — the PQ
    // hot path: |train|·m·k evaluations per pass)
    val d2 = graft.functions.VectorFunctions.l2sq(col("subv"), col("cv"))
    sub.join(broadcast(codebooks), Seq("sub"))
      .withColumn("__d2", d2)
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("__d2"), col("code"))).as("__best"))
      .select(col("id"), col("sub"), col("__best.code").as("code"))
  }

  /** [[assign]] CARRYING the subvector through the aggregation —
    * (id, sub, code, subv) — so the Lloyd refit consumes the assignment
    * directly instead of equi-joining back to the subvector frame
    * (a broadcast/shuffle build job per training round). `subv` is
    * constant within each (id, sub) group, so first() is deterministic
    * in value and the refit input multiset is identical to the join's.
    */
  private[sim] def assignCarrying(sub: DataFrame, codebooks: DataFrame): DataFrame = {
    val d2 = graft.functions.VectorFunctions.l2sq(col("subv"), col("cv"))
    sub.join(broadcast(codebooks), Seq("sub"))
      .withColumn("__d2", d2)
      .groupBy(col("id"), col("sub"))
      .agg(min(struct(col("__d2"), col("code"))).as("__best"),
        first(col("subv")).as("subv"))
      .select(col("id"), col("sub"), col("__best.code").as("code"), col("subv"))
  }
}
