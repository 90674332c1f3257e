package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming re-expressions of the reference's "lazy dataset
  * that refreshes" model (bacon CuttingBoard over a callable dataset).
  * Every transform here works identically on a batch DataFrame and a
  * `readStream` DataFrame — the streaming cube is the same Slicer plan
  * plus a watermark.
  */
object Streams {

  /** Tumbling-window event counts/sums with a watermark for state expiry.
    * On a stream: append-mode windowed aggregation; on a batch frame the
    * same code yields the batch answer (used by the oracle check).
    */
  def tumblingAgg(events: DataFrame, tsCol: String, windowLen: String,
                  watermark: String = "1 hour", streaming: Boolean = false): DataFrame = {
    val src = if (streaming) events.withWatermark(tsCol, watermark) else events
    src.groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** Streaming cube slice: the Slicer's filters + axes + measures applied
    * to a stream, grouped into tumbling — or, with `slide`, hopping —
    * windows with a watermark. The same CubeDef/CubeQuery that drives
    * batch slices drives the stream — bacon's "cuttingboard over a
    * refreshing dataset" with real incremental state instead of a
    * re-scan. A hopping slice (q50's shape) lands each event in
    * windowLen/slide overlapping windows; state expiry is unchanged
    * (watermark bounds the open-window set).
    */
  def streamingSlice(stream: DataFrame, cube: graft.cube.CubeDef,
                     q: graft.cube.CubeQuery, tsCol: String,
                     windowLen: String, watermark: String = "1 hour",
                     slide: Option[String] = None): DataFrame = {
    val filtered = graft.cube.Slicer.filter(stream, cube, q).withWatermark(tsCol, watermark)
    val win = slide.fold(window(col(tsCol), windowLen))(s => window(col(tsCol), windowLen, s))
    val axisCols = win.as("window") +:
      q.axes.map(a => cube.label(a).named)
    val aggCols = q.values.map(v => cube.measure(v).compiled)
    filtered.groupBy(axisCols: _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("window_start", col("window.start"))
      .drop("window")
  }

  /** Event for the stateful per-user tracker. */
  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  /** Running per-user state (custom state beyond what windows express). */
  final case class UserStats(user_id: Long, n_events: Long, sum_value: Double,
                             max_gap_seconds: Long)

  /** Custom keyed state via flatMapGroupsWithState: per-user running
    * totals plus the largest inter-event gap — a statistic no built-in
    * window aggregation produces incrementally. Emits the updated stats
    * row on every batch (Update mode); state lives per key with a
    * processing-time timeout guarding unbounded growth.
    */
  def userStats(events: Dataset[UserEvent]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double, Long, Long), UserStats](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Double, Long, Long)]) =>
          // state = (n, sum, lastTsMillis, maxGapSeconds)
          val (n0, s0, last0, gap0) = state.getOption.getOrElse((0L, 0.0, Long.MinValue, 0L))
          var n = n0; var s = s0; var last = last0; var gap = gap0
          rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
            if (last != Long.MinValue) {
              val g = (e.ts.getTime - last) / 1000
              if (g > gap) gap = g
            }
            last = e.ts.getTime
            n += 1; s += e.value
          }
          state.update((n, s, last, gap))
          Iterator.single(UserStats(uid, n, s, gap))
      }
  }

  /** Streaming exact dedup: drop documents whose content fingerprint was
    * already seen within the watermark horizon — the streaming form of
    * Dedup.keepCanonical for an ingest pipeline. State is keyed by the
    * 128-bit digest only (not the text) and expires with the watermark,
    * so memory stays bounded at any throughput. On a batch frame the same
    * code degrades to dropDuplicates for oracle comparison.
    */
  def streamingDedup(docs: DataFrame, tsCol: String, textCol: String,
                     watermark: String = "1 hour", streaming: Boolean = true): DataFrame = {
    val withFp = docs.withColumn("__fp", graft.text.TextFunctions.fingerprint(col(textCol)))
    val deduped =
      if (streaming) withFp.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark("__fp")
      else withFp.dropDuplicates("__fp")
    deduped.drop("__fp")
  }

  /** Continuous near-dup-free corpus ingest: the streaming loop around
    * the persistent MinHash index (dedup/MinHashIndex.scala) —
    * per micro-batch: (1) within-batch LSH self-dedup keeping each dup
    * cluster's minimum id, (2) `filterNovel` against EVERYTHING any
    * previous batch kept (the index tables), (3) write survivors to the
    * corpus sink and (4) `index.add` them, so batch N+1 dedups against
    * batches 1..N with no state in executor memory — the state IS the
    * bucketed index, shared, persistent, restart-safe.
    *
    * Exactly-once corpus sink under foreachBatch's at-least-once replay:
    * each batch lands in its own `ingest_batch=<batchId>` partition via
    * dynamic-partition overwrite, so a replayed batch REPLACES its own
    * partition instead of appending a second copy. The replay recomputes
    * the identical kept-set even when the first attempt's `index.add`
    * committed, because pairsAgainst ignores id-equal store matches (a
    * replayed row finding ITSELF in the index is not a dup). index.add
    * itself stays at-least-once — duplicate store rows never change a
    * search answer (MinHashIndex.add scaladoc), they only cost bytes.
    *
    * foreachBatch rather than mapGroupsWithState: near-dup state is a
    * JOIN against a corpus-scaled table, not a per-key value — exactly
    * the shape the guide's "stream as incremental batch" pattern covers.
    * Read the corpus back with `spark.read.parquet(corpusDir)`; the
    * `ingest_batch` partition column records provenance.
    */
  def continuousIngest(stream: DataFrame, index: graft.dedup.MinHashIndex,
                       idCol: String, textCol: String,
                       corpusDir: String, checkpointDir: String,
                       threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val kept = ingestBatch(batch, index, idCol, textCol, threshold)
        kept.withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch")
          .parquet(corpusDir)
        index.add(kept, idCol, textCol)
      }
      .start()

  /** The t05 corpus pipeline's FILTER stage (quality threshold +
    * deterministic mixture sampling) as a batch/stream-symmetric
    * transform: both are pure row predicates — no state, no shuffle —
    * so applying them per micro-batch is exactly the batch semantics.
    */
  def corpusFilter(df: DataFrame, idCol: String, textCol: String, sourceCol: String,
                   minQuality: Double, mixtureRates: Seq[(String, Double)]): DataFrame =
    df.where(graft.text.TextFunctions.qualityScore(col(textCol)) >= minQuality)
      .where(graft.text.CorpusOps.mixtureFilter(col(idCol), col(sourceCol), mixtureRates))

  /** Continuous TRAINING-CORPUS ingest: the full t05 pipeline shape run
    * per micro-batch — quality + mixture filters, within-batch LSH
    * self-dedup, novel-vs-everything-kept through the persistent MinHash
    * index, exactly-once partitioned sink (see [[continuousIngest]] for
    * the replay/idempotence reasoning, which is unchanged: the filters
    * are deterministic row predicates, so a replayed batch filters to
    * the identical survivor set).
    *
    * Stream == batch: filters are stateless predicates and the dedup
    * state is the index itself, so streaming the corpus in id-ordered
    * micro-batches keeps exactly the docs a single-batch run keeps
    * (spec-asserted in StreamsSpec).
    */
  def continuousCorpusIngest(stream: DataFrame, index: graft.dedup.MinHashIndex,
                             idCol: String, textCol: String, sourceCol: String,
                             corpusDir: String, checkpointDir: String,
                             minQuality: Double = 0.5,
                             mixtureRates: Seq[(String, Double)] = Seq.empty,
                             threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val kept = ingestBatch(
          corpusFilter(batch, idCol, textCol, sourceCol, minQuality, mixtureRates),
          index, idCol, textCol, threshold)
        kept.withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch")
          .parquet(corpusDir)
        index.add(kept, idCol, textCol)
      }
      .start()

  /** One ingest step (also the batch/backfill entry point — the stream
    * is this applied per micro-batch): self-dedup, then novel-vs-store.
    *
    * Hot-bucket probe accounting (the `verdictKey` decision table):
    * the within-batch self-dedup below leaves `verdictKey` EMPTY on
    * purpose — batch contents change every micro-batch, and a stale
    * benign verdict would skip the grid on exactly the batch that
    * needs it. The STORE side of this loop (and of the PQ/IVF embedding
    * loops) runs NO probe at all: `MinHashIndex.pairsAgainst` and
    * `PqIndex.storeDupIdsFromRecon` are plain bucket/cell equi-joins —
    * per-key fanout there is bounded by bucket occupancy the index
    * maintenance (compactTo, occupancySkew) already watches, so there
    * is no per-batch probe job to cache per generation in the first
    * place. If a future store-side band join ever adopts
    * gridSaltedSides, key its verdict by the index GENERATION (the
    * banded store is immutable within one) and invalidate on
    * maintenance via Dedup.invalidateGridVerdict.
    */
  def ingestBatch(batch0: DataFrame, index: graft.dedup.MinHashIndex,
                  idCol: String, textCol: String,
                  threshold: Double = 0.5): DataFrame = {
    // takedown guard: a row whose ID was deleted from the store must not
    // re-enter — an at-least-once REPLAY of a pre-takedown micro-batch
    // (or a re-crawl under stable ids) would otherwise resurrect erased
    // content, and index.add's tombstone guard would poison-pill the
    // loop (throw -> checkpoint replays the same batch -> throw forever).
    // Fresh content arriving under a NEW id is unaffected.
    val batch = graft.sources.Tombstones.filterOut(
      batch0.sparkSession, index.dir, batch0, idCol)
    val pairs = graft.dedup.Dedup.minhashLshPairs(batch, idCol, textCol,
      k = index.k, numHashes = index.numHashes, bands = index.bands,
      threshold = threshold)
    // pairs are (id1 < id2): dropping every id2 keeps a doc iff it has
    // no kept near-dup with a smaller id (the greedy keep-first rule;
    // for full transitive-cluster canonicalization compose with
    // Dedup.duplicateClustersStar instead)
    val dups = pairs.select(col("id2").as("__self_dup")).distinct()
    val selfDeduped = batch.join(dups, batch(idCol) === col("__self_dup"), "left_anti")
    index.filterNovel(selfDeduped, idCol, textCol, threshold)
  }

  /** Continuous near-dup-free EMBEDDING ingest — the vector-modality
    * mirror of [[continuousIngest]]: per micro-batch (1) within-batch
    * cell-scoped semantic self-dedup (SemDedup over the INDEX's frozen
    * cells, keep-smallest-id), (2) drop rows with a stored duplicate in
    * the same cell (IvfIndex.storeDupIds), (3) exactly-once partitioned
    * corpus sink, (4) IvfIndex.addTo — so batch N+1 dedups against
    * everything batches 1..N kept, with the state living in the
    * bucketed postings table, not executor memory.
    *
    * Replay idempotence uses the SAME symmetry argument as the MinHash
    * loop: the detection relation is "assigned to the same cell of a
    * frozen quantizer" — symmetric — so within-batch dedup catches
    * exactly the pairs a replayed row could see in the store (its own
    * id-equal row is ignored), and a replayed batch recomputes the
    * identical kept set even after its addTo committed. The corpus sink
    * overwrites its own `ingest_batch=<id>` partition on replay;
    * duplicate postings from a replayed addTo never change an answer
    * (they are the same vectors in the same cells), they only cost
    * bytes until the next index rebuild.
    *
    * The index must exist (build+write on a seed corpus first): IVF
    * needs a trained quantizer, and training on an empty stream prefix
    * is undefined.
    */
  def continuousEmbeddingIngest(stream: DataFrame, indexDir: String,
                                idCol: String, vecCol: String,
                                corpusDir: String, checkpointDir: String,
                                threshold: Double = 0.95): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val kept = embedIngestBatch(batch, indexDir, idCol, vecCol, threshold)
        kept.withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch")
          .parquet(corpusDir)
        graft.sim.IvfIndex.addTo(batch.sparkSession, indexDir, kept, idCol, vecCol)
      }
      .start()

  /** [[continuousEmbeddingIngest]] with the maintenance loop CLOSED —
    * the hands-off form: the index lives under `baseDir/<generation>`
    * behind IvfIndex's `_current` pointer, and every `maintainEvery`
    * batches the loop checks occupancy skew and rewrites the index into
    * a fresh generation — a full quantizer rebuild (which also
    * compacts) when `occupancySkew ≥ skewThreshold`, a compaction alone
    * (the micro-batch small-files tax) otherwise — then flips the
    * pointer. Initialize once with
    * `build(seed).write(s"$baseDir/gen-0")` +
    * `writeGenerationPointer(spark, baseDir, "gen-0")`.
    *
    * Replay safety: the new generation's name is a pure function of the
    * batch id (`gen-<batchId+1>`). A crash mid-rebuild leaves the old
    * generation live and the half-written one unreferenced, and the
    * replayed batch rewrites the SAME generation dir (overwrite) and
    * flips the pointer as the first attempt would have. A crash AFTER
    * the pointer flip but before the checkpoint commit is the subtle
    * case: the replayed batch resolves `indexDir` to the NEW generation,
    * so re-running maintenance would compact/rebuild with src == dst
    * (an overwrite of a table being read). The maintenance block guards
    * on exactly that — when the resolved index dir already IS the
    * target generation the work is provably done (the pointer only ever
    * flips after a complete generation write), so it skips straight
    * through. Ingest itself replays against the new generation, which
    * is harmless: `storeDupIds` ignores id-equal matches, so the kept
    * set is identical, and re-`addTo`d postings are the same vectors in
    * the same cells (bytes until the next compaction, never answers).
    *
    * Dedup semantics across the hop are unchanged because the postings
    * ARE the state: a rebuild re-trains cells over the same vector
    * population, and cell-exact matching stays symmetric under the NEW
    * quantizer for every batch after the flip (batches never compare
    * against two generations at once — each foreachBatch resolves the
    * pointer exactly once).
    */
  def continuousEmbeddingIngestManaged(stream: DataFrame, baseDir: String,
                                       idCol: String, vecCol: String,
                                       corpusDir: String, checkpointDir: String,
                                       threshold: Double = 0.95,
                                       maintainEvery: Int = 10,
                                       skewThreshold: Double = 4.0): org.apache.spark.sql.streaming.StreamingQuery = {
    require(maintainEvery >= 1, s"maintainEvery must be >= 1, got $maintainEvery")
    require(skewThreshold > 1.0, s"skewThreshold must be > 1, got $skewThreshold")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        managedIngestStep(batch, batchId, baseDir, idCol, vecCol, corpusDir,
          threshold, maintainEvery, skewThreshold)
      }
      .start()
  }

  /** One micro-batch of [[continuousEmbeddingIngestManaged]] — extracted
    * so the crash/replay matrix is directly testable: a spec can run a
    * batch id twice (simulating the checkpoint-uncommitted replay after
    * any crash point) and assert the second run is a no-op. See the
    * managed-loop scaladoc for the replay-safety argument each branch
    * implements.
    */
  def managedIngestStep(batch: DataFrame, batchId: Long, baseDir: String,
                        idCol: String, vecCol: String, corpusDir: String,
                        threshold: Double, maintainEvery: Int,
                        skewThreshold: Double): Unit = {
    val spark = batch.sparkSession
    val indexDir = graft.sim.IvfIndex.currentIndexDir(spark, baseDir)
    val kept = embedIngestBatch(batch, indexDir, idCol, vecCol, threshold)
    kept.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(corpusDir)
    graft.sim.IvfIndex.addTo(spark, indexDir, kept, idCol, vecCol)
    if ((batchId + 1) % maintainEvery == 0) {
      val gen = s"gen-${batchId + 1}"
      val dst = s"$baseDir/$gen"
      // Replay guard (see scaladoc): pointer already at the target
      // generation ⇒ a prior attempt finished maintenance before the
      // checkpoint committed; re-running would compact src == dst.
      if (indexDir != dst) {
        if (graft.sim.IvfIndex.occupancySkew(spark, indexDir) >= skewThreshold)
          graft.sim.IvfIndex.rebuildTo(spark, indexDir, dst)
        else
          graft.sim.IvfIndex.compactTo(spark, indexDir, dst)
        graft.sim.IvfIndex.writeGenerationPointer(spark, baseDir, gen)
      }
    }
  }

  /** One embedding-ingest step (also the batch/backfill entry point):
    * cell-scoped self-dedup, then novel-vs-store.
    */
  def embedIngestBatch(batch0: DataFrame, indexDir: String,
                       idCol: String, vecCol: String,
                       threshold: Double = 0.95): DataFrame = {
    val spark = batch0.sparkSession
    // takedown guard (the ingestBatch rule): replayed or re-crawled rows
    // carrying a deleted id are dropped, not resurrected or thrown on
    val batch = graft.sources.Tombstones.filterOut(spark, indexDir, batch0, idCol)
    // within-batch: SemDedup scoped to the INDEX's cells (not a fresh
    // clustering — detection must match what the store compare sees)
    val cells = graft.sim.IvfIndex.assignCells(spark, indexDir, batch, idCol, vecCol)
    val withCells = batch.join(cells.withColumnRenamed(idCol, "__cell_id"),
      batch(idCol) === col("__cell_id")).drop("__cell_id")
    val selfDups = graft.sim.Similarity.semDedupPairs(
        withCells, idCol, vecCol, threshold, clusterCol = Some("cid"))
      .select(col("id2").as("__self_dup")).distinct()
    val selfDeduped = batch.join(selfDups, batch(idCol) === col("__self_dup"), "left_anti")
    val storeDups = graft.sim.IvfIndex.storeDupIds(
      spark, indexDir, selfDeduped, idCol, vecCol, threshold)
      .withColumnRenamed("id", "__store_dup")
    selfDeduped.join(storeDups, selfDeduped(idCol) === col("__store_dup"), "left_anti")
  }

  /** Managed streaming ingest for the COMPRESSED tier — the
    * [[continuousEmbeddingIngestManaged]] contract PQ-backed, because
    * the PQ index is the tier actually served at 100 TB and it could
    * not previously ingest continuously. Same `_current` pointer
    * protocol, same crash/replay matrix (see [[managedPqIngestStep]]),
    * same tombstone-aware replay (takedown ids in a replayed batch are
    * dropped, not resurrected).
    *
    * Dedup runs in the index's OWN metric: the batch is encoded through
    * the frozen quantizer + codebooks and compared as RECONSTRUCTIONS —
    * batch-vs-batch and batch-vs-store through the identical decode
    * ([[graft.sim.PqIndex.codeReconstructions]]), which is what makes a
    * replayed batch recompute the identical kept set even though its
    * first attempt's survivors are now in the store (their stored codes
    * decode to exactly the reconstructions self-dedup compared against).
    *
    * Maintenance differs from the IVF loop in ONE deliberate way: the
    * periodic hop is a COMPACTION only, never an automatic quantizer
    * rebuild — the codes-only store holds no float vectors, so
    * re-training is an offline `build(corpus).write(gen)` from the
    * vector corpus (which this loop conveniently accumulates under
    * `corpusDir`). An operator does that out-of-band and flips the
    * pointer; the next micro-batch resolves the new generation and
    * carries on — the generation-hop spec pins exactly that handoff.
    * `occupancySkew ≥ skewThreshold` therefore logs-by-contract through
    * the returned stats rather than triggering a rebuild.
    *
    * At-least-once caveat: a crash between `addToEncoded` and the
    * checkpoint commit re-inserts the replayed batch's survivors
    * (store-dedup deliberately ignores id-equal matches so the kept set
    * replays identically), leaving duplicate code rows for those ids.
    * The duplicates are bit-identical and TRANSIENT — searchBatch may
    * answer the same id in more than one top-k slot until the next
    * compaction hop, where [[graft.sim.PqIndex.compactTo]]'s
    * full-row dropDuplicates collapses them — a window of at most
    * `maintainEvery` batches. Exactly-once would need the insert and
    * the checkpoint in one transaction, which plain parquet cannot give.
    *
    * Initialize once with `PqIndex.build(seed).write(s"$baseDir/gen-0")`
    * + `IvfIndex.writeGenerationPointer(spark, baseDir, "gen-0")` (the
    * pointer protocol is tier-agnostic).
    */
  def continuousPqIngestManaged(stream: DataFrame, baseDir: String,
                                idCol: String, vecCol: String,
                                corpusDir: String, checkpointDir: String,
                                threshold: Double = 0.95,
                                maintainEvery: Int = 10): org.apache.spark.sql.streaming.StreamingQuery = {
    require(maintainEvery >= 1, s"maintainEvery must be >= 1, got $maintainEvery")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        managedPqIngestStep(batch, batchId, baseDir, idCol, vecCol, corpusDir,
          threshold, maintainEvery)
      }
      .start()
  }

  /** One micro-batch of [[continuousPqIngestManaged]] — extracted so the
    * crash/replay matrix is directly testable (the
    * [[managedIngestStep]] convention): (a) replay after the pointer
    * flip must skip maintenance (the guard: resolved dir already IS the
    * target generation ⇒ the flip proves the hop completed); (b) replay
    * after a torn generation write but before the flip must redo the
    * compaction (overwriting the torn dst) and flip.
    */
  def managedPqIngestStep(batch: DataFrame, batchId: Long, baseDir: String,
                          idCol: String, vecCol: String, corpusDir: String,
                          threshold: Double, maintainEvery: Int): Unit = {
    val spark = batch.sparkSession
    val indexDir = graft.sim.IvfIndex.currentIndexDir(spark, baseDir)
    val (kept, keptRecon) =
      pqIngestBatchEncoded(batch, indexDir, idCol, vecCol, threshold)
    kept.withColumn("ingest_batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("ingest_batch")
      .parquet(corpusDir)
    graft.sim.PqIndex.addToEncoded(spark, indexDir, keptRecon)
    if ((batchId + 1) % maintainEvery == 0) {
      val gen = s"gen-${batchId + 1}"
      val dst = s"$baseDir/$gen"
      if (indexDir != dst) {
        graft.sim.PqIndex.compactTo(spark, indexDir, dst)
        graft.sim.IvfIndex.writeGenerationPointer(spark, baseDir, gen)
      }
    }
  }

  /** One PQ-tier ingest step (also the batch/backfill entry point):
    * tombstone guard, then cell-scoped self-dedup and novel-vs-store —
    * both measured on code RECONSTRUCTIONS (see the managed-loop
    * scaladoc for why that consistency is what makes replays exact).
    */
  def pqIngestBatch(batch0: DataFrame, indexDir: String,
                    idCol: String, vecCol: String,
                    threshold: Double = 0.95): DataFrame =
    pqIngestBatchEncoded(batch0, indexDir, idCol, vecCol, threshold)._1

  /** [[pqIngestBatch]] returning BOTH the kept batch rows and their
    * already-encoded (id, cid, codes, vhat) frame, so the managed loop's
    * insert ([[graft.sim.PqIndex.addToEncoded]]) reuses the ONE encoding
    * pass this step already paid — batch rows were encoded three times
    * per micro-batch before this (self-dedup, store-dedup, insert).
    */
  private[streaming] def pqIngestBatchEncoded(
      batch0: DataFrame, indexDir: String, idCol: String, vecCol: String,
      threshold: Double): (DataFrame, DataFrame) = {
    val spark = batch0.sparkSession
    val batch = graft.sources.Tombstones.filterOut(spark, indexDir, batch0, idCol)
    // encode ONCE; a micro-batch is bounded, so the eager checkpoint is
    // cheap and pins the codes every later step reuses
    val dec = graft.sim.PqIndex.codeReconstructions(
      spark, indexDir, batch, idCol, vecCol).localCheckpoint(true)
    val selfDups = graft.sim.Similarity.semDedupPairs(
        dec, "id", "vhat", threshold, clusterCol = Some("cid"))
      .select(col("id2").as("__self_dup")).distinct()
    val selfDedupedRecon = dec.join(selfDups, dec("id") === col("__self_dup"),
      "left_anti")
    val storeDups = graft.sim.PqIndex.storeDupIdsFromRecon(
        spark, indexDir, selfDedupedRecon, threshold)
      .withColumnRenamed("id", "__store_dup")
    val keptRecon = selfDedupedRecon.join(storeDups,
      selfDedupedRecon("id") === col("__store_dup"), "left_anti")
    val kept = batch.join(keptRecon.select(col("id").as("__kept")),
      batch(idCol) === col("__kept"), "left_semi")
    (kept, keptRecon)
  }

  /** Session windows with gap timeout — batch/stream symmetric. */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String,
                 watermark: String = "1 hour", streaming: Boolean = false): DataFrame = {
    val src = if (streaming) events.withWatermark(tsCol, watermark) else events
    src.groupBy(col("user_id"), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))
  }

  /** Continuous token-distribution drift monitor — the streaming face
    * of [[graft.text.CorpusOps.tokenDrift]]: each micro-batch of
    * incoming documents is compared against a FROZEN reference snapshot
    * (read once, cached as a DataFrame the foreachBatch closure reuses)
    * and one drift row per (batch_id, source) appends to the monitor
    * table — per-source smoothed KL + JS over the union vocabulary,
    * stamped with the batch id. The crawl-operations loop this feeds:
    * alert when js exceeds a bar, then re-calibrate the affected
    * source's filters/mixture (d37's batch analysis, continuously).
    *
    * The reference is deliberately a snapshot, not a running average —
    * drift measured against a moving baseline goes blind to slow
    * drift (the boiled-frog failure); re-baselining is an explicit
    * operator decision (point `refDf` at a newer snapshot).
    *
    * Scale shape per batch: tokenDrift's ONE union pass over
    * (reference + batch). The reference side re-tokenizes per batch —
    * persist `refDf` so at least its scan is memory-served; when
    * batches are tiny against a huge reference, the right refactor is
    * a pre-aggregated (source, token, count) reference table, which is
    * mechanical on top of tokenDrift's count frame.
    */
  def continuousDriftMonitor(stream: DataFrame, refDf: DataFrame,
                             sourceCol: String, textCol: String,
                             monitorDir: String, checkpointDir: String,
                             alpha: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery = {
    // Tokenize the reference ONCE and materialize it DURABLY. A
    // localCheckpoint would pin the counts in executor memory with no
    // lineage to recompute — in a long-running stream, any executor
    // loss/decommission would fail every later micro-batch with
    // missing-block errors. The `_`-prefixed subdir is invisible to
    // parquet readers of `monitorDir`, and the written table survives
    // executor churn AND a monitor restart (overwritten fresh per
    // start, since refDf is this invocation's frozen snapshot).
    val refDir = s"$monitorDir/_ref_counts"
    graft.text.CorpusOps.tokenDriftCounts(refDf, sourceCol, textCol)
      .write.mode("overwrite").parquet(refDir)
    continuousDriftMonitorFromCounts(stream,
      refDf.sparkSession.read.parquet(refDir),
      sourceCol, textCol, monitorDir, checkpointDir, alpha)
  }

  /** [[continuousDriftMonitor]] against a PRE-AGGREGATED reference —
    * `refCounts` is a (source, token, c) frame (CorpusOps.
    * tokenDriftCounts), e.g. a materialized parquet table from the
    * snapshot build. Each micro-batch pays only its own tokenization
    * plus a vocab-key join; the reference corpus is never re-read.
    */
  def continuousDriftMonitorFromCounts(stream: DataFrame, refCounts: DataFrame,
                                       sourceCol: String, textCol: String,
                                       monitorDir: String, checkpointDir: String,
                                       alpha: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.text.CorpusOps.tokenDriftFromCounts(refCounts, batch,
            sourceCol, textCol, alpha)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(monitorDir)
      }
      .start()
}
