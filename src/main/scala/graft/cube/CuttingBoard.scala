package graft.cube

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.Relational

/** The reference's CuttingBoard (bacon/cutting.py:21): a dataset + cubedef
  * with a slice cache and reuse strategies.
  *
  * Spark re-expression of the three reuse strategies:
  *  - ReuseCachedSlice (bacon/cutting.py:235): exact query → serve the
  *    persisted slice directly.
  *  - DrillOnFirstAxis (bacon/cutting.py:274) and ManipulateSlice
  *    (bacon/cutting.py:336): a persisted slice on a SUPERSET of axes
  *    answers the query by filtering on axis values and re-aggregating —
  *    touching only the (small) materialized aggregate, never the base
  *    data. This is classic OLAP cube materialization: at 100 TB the
  *    finer slice is maybe 10⁶ rows while the base is 10¹²; every
  *    dashboard drill-down after the first scan is served from it.
  *
  * [[Agg]] owns the merge rules, and the board runs its one merge
  * ([[Agg.merge]]) for a coarser-than-cached query, `append` and
  * `delete` (the deleted rows' slice merged as a negated delta):
  * Sum/Min/Max/Count/Union merge their finished values; the quotient
  * accumulators Avg/StdDev/RatioSum merge through the hidden companion
  * columns every cached slice carries ([[Agg.companions]]) and are
  * rebuilt after the merge — never avg-of-avgs. Only GroupConsistent
  * and the distinct-count family fall through to the base scan (no
  * bounded cached form merges them), exactly as a correct
  * materialized-view rewriter must.
  *
  * Serving form: a cached slice of at most [[CuttingBoard.LocalRows]]
  * rows is held on the driver, as a LocalRelation over its collected
  * rows, and that frame IS the cache entry — there is no second copy, so
  * every path that replaces or drops an entry (maintenance, eviction,
  * refresh, clear) replaces or drops the rows with it. An exact hit
  * folds into the LocalRelation at plan time and collects with no Spark
  * job; a reuse hit re-aggregates it through [[Agg.merge]] in one
  * single-task job with no shuffle. A larger slice stays a persisted
  * frame (MEMORY_AND_DISK). Every served frame is ordered and limited
  * by [[Slicer.present]], the rule a fresh slice ends with, so a hit
  * lists the rows a miss would. A board dropped without [[clear]] leaves
  * nothing persisted behind for its driver-held slices.
  *
  * Persistence: with `warehouseDir` set, every cached slice is ALSO
  * written as a parquet table named by a fingerprint of its query (plus a
  * tiny manifest holding the query's URL string, row count and creation
  * stamp). A later board over the same warehouse reloads those tables, so
  * materializations survive the driver — the real 100 TB materialized-
  * view story, where in-memory state dies with the session. The served
  * frame is built from the table just written (or reloaded): driver-held
  * when under the bound, else the persisted table read.
  *
  * Staleness: `maxAgeMillis` mirrors the reference's TTL'd dataset cache
  * (bacon/utils/cache.py:1-127 re-checks a callable dataset per slice):
  * once the board's data is older than the TTL, the next slice() first
  * refreshes — re-invoking `datasetSource` when given — and drops every
  * cached slice (memory and warehouse). `clock` is injectable for tests.
  *
  * Warehouse GC: in-memory eviction keeps the parquet table (a future
  * board may reload it), so a long-lived service accretes tables for
  * every distinct query it ever materialized. `maxWarehouseSlices` /
  * `maxWarehouseBytes` bound that: after every materializing write the
  * least-recently-SERVED tables (manifest mtime, touched on each reuse
  * hit) are deleted until both budgets hold. Tables backing a slice
  * still in the in-memory cache are never deleted — an over-bound
  * slice's persisted frame re-reads those files on block eviction (a
  * driver-held slice reads nothing back, but its table stays reloadable
  * for a future board) — they count toward the budget but only cold
  * tables are evictable.
  *
  * Warehouse concurrency: READERS are always safe — tables land
  * temp-then-swap and manifests rename atomically, so a second board's
  * reload (or a persisted frame's lazy re-read) sees a complete old or
  * complete new table, never a torn one. WRITERS within one JVM are
  * safe too: every filesystem mutation of a warehouse serializes on a
  * JVM-wide lock keyed by the dir's canonical path
  * ([[CuttingBoard.warehouseWriteLock]]), so two boards sharing a
  * warehouseDir cannot interleave a temp-dir clobber or a delete
  * mid-swap. ACROSS processes the contract is single-writer: two
  * writer PROCESSES on one warehouse are unguarded (as with any
  * filesystem-backed materialized-view store without a lock service) —
  * run one writing board per warehouse and any number of readers.
  */
final class CuttingBoard(
    initialDataset: DataFrame,
    val cubedef: CubeDef,
    maxSlices: Int = 20,
    warehouseDir: Option[String] = None,
    maxAgeMillis: Option[Long] = None,
    datasetSource: Option[() => DataFrame] = None,
    clock: () => Long = () => System.currentTimeMillis(),
    maxWarehouseSlices: Int = Int.MaxValue,
    maxWarehouseBytes: Long = Long.MaxValue,
) {
  /** A cached slice: its query, the frame it is served from (driver-held
    * or persisted, see [[hold]]), its exact row count
    * (known because slices are materialized eagerly on insert) and its
    * column width — rows × width is the cost input for cheapest-slice
    * selection (proportional to the cells a re-aggregation reads),
    * mirroring the reference's estimate_cost scoring
    * (bacon/cutting.py:216,262,313).
    */
  private final case class Cached(q: CubeQuery, df: DataFrame, rows: Long) {
    // width from the QUERY, not the frame: cached frames carry hidden
    // maintenance companions (__m_*) that the cost score must not count
    // — it keeps mirroring the reference's visible-cell count. Every
    // frame cached here carries the full companion set of its query's
    // measures (materialize rides companionAggs, reload checks for it,
    // maintenance keeps the layout), so reuse never re-checks columns.
    val width: Int = q.axes.length + math.max(q.valuesInSlice.length, 1)
    def cost: Long = rows * width
  }

  /** MRU cache: most recently used first (bacon keeps a deque of 20).
    * Volatile so [[gcWarehouse]] can re-read the pin set lock-free while
    * holding only the warehouse lock (board→warehouse is the only legal
    * lock order; taking the board lock there would deadlock against
    * refresh/purgePersisted).
    */
  @volatile private var cache: Vector[Cached] = Vector.empty
  private var current: DataFrame = initialDataset
  private var hitCount = 0L
  private var missCount = 0L
  private var lastRefreshMillis: Long = clock()

  /** Per-query-fingerprint compute locks: a miss holds only its own
    * query's lock while the (long) Spark job materializes, so concurrent
    * hits — and misses on OTHER queries — pass straight through the short
    * board-level critical sections instead of queueing behind it. Two
    * concurrent misses on the SAME query serialize here and the second
    * re-checks the cache, so the base scan runs once.
    */
  private val computeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  // Reload persisted slices: materialized views written by an earlier
  // board over the same warehouse. Unreadable or TTL-expired entries are
  // skipped (recompute is always sound). Filter values round-trip through
  // the labels' ValueCodecs (typed URL parse); codec-less non-string
  // values reload as strings and simply miss the cache — never wrong.
  warehouseDir.foreach { dir =>
    val d = new java.io.File(dir)
    d.mkdirs()
    val manifests = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("slice_") && f.getName.endsWith(".manifest"))
      .sortBy(-_.lastModified())
    manifests.take(maxSlices).foreach { mf =>
      try {
        val lines = java.nio.file.Files.readAllLines(mf.toPath)
        val url = lines.get(0)
        val created = lines.get(2).toLong
        val pq = new java.io.File(dir, mf.getName.stripSuffix(".manifest"))
        if (maxAgeMillis.forall(a => clock() - created <= a) && pq.exists()) {
          val q = UrlQueryBuilder.parse(url, cubedef)
          val reread = initialDataset.sparkSession.read
            .parquet(pq.getAbsolutePath)
          // every table this board writes carries the full companion set
          // for ITS CubeDef's measures; a table missing any (older
          // layout, or the same measure name re-declared with a
          // different accumulator — the URL fingerprint cannot see an
          // agg change) is skipped (recompute is always sound) rather
          // than cached as a frame the append/delete paths cannot
          // maintain
          if (Agg.companions(specs(q.valuesInSlice)).forall(c => reread.columns.contains(c._1))) {
            val (df, rows) = hold(reread)
            cache = cache :+ Cached(q, df, rows)
          }
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    // Tables beyond the reloaded set (or beyond the byte budget) are
    // dead weight from an earlier, larger board — collect them now.
    gcWarehouse(pinnedFingerprints)
  }

  def dataset: DataFrame = current
  def stats: (Long, Long) = (hitCount, missCount)

  /** The query of the cached slice that served the last reuse hit —
    * observable cost-based-selection evidence for specs/diagnostics.
    */
  @volatile var lastServedFrom: Option[CubeQuery] = None

  /** Execute a query, reusing a cached slice when possible.
    *
    * Locking: cache lookups/mutations take the (short) board lock; the
    * expensive part of a miss — the base scan + materializing write — runs
    * under a per-query lock only (`computeLocks`). CubeService serves HTTP
    * from one board, so a slow cold slice must not block every concurrent
    * cache hit.
    */
  def slice(q: CubeQuery): DataFrame = {
    synchronized { maybeAutoRefresh() }
    tryServe(q) match {
      case Some(df) => df
      case None =>
        val lock = computeLocks.computeIfAbsent(fingerprint(q), _ => new Object)
        lock.synchronized {
          // Re-check under the query lock: a concurrent miss on the same
          // query may have just cached it.
          tryServe(q).getOrElse {
            val base = synchronized { missCount += 1; lastServedFrom = None; current }
            if (cacheable(q)) {
              // Materialize eagerly: the caller's next action reads the cache
              // instead of re-firing the base scan, and the row count becomes
              // the cost estimate for later cheapest-slice selection. With a
              // warehouse, materialization IS the parquet write; the cached
              // frame reads the table back so even post-eviction the bytes
              // survive for a future board. The cached form is WIDE: the
              // query's own columns plus the hidden maintenance companions
              // (companionAggs) riding the same groupBy — the caller only
              // ever sees the query's columns.
              val wide = Slicer.slice(base, cubedef, q,
                extraAggs = companionAggs(q.valuesInSlice))
              val (persisted, rows) = materialize(q, wide)
              synchronized {
                if (cache.length >= maxSlices) {
                  // drop the in-memory handle; the parquet table (if any)
                  // stays for a future board, until the warehouse GC
                  // below reclaims it as LRU
                  cache.last.df.unpersist()
                  cache = cache.dropRight(1)
                }
                cache = Cached(q, persisted, rows) +: cache
              }
              // OUTSIDE the board lock: gcWarehouse blocks on the shared
              // per-warehouse write lock, which a peer board can hold
              // across a long materialize write — pinning this board's
              // lock for that duration would stall every tryServe hit
              gcWarehouse(pinnedFingerprints)
              val outCols =
                if (q.valuesInSlice.nonEmpty) q.axes ++ q.valuesInSlice
                else q.axes :+ "count"
              persisted.select(outCols.map(col): _*)
            } else Slicer.slice(base, cubedef, q)
          }
        }
    }
  }

  /** [[slice]] plus post-aggregation MEASURE predicates — the HAVING
    * face of the board (the §2.33 post-agg filter composed WITH the
    * reuse strategies instead of applied to a raw Slicer pass). Each
    * `having` term names a visible measure of `q` (or "count" on a
    * values-less query) and evaluates on the FINISHED served frame —
    * after cache serving, strategy-2 re-aggregation, hierarchy widening
    * and quotient rebuild — so a coarse HAVING query over an
    * Avg/StdDev/RatioSum measure is answered from a finer cached slice
    * through the companion columns at re-aggregation cost, never a base
    * rescan (previously only quotient VALUES served; a filter on one
    * recomputed). The underlying predicate-free query is what the cache
    * keys on, so ONE materialization serves every HAVING variant over
    * it — the right cache economics: measure thresholds vary per
    * dashboard interaction, the grouped slice does not.
    *
    * limit/offset are refused here: [[slice]] applies them before this
    * predicate could run (not HAVING semantics) — order and limit on
    * the returned frame instead.
    */
  def sliceHaving(q: CubeQuery, having: Seq[Filter]): DataFrame = {
    require(q.limit.isEmpty && q.offset.isEmpty,
      "sliceHaving: limit/offset would apply BEFORE the measure " +
        "predicate — compose them on the returned frame")
    // a pivoted slice renames measure columns per pivot value, so
    // col(f.name) would either fail unresolved or coincidentally match
    // a pivot-value column named like the measure — refuse loudly
    require(q.pivot.isEmpty,
      "sliceHaving: pivoted output has per-pivot-value columns — " +
        "apply HAVING on the unpivoted query, then pivot the result")
    having.foreach { f =>
      val ok =
        if (q.valuesInSlice.isEmpty) f.name == "count"
        else q.values.contains(f.name)
      require(ok, s"sliceHaving: '${f.name}' is not a visible measure of " +
        "this query (HAVING terms evaluate on the finished slice output)")
    }
    having.foldLeft(slice(q)) { (acc, f) =>
      acc.where(FilterOp.compile(f.op, col(f.name), f.value))
    }
  }

  /** Board-locked cache probe: returns the served frame on a hit. Plan
    * construction only — never runs a Spark job — so holding the board
    * lock here is cheap.
    */
  private def tryServe(q: CubeQuery): Option[DataFrame] = synchronized {
    reuse(q).map { df =>
      hitCount += 1
      // LRU recency for the warehouse GC: serving from a slice marks its
      // manifest as freshly used (reuse() just promoted it to the head).
      cache.headOption.foreach(c => touchManifest(fingerprint(c.q)))
      df
    }
  }

  /** Incremental maintenance: the dataset grows by `delta` and every
    * cached slice is brought current WITHOUT touching the (100 TB) base
    * table — the materialized-view maintenance step. A slice is
    * maintainable when every measure is [[Agg.mergeable]] (the same set
    * the drill-down reuse path re-aggregates): the slice is re-merged at
    * its own grain over cached ∪ delta-slice by the same [[Agg.merge]],
    * so quotients update through their companions too, at cost ∝
    * |delta| + |slice|, never ∝ |base|. Only GroupConsistent (and the
    * distinct-count family) still evicts: its finished value cannot be
    * merged and no bounded companion exists (all-agree-else-null needs
    * the group's value multiset). Evicted slices delete their warehouse
    * tables and manifests so a future board cannot reload a stale
    * materialization, and recompute on next touch. A values-less query
    * (the reference's default row count) maintains too: its synthetic
    * "count" column merges like Agg.Count.
    *
    * The delta must carry the base schema (unionByName). Counts stay
    * exact: a delta row lands in exactly one group of each slice, and
    * the merge rules are the accumulators' own merge semantics.
    */
  def append(delta: DataFrame): Unit = synchronized {
    current = current.unionByName(delta)
    maintain(delta, _.mergeable, negate = false)
  }

  /** Incremental DELETE maintenance — the takedown face of [[append]]:
    * the dataset shrinks by `deleted` and every cached slice is brought
    * current without touching the (100 TB) base table. A slice whose
    * measures are all [[Agg.invertible]] is updated at delta cost: the
    * deleted rows' slice is merged as a negated delta — every measure
    * and companion column negated, then the same [[Agg.merge]] as
    * [[append]]. Invertible means the cached form is a linear sum of
    * per-row contributions: Sum and Count directly, and Avg/StdDev/
    * RatioSum through their companions — the finished quotient is
    * rebuilt after. The always-present __m_n companion (count(*)) is the
    * SUPPORT indicator, so a group all of whose rows were deleted drops
    * out entirely (a zero-support row would be observably wrong, not
    * just stale) — a Sum-only slice needs no explicit Count for that. A
    * grand total keeps its one row, as [[Slicer.slice]] over no rows
    * does.
    * Min/Max/Union/GroupConsistent (and the distinct-count family) still
    * evict + recompute on next touch: they are not invertible from any
    * bounded cached form (deleting the max leaves no way to find the
    * runner-up without re-reading the group).
    * Sum inversion yields 0 (not NULL) for a group whose surviving rows
    * are all-NULL in the measure column — exact under the cube
    * convention that measure columns are non-null (the same caveat
    * applies to the Avg/StdDev/Ratio companion sums); evict-by-config if
    * that guarantee does not hold.
    *
    * `deleted` rows must be exact copies of base rows (the multiset
    * except); alternatively pass `keyCols` to delete by key (anti-join —
    * the O(|takedown|) form a 100 TB base wants). In the key form the
    * subtracted amounts are derived from the BASE rows the keys match
    * (a semi-join), never from the caller's frame — a takedown list
    * carries ids, not trustworthy measure values, and subtracting stale
    * values would silently corrupt every maintained slice. Updated
    * slices REWRITE their warehouse tables (temp-then-swap) and evicted
    * slices delete theirs, so a fresh board over the same warehouse can
    * never reload pre-delete bytes.
    */
  def delete(deleted: DataFrame, keyCols: Seq[String] = Seq.empty): Unit = synchronized {
    val base = current
    val (deletedRows, rest) =
      if (keyCols.isEmpty) (deleted, base.exceptAll(deleted))
      else {
        val keys = deleted.select(keyCols.map(col): _*).distinct()
        (base.join(keys, keyCols, "left_semi"), base.join(keys, keyCols, "left_anti"))
      }
    current = rest
    maintain(deletedRows, _.invertible, negate = true)
  }

  /** Bring every cached slice current after its base rows changed by
    * `rows` — added, or removed when `negate`. `rows` is sliced with the
    * slice's own query (same wide layout), every non-axis column of that
    * delta is negated for a removal (unary minus keeps the type), and
    * cached ∪ delta is merged at the slice's own grain by [[Agg.merge]];
    * after a removal, groups left with no rows (`__m_n` = 0) drop out,
    * except an axis-less (grand-total) slice's one row, which becomes
    * what [[Slicer.slice]] gives over no rows (NULL sums, zero counts).
    * The result replaces the slice and its warehouse table. A slice with
    * a measure failing `keep` is evicted instead, warehouse table
    * included, and recomputes on next touch.
    */
  private def maintain(rows: DataFrame, keep: Agg => Boolean, negate: Boolean): Unit = {
    cache = cache.flatMap { c =>
      val ms = specs(c.q.valuesInSlice)
      if (!ms.forall(m => keep(m._3))) {
        c.df.unpersist()
        dropPersisted(c.q)
        None
      } else {
        val layout = c.df.columns.toSeq
        val signed = layout.map { v =>
          if (negate && !c.q.axes.contains(v)) (-col(v)).as(v) else col(v)
        }
        val delta = Slicer.slice(rows, cubedef, c.q,
          extraAggs = companionAggs(c.q.valuesInSlice)).select(signed: _*)
        val merged = Agg.merge(c.df.unionByName(delta), c.q.axes.map(col), ms)
        val kept =
          if (!negate) merged
          else if (c.q.axes.nonEmpty) merged.where(col("__m_n") > 0)
          else {
            // a grand total keeps its one row: the slice of no rows is
            // the merge's identity, so merging it in keeps the live row,
            // or gives Slicer.slice's empty-input row once none is left
            val empty = Slicer.slice(rows.limit(0), cubedef, c.q,
              extraAggs = companionAggs(c.q.valuesInSlice))
            Agg.merge(merged.where(col("__m_n") > 0).unionByName(empty), Nil, ms)
          }
        val (persisted, n) = materialize(c.q, kept.select(layout.map(col): _*))
        c.df.unpersist()
        Some(Cached(c.q, persisted, n))
      }
    }
    gcWarehouse(pinnedFingerprints)
  }

  /** A slice's measures as the merge rules see them ([[Agg.Spec]]). A
    * values-less query slices to the reference's default row count — a
    * synthetic Count measure named "count".
    */
  private def specs(vals: Vector[String]): Seq[Agg.Spec] =
    if (vals.isEmpty) Seq(("count", lit(1), Agg.Count))
    else vals.map { v => val m = cubedef.measure(v); (v, m.expr, m.agg) }

  /** Hidden maintenance companions ([[Agg.companions]]) riding the
    * cached slice's own groupBy — one pass, one shuffle (Slicer.slice's
    * extraAggs).
    */
  private def companionAggs(vals: Vector[String]): Seq[Column] =
    Agg.companions(specs(vals)).map { case (n, c) => c.as(n) }

  /** Materialize a computed slice: warehouse write + read-back when a
    * warehouse exists (the bytes survive the driver), then [[hold]] the
    * result — driver-held under [[CuttingBoard.LocalRows]] rows,
    * persisted above. Returns the frame to cache and its exact row count.
    *
    * The write lands in a temp directory first and is swapped into the
    * final `slice_<fp>` name only when complete. An over-bound slice's
    * `append` merges FROM its own persisted table (c.df reads
    * slice_<fp>): a direct mode("overwrite") there would delete the very
    * files the merge plan re-reads if any persisted block got evicted
    * mid-write — failing the job or, worse, committing a slice computed
    * from half-deleted input. Temp-then-swap means the plan's source
    * files stay intact until the new table is fully written (same
    * pattern as writeManifest and Sources.compact). A driver-held slice
    * merges from its LocalRelation and reads no file, so for it the swap
    * only keeps readers of the warehouse from seeing a torn table. A
    * crash between delete and move leaves a manifest pointing at a
    * missing table — reload's `pq.exists()` check skips it and the slice
    * recomputes, which is sound.
    */
  private def materialize(q: CubeQuery, computed: DataFrame): (DataFrame, Long) =
    warehouseDir match {
      case Some(dir) => CuttingBoard.warehouseWriteLock(dir).synchronized {
        val fp = fingerprint(q)
        val tmp = new java.io.File(dir, s".slice_$fp.tmp")
        val dst = new java.io.File(dir, s"slice_$fp")
        deleteRecursively(tmp)
        computed.write.mode("overwrite").parquet(tmp.getAbsolutePath)
        deleteRecursively(dst)
        java.nio.file.Files.move(tmp.toPath, dst.toPath)
        val (held, n) = hold(computed.sparkSession.read.parquet(dst.getAbsolutePath))
        writeManifest(dir, fp, s"${UrlQueryBuilder.toUrlString(q, cubedef)}\n$n\n${clock()}\n")
        touchManifest(fp) // GC recency from the injectable clock, not FS time
        (held, n)
      }
      case None => hold(computed)
    }

  /** The frame a slice is served from, and its exact row count. A slice
    * of at most [[CuttingBoard.LocalRows]] rows is collected and held on
    * the driver as a LocalRelation: exact hits fold into it at plan time
    * (ConvertToLocalRelation) and collect with no Spark job, and reuse
    * hits re-aggregate it in one single-task job with no shuffle. A
    * larger slice stays a persisted frame. The frame is persisted before
    * the bounded collect, so an over-bound slice computes once: the
    * collect stops at the bound and the count fills the rest.
    */
  private def hold(stored: DataFrame): (DataFrame, Long) = {
    val p = stored.persist(StorageLevel.MEMORY_AND_DISK)
    Relational.collectIfAtMost(p.coalesce(1), CuttingBoard.LocalRows) match {
      case Some(rows) =>
        p.unpersist()
        (Relational.localTable(p.sparkSession, rows, p.schema), rows.length.toLong)
      case None => (p, p.count())
    }
  }

  /** Mark a slice's materialization as freshly used (GC recency). Uses
    * the injectable clock so specs can order evictions deterministically.
    */
  private def touchManifest(fp: String): Unit = warehouseDir.foreach { dir =>
    new java.io.File(dir, s"slice_$fp.manifest").setLastModified(clock())
    ()
  }

  /** Enforce the warehouse budgets: while the slice count exceeds
    * `maxWarehouseSlices` or the total table+manifest bytes exceed
    * `maxWarehouseBytes`, delete the least-recently-served COLD
    * materialization (manifest mtime order; fingerprints in the
    * in-memory cache are pinned — an over-bound slice's persisted frame
    * lazily re-reads the table files; a driver-held slice needs no file
    * to serve, and its pin only keeps the table reloadable while the
    * slice is live). Runs WITHOUT the board lock (only the shared
    * per-warehouse write lock), so the caller's pin snapshot can go
    * stale: a concurrent miss on this board may materialize AND cache a
    * new slice between the snapshot and this GC. Two defenses close
    * that window without inverting the board→warehouse lock order:
    * (1) once inside the warehouse lock the pin set is re-derived from
    * a lock-free read of the volatile [[cache]] reference, and (2) any
    * manifest touched at or after the snapshot's clock is exempt this
    * pass — covering a slice whose materialize finished but whose cache
    * insert is not yet visible (manifest mtimes and the recency bound
    * share the injectable `clock`, so the comparison is exact; a
    * recently-touched survivor is re-considered on the next GC).
    * Driver-side directory walking only — the warehouse holds aggregate
    * slices (bounded by group cardinality), never base data, and runs
    * after a materializing write, not per serve.
    */
  private def gcWarehouse(snapshot: PinSnapshot): Unit = warehouseDir.foreach { dir =>
    if (maxWarehouseSlices == Int.MaxValue && maxWarehouseBytes == Long.MaxValue) return
    CuttingBoard.warehouseWriteLock(dir).synchronized {
      val live = snapshot.pinned ++ cache.map(c => fingerprint(c.q))
      gcWarehouseLocked(dir, live, snapshot.atClock)
    }
  }

  /** A pin snapshot: the fingerprints the in-memory cache pins plus the
    * clock at snapshot time (the recency bound for [[gcWarehouse]]'s
    * exemption). Taken under the board lock — [[gcWarehouse]] itself
    * runs WITHOUT the board lock, because it blocks on the shared
    * per-warehouse write lock (held by a peer board across a whole
    * materialize parquet write); taking the snapshot separately keeps
    * this board's tryServe cache hits responsive during a peer's long
    * write.
    */
  private final case class PinSnapshot(pinned: Set[String], atClock: Long)

  private def pinnedFingerprints: PinSnapshot =
    synchronized { PinSnapshot(cache.map(c => fingerprint(c.q)).toSet, clock()) }

  private def gcWarehouseLocked(dir: String, pinned: Set[String],
      snapClock: Long): Unit = {
    def entries = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("slice_") && f.getName.endsWith(".manifest"))
      .map { mf =>
        val fp = mf.getName.stripPrefix("slice_").stripSuffix(".manifest")
        val table = new java.io.File(dir, s"slice_$fp")
        (fp, mf.lastModified(), totalBytes(table) + mf.length())
      }
    var es = entries
    var evictable = es.filterNot(e => pinned(e._1) || e._2 >= snapClock)
      .sortBy(_._2).toList
    while ((es.length > maxWarehouseSlices || es.map(_._3).sum > maxWarehouseBytes)
        && evictable.nonEmpty) {
      val (fp, _, _) = evictable.head
      evictable = evictable.tail
      deleteRecursively(new java.io.File(dir, s"slice_$fp"))
      new java.io.File(dir, s"slice_$fp.manifest").delete()
      es = es.filterNot(_._1 == fp)
    }
  }

  private def totalBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(totalBytes).sum
    else if (f.exists()) f.length() else 0L

  /** Delete one slice's warehouse table + manifest (eviction that must
    * not resurrect on reload — e.g. made stale by `append`).
    */
  private def dropPersisted(q: CubeQuery): Unit = warehouseDir.foreach { dir =>
    CuttingBoard.warehouseWriteLock(dir).synchronized {
      val fp = fingerprint(q)
      deleteRecursively(new java.io.File(dir, s"slice_$fp"))
      new java.io.File(dir, s"slice_$fp.manifest").delete()
      ()
    }
  }

  /** Atomic manifest write: temp name + rename, so a writer crashing
    * mid-write can never leave a torn `slice_*.manifest` that silently
    * skips a valid slice table on reload (the reload's NonFatal catch
    * would eat the parse error). The `.manifest` name only ever appears
    * with complete contents; the rename is atomic on POSIX and HDFS-style
    * stores alike.
    */
  private def writeManifest(dir: String, fp: String, contents: String): Unit = {
    val tmp = java.nio.file.Paths.get(dir, s".slice_$fp.manifest.tmp")
    val dst = java.nio.file.Paths.get(dir, s"slice_$fp.manifest")
    java.nio.file.Files.writeString(tmp, contents)
    java.nio.file.Files.move(tmp, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Stable filesystem-safe name for a query's materialization. */
  private def fingerprint(q: CubeQuery): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(UrlQueryBuilder.toUrlString(q, cubedef).getBytes("UTF-8"))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** TTL check (bacon/utils/cache.py analogue): an expired board
    * refreshes itself before serving — from `datasetSource` when
    * configured, else just dropping every (stale) cached slice.
    */
  private def maybeAutoRefresh(): Unit =
    maxAgeMillis.foreach { maxAge =>
      if (clock() - lastRefreshMillis > maxAge)
        refresh(datasetSource.map(_()).getOrElse(current))
    }

  /** Swap in a refreshed dataset (the reference's dataset is a callable
    * re-checked per slice, bacon/cutting.py:122): every cached slice is
    * stale by definition, so the cache is dropped and unpersisted — and
    * with a warehouse, the persisted slice tables are deleted too.
    */
  def refresh(newDataset: DataFrame): Unit = synchronized {
    clear()
    purgePersisted()
    current = newDataset
    lastRefreshMillis = clock()
  }

  /** Delete every persisted slice table + manifest in the warehouse. */
  private def purgePersisted(): Unit = warehouseDir.foreach { dir =>
    CuttingBoard.warehouseWriteLock(dir).synchronized {
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("slice_") || f.getName.startsWith(".slice_"))
        .foreach(deleteRecursively)
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** The un-aggregated filtered dataset (bacon CuttingBoard.filter). */
  def filter(q: CubeQuery): DataFrame = Slicer.filter(current, cubedef, q)

  /** Pivot/limit/ordered queries are served but not cached (their shape
    * is presentation-specific; the underlying groupBy IS cacheable when
    * issued plainly).
    */
  private def cacheable(q: CubeQuery): Boolean =
    q.pivot.isEmpty && q.limit.isEmpty && q.offset.isEmpty

  private def promote(i: Int): Unit =
    if (i > 0) cache = cache(i) +: (cache.take(i) ++ cache.drop(i + 1))

  private def truncExpr(unit: String, c: org.apache.spark.sql.Column) = unit match {
    case "day" => to_date(c)
    case u     => trunc(c, u)
  }

  /** Resolve a wanted label to a Column over a cached slice's axes:
    * either the axis itself, or — hierarchy widening — a date label
    * derived by truncating a FINER cached date axis (month from a
    * day-grained slice). This is the classic materialized-view rewrite
    * along the time dimension: at 100 TB the day-grained slice is maybe
    * 10⁶ rows, so every coarser period query after the first scan costs
    * one tiny re-aggregation instead of a base-table pass.
    *
    * Widening requires TRUE period containment (day ⊂ month ⊂ quarter ⊂
    * year). A week-grained cached axis is never a valid source for a
    * coarser period: ISO weeks straddle year boundaries (the week of
    * 2019-12-30 contains 2020 days), so trunc(week_start, 'year') would
    * silently aggregate boundary weeks into the wrong year even though
    * week is childOf year in the hierarchy DAG.
    */
  private def overSlice(name: String, cachedAxes: Vector[String]): Option[org.apache.spark.sql.Column] = {
    if (cachedAxes.contains(name)) return Some(col(name))
    if (!cubedef.hasLabel(name)) return None
    cubedef.label(name).codec.collect { case ValueCodec.DateUnitCodec(u) => u }
      .flatMap { unit =>
        cachedAxes.find { a =>
          cubedef.hasLabel(a) && cubedef.ancestors(a).contains(name) &&
            cubedef.label(a).codec.exists {
              case ValueCodec.DateUnitCodec(srcUnit) => srcUnit != "week" || unit == "week"
              case _ => false
            }
        }.map(a => truncExpr(unit, col(a)))
      }
  }

  private def reuse(q: CubeQuery): Option[DataFrame] = {
    // Pivot queries produce a wide shape the cached (long) slices cannot
    // serve — a pivot query can otherwise match Strategy 1/2 on its axes
    // and be answered in the wrong shape.
    if (q.pivot.nonEmpty) return None
    // Strategy 1: exact slice (axes + filters match, values covered).
    // All exact matches answer with zero re-aggregation, so cost ties —
    // take the most recently used.
    val exact = cache.indexWhere { c =>
      c.q.axes == q.axes &&
        c.q.filters.toSet == q.filters.toSet &&
        q.valuesInSlice.toSet.subsetOf(c.q.valuesInSlice.toSet)
    }
    if (exact >= 0) {
      promote(exact)
      val c = cache.head
      lastServedFrom = Some(c.q)
      // a values-less query's slice is the synthetic row count: a
      // values-less CACHED slice's own "count" column, or — when the
      // exact match is a value-carrying slice (∅ ⊆ anything) — the
      // __m_n companion, which IS count(*) at the same (axes, filters).
      // The dispatch keys on the cached QUERY's shape, never on column
      // presence: a value-carrying slice whose user measure is merely
      // NAMED "count" (Sum of an arbitrary column) must not be served
      // as a row count (strategy-2's rule, applied here too). Otherwise
      // the visible values; companions never leave here.
      val served: Seq[org.apache.spark.sql.Column] =
        if (q.valuesInSlice.isEmpty)
          q.axes.map(col) :+ (if (c.q.valuesInSlice.isEmpty) col("count")
            else col("__m_n").as("count"))
        else (q.axes ++ q.values).map(col)
      return Some(Slicer.present(c.df.select(served: _*), q))
    }

    // Strategy 2: re-aggregate a finer cached slice. Conditions mirror
    // ManipulateSlice.is_compatible (bacon/cutting.py:346), widened along
    // date hierarchies: every wanted axis and every extra filter must be
    // resolvable over the cached axes — directly, or derived by
    // truncating a finer cached date axis (overSlice); cached filters ⊆
    // wanted filters; every wanted value present and mergeable.
    //
    // ALL compatible slices are scored and the cheapest wins — the
    // reference scores every strategy × cached slice with estimate_cost
    // and takes the min (bacon/cutting.py:216,262,313,378). Cost here is
    // rows × width (the cells the re-aggregation must read): a tiny
    // exact-grain slice beats a huge finer one regardless of MRU
    // position, and a narrow finer slice beats a wide one whose fewer
    // rows carry more columns.
    val finerIdx = cache.indices.filter { i =>
      val cq = cache(i).q
      // A cached slice grouped on a SET axis was exploded per-element —
      // each base row contributed once per element — so dropping that
      // axis in a re-aggregation would multi-count rows. Such a slice
      // only serves queries that keep every set axis it has.
      val setAxesKept = cq.axes
        .filter(a => cubedef.hasLabel(a) && cubedef.label(a).isSet)
        .forall(q.axes.contains)
      setAxesKept &&
        q.axes.forall(a => overSlice(a, cq.axes).isDefined) &&
        cq.filters.toSet.subsetOf(q.filters.toSet) &&
        (q.filters.toSet -- cq.filters.toSet).forall(f => overSlice(f.name, cq.axes).isDefined) &&
        q.valuesInSlice.toSet.subsetOf(cq.valuesInSlice.toSet) &&
        specs(q.valuesInSlice).forall(_._3.mergeable)
    }
    if (finerIdx.nonEmpty) {
      val best = finerIdx.minBy(i => (cache(i).cost, i))
      promote(best)
      val Cached(cq, df, rows) = cache.head
      lastServedFrom = Some(cq)
      val extraFilters = q.filters.toSet -- cq.filters.toSet
      // a driver-held slice is one partition: the merge below plans
      // without an Exchange and runs as one single-task job
      val source = if (rows <= CuttingBoard.LocalRows) df.coalesce(1) else df
      // Extra filters evaluate against the slice's axis columns (already
      // computed values) or their hierarchy-derived truncations, never
      // the base expressions.
      val filtered = extraFilters.foldLeft(source) { (acc, f) =>
        acc.where(FilterOp.compile(f.op, overSlice(f.name, cq.axes).get, f.value))
      }
      val axisCols = q.axes.map(a => overSlice(a, cq.axes).get.as(a))
      // a values-less query (the reference's default row count) re-sums
      // the cached per-group __m_n support, never a visible "count": a
      // value-carrying slice may hold a user measure merely NAMED count
      val (ms, out) =
        if (q.valuesInSlice.isEmpty) (Nil, q.axes.map(col) :+ col("__m_n").as("count"))
        else (specs(q.valuesInSlice), (q.axes ++ q.values).map(col))
      return Some(Slicer.present(Agg.merge(filtered, axisCols, ms).select(out: _*), q))
    }

    None
  }

  /** Unpersist everything (end of session). */
  def clear(): Unit = synchronized {
    cache.foreach(_.df.unpersist())
    cache = Vector.empty
    lastServedFrom = None
  }
}

object CuttingBoard {
  /** Slices of at most this many rows are held on the driver
    * (CuttingBoard.hold); larger ones stay persisted frames.
    */
  private[cube] val LocalRows = 100000L

  /** JVM-wide per-warehouse write locks (canonical path → monitor):
    * every filesystem MUTATION of a warehouse — slice-table
    * temp-then-swap, manifest write, eviction delete, purge, GC —
    * serializes here, so two boards sharing one warehouseDir in the
    * same JVM can never interleave a temp-dir clobber or a delete
    * mid-swap. Lock ordering: this is the INNERMOST lock (taken under
    * the board lock or a per-query compute lock, never the reverse),
    * so no cycle is possible. Cross-process write safety is the
    * documented single-writer contract (see the class scaladoc).
    */
  private val warehouseWriteLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def warehouseWriteLock(dir: String): Object =
    warehouseWriteLocks.computeIfAbsent(
      new java.io.File(dir).getCanonicalPath, _ => new Object)
}
