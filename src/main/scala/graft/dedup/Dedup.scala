package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructType}
import graft.ops.Relational
import graft.text.TextFunctions._

/** Deduplication family for web-scale corpora.
  *
  * Scale design: every variant avoids the O(n²) cross join. Exact dedup is
  * a hash groupBy (one shuffle on the digest). Near-dup variants build an
  * inverted index (explode → shuffle on shingle/band/bucket key) so only
  * documents sharing a key ever meet; document text itself is never
  * shuffled — only ids and signatures.
  */
object Dedup {

  /** Exact dedup via content fingerprint. Returns one row per distinct
    * content with the canonical (minimum) id and the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Near-duplicate pairs by exact n-gram Jaccard over word k-shingles.
    * Inverted index join: docs meet only on shared shingles; |A∩B| is the
    * per-pair match count, |A∪B| from the per-doc shingle counts.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.5,
                        stopShingleFraction: Double = 1.0): DataFrame =
    ngramJaccardPairsFromArtifacts(
      shingleIntersections(df, idCol, textCol, k, stopShingleFraction), threshold)

  /** Shared inverted-index core of the exact-shingle pair family: one row
    * per unordered candidate pair (id1 < id2) with the per-doc shingle
    * counts and the exact intersection size — [[ngramJaccardPairs]] and
    * [[containmentPairs]] differ only in the coefficient they derive from
    * (inter, sz1, sz2).
    */
  private def shingleIntersections(df: DataFrame, idCol: String, textCol: String,
                                   k: Int, stopShingleFraction: Double): DataFrame =
    shingleIntersectionsFromPostings(shinglePostings(df, idCol, textCol, k),
      approxRowCount(df), stopShingleFraction)

  /** Hashed shingle postings of a corpus: one row per (doc, distinct word
    * k-shingle) as (id, sz, sh) with sz the doc's distinct-shingle count
    * and sh the shingle's 64-bit hash. The inverted-index join key is the
    * hash, not the string: exchanges shuffle 8-byte longs instead of
    * ~10s-of-bytes text, and key comparison is integer equality. Counts
    * are unchanged (shingleSet is per-doc distinct; a cross-doc hash
    * collision would need ~2^32 distinct shingles to become likely).
    *
    * This is the DIRECT form's working set; the shared derived artifact
    * a multi-consumer pipeline materializes instead is
    * [[minhashArtifacts]], whose df-sorted arrays additionally enable
    * the prefix-filtered pair mining
    * ([[ngramJaccardPairsFromArtifacts]] /
    * [[containmentPairsFromArtifacts]]).
    */
  def shinglePostings(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3): DataFrame = {
    val docs = df.select(col(idCol).as("id"), shingleSet(col(textCol), k).as("shingles"))
    shingleHashes(docs, col("shingles"), "sh")(col("id"), size(col("shingles")).as("sz"))
  }

  /** One row per (input row, element of the shingle array `shingles`):
    * the `keep` columns, evaluated against `df`, and the shingle's
    * 64-bit hash as `hashAs` — the hashed-shingle rows every
    * inverted-index join of this family meets on.
    */
  private def shingleHashes(df: DataFrame, shingles: Column, hashAs: String)(
      keep: Column*): DataFrame = {
    val exploded = df.select(keep :+ explode(shingles).as("sh0"): _*)
    exploded.select(exploded.columns.init.map(col) :+ xxhash64(col("sh0")).as(hashAs): _*)
  }

  /** The inverted-index pair core over prebuilt postings (the
    * [[shinglePostings]] shape) — the DIRECT from-text form. The scale
    * path is [[ngramJaccardPairsFromArtifacts]] /
    * [[containmentPairsFromArtifacts]]: prefix-filtered mining over the
    * materialized artifact store.
    */
  private def shingleIntersectionsFromPostings(sh0: DataFrame, nDocs: => Long,
      stopShingleFraction: Double): DataFrame = {
    // Optional web-scale stop-shingle cut: shingles occurring in more
    // than `stopShingleFraction` of docs generate quadratic join fanout
    // while carrying almost no near-dup signal (standard w-shingling
    // practice). 1.0 = off (exact |A∩B| counts, the oracle default).
    val sh =
      if (stopShingleFraction >= 1.0) sh0
      else {
        // Materialize the hashed inverted index ONCE: it is consumed
        // four times below (hot-shingle count, per-doc size recompute,
        // both sides of the pair self-join), and without the checkpoint
        // each consumer re-runs scan + tokenize + shingle + hash from
        // the raw text — ~5 evaluations of the expensive pipeline
        // instead of 1. The stored rows are (id, 8-byte shingle hash):
        // a fraction of the source text, so storing beats recomputing
        // at any scale.
        val sh0c = sh0.drop("sz").localCheckpoint(true)
        val hot = sh0c.groupBy("sh").agg(count(lit(1)).as("df"))
          .where(col("df") > lit(stopShingleFraction * nDocs))
          .select(col("sh").as("hot_sh"))
        val kept = sh0c.join(broadcast(hot), col("sh") === col("hot_sh"), "left_anti")
        // coefficients are then computed over the REDUCED shingle
        // universe, so |A| and |B| must be the post-cut counts too
        val sz2 = kept.groupBy("id").agg(count(lit(1)).as("sz2"))
        kept.join(sz2, "id").withColumnRenamed("sz2", "sz")
      }
    postingPairCounts(sh)
  }

  /** The postings self-join-and-count under both exact-shingle pair
    * cores: (id, sz, sh) postings in, one row per unordered pair
    * sharing a shingle out, as (id1 < id2, sz1, sz2, inter).
    */
  private def postingPairCounts(sh: DataFrame): DataFrame = {
    val a = sh.alias("a"); val b = sh.alias("b")
    a.join(b, col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))
      .agg(count(lit(1)).as("inter"))
  }

  /** [[ngramJaccardPairs]] over a prebuilt [[shinglePairsFromArtifacts]]
    * table — the projection the direct from-text call runs over its own
    * pair core (store-fed == direct is spec-pinned in both cut regimes),
    * priced as a per-row projection:
    * J = inter/(sz1+sz2-inter), exact rational threshold compare, THEN
    * 6dp rounding. Requires `threshold >= the pair table's minCoeff`
    * (J <= max-containment, so nothing a valid caller needs was
    * pruned).
    */
  def ngramJaccardPairsFromArtifacts(pairs: DataFrame,
                                     threshold: Double = 0.5): DataFrame =
    pairs
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))

  /** [[containmentPairs]] over a prebuilt [[shinglePairsFromArtifacts]]
    * table — both directions projected from the single unordered-pair
    * row; the direct form runs this projection over its own pair core.
    * Requires `threshold >= the pair table's minCoeff` (each direction's
    * C <= max-containment).
    */
  def containmentPairsFromArtifacts(pairs: DataFrame,
                                    threshold: Double = 0.5): DataFrame = {
    val fwd = pairs.select(col("id1").as("id"), col("id2").as("container_id"),
      (col("inter").cast("double") / col("sz1")).as("containment"))
    val rev = pairs.select(col("id2").as("id"), col("id1").as("container_id"),
      (col("inter").cast("double") / col("sz2")).as("containment"))
    fwd.union(rev)
      .where(col("containment") >= threshold)
      .select(col("id"), col("container_id"),
        round(col("containment"), 6).as("containment"))
  }

  /** Asymmetric near-duplicate CONTAINMENT pairs over word k-shingles:
    * C(A→B) = |A∩B| / |A| (Broder 1997's containment coefficient, "On the
    * resemblance and containment of documents"). Jaccard misses a short
    * document embedded verbatim in a much longer one — |A∪B| is dominated
    * by the long side, so J stays low however complete the overlap —
    * while containment is exactly the quote/wrapper/superset-duplication
    * detector: C(A→B) = 1 means every shingle of A appears in B.
    *
    * Output: (id, container_id, containment) — one row per ORDERED pair
    * with C(id→container) ≥ threshold; mutual near-identical duplicates
    * appear in both directions, a strict subset relation in one.
    *
    * Scale shape: identical to [[ngramJaccardPairs]] — the same hashed
    * inverted-index self-join aggregates each unordered pair once
    * ((inter, sz1, sz2) per pair), and both directions project from that
    * single row; no second join, no extra shuffle. The same stop-shingle
    * cut bounds hot-key fanout at web scale (coefficients then measured
    * over the reduced shingle universe, counts consistently post-cut).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, threshold: Double = 0.5,
                       stopShingleFraction: Double = 1.0): DataFrame =
    containmentPairsFromArtifacts(
      shingleIntersections(df, idCol, textCol, k, stopShingleFraction), threshold)

  /** Materialize the deduplicated corpus: keep exactly one row (the
    * minimum-id document) per distinct content fingerprint, preserving
    * all original columns. One shuffle on the digest — the `exact`
    * operator's group view turned into the dataset a training pipeline
    * actually consumes.
    */
  def keepCanonical(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol).asc)
    df.withColumn("__fp", fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Quality-ranked canonical selection: given near-dup pairs, keep ONE
    * document per duplicate cluster — the one with the HIGHEST score
    * (ties break to the lowest id) — plus every unclustered document
    * untouched. This is the dedup decision a real pipeline wants:
    * min-id canonical ([[keepCanonical]]) discards quality information,
    * while near-dup clusters usually contain one clean original and
    * several mangled copies.
    *
    * `scoreCol` is evaluated against `df`'s rows (e.g.
    * `round(TextFunctions.qualityScore(col("text")), 6)` — round it so
    * the ranking replays identically on any engine). Returns the
    * surviving rows of `df`, original columns intact.
    *
    * Scale shape: clusters come from [[duplicateClustersStar]]
    * (pair-graph sized, not corpus sized; a driver-held table when the
    * graph is small); winners are one `max_by` aggregation over
    * ONLY the clustered rows (score + negated id packed in a struct —
    * no window, no row_number shuffle over the full corpus); the final
    * step is a single left-anti join of the corpus against the
    * loser-id table (dup-graph sized; AQE broadcasts it when it fits).
    * Unclustered documents — the overwhelming majority at web scale —
    * never shuffle at all.
    */
  def keepBestInCluster(df: DataFrame, idCol: String, pairs: DataFrame,
                        scoreCol: org.apache.spark.sql.Column,
                        id1: String = "id1", id2: String = "id2"): DataFrame = {
    val clusters = duplicateClustersStar(pairs, id1, id2) // (id, cluster_id)
    val scored = df.select(col(idCol).cast("long").as("__did"), scoreCol.as("__score"))
    val winners = scored.join(clusters, col("__did") === col("id"))
      .groupBy(col("cluster_id"))
      // struct compare is lexicographic: max score first, then max(-id)
      // = min id — deterministic without a second ordering pass.
      .agg(max_by(col("__did"), struct(col("__score"), negate(col("__did"))))
        .as("__keep"))
    val losers = clusters.join(winners, Seq("cluster_id"))
      .where(col("id") =!= col("__keep"))
      .select(col("id").as("__lose"))
    df.join(losers, df(idCol).cast("long") === col("__lose"), "left_anti")
  }

  /** Partition count for the contraction loop's exchanges, sized from
    * the MEASURED row count of the loop's largest frame (~4M two-long
    * rows ≈ 64–128 MB a partition, the guide's advisory range) instead
    * of the session's shuffle partitions — the session
    * constant is tuned for corpus-sized scans and over-splits the
    * loop-sized frames by orders of magnitude (measured on d42 at
    * sf0.1: 2,966 tasks / 139 s summed task time for 2 MB of shuffle).
    * Two regimes:
    *  - small graphs: enough partitions to FILL the available cores at
    *    ≥ ~32k edge rows a task (below that, per-task fixed cost beats
    *    the parallelism — a 3k-edge round on one core beats 32
    *    near-empty tasks), capped at defaultParallelism (cluster-aware,
    *    not a local constant);
    *  - large graphs: ~4M two-long rows ≈ 64–128 MB a partition (the
    *    guide's advisory range), growing with the graph, no upper cap —
    *    a trillion-edge graph legitimately wants ~250k partitions.
    * The max of the two hands over exactly where the byte sizing
    * starts asking for more than the core count (measured: the pure
    * 4M-row form ran d42's 350k-edge sf10 rounds on ONE core and
    * regressed 19.7 → 29 s; this form restores the parallelism small
    * real rounds need while keeping the 3k-edge sf0.1 rounds on one).
    */
  private[dedup] def loopPartitions(rows: Long, cores: Int): Int = {
    val bySize = (rows + 3999999L) / 4000000L
    val byCores = math.min((rows + 31999L) / 32000L, cores.toLong)
    math.max(1L, math.max(bySize, byCores)).toInt
  }

  /** Pair or edge rows at or under which connected components finish
    * on the driver. A union-find over 100k edges takes milliseconds, and
    * its labels fit a driver-held table the size CuttingBoard holds its
    * slices at; a distributed contraction round costs at least two jobs
    * whatever its size.
    */
  private val DriverFinishRows = 100000L

  /** Duplicate clusters: connected components of the pair graph. The
    * output (id, cluster_id) has one row for every id in `pairs`, with
    * cluster_id the minimum id of its component; a NULL id joins no
    * component and gets (NULL, NULL). Throws rather than return partial
    * labels if `maxIter` rounds do not converge.
    *
    * A graph of at most [[DriverFinishRows]] pair rows is collected in
    * one job and labelled on the driver by union-find; the labels come
    * back as a driver-held [[graft.ops.Relational.localTable]], so
    * filters and joins over them run no job of their own. A larger graph
    * runs alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014)
    * until its edge set fits the bound, then finishes the same way and
    * joins the labels back to the ids.
    * Per alternating round, every node re-points its neighborhood at the
    * neighborhood minimum: large-star re-points strictly LARGER
    * neighbors, small-star the rest. The edge set CONTRACTS monotonically
    * toward one star per component (root = component min), so late
    * rounds shuffle a fraction of E, and rounds stay O(log n) on the
    * pathological high-diameter shape (chains of hub-bridged near-dup
    * groups). Ids of a non-integral type run the rounds to convergence:
    * the driver union-find orders ids as longs.
    */
  def duplicateClustersStar(pairs: DataFrame, id1: String = "id1",
                            id2: String = "id2", maxIter: Int = 30): DataFrame =
    contractComponents(pairs, id1, id2, maxIter, DriverFinishRows)._1

  /** [[duplicateClustersStar]] with its driver-finish row bound as a
    * parameter (0 runs the distributed rounds to convergence on any
    * non-empty edge set). Returns the labels and the number of
    * contraction rounds run.
    */
  private[dedup] def contractComponents(pairs: DataFrame, id1: String, id2: String,
                                        maxIter: Int, finishRows: Long): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val (a, b) = (col(id1), col(id2))
    val nodes = pairs.select(a.as("n")).unionByName(pairs.select(b.as("n"))).distinct()
    val idField = nodes.schema("n")
    val bound = idField.dataType match {
      case ByteType | ShortType | IntegerType | LongType => finishRows
      case _ => -1L
    }
    def labelTable(rows: Array[Row], node: String, root: String): DataFrame =
      Relational.localTable(spark, unionFind(rows),
        StructType(Seq(idField.copy(name = node), idField.copy(name = root))))
    // Raw pairs, not distinct edges: the union-find takes repeats,
    // self-pairs and NULL ids, and a collect with no shuffle runs one job
    val small = if (bound < 0) None else Relational.collectIfAtMost(
      pairs.select(a.cast(idField.dataType), b.cast(idField.dataType)), bound)
    small.map(rows => (labelTable(rows, "id", "cluster_id"), 0)).getOrElse {
      // A star set (u, v) holds one star per component rooted at its min,
      // every non-root once as v. Roots and ids in no edge label themselves.
      def joinBack(star: DataFrame): DataFrame = nodes
        .join(star.select(col("v").as("n"), col("u").as("c")), Seq("n"), "left")
        .select(col("n").as("id"), coalesce(col("c"), col("n")).as("cluster_id"))
      // (count, checksum) fingerprint of the materialized edge set — the
      // convergence test, folded into the one action that caches it.
      def fingerprint(e: DataFrame): (Long, Long) = {
        // bit_xor, not sum: ANSI mode faults on wrap-around, and XOR over
        // the (distinct) edge hashes is order-independent by construction.
        val r = e.agg(count(lit(1)),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).first()
        (r.getLong(0), r.getLong(1))
      }
      // Canonical edges u < v; a self-pair or a NULL id links nothing.
      var edges = pairs.select(least(a, b).as("u"), greatest(a, b).as("v"))
        .where(col("u") =!= col("v")).distinct().persist()
      var terminal = false
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
      try {
        var fp = fingerprint(edges)
        // Scale-adaptive loop partitioning: every exchange inside the
        // contraction is an EXPLICIT repartition to `p` partitions, sized
        // from the measured initial edge count (~4M edge rows ≈ 64–128 MB
        // a partition), instead of the session's shuffle.partitions — a
        // constant tuned for corpus-sized scans is 1-2 orders too wide for
        // the edge set, and the loop pays it per exchange per round
        // (32-task stages over a few thousand rows dominated d42's wall:
        // 2,966 tasks / 139 s summed task time for 2 MB of shuffle). The
        // explicit repartition also lets the min-aggregate and the
        // re-point join SHARE one exchange per phase (both need hash(u));
        // the implicit plan shuffled `sym` twice.
        val p = loopPartitions(fp._1, spark.sparkContext.defaultParallelism)
        // One phase: for every node, m = min(neighborhood ∪ self); re-point
        // the selected side of each neighborhood at m. `keepLarger` selects
        // large-star (strictly larger neighbors) vs small-star (the rest,
        // including the node itself unless it IS the min).
        def phase(e: DataFrame, keepLarger: Boolean): DataFrame = {
          val sym = e.select(col("u"), col("v"))
            .unionByName(e.select(col("v").as("u"), col("u").as("v")))
            .repartition(p, col("u"))
          val m = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
          // SHUFFLE_HASH, not broadcast and not sort-merge: both sides hang
          // off sym's one explicit hash(u, p) exchange, so the equi-join is
          // exchange-free; a broadcast build would add a per-phase broadcast
          // JOB (driver round-trip — the loop's wall is scheduling latency),
          // and the AQE-off default (sort-merge) would sort both sides per
          // phase. The build side (m, one row per live node) always fits: it
          // shrinks with the contraction and `p` grows with the edge count.
          val joined = sym.join(m.hint("SHUFFLE_HASH"), "u")
          val out =
            if (keepLarger)
              // large-star(u): {(m, w) : w ∈ Γ(u), w > u}; m ≤ u < w keeps
              // the (u, v) canonical orientation for free
              joined.where(col("v") > col("u"))
                .select(col("m").as("u"), col("v"))
            else
              // small-star(u): {(m, w) : w ∈ Γ(u), w ≤ u} ∪ {(m, u)}
              joined.where(col("v") < col("u"))
                .select(col("m").as("u"), col("v"))
                .unionByName(m.select(col("m").as("u"), col("u").as("v")))
          out.where(col("u") =!= col("v"))
            .repartition(p, col("u"), col("v")).distinct()
        }
        // AQE OFF for the loop body (restored in the finally): with every
        // exchange explicitly repartitioned to `p` there is nothing for AQE
        // to adapt, but its stage-by-stage execution turns each round's ~5
        // exchanges into separate stage-materialization JOBS with a driver
        // round-trip between them — measured at sf0.1 on d42, the loop ran
        // 133 jobs for ~7 rounds of 2 MB frames, pure scheduling latency
        // (8.5 s wall on 0.9 s of task time). With AQE off each round is ONE
        // job whose stages pipeline inside the scheduler. Skew: per-key
        // multiplicity in the contracted edge set is bounded (a hub key's
        // edges collapse into one star after its first round), and `p` keeps
        // partitions at ~32k rows minimum, so AQE's skew splitting has
        // nothing to do here either. The conf is session-scoped: the loop is
        // synchronous and the flag is restored before the (lazily planned)
        // output join, so only the loop's own internal actions plan with it
        // off.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        var iter = 0
        var converged = false
        while (!converged && fp._1 > bound && iter < maxIter) {
          // The large-star half is persisted for the round: small-star's
          // min-aggregate and re-point join both read it.
          val ls = phase(edges, keepLarger = true).persist()
          val prev = edges
          // localCheckpoint EVERY round: each phase references its input ~4×
          // (sym union + min agg + re-point join), so the uncut logical plan
          // grows ~16× per round and OOMs the driver on plan stringification
          // by round 4. The checkpoint is LAZY (eager = false): the logical
          // plan is truncated immediately either way, and the convergence
          // fingerprint right below is the round's single action — it
          // computes the round's edges, local-checkpoints them as a side
          // effect (the block-manager cache IS the local checkpoint), and
          // aggregates them in ONE job. The eager form paid a second,
          // near-identical job per round just to materialize before
          // aggregating.
          edges = phase(ls, keepLarger = false).localCheckpoint(false)
          try {
            val nfp = fingerprint(edges)
            converged = nfp == fp
            fp = nfp
          } finally { release(ls); release(prev) }
          iter += 1
        }
        if (fp._1 <= bound) (joinBack(labelTable(edges.collect(), "v", "u")), iter)
        else if (converged) { terminal = true; (joinBack(edges), iter) }
        else throw new IllegalStateException(
          s"duplicateClustersStar did not converge within maxIter=$maxIter rounds; raise maxIter")
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
        // a converged star set over the bound is the returned plan's input
        if (!terminal) release(edges)
      }
    }
  }

  /** Drops a frame's cached blocks, and its checkpoint's blocks when the
    * frame is a local checkpoint (whose Dataset `unpersist` leaves them).
    */
  private def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Union-find over pairs (u, v) of integral ids: maps every id to the
    * minimum id of its component. A pair with a NULL side adds its ids
    * as nodes and links nothing.
    */
  private def unionFind(rows: Array[Row]): Array[Row] = {
    val parent = mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val up = parent(c); parent(c) = r; c = up }
      r
    }
    def key(x: Any): Long = x.asInstanceOf[Number].longValue
    for (row <- rows) {
      val (u, v) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      if (u != null && v != null) {
        val (ru, rv) = (find(u), find(v))
        if (key(ru) < key(rv)) parent(rv) = ru
        else if (key(rv) < key(ru)) parent(ru) = rv
      }
    }
    parent.keys.toArray.map(n => Row(n, find(n)))
  }

  /** Approximate row count for sizing heuristics (the stop-shingle cut),
    * WITHOUT a full corpus pass. Preference order: optimizer statistics
    * (free — parquet row-count metadata / CBO stats when available), else
    * a seeded 1% sample counted over a zero-column projection (the scan
    * reads only page row counts, never the text payload). The cut is a
    * heuristic, so ±20% error on the threshold is immaterial — what
    * matters at 100 TB is not adding another pass over the documents.
    */
  private[graft] def approxRowCount(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse {
      val f = 0.01
      val ones = df.select(lit(1).as("one"))
      val sampled = ones.sample(withReplacement = false, f, seed = 42).count()
      // A 0-row sample means the input is tiny — the exact zero-column
      // count is then itself cheap and the only meaningful answer.
      if (sampled == 0) math.max(ones.count(), 1L)
      else (sampled / f).toLong
    }
  }

  /** MinHash signature: sig(j) = min over shingles of xxhash64(shingle,
    * seed=j). Native codegen'd expression (graft.functions.MinHashSig).
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.VectorFunctions.minhash(shingles, numHashes)

  /** JVM-wide verdict cache for [[bandSelfJoin]]'s hot-bucket probe,
    * keyed by the caller-supplied `verdictKey` plus the grid parameters
    * (the [[graft.JvmStore]] once-per-JVM convention). The probe is a real Spark
    * job at PLAN-CONSTRUCTION time — the one eager action in the band
    * joins — so gates that rebuild their plan per invocation (bench
    * reps, Verify, PlanAudit's dry queryExecution derivation) would
    * re-pay it every time; a cached verdict makes every construction
    * after the first job-free in BOTH regimes (the hot path's full
    * frequency measure is a lazy broadcast build side). Callers must
    * key uniquely per (dataset, banding params); the cache is
    * correctness-neutral either way — a stale "no hot bucket" verdict
    * on data that grew a hot bucket degrades to the pre-grid
    * single-task join (perf only, and impossible for the immutable
    * per-sf-dir gate datasets that use this), a stale "hot" verdict on
    * benign data runs the exact measure, finds every fan = 1 and joins
    * plain with wider keys.
    *
    * SIZE: one Boolean per (verdictKey, banding params) — callers key
    * per dataset (the per-sf-dir gate convention), so the map holds tens
    * of entries per JVM, never data-proportional. A long-lived service
    * that appends to a dataset under a STABLE key should call
    * [[invalidateGridVerdict]] after the append so the next construction
    * re-probes (stale verdicts are perf-only, but a grown hot bucket
    * deserves its grid).
    */
  private val gridVerdicts =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()

  /** Drop every cached hot-bucket verdict recorded under `verdictKey`
    * (all banding-parameter variants): the explicit invalidation hook
    * for a long-lived service that mutates a dataset behind a stable
    * key. The next band-join construction re-runs the probe.
    */
  def invalidateGridVerdict(verdictKey: String): Unit = {
    gridVerdicts.keySet.removeIf(_.startsWith(s"$verdictKey#"))
    ()
  }

  /** The banded SELF-join every LSH pair operator runs (MinHash bands,
    * hamming tables, hyperplane buckets): `banded` joined to itself on
    * `keyCols` under the aliases `a` and `b`, filtered by the caller's
    * `pair` predicate over those aliases (id order, first agreeing
    * table, an inline verify). Returns the joined frame; callers select
    * their pair columns from `a.*` / `b.*`. Rows carry an `id` column.
    *
    * Hot buckets join through an adaptive 2-D grid salt — the
    * [[graft.ops.Relational.fuzzyJoin]] grid convention applied to band
    * buckets: per-bucket frequency is measured (one slim aggregation;
    * only buckets PAST `hotFreq` survive into the broadcast, so the fan
    * table is bounded by n/hotFreq entries), each hot bucket splits both
    * join sides into `fan = ⌈freq/hotFreq⌉` id-hash cells (capped at
    * `saltFan`) while replicating `fan` ways across the other side's
    * cells, and every (a, b) pair meets exactly once at cell (h(a), h(b)).
    * Per-task input stays ≈ `hotFreq` banded rows no matter how hot a
    * bucket gets — the adversarial corpus where one band bucket
    * concentrates (all-near-identical docs, or a constant dHash) becomes
    * a fan²-cell grid instead of one quadratic straggler task. Cold
    * buckets (the entire corpus in the benign case) take fan 1: a plain
    * join row, no replication. The same shuffle-volume trade as
    * fuzzyJoin's grid applies: a hot bucket's rows replicate up to
    * `saltFan`× per side — bounded balance bought with bounded
    * duplication. The salt columns never leave this function.
    *
    * BENIGN-CASE COST: the hot-bucket DETECTION runs on `probeBanded` —
    * the caller's banding of a deterministic ~1/probeMod id-hash sample
    * of the input (see [[gridProbeMod]]: probeMod is sized so a bucket
    * AT the threshold still yields ~10 expected sample hits, so a
    * genuinely hot bucket is detected with overwhelming probability
    * while the probe reads ~1.5% of the corpus). When no bucket is
    * suspected — every real corpus at sane thresholds — both join sides
    * are the SAME plain frame with constant salts, so the self-join's
    * two exchanges stay identical and Spark's ReusedExchange computes
    * the banded subtree once: exactly the pre-grid plan, plus only the
    * tiny probe job. Only a suspected hot bucket triggers the FULL
    * frequency measure (fans derive from exact counts, never estimates)
    * and the grid plan. A borderline bucket the sample misses (freq just
    * past the threshold) costs at most a ~(2·hotFreq)²/2-pair task —
    * bounded degradation, while the monster bucket the grid exists for
    * (≫ threshold) cannot be missed; a false POSITIVE merely measures
    * exactly and finds every fan = 1, a plain join with wider keys.
    *
    * The probe's verdict is cached in [[gridVerdicts]] under
    * `verdictKey#verdictTag` when `verdictKey` is non-empty.
    */
  private[graft] def bandSelfJoin(banded: DataFrame, probeBanded: DataFrame,
                                  probeMod: Int, keyCols: Seq[String],
                                  hotFreq: Long, saltFan: Int,
                                  verdictKey: String, verdictTag: String)(
      pair: Column): DataFrame = {
    // probeMod = 1 means the probe IS the exact measure — trigger at the
    // threshold itself; a sampled probe triggers at half-threshold scaled
    // by the sampling rate (conservative: a false positive only measures)
    val trigger =
      if (probeMod <= 1) hotFreq.toDouble
      else hotFreq.toDouble / (2.0 * probeMod)
    val suspected = probeBanded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__bf")).where(col("__bf") > trigger)
    def probeIsBenign(): Boolean = suspected.isEmpty
    val benign =
      if (verdictKey.isEmpty) probeIsBenign()
      else gridVerdicts.computeIfAbsent(
        s"$verdictKey#$verdictTag#${keyCols.mkString(",")}#$hotFreq#$saltFan#$probeMod",
        _ => probeIsBenign())
    val (aS, bS) =
      if (benign) {
        val plain = banded.withColumn("__salt", lit(0L))
          .withColumn("__rsalt", lit(0L))
        (plain, plain)
      } else {
        val hot = banded.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("__bf")).where(col("__bf") > hotFreq)
        val fanOf = least(
          greatest(ceil(col("__bf").cast("double") / lit(hotFreq.toDouble))
            .cast("long"), lit(1L)),
          lit(saltFan.toLong))
        val withFan = banded.join(broadcast(hot), keyCols, "left")
          .withColumn("__fan", coalesce(fanOf, lit(1L))).drop("__bf")
        val cell = pmod(xxhash64(col("id")), col("__fan"))
        val fanOut = explode(sequence(lit(0L), col("__fan") - 1))
        (withFan.withColumn("__salt", cell).withColumn("__rsalt", fanOut).drop("__fan"),
          withFan.withColumn("__rsalt", cell).withColumn("__salt", fanOut).drop("__fan"))
      }
    val a = aS.alias("a"); val b = bS.alias("b")
    a.join(b, (keyCols :+ "__salt" :+ "__rsalt")
      .map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) && pair)
  }

  /** Probe sample modulus for [[bandSelfJoin]]: 1/probeMod of the
    * input ids (deterministic xxhash64 — repeatable plans), sized so a
    * bucket exactly AT `hotFreq` expects ≥ ~10 sample hits (never
    * undetectable), capped at 64 (≈1.5% — the probe's cost floor).
    * Small thresholds (specs, tiny corpora) degrade to probeMod = 1:
    * the probe IS the full measure there, which is both exact and
    * cheap at that scale.
    */
  private[graft] def gridProbeMod(hotFreq: Long): Int =
    math.min(64L, math.max(1L, hotFreq / 10L)).toInt

  /** The deterministic probe sample of `df` for [[bandSelfJoin]] —
    * filter BEFORE the expensive per-row map (shingling, media decode):
    * Catalyst pushes the id predicate below the projection, so the
    * probe evaluates the map for ~1/probeMod of the rows only.
    */
  private[graft] def gridProbeRows(df: DataFrame, idCol: String, probeMod: Int): DataFrame =
    if (probeMod <= 1) df
    else df.where(pmod(xxhash64(col(idCol)), lit(probeMod.toLong)) === 0L)

  /** MinHash + LSH candidate pairs, verified by true Jaccard.
    *
    * bands × rowsPerBand = numHashes. Docs collide in a bucket iff one
    * band of their signatures matches exactly; candidates are then
    * verified with exact shingle Jaccard. The shuffle key is
    * (band, bandHash) — tiny — and the verify join only touches
    * candidate ids. Hot band buckets (≥ `skewedBucketFreq` members —
    * the adversarial all-near-identical corpus) join through the
    * measured 2-D grid salt ([[bandSelfJoin]]) so no single bucket
    * lands its f²/2 candidate pairs on one task.
    *
    * NOT a pure plan builder: the hot-bucket detection probe (a ~1.5%
    * sampled aggregation) runs as a Spark job at CALL time — callers
    * composing plans lazily (a dry explain, a plan audit) trigger it.
    * Pass `verdictKey` (unique per dataset + banding params — e.g.
    * "sfdir#minhash-docs") to cache the probe's verdict JVM-wide: every
    * call after the first is then job-free at construction in both
    * regimes. Leave it empty when the input changes call-to-call (a
    * streaming batch) — a stale benign verdict would skip the grid on a
    * batch that needs it.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, numHashes: Int = 32, bands: Int = 8,
                      threshold: Double = 0.5,
                      skewedBucketFreq: Long = 20000L,
                      saltFan: Int = 64,
                      verdictKey: String = ""): DataFrame =
    // NOT checkpointed: shingling + MinHashSig are native codegen'd
    // expressions — cheap to recompute — while materializing the (fat)
    // shingle arrays measured ~10 s per gate at sf10. The benign-case
    // join sides stay identical (bandSelfJoin's probe short-circuit),
    // so ReusedExchange computes the banded subtree once, and the probe's
    // id-hash filter pushes below the shingling: hot detection shingles
    // only the ~1/probeMod sample.
    minhashLsh(
      df.select(col(idCol).as("id"), shingleSet(col(textCol), k).as("shingles"))
        .withColumn("sig", minhashSignature(col("shingles"), numHashes)),
      numHashes, bands, threshold, skewedBucketFreq, saltFan,
      verdictKey, s"mh$k/$numHashes/$bands")

  /** The MinHash-LSH pair body over (id, sig, shingles) rows, with
    * `shingles` a doc's distinct shingle set — strings in the direct
    * form, their 64-bit hashes in the store-fed one (one hash per
    * distinct string shingle, so sizes agree). Bands `sig`, joins the
    * bands through [[bandSelfJoin]] (id order, each pair once) and
    * verifies candidates by exact Jaccard over `shingles`.
    */
  private def minhashLsh(rows: DataFrame, numHashes: Int, bands: Int,
                         threshold: Double, skewedBucketFreq: Long, saltFan: Int,
                         verdictKey: String, verdictTag: String): DataFrame = {
    require(skewedBucketFreq >= 1 && saltFan >= 1,
      s"skewedBucketFreq/saltFan must be >= 1, got $skewedBucketFreq/$saltFan")
    val r = numHashes / bands
    // The band explode carries ONLY (id, band, bucket) into the bucket
    // join — shingle arrays must not ride through it, or every doc's full
    // shingle set is duplicated `bands`× into the shuffle. Candidates are
    // id pairs; the exact-Jaccard verify joins shingles back by id, so
    // each shingle set crosses the wire at most once per side.
    def bandedOf(sigs: DataFrame): DataFrame = sigs.select(
      col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          xxhash64(concat_ws(",", slice(col("sig"), b * r + 1, lit(r)))).as("bucket")))).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
    val sigs = rows.select(col("id"), col("sig"))
    val pm = gridProbeMod(skewedBucketFreq)
    val candidates = bandSelfJoin(bandedOf(sigs), bandedOf(gridProbeRows(sigs, "id", pm)),
        pm, Seq("band", "bucket"), skewedBucketFreq, saltFan, verdictKey, verdictTag)(
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .dropDuplicates("id1", "id2")

    val sh = rows.select(col("id"), col("shingles"))
    candidates
      .join(sh.as("s1"), col("id1") === col("s1.id"))
      .join(sh.as("s2"), col("id2") === col("s2.id"))
      .select(col("id1"), col("id2"),
        col("s1.shingles").as("sh1"), col("s2.shingles").as("sh2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("jaccard", col("inter") / (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** The dedup family's SHARED DERIVED ARTIFACT: one row per doc as
    * (id, sz, shs, dfs, sig) — distinct-shingle count, hashed shingle
    * set (array<long>, distinct modulo 64-bit collisions) sorted
    * RAREST-FIRST by (global document frequency, hash) — the shared
    * total order the AllPairs prefix filter needs — the parallel
    * per-shingle df array, and the `numHashes`-wide MinHash signature.
    * One corpus pass (plus one shingle-keyed df aggregation, both paid
    * at STORE BUILD time) yields everything every consumer needs:
    *  - [[minhashLshPairsFromArtifacts]] bands from `sig` and verifies
    *    from `shs` (array_intersect is order-insensitive, and `shs`
    *    holds one hash per distinct shingle, so size(shs) == sz);
    *  - [[ngramJaccardPairsFromArtifacts]] /
    *    [[containmentPairsFromArtifacts]] run the exact prefix-filtered
    *    set-similarity join straight off the sorted arrays: the
    *    stop-shingle cut is a per-row `dfs` filter (no corpus-wide
    *    hot-count aggregation, no anti-join, no size-recompute shuffle
    *    at query time).
    * A pipeline running several dedup consumers over one corpus
    * generation materializes this once per generation and feeds every
    * consumer from the store — at 100 TB the artifact build is the only
    * pass over document text; everything downstream moves ids, 8-byte
    * hashes and fixed-width signatures.
    */
  def minhashArtifacts(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 3, numHashes: Int = 32): DataFrame = {
    // One shingling pass feeds both the df aggregation and the final
    // row — checkpoint so the expensive text pass runs once, not once
    // per consumer branch (this is the one-time store build; the
    // checkpoint is its working set, ids + hashes, not text).
    val base = df
      .select(col(idCol).as("id"), shingleSet(col(textCol), k).as("shingles"))
      .select(col("id"), size(col("shingles")).as("sz"),
        transform(col("shingles"), s => xxhash64(s)).as("shs0"),
        minhashSignature(col("shingles"), numHashes).as("sig"))
      .localCheckpoint(true)
    val posts = base.select(col("id"), explode(col("shs0")).as("sh"))
    // Global shingle -> document frequency (bounded by shingle
    // vocabulary). NOT broadcast: at corpus scale the vocabulary is
    // data-sized; the sort-merge join below shuffles only (id, sh, df)
    // longs.
    val freq = posts.groupBy("sh").agg(count(lit(1)).as("df"))
    val sorted = posts.join(freq, "sh")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("sh")))).as("a"))
      .select(col("id"),
        transform(col("a"), x => x.getField("sh")).as("shs"),
        transform(col("a"), x => x.getField("df")).as("dfs"))
    // Left join + empty-array coalesce: a doc with NO shingles (text
    // shorter than k tokens) keeps its artifact row — consumers emit no
    // pairs for it, but corpus-level counts (approxRowCount over the
    // store) stay doc-exact.
    base.join(sorted, Seq("id"), "left")
      .select(col("id"), col("sz"),
        coalesce(col("shs"), array().cast("array<bigint>")).as("shs"),
        coalesce(col("dfs"), array().cast("array<bigint>")).as("dfs"),
        col("sig"))
  }

  /** The post-cut view of the artifact arrays: shingles with document
    * frequency above `stopShingleFraction * nDocs` are dropped PER ROW
    * (a zip_with filter over the carried `dfs` — the cut that used to
    * cost a corpus-wide aggregation, an anti-join and a size-recompute
    * shuffle is now a map-side expression), sizes recomputed over the
    * reduced universe, rarest-first order preserved. `frac >= 1` = cut
    * off (`shs` passed through). Docs left with zero shingles are
    * dropped — they can pair with nothing.
    */
  private def cutArtifacts(art: DataFrame, nDocs: => Long,
                           stopShingleFraction: Double): DataFrame = {
    val cut =
      if (stopShingleFraction >= 1.0) art.select(col("id"), col("shs"))
      else {
        val cutoff = lit(stopShingleFraction * nDocs)
        art.select(col("id"),
          filter(zip_with(col("shs"), col("dfs"),
              (s, d) => struct(s.as("sh"), d.as("df"))),
            x => !(x.getField("df") > cutoff)).as("a"))
          .select(col("id"), transform(col("a"), x => x.getField("sh")).as("shs"))
      }
    cut.select(col("id"), col("shs"), size(col("shs")).as("szc"))
      .where(col("szc") > 0)
  }

  /** The exact-shingle family's shared PAIR CORE over prebuilt
    * [[minhashArtifacts]]: one row per unordered candidate pair
    * (id1 < id2) as (id1, id2, sz1, sz2, inter) — post-cut shingle
    * counts and exact intersection size — PRUNED to pairs whose maximum
    * containment inter/min(sz1, sz2) >= `minCoeff`. Because both
    * Jaccard and either-direction containment are bounded above by the
    * max containment (J = i/|A∪B| <= i/min, C(A→B) = i/|A| <= i/min),
    * every consumer with threshold >= minCoeff derives its exact answer
    * from this one table: [[ngramJaccardPairsFromArtifacts]] /
    * [[containmentPairsFromArtifacts]] are per-row projections of it.
    * CALLER CONTRACT: never consume with a threshold BELOW the
    * `minCoeff` the table was built with — those pairs were pruned.
    *
    * A pipeline materializes this once per corpus generation (the
    * near-dup pair table IS the production artifact every dedup
    * decision reads) — the join+count pass below is paid once, and the
    * stop-shingle cut costs a per-row `dfs` array filter instead of the
    * direct path's corpus-wide hot-count aggregation + anti-join +
    * size-recompute shuffles.
    *
    * Shape note (measured, round 16): an AllPairs prefix-filtered
    * variant (the q55 fuzzyJoin algorithm over the df-sorted arrays)
    * was built and benched first — 41.8 s (Jaccard) / 138.5 s
    * (containment) at sf10 vs 23.4 / 26.1 for this count-aggregated
    * core. On a corpus whose co-occurrence is NOT concentrated in hot
    * shingles, prefixes prune little, and shipping the shingle arrays
    * through candidate-verify joins costs far more than aggregating
    * intersection COUNTS map-side in the pair groupBy. Measured no-go;
    * the count core stayed.
    */
  def shinglePairsFromArtifacts(art: DataFrame, nDocs: => Long,
                                minCoeff: Double = 0.5,
                                stopShingleFraction: Double = 0.1): DataFrame = {
    val sh = cutArtifacts(art, nDocs, stopShingleFraction)
      .select(col("id"), col("szc").as("sz"), explode(col("shs")).as("sh"))
    postingPairCounts(sh)
      .where(col("inter").cast("double") / least(col("sz1"), col("sz2"))
        >= lit(minCoeff))
  }

  /** [[minhashLshPairs]] over prebuilt [[minhashArtifacts]]: the same
    * body over the store's rows, so the pair set is the direct call's
    * (spec-pinned). The shingling + signature corpus pass happened when
    * the store was written; this plan reads (id, sig) for banding and
    * (id, shs) for verification. Same hot-bucket grid and `verdictKey`
    * probe-cache contract as the direct form (the probe samples the
    * artifact rows by id hash — the identical ~1/probeMod deterministic
    * sample).
    */
  def minhashLshPairsFromArtifacts(art: DataFrame, numHashes: Int = 32,
                                   bands: Int = 8, threshold: Double = 0.5,
                                   skewedBucketFreq: Long = 20000L,
                                   saltFan: Int = 64,
                                   verdictKey: String = ""): DataFrame =
    minhashLsh(art.select(col("id"), col("sig"), col("shs").as("shingles")),
      numHashes, bands, threshold, skewedBucketFreq, saltFan,
      verdictKey, s"mha/$numHashes/$bands")

  /** 64-bit SimHash over whitespace tokens: bit i is the sign of
    * Σ_tokens (±1 depending on bit i of xxhash64(token)). Native codegen'd
    * expression (graft.functions.SimHash64) — one tight loop per row.
    */
  def simhash64(text: Column): Column =
    graft.functions.VectorFunctions.simhash64(wsTokens(lower(text)))

  /** Train/eval DECONTAMINATION — drop every training document sharing
    * at least `minShingles` distinct word k-shingles with ANY document
    * of the eval/benchmark set. Skipping this step leaks test data into
    * training; it is a standard step of every serious corpus pipeline.
    *
    * Scale shape: the eval set is benchmarks — small by nature — so its
    * distinct hashed shingles BROADCAST; the training corpus is touched
    * once (explode → broadcast semi-join → per-doc distinct count →
    * anti-join on the contaminated ids). The contaminated-id side scales
    * with the CORPUS (a heavily contaminated 100 TB corpus can exceed any
    * broadcast/driver limit), so the final anti-join carries no hint —
    * AQE picks broadcast when the set turns out small and a shuffled
    * anti-join when it doesn't. Shingles meet on xxhash64 keys
    * like the near-dup joins: 8-byte integers, not text. Returns the
    * training rows that SURVIVE, all columns intact.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
                    idCol: String, textCol: String,
                    k: Int = 3, minShingles: Int = 4): DataFrame = {
    require(minShingles >= 1, s"minShingles must be >= 1, got $minShingles")
    withoutContaminated(train, idCol, textCol, k, minShingles,
      broadcast(evalShingles(evalSet, textCol, k)), lit(true))
  }

  /** The eval side of [[decontaminate]]: its distinct shingle hashes
    * as one `ev_sh` column.
    */
  private def evalShingles(evalSet: DataFrame, textCol: String, k: Int): DataFrame =
    shingleHashes(evalSet, shingleSet(col(textCol), k), "ev_sh")().distinct()

  /** The training rows of `train` sharing fewer than `minShingles`
    * distinct shingle hashes with `evalSh` (an `ev_sh` column). Training
    * shingles failing `prefilter` (over their hash `sh`) are dropped
    * before the exact join, which alone decides the result.
    */
  private def withoutContaminated(train: DataFrame, idCol: String, textCol: String,
                                  k: Int, minShingles: Int,
                                  evalSh: DataFrame, prefilter: Column): DataFrame = {
    val contaminated = shingleHashes(train, shingleSet(col(textCol), k), "sh")(
        col(idCol).as("__id"))
      .where(prefilter)
      .join(evalSh, col("sh") === col("ev_sh"))
      .groupBy("__id").agg(countDistinct(col("sh")).as("__hits"))
      .where(col("__hits") >= minShingles)
      .select(col("__id").as("__contaminated_id"))
    train.join(contaminated,
      col(idCol) === col("__contaminated_id"), "left_anti")
  }

  /** `decontaminate` for an eval side too big to broadcast as keys
    * (a merged benchmark suite, a whole held-out corpus): identical
    * semantics and EXACTLY identical results, different join shape.
    *
    * The eval shingle hashes are folded into ONE bloom blob
    * (Sketch.bloomAgg — ~1.2 MB per 10⁶ distinct shingles at 1% fpp, an
    * order of magnitude smaller than the keys themselves), collected
    * once, and inlined as a literal predicate over the exploded training
    * shingles. The pre-filter runs map-side BEFORE the shuffle, so the
    * exact shingle join that follows — which alone decides the result;
    * the bloom can only pass extra rows for the join to drop — moves
    * only true matches plus an fpp-sized trickle, instead of every
    * shingle of a 100 TB corpus. fpp trades blob size against wasted
    * shuffle rows, never correctness.
    */
  def decontaminateAtScale(train: DataFrame, evalSet: DataFrame,
                           idCol: String, textCol: String,
                           k: Int = 3, minShingles: Int = 4,
                           fpp: Double = 0.01): DataFrame = {
    require(minShingles >= 1, s"minShingles must be >= 1, got $minShingles")
    val evalSh = evalShingles(evalSet, textCol, k)
    // size the bloom from the actual distinct-shingle count — one small
    // aggregation over the eval side (the cheap side by premise)
    val n = math.max(evalSh.count(), 1L)
    val blob = evalSh.agg(graft.functions.Sketch.bloomAgg(col("ev_sh"), n, fpp))
      .head().getAs[Array[Byte]](0)
    // exact join with no broadcast hint — AQE decides
    withoutContaminated(train, idCol, textCol, k, minShingles,
      evalSh, graft.functions.Sketch.mightContain(blob, col("sh")))
  }

  /** Contamination MATRIX — the audit report behind [[decontaminate]]:
    * for every (eval set, training group) cell, how many training
    * documents are contaminated (≥ `minShingles` distinct k-shingles
    * shared with ANY document of THAT eval set) and what fraction of
    * the group that is. This is the table a release datasheet prints
    * ("GSM8K overlaps 0.3% of web, 4.1% of forums") and the tool for
    * deciding WHICH benchmark forces a decontamination pass — dropping
    * first and asking later wastes data when only one source is dirty.
    *
    * Hit counting is per eval set: a training doc sharing 3 shingles
    * with benchA and 3 different ones with benchB is contaminated by
    * neither at minShingles=4 — exactly the per-set decision
    * [[decontaminate]] would make run against each set alone.
    *
    * Returns (evalSetCol, groupCol, n_contaminated, n_docs, frac
    * rounded 6dp); (set, group) cells with zero contamination are
    * ABSENT (the all-pairs zero matrix of two dimension tables is the
    * caller's trivial join). Sorted output left to the caller.
    *
    * Scale shape: identical to [[decontaminate]] — eval shingles are
    * benchmark-sized and broadcast (now keyed (set, hash)); the corpus
    * explodes once and meets them on 8-byte hashes; per-(set, doc)
    * distinct-hit counts then collapse to the (set, group) grain, which
    * is tiny. The group totals are one map-side-combined count. For a
    * non-broadcastable eval side, compose the d21 bloom pre-filter
    * upstream the same way.
    */
  def contaminationMatrix(train: DataFrame, evalSet: DataFrame,
                          idCol: String, textCol: String,
                          evalSetCol: String, groupCol: String,
                          k: Int = 3, minShingles: Int = 4): DataFrame = {
    require(minShingles >= 1, s"minShingles must be >= 1, got $minShingles")
    val evalSh = shingleHashes(evalSet, shingleSet(col(textCol), k), "ev_sh")(
      col(evalSetCol).as("__set")).distinct()
    val trainSh = shingleHashes(train, shingleSet(col(textCol), k), "sh")(
      col(idCol).as("__id"), col(groupCol).as("__grp"))
    val contaminated = trainSh
      .join(broadcast(evalSh), col("sh") === col("ev_sh"))
      .groupBy(col("__set"), col("__id"), col("__grp"))
      .agg(countDistinct(col("sh")).as("__hits"))
      .where(col("__hits") >= minShingles)
    val totals = train.groupBy(col(groupCol).as("__grp"))
      .agg(count(lit(1)).as("n_docs"))
    contaminated
      .groupBy(col("__set"), col("__grp"))
      .agg(count(lit(1)).as("n_contaminated"))
      .join(totals, Seq("__grp"))
      .select(col("__set").as(evalSetCol), col("__grp").as(groupCol),
        col("n_contaminated"), col("n_docs"),
        round(col("n_contaminated").cast("double") / col("n_docs"), 6).as("frac"))
  }

  /** GPT-3-style contamination EXCISION (reference has no counterpart;
    * the published span-removal treatment: GPT-3 appendix C removes a
    * window around each eval collision rather than the whole document):
    * every k-token window of a training document that also occurs
    * anywhere in the eval set is removed, plus `margin` tokens on each
    * side — the pipeline choice when train docs are long and
    * contamination is local, vs [[decontaminate]] which drops whole
    * docs. Overlapping contaminated spans merge into disjoint islands
    * and the text is rebuilt by the same [[excise]] core as
    * [[stripDuplicatedSpans]] — an O(L+S) cursor fold, linear in the
    * doc's own length however much of it is contaminated.
    *
    * Untouched documents keep their text byte-identical; excised
    * documents rebuild from their surviving tokens (original case,
    * single-space joined). Window matching is over lowercased
    * whitespace tokens — same normalization as the dedup family —
    * and token indices align because lowercasing never changes token
    * boundaries.
    *
    * Scale shape: only (id, pos, 8-byte hash) rows ever shuffle —
    * never text; the eval side reduces to a distinct hash set
    * (equi-join, AQE broadcasts when it fits — the d17/d21 bloom
    * pre-filter composes here too if eval outgrows that); the removal
    * set is bounded per doc by its own token count.
    */
  def exciseContaminatedSpans(train: DataFrame, evalSet: DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 13, margin: Int = 0): DataFrame = {
    require(margin >= 0, s"margin must be >= 0, got $margin")
    val evalH = windowHashes(evalSet, idCol, textCol, k).select(col("h")).distinct()
    val covered = windowHashes(train, idCol, textCol, k)
      .join(evalH, Seq("h"), "left_semi")
      .select(col("id"), explode(sequence(
        greatest(col("pos") - margin, lit(1)),
        col("pos") + (k - 1) + margin)).as("tp"))
      .distinct() // overlapping windows share positions; runs need one row each
    excise(train, idCol, textCol, covered).select(train.columns.map(col): _*)
  }

  /** Position-stamped hashes of every k-token window of every document —
    * the inverted index under SUBSTRING-level dedup (published
    * training-data pipelines remove any long token span appearing more
    * than once in the corpus, not just whole near-dup documents).
    * Positions are 1-based. Docs with fewer than k tokens emit nothing.
    * Only (id, pos, 8-byte hash) rows ever shuffle — never text.
    */
  private def windowHashes(df: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame = {
    require(k >= 2, s"window size must be >= 2 tokens, got $k")
    // native codegen'd window hashing (graft.functions.WindowHashes64),
    // bit-identical to the interpreted HOF form
    // transform(sequence(1, n−k+1), i => xxhash64(array_join(slice(tk, i, k), " ")))
    // it replaces — the HOF re-entered the interpreter once per WINDOW
    // and was the dominant task CPU of every window-hash gate (r17
    // JobProbe: d19/d47/d48/d33 summed 10–24 s task time each on a
    // ~1 MB corpus; the four gates are oracle-hash-checked, which pins
    // the byte-exactness of the replacement)
    val grams = graft.functions.VectorFunctions.windowHashes64(col("__tk"), k)
    df.select(col(idCol).as("id"), wsTokens(lower(col(textCol))).as("__tk"))
      .select(col("id"), posexplode(grams))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("h"))
  }

  /** Stamp every window-hash row with per-hash aggregates: each
    * `(name, agg)` becomes column `name` = `agg` over all rows sharing
    * its hash `h`. The key-count stamp of every window operator, and
    * the only place that knows its shape.
    *
    * A count window over h, not a per-hash aggregation joined back
    * (r17 optimization round): the join-back form re-ran the
    * scan+tokenize+hash map stage once per consumer for identical
    * rows, while the window rides the one shuffle the aggregation used
    * (the window gates are oracle-hash-checked, which pinned the values
    * across that change). Known cost: WindowExec does no partial
    * aggregation, so every row of a hot hash lands in one task — the
    * reason the CorpusOps line operators keep aggregate + join-back.
    */
  private def byHash(sh: DataFrame, stamps: (String, Column)*): DataFrame = {
    val w = Window.partitionBy(col("h"))
    stamps.foldLeft(sh) { case (d, (name, agg)) => d.withColumn(name, agg.over(w)) }
  }

  /** Per-document aggregates over each document's k-token windows,
    * every window row carrying its corpus frequency `__c` ([[byHash]]).
    * Returns `id` plus `aggs` for EVERY input row — an id with no
    * windows (fewer than k tokens, or a NULL text) gets NULL aggregates,
    * which the caller coalesces to its own default.
    *
    * Input contract: `idCol` must be unique. Rows that share an id are
    * treated as one document: their windows pool into one aggregate row,
    * returned once per input row.
    */
  private def perDocWindows(df: DataFrame, idCol: String, textCol: String, k: Int)(
      aggs: Column*): DataFrame = {
    val perDoc = byHash(windowHashes(df, idCol, textCol, k), "__c" -> count(lit(1)))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
  }

  /** Per-document window counts: total k-token windows and how many are
    * duplicated (their hash occurs at any other position corpus-wide).
    * The standard diagnostic before substring-level removal. One shuffle
    * stamps per-hash counts, one per-doc agg, one join back to every id.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 20): DataFrame =
    perDocWindows(df, idCol, textCol, k)(count(lit(1)).as("n_shingles"),
        sum(when(col("__c") > 1, 1L).otherwise(0L)).as("n_dup_shingles"))
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup_shingles"), lit(0L)).as("n_dup_shingles"))

  /** Remove duplicated k-token spans, keeping canonical occurrences —
    * the corpus-level substring dedup pass. The canonical occurrence of
    * each duplicated window is the minimum (id, pos); every other
    * occurrence marks its k tokens for removal, overlapping spans
    * merging naturally through the per-token union — EXCEPT tokens a
    * canonical occurrence covers in the same document, which stay (see
    * [[excisedTokens]]: without that carve-out, overlapping windows
    * whose canonicals land in different documents could excise every
    * copy of a shared run). Documents without duplicated spans keep
    * their text byte-identical; cleaned documents are rebuilt from
    * their surviving tokens (original case, single-space joined).
    * This is [[exactSubstrDedup]] at `minTokens = k` without its two
    * count columns: both are one [[excise]] over [[excisedTokens]].
    *
    * Scale shape: canonical selection is min(struct(id,pos)) per hash —
    * an aggregation, never a collect_list (a window repeated millions of
    * times stays one row). The per-doc removal set is bounded by the
    * document's own token count.
    */
  def stripDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 20): DataFrame =
    excise(df, idCol, textCol, excisedTokens(df, idCol, textCol, k))
      .select(df.columns.map(col): _*)

  /** Maximal runs of consecutive token positions per document (gaps and
    * islands: within one id, `tp − row_number()` is constant along a
    * run). Takes DISTINCT (id, tp) rows — a repeated position would
    * split its run — and returns (id, s, e, __n): the run's 1-based
    * inclusive bounds and its token count. The window partitions by doc
    * id, so a partition is bounded by the document's own token count.
    * (Aggregate names print in the physical plan, so renaming `__n`
    * would change exactSubstrDedup's Bench plan hash.)
    */
  private def runs(covered: DataFrame): DataFrame =
    covered
      .withColumn("__island", col("tp") - row_number().over(
        Window.partitionBy(col("id")).orderBy(col("tp"))))
      .groupBy(col("id"), col("__island"))
      .agg(min(col("tp")).as("s"), max(col("tp")).as("e"), count(lit(1)).as("__n"))

  /** Excise covered token positions from each document's text: merge
    * `covered` (DISTINCT (id, tp) rows, 1-based token positions) into
    * maximal [[runs]], collect them per doc and rebuild the text with
    * the O(L+S) [[excideSpans]] fold. Returns `df`'s columns, with
    * `textCol` rebuilt, plus `__n_spans` / `__n_removed` — the run
    * count and removed-token count, NULL for a doc with no covered
    * position, whose text round-trips byte-identical. Callers select
    * what they report; column pruning drops unused counts from the plan.
    *
    * Input contract: `idCol` must be unique. Rows that share an id are
    * treated as one document: their covered positions pool, and the
    * pooled spans cut every row of that id. A NULL text passes through
    * unchanged (it has no tokens, so nothing covers it).
    */
  private def excise(df: DataFrame, idCol: String, textCol: String,
                     covered: DataFrame): DataFrame = {
    val spans = runs(covered)
      .groupBy(col("id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("__spans"),
        count(lit(1)).as("__n_spans"),
        sum(col("__n")).as("__n_removed"))
      .withColumnRenamed("id", "__rm_id")
    val cleaned = when(col("__spans").isNull, col(textCol))
      .otherwise(excideSpans(col(textCol), col("__spans")))
    df.join(spans, col(idCol) === col("__rm_id"), "left")
      .select(df.columns.map(c => if (c == textCol) cleaned.as(textCol) else col(c)) ++
        Seq(col("__n_spans"), col("__n_removed")): _*)
  }

  /** Rebuild text after excising token spans, in ONE cursor fold over
    * the spans sorted by start: the kept text is the concatenation of
    * the token slices BETWEEN consecutive spans, so per-doc cost is
    * O(L + S) — linear in the doc's own length however much of it is
    * duplicated. (The previous `array_contains(removed, i+1)`-per-token
    * rebuild was O(L·|removed|): a large fully-duplicated document —
    * L = |removed| = 10⁶ — degenerated to ~10¹² comparisons in one
    * task.) Spans are disjoint by construction (gaps-and-islands runs),
    * so `array_sort` on (s, e) structs orders them by start and each
    * inter-span slice has non-negative length. The tail slice clamps at
    * zero because a margin-extended span ([[exciseContaminatedSpans]])
    * may end past the document's last token.
    */
  private def excideSpans(text: Column, spans: Column): Column = {
    val toks = wsTokens(text)
    val folded = aggregate(
      array_sort(spans),
      struct(lit(0).as("p"), array().cast("array<string>").as("acc")),
      (st, sp) => struct(
        sp.getField("e").as("p"),
        concat(st.getField("acc"),
          slice(toks, st.getField("p") + 1,
            sp.getField("s") - st.getField("p") - 1)).as("acc")),
      st => concat(st.getField("acc"),
        slice(toks, st.getField("p") + 1,
          greatest(size(toks) - st.getField("p"), lit(0)))))
    array_join(folded, " ")
  }

  /** Maximal duplicated token spans at a length threshold (Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better" —
    * the ExactSubstr pass, arXiv:2107.06499): every maximal substring
    * of ≥ `minTokens` tokens that occurs verbatim elsewhere in the
    * corpus, reported per NON-CANONICAL occurrence as
    * (id, span_start, span_end, span_tokens), positions 1-based
    * inclusive. The canonical occurrence of each duplicated window —
    * min (id, pos), the [[stripDuplicatedSpans]] rule — is protected
    * position-for-position (even where an overlapping NON-canonical
    * window covers the same tokens — see [[excisedTokens]]), so every
    * duplicated window survives intact at its canonical occurrence;
    * non-overlapping duplicated runs survive exactly once.
    *
    * The paper finds maximal duplicated substrings with a suffix array;
    * the distributed equivalent is the fixed-k inverted index plus
    * longest-match extension by UNION: a token lies inside a maximal
    * duplicated substring of length ≥ k iff some duplicated k-window
    * covers it (any longer verbatim match of length L ≥ k is exactly
    * the union of its L−k+1 shared k-windows), so merging overlapping
    * covered positions into runs — one gaps-and-islands pass per doc —
    * recovers the paper's maximal spans without ever materializing
    * occurrence PAIRS (a window repeated a million times stays one
    * aggregation row; a pairwise alignment chain would square it).
    *
    * Scale shape: only (id, pos, 8-byte hash) rows shuffle — never
    * text; canonical selection is a per-hash min(struct) aggregation;
    * the islands window partitions by doc id (bounded by the doc's own
    * token count).
    */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
                       minTokens: Int = 50): DataFrame =
    runs(excisedTokens(df, idCol, textCol, minTokens))
      .select(col("id"), col("s").cast("long").as("span_start"),
        col("e").cast("long").as("span_end"), col("__n").as("span_tokens"))

  /** ExactSubstr excision (Lee et al. 2021 — see [[exactSubstrSpans]]):
    * every maximal duplicated run of ≥ `minTokens` tokens is removed
    * wherever no canonical window occurrence protects it, the text
    * rebuilt from the surviving tokens (original case, single-space
    * joined — a fully duplicated doc comes back as the empty string,
    * not dropped). Adds `n_spans` / `n_removed` (0 for untouched docs,
    * whose text round-trips byte-identical). [[stripDuplicatedSpans]]
    * is this operator without the two counts (and with a shorter
    * default window): both are one [[excise]] over [[excisedTokens]].
    */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
                       minTokens: Int = 50): DataFrame =
    excise(df, idCol, textCol, excisedTokens(df, idCol, textCol, minTokens))
      .select(df.columns.map(col) ++ Seq(
        coalesce(col("__n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("__n_removed"), lit(0L)).as("n_removed")): _*)

  /** Soft dedup — per-document REWEIGHTING instead of removal (He et
    * al. 2024, "SoftDedup: an Efficient Data Reweighting Method for
    * Speeding Up Language Model Pre-training", arXiv:2407.06654):
    * hard dedup throws away partially-duplicated documents whole; soft
    * dedup keeps every document and down-weights by its "data
    * commonness" — here the GEOMETRIC MEAN corpus frequency of the
    * document's k-token windows,
    *
    *   commonness(d) = exp( mean_w ln c(w) ),   weight(d) = 1 / commonness(d)
    *
    * so an all-unique document weighs 1.0, a document whose every
    * window occurs c times corpus-wide weighs 1/c, and a single pasted
    * boilerplate block dilutes the weight smoothly instead of
    * triggering a binary drop. The weights feed [[graft.text.CorpusOps]]
    * sampling (weightedSampleN / epoch mixing) directly.
    *
    * Documents with fewer than k tokens have no windows and weigh 1.0
    * (no evidence of duplication — the filterByDomainBlocklist
    * convention). Returns every input id: (id, n_windows, weight),
    * weight 6dp-rounded so the arithmetic replays engine-exactly.
    *
    * Scale shape: the same (id, pos, 8-byte hash) inverted index as
    * every window operator — one per-hash count stamp ([[byHash]]), one
    * per-doc mean, one equi-join back to every id. No text ever
    * shuffles; reweighting 100 TB is two shuffles.
    */
  def softDedupWeights(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 13): DataFrame =
    perDocWindows(df, idCol, textCol, k)(count(lit(1)).as("n_windows"),
        avg(log(col("__c").cast("double"))).as("__mlc"))
      .select(col("id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(round(exp(-col("__mlc")), 6), lit(1.0)).as("weight"))

  /** Distinct (id, tp) token positions covered by a duplicated
    * `minTokens`-window whose canonical (min (id, pos)) occurrence is
    * elsewhere, MINUS positions covered by a canonical occurrence in
    * the same document — the removal set every span-excision form
    * shares. The subtraction is what keeps canonical copies intact:
    * overlapping duplicated windows can have canonicals in DIFFERENT
    * documents (doc A holds window W1's canonical, doc B holds
    * overlapping W2's), and without the carve-out W2's non-canonical
    * occurrence in A would excise tokens inside W1's protected copy —
    * destroying every intact copy of the shared run.
    */
  private def excisedTokens(df: DataFrame, idCol: String, textCol: String,
                            minTokens: Int): DataFrame = {
    // the canonical occurrence and the dup filter ride one byHash stamp
    val occ = byHash(windowHashes(df, idCol, textCol, minTokens),
        "__n" -> count(lit(1)), "__canon" -> min(struct(col("id"), col("pos"))))
      .where(col("__n") > 1)
      .select(col("id"), col("pos"),
        col("__canon.id").as("cid"), col("__canon.pos").as("cpos"))
    val isCanon = col("id") === col("cid") && col("pos") === col("cpos")
    def covered(o: DataFrame): DataFrame = o.select(col("id"),
      explode(sequence(col("pos"), col("pos") + (minTokens - 1))).as("tp"))
    covered(occ.where(!isCanon)).distinct()
      .join(covered(occ.where(isCanon)), Seq("id", "tp"), "left_anti")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming: the
    * generic 64-bit banding join over the text simhash. `verdictKey`
    * passes through to [[hammingPairs64]]'s hot-bucket verdict cache.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, wide: Boolean = false,
                   verdictKey: String = ""): DataFrame =
    hammingPairs64(
      df.select(col(idCol).as("id"), simhash64(col(textCol)).as("sh")),
      "id", "sh", maxHamming, wide, verdictKey = verdictKey)

  /** Whether `hammingPairs64` should use the wide 20-table banding for a
    * corpus of `n` hashes. Narrow 16-bit bands admit ~4·n²/2¹⁶ random
    * candidate pairs — past a few million rows that term dominates the
    * true near-dup pairs and the join goes quadratic; the wide scheme's
    * ~32-bit keys defer that crossover by ~2¹⁶×, for 5× the (slim)
    * banded rows. Same fixed-structure-vs-corpus-size reasoning as
    * `Similarity.suggestedPlanes` / `Multimodal.suggestedScenes`.
    */
  def wideHammingBands(n: Long): Boolean = n >= 2L * 1000 * 1000

  /** Banding tables a regime explodes per row: 4 single-quarter tables
    * narrow, C(6,3) = 20 block-subset tables wide. The knob every
    * hamming-dedup call site (text d04, image m03, audio a02) sizes
    * through [[wideHammingBands]] — one rule, not per-site constants.
    */
  def hammingTableCount(wide: Boolean): Int = if (wide) 20 else 4

  /** Pairs of rows whose 64-bit hashes differ in ≤ maxHamming bits —
    * the shared engine under text simhash, image dHash AND audio
    * fingerprint dedup. Pigeonhole banding in one of two regimes:
    *
    *  - narrow (default): the 4 16-bit quarters of the hash — any pair
    *    with ≤3 differing bits agrees on at least one quarter.
    *  - wide (`wide = true`, chosen by [[wideHammingBands]] at corpus
    *    scale): 6 blocks of 11/10 bits and one table per 3-subset of
    *    blocks (C(6,3) = 20) — ≤3 bad bits dirty at most 3 blocks, so
    *    at least one 3-subset is clean and its packed ~32-bit key
    *    agrees (the block-permutation scheme of Manku, Jain & Das
    *    Sarma, WWW'07 §3). 5× the banded rows, 2¹⁶× fewer random
    *    collisions.
    *
    * Each pair is emitted at its FIRST agreeing table only — a
    * predicate on the two hashes, which are co-located at the band
    * join — and the hamming threshold is applied there too, so pairs
    * never pay a deduplicating exchange and only true near-dup pairs
    * leave the join stage (random band collisions die inline, the same
    * restructure the ANN rerank got). NULL hashes (e.g. undecodable
    * images) drop out.
    *
    * Hot band buckets — a constant or near-constant hash across a large
    * corpus fraction (every scan of one image, boilerplate text) — join
    * through the measured 2-D grid salt ([[bandSelfJoin]], threshold
    * `skewedBandFreq`), so the inline verify work spreads across
    * fan²-cell tasks instead of one quadratic straggler.
    *
    * Two execution caveats callers must know (not a pure plan builder):
    *
    *  - The hot-bucket detection here is the EXACT frequency measure
    *    over the checkpointed (id, hash) rows (probeMod = 1 — see the
    *    checkpoint note in the body), so a bare call runs a Spark job —
    *    including the full upstream hash/decode pass — at CALL time.
    *    Pass `verdictKey` (unique per dataset + banding regime) to
    *    cache the verdict JVM-wide and make later constructions
    *    job-free; leave it empty for changing inputs.
    *  - `localCheckpoint` stores the hashed rows on EXECUTORS with no
    *    replication: losing an executor after materialization fails the
    *    query (Spark cannot recompute truncated lineage) instead of
    *    recovering. The trade is deliberate — re-deriving the hashes
    *    would re-decode the full media corpus per join side — but under
    *    dynamic allocation or preemptible workers, prefer writing the
    *    hash table to storage first and calling this on the scan.
    */
  def hammingPairs64(df: DataFrame, idCol: String, hashCol: String,
                     maxHamming: Int = 3, wide: Boolean = false,
                     skewedBandFreq: Long = 20000L,
                     saltFan: Int = 64,
                     verdictKey: String = ""): DataFrame = {
    val banding = new HammingBanding(wide, maxHamming)
    require(skewedBandFreq >= 1 && saltFan >= 1,
      s"skewedBandFreq/saltFan must be >= 1, got $skewedBandFreq/$saltFan")
    // checkpointed: the (possibly expensive — image/audio decode) hash
    // pass is computed ONCE and reused by the probe AND both join
    // sides. The hash frames here come from mapPartitions decoders —
    // filters cannot push below them, so a SAMPLED probe on the raw df
    // would re-decode the full corpus a second time (measured: 2× the
    // a02 decode wall); instead the probe is the EXACT frequency
    // measure over the checkpointed slim (id, hash) rows — its first
    // action materializes the checkpoint the main query needs anyway,
    // and the aggregation itself reads 8-byte hashes, not media.
    val hashed = banding.hashed(df, idCol, hashCol).localCheckpoint(false)
    val banded = banding.banded(hashed)
    banding.pairs(bandSelfJoin(banded, banded, 1, Seq("t", "band"),
        skewedBandFreq, saltFan, verdictKey, s"hp$maxHamming/$wide")(
      col("a.id") < col("b.id") && banding.matches))
  }

  /** The banding both [[hammingPairs64]] and [[hammingJoin64]] run, for
    * one regime (narrow quarters or the Manku-WWW'07 wide scheme) and
    * radius: the non-NULL (id, sh) rows, their one-row-per-table banded
    * form, the match predicate over the join's `a`/`b` aliases (first
    * agreeing table, hamming bound) and the (id1, id2, hamming) output.
    */
  private final class HammingBanding(wide: Boolean, maxHamming: Int) {
    // Both schemes are only complete for ≤3 differing bits; a larger
    // radius would silently drop pairs spread across all bands/blocks.
    require(maxHamming >= 0 && maxHamming <= 3,
      s"hamming pairs support maxHamming in [0,3] (pigeonhole banding), got $maxHamming")
    private val blocks: Seq[(Int, Int)] = // (bit offset, bit length)
      if (wide) Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))
      else Seq((0, 16), (16, 16), (32, 16), (48, 16))
    private val tables: Seq[Seq[Int]] =
      if (wide) blocks.indices.combinations(3).map(_.toSeq).toSeq
      else blocks.indices.map(Seq(_))
    assert(tables.size == hammingTableCount(wide))
    private def blockVal(sh: Column, b: Int): Column = {
      val (off, len) = blocks(b)
      shiftright(sh, off).bitwiseAND((1L << len) - 1L)
    }
    // The table's blocks packed into one long (block values are ≤16 bits
    // and narrow tables are single-block, so 16-bit lanes always fit).
    private def tableKey(sh: Column, t: Int): Column =
      tables(t).zipWithIndex.map { case (b, i) =>
        shiftleft(blockVal(sh, b), i * 16)
      }.reduce(_ bitwiseOR _)
    private val distance = bit_count(col("a.sh").bitwiseXOR(col("b.sh")))

    def hashed(df: DataFrame, idCol: String, hashCol: String): DataFrame =
      df.select(col(idCol).as("id"), col(hashCol).as("sh"))
        .where(col("sh").isNotNull)

    def banded(hashed: DataFrame): DataFrame =
      hashed.select(col("id"), col("sh"),
        explode(array(tables.indices.map(t =>
          struct(lit(t).as("t"), tableKey(col("sh"), t).as("band"))): _*)).as("tb"))
        .select(col("id"), col("sh"), col("tb.t"), col("tb.band"))

    // the first table on which this pair's keys agree — a function of
    // the two hashes, so each qualifying pair survives exactly one t
    private val firstAgree = tables.indices.reverse.foldLeft(lit(tables.size): Column) {
      (rest, t) =>
        when(tableKey(col("a.sh"), t) === tableKey(col("b.sh"), t), lit(t))
          .otherwise(rest)
    }
    val matches: Column = col("a.t") === firstAgree && distance <= maxHamming

    def pairs(joined: DataFrame): DataFrame =
      joined.select(col("a.id").as("id1"), col("b.id").as("id2"), distance.as("hamming"))
  }

  /** CROSS-frame hamming pairs — [[hammingPairs64]] between two
    * different corpora instead of within one: every (left, right) pair
    * whose 64-bit hashes differ in ≤ `maxHamming` bits, as
    * (id1 = left id, id2 = right id, hamming), each pair exactly once
    * (first agreeing table, the same inline predicate). The shape
    * decontamination wants: `right` is a small probe set (an eval
    * benchmark's media), so its banded rows broadcast and the
    * corpus-sized left side never self-joins. NULL hashes drop out on
    * both sides.
    */
  def hammingJoin64(left: DataFrame, leftId: String, leftHash: String,
                    right: DataFrame, rightId: String, rightHash: String,
                    maxHamming: Int = 3, wide: Boolean = false): DataFrame = {
    val banding = new HammingBanding(wide, maxHamming)
    def banded(df: DataFrame, idCol: String, hashCol: String) =
      banding.banded(banding.hashed(df, idCol, hashCol))
    val a = banded(left, leftId, leftHash).alias("a")
    val b = banded(right, rightId, rightHash).alias("b")
    banding.pairs(a.join(b,
      col("a.t") === col("b.t") && col("a.band") === col("b.band") && banding.matches))
  }

  /** Edit-distance (Levenshtein ≤ `maxDist`) pairs over the DISTINCT
    * values of `strCol` — typo-level fuzzy matching for vocabularies,
    * entity names, hostnames. The SymSpell trick: two strings within
    * edit distance k always share a string in each other's ≤k-deletion
    * neighborhoods, so candidates come from an equi-join on generated
    * deletion variants (≈ len^k per string — meant for short strings,
    * not documents) and only candidates pay the exact levenshtein
    * verify. Never an all-pairs join. maxDist ∈ {1, 2}.
    *
    * Output: (w1 < w2, dist), each pair once.
    */
  def editDistancePairs(df: DataFrame, strCol: String, maxDist: Int = 1): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"editDistancePairs supports maxDist 1 or 2, got $maxDist")
    val words = df.select(col(strCol).as("w")).where(col("w").isNotNull).distinct()
    def del1(s: Column): Column = {
      val n = length(s)
      // sequence(1, 0) would generate a DESCENDING range — guard empties
      when(n >= 1, transform(sequence(lit(1), n),
        i => concat(substr(s, lit(1), i - 1), substr(s, i + 1, n))))
        .otherwise(array())
    }
    val variants =
      if (maxDist == 1) array_distinct(concat(array(col("w")), del1(col("w"))))
      else array_distinct(concat(array(col("w")), del1(col("w")),
        flatten(transform(del1(col("w")), t => del1(t)))))
    val exploded = words.select(col("w"), explode(variants).as("v"))
    val a = exploded.alias("a"); val b = exploded.alias("b")
    a.join(b, col("a.v") === col("b.v") && col("a.w") < col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2"))
      .dropDuplicates("w1", "w2")
      .withColumn("dist", levenshtein(col("w1"), col("w2")).cast("long"))
      .where(col("dist") <= maxDist)
  }
}
