package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus assembly operators — the steps between "deduplicated
  * documents" and "data a trainer can consume": reproducible train/val/
  * test splitting, token-budget shard assignment, and PII redaction.
  * These extend the reference's pipeline surface (it stops at the
  * cube/report layer) with the operations a large-scale LLM data
  * pipeline runs after dedup/quality filtering.
  *
  * Scale design: everything here is either a pure column expression
  * (split, redact — no shuffle, no RNG state, embarrassingly parallel)
  * or a per-group window (sharding — one shuffle on the group key,
  * standard two-phase cumulative sum). Nothing touches the driver.
  */
object CorpusOps {

  /** Deterministic split assignment ("train"/"val"/"test"…): md5 of the
    * id's decimal string maps each row to [0, 1) via its first 8 hex
    * chars; cumulative weight thresholds — rendered as zero-padded hex
    * strings compared lexicographically — pick the bucket.
    *
    * Why this and not `rand()`/`sample()`: the assignment is a pure
    * function of the ID — stable across partitioning, retries, cluster
    * size and engine (the gate replicates the exact rule in DuckDB), so
    * a document never migrates between train and test when the pipeline
    * is re-run or backfilled. That property is what makes held-out sets
    * trustworthy at 100 TB, where "re-sample on every run" silently
    * leaks.
    */
  def splitColumn(idCol: Column, weights: Seq[(String, Double)]): Column = {
    require(weights.nonEmpty, "at least one split")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val hex = substring(md5(idCol.cast("string")), 1, 8)
    // cumulative upper bounds as lexicographic hex literals; the last
    // bucket is the CASE default so hash = ffffffff still lands somewhere
    val cum = weights.map(_._2).scanLeft(0.0)(_ + _).tail
    val named = weights.map(_._1).zip(cum.map(c =>
      f"${math.min((c * 4294967296.0).toLong, 4294967295L)}%08x"))
    named.init.foldRight(lit(named.last._1): Column) { case ((name, bound), els) =>
      when(hex < lit(bound), lit(name)).otherwise(els)
    }
  }

  /** Equivalent SQL text for the same split rule, in the Spark∩DuckDB
    * dialect intersection (STRING cast alias, substr, md5) — the
    * correctness gate runs it on DuckDB against `splitColumn` on Spark,
    * and the same text parses on Spark too.
    */
  def splitSql(idExpr: String, weights: Seq[(String, Double)]): String = {
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val cum = weights.map(_._2).scanLeft(0.0)(_ + _).tail
    val named = weights.map(_._1).zip(cum.map(c =>
      f"${math.min((c * 4294967296.0).toLong, 4294967295L)}%08x"))
    val h = s"substr(md5(CAST($idExpr AS STRING)), 1, 8)"
    val whens = named.init.map { case (n, b) => s"WHEN $h < '$b' THEN '$n'" }
    s"CASE ${whens.mkString(" ")} ELSE '${named.last._1}' END"
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * land in the SAME split, or the held-out set silently overlaps the
    * training set and eval scores inflate (the classic web-corpus
    * mistake — [[splitColumn]] alone splits by document id, so two
    * near-identical crawls of one page can straddle the train/test
    * boundary). Here the split is decided by the document's duplicate-
    * CLUSTER id (connected components over the near-dup pair graph,
    * [[graft.dedup.Dedup.duplicateClustersStar]]), so an entire component
    * co-travels; documents in no cluster split by their own id —
    * which IS their singleton component's canonical (min) label, so
    * the rule is uniformly "split by component label".
    *
    * Returns df + `split`. Same determinism contract as
    * [[splitColumn]]: a pure function of (pair graph, id), stable
    * across re-runs, partitioning and engines.
    *
    * Scale shape: the pair graph is dup-graph-sized (the MinHash-LSH
    * output, never corpus²); CC labels a small graph on the driver and
    * contracts a large one in O(log n) star rounds; the label table
    * joins back to the corpus on the id — ONE equi-join (a broadcast
    * when the dup graph is small), then the split is the usual pure
    * column expression. The unclustered majority takes the NULL side of
    * the left join and never shuffles into the CC loop.
    */
  def leakageSafeSplit(df: DataFrame, pairs: DataFrame, idCol: String,
                       weights: Seq[(String, Double)],
                       id1: String = "id1", id2: String = "id2"): DataFrame = {
    val cc = graft.dedup.Dedup.duplicateClustersStar(pairs, id1, id2)
      .select(col("id").as("__cc_id"), col("cluster_id").as("__cc_label"))
    df.join(cc, df(idCol) === col("__cc_id"), "left")
      .withColumn("split",
        splitColumn(coalesce(col("__cc_label"), df(idCol)), weights))
      .drop("__cc_id", "__cc_label")
  }

  /** Assign documents to fixed-token-budget shards within each group
    * (source, language, …): deterministic id order, exclusive cumulative
    * token count, `shard = floor(cum_before / maxTokens)` — the shard
    * layout a sequence-packing loader consumes. A document whose tokens
    * straddle a boundary belongs to the shard it STARTS in (budgets are
    * fill targets, not hard caps — standard packing practice).
    *
    * Output adds `tokens` (whitespace token count) and `shard` (0-based
    * per group). One shuffle on the group key; the per-group window is
    * the two-phase distributed cumulative sum, so shards scale with the
    * number of groups, not corpus size.
    */
  def shardByTokenBudget(df: DataFrame, idCol: String, textCol: String,
                         groupCol: String, maxTokens: Long): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol).asc)
    df.withColumn("tokens", TextFunctions.tokenCount(col(textCol)))
      .withColumn("__cum", sum(col("tokens")).over(w))
      .withColumn("shard",
        floor((col("__cum") - col("tokens")) / lit(maxTokens)).cast("long"))
      .drop("__cum")
  }

  /** Pack documents into fixed-token training sequences — the example-
    * assembly step between "sharded corpus" and "batches a trainer
    * consumes": documents concatenate in deterministic id order until
    * the next one would overflow `seqTokens`, then a new pack starts;
    * an oversized document gets a pack of its own (standard greedy
    * packing — no document ever splits).
    *
    * Greedy packing is inherently serial (each boundary depends on all
    * previous ones), so it runs WITHIN the bounded shards
    * `shardByTokenBudget` lays out: one extra shuffle co-locates each
    * (group, shard) slice sorted by id, and a streaming per-partition
    * scan assigns packs with O(1) state. Parallelism therefore scales
    * with corpus_tokens / shardTokens — not with the number of groups —
    * and task skew is bounded by construction (no shard exceeds its
    * budget by more than one document). This is how production loaders
    * pack at scale: boundaries are per-shard-deterministic, so adding
    * data only appends shards and never repacks existing ones.
    *
    * Output: input columns + `tokens`, `shard`, and `pack` (0-based
    * within each (group, shard)). Pure function of ids and token
    * counts — re-runs and repartitions reproduce it row-for-row.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    groupCol: String, shardTokens: Long, seqTokens: Long): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    require(shardTokens >= seqTokens,
      "shardTokens must be >= seqTokens (shards are the packing unit)")
    val sharded = shardByTokenBudget(df, idCol, textCol, groupCol, shardTokens)
    val schema = org.apache.spark.sql.types.StructType(
      sharded.schema.fields :+
        org.apache.spark.sql.types.StructField("pack",
          org.apache.spark.sql.types.LongType, nullable = false))
    val (gIdx, shIdx, tIdx) = (sharded.schema.fieldIndex(groupCol),
      sharded.schema.fieldIndex("shard"), sharded.schema.fieldIndex("tokens"))
    sharded
      .repartition(col(groupCol), col("shard"))
      .sortWithinPartitions(col(groupCol), col("shard"), col(idCol))
      .mapPartitions { it =>
        var curGroup: Any = null
        var curShard = Long.MinValue
        var pack = -1L
        var fill = 0L
        it.map { r =>
          val g = r.get(gIdx); val sh = r.getLong(shIdx); val t = r.getLong(tIdx)
          if (g != curGroup || sh != curShard) {
            curGroup = g; curShard = sh; pack = -1L; fill = 0L
          }
          // overflow-safe form of `fill + t > seqTokens`
          if (pack < 0L || fill > seqTokens - t) { pack += 1L; fill = t }
          else fill += t
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ pack)
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Best-fit-decreasing packing — [[packSequences]] with the bin-
    * packing heuristic that actually minimizes padding waste: within
    * each (group, shard), documents are processed in (tokens DESC,
    * id ASC) order and each goes to the OPEN pack with the smallest
    * remaining capacity that still fits (ties to the lowest pack
    * index); no fit opens a new pack; an oversized document still gets
    * a pack of its own. BFD is the classic ≤ 11/9·OPT + 6/9 bin-packing
    * bound (Johnson 1973); the in-id-order greedy rule is next-fit
    * (never revisits a pack), which skewed length mixes punish — at
    * 100 TB, padding waste IS compute waste, and the spec pins a
    * corpus where BFD packs strictly fewer sequences.
    *
    * Determinism is preserved: the (tokens DESC, id ASC) order and the
    * lowest-index tie-break make every boundary a pure function of the
    * shard's (tokens, id) multiset — re-runs, repartitions and engines
    * reproduce it row-for-row (the oracle replays the exact recursion).
    * Scale shape is [[packSequences]]'s verbatim: one shuffle to
    * co-locate (group, shard), per-shard state bounded by the shard
    * budget (≤ shardTokens open-pack fills), parallelism ∝
    * corpus_tokens / shardTokens.
    *
    * Output: input columns + `tokens`, `shard`, `pack` (0-based within
    * each (group, shard); pack numbering follows opening order).
    */
  def packSequencesBfd(df: DataFrame, idCol: String, textCol: String,
                       groupCol: String, shardTokens: Long, seqTokens: Long): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    require(shardTokens >= seqTokens,
      "shardTokens must be >= seqTokens (shards are the packing unit)")
    val sharded = shardByTokenBudget(df, idCol, textCol, groupCol, shardTokens)
    val schema = org.apache.spark.sql.types.StructType(
      sharded.schema.fields :+
        org.apache.spark.sql.types.StructField("pack",
          org.apache.spark.sql.types.LongType, nullable = false))
    val (gIdx, shIdx, tIdx) = (sharded.schema.fieldIndex(groupCol),
      sharded.schema.fieldIndex("shard"), sharded.schema.fieldIndex("tokens"))
    sharded
      .repartition(col(groupCol), col("shard"))
      .sortWithinPartitions(col(groupCol), col("shard"),
        col("tokens").desc, col(idCol).asc)
      .mapPartitions { it =>
        var curGroup: Any = null
        var curShard = Long.MinValue
        var fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        it.map { r =>
          val g = r.get(gIdx); val sh = r.getLong(shIdx); val t = r.getLong(tIdx)
          if (g != curGroup || sh != curShard) {
            curGroup = g; curShard = sh
            fills = scala.collection.mutable.ArrayBuffer.empty[Long]
          }
          var best = -1
          var bestResid = Long.MaxValue
          var i = 0
          while (i < fills.length) {
            // overflow-safe fit test: fills(i) + t <= seqTokens
            val fits = fills(i) <= seqTokens - t
            if (fits) {
              val resid = seqTokens - fills(i) - t
              if (resid < bestResid) { bestResid = resid; best = i }
            }
            i += 1
          }
          val pack =
            if (best >= 0) { fills(best) += t; best.toLong }
            else { fills += t; (fills.length - 1).toLong }
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ pack)
        }
      }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Deterministic mixture sampling — the corpus-mixing step: keep each
    * document with its source's sampling rate, decided by the SAME
    * md5-fraction as `splitColumn` (seeded differently via a prefix so
    * mixture and split decisions are independent). Sources absent from
    * `rates` keep everything (rate 1.0). Like the split, the decision is
    * a pure function of the id: re-runs, repartitions and backfills
    * keep exactly the same rows, and the rule replays in any engine
    * with md5.
    */
  def mixtureFilter(idCol: Column, sourceCol: Column,
                    rates: Seq[(String, Double)]): Column = {
    require(rates.forall { case (_, r) => r >= 0.0 && r <= 1.0 },
      "rates must be in [0, 1]")
    val hex = substring(md5(concat(lit("mix:"), idCol.cast("string"))), 1, 8)
    val bound = rates.reverse.foldLeft(lit("ffffffff"): Column) {
      case (els, (src, r)) =>
        when(sourceCol === lit(src), lit(rateBoundHex(r))).otherwise(els)
    }
    // rate 1.0 keeps hash ffffffff too: <= against the inclusive bound
    hex <= bound
  }

  /** Equivalent SQL predicate (Spark∩DuckDB dialect) for the gate. */
  def mixtureSql(idExpr: String, sourceExpr: String,
                 rates: Seq[(String, Double)]): String = {
    val h = s"substr(md5('mix:' || CAST($idExpr AS STRING)), 1, 8)"
    val whens = rates.map { case (src, r) =>
      s"WHEN $sourceExpr = '$src' THEN '${rateBoundHex(r)}'"
    }
    s"$h <= CASE ${whens.mkString(" ")} ELSE 'ffffffff' END"
  }

  /** Inclusive upper bound for a keep-rate: the largest 8-hex value kept.
    * rate 0 keeps nothing (bound below the smallest hash is impossible in
    * unsigned hex space, so 0 renders as a sentinel that nothing sorts
    * ≤ except — handled by an empty-string bound, which no hex string
    * sorts ≤).
    */
  private def rateBoundHex(r: Double): String =
    if (r <= 0.0) "" // no hex string is <= "" lexicographically except ""
    else f"${math.min((r * 4294967296.0).toLong - 1, 4294967295L)}%08x"

  /** Temperature-scaled source mixture (the multilingual-corpus
    * balancing rule of mBERT/XLM-R/mT5 — Conneau & Lample 2019 §3.1,
    * Xue et al. 2021 §3.2; GPT-3's per-source weights are the same
    * mechanism with hand-set q): sampling share q_i ∝ n_i^alpha flattens
    * the corpus-size distribution (alpha = 1 keeps natural proportions,
    * alpha → 0 approaches uniform over sources), so head sources
    * DOWNSAMPLE and tail sources UPSAMPLE — the expected-repeat rate is
    * r_i = budget·q_i / n_i, and each document carries
    * `n_copies = floor(r_i) + Bernoulli(frac(r_i))` epochs of itself
    * (He et al.-style weighting feeds [[epochShuffle]]/packing without
    * materializing duplicates; rows with n_copies = 0 are dropped).
    *
    * Deterministic and engine-replayable end-to-end: the Bernoulli draw
    * is the [[splitColumn]] md5-fraction of the id (prefix-seeded), the
    * threshold is the per-source frac(r_i) rendered as an 8-hex bound
    * IN-ENGINE (lpad(hex(floor(frac·2³²)))) because r_i is
    * data-dependent — no driver constant exists — and r_i is rounded to
    * 6dp before floor/frac so both engines branch on the same double.
    *
    * Scale shape: two source-cardinality aggregations (count per source,
    * one grand total), a broadcast join of the per-source rate back to
    * the corpus, then a pure map-side expression — no corpus shuffle at
    * any scale.
    */
  def temperatureMixture(df: DataFrame, idCol: String, sourceCol: String,
                         alpha: Double, budget: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1], got $alpha")
    require(budget > 0, s"budget must be positive, got $budget")
    val n = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).cast("double").as("__ni"))
      .withColumn("__w", pow(col("__ni"), lit(alpha)))
      .localCheckpoint(true) // source-cardinality rows; read twice below
    // z is ONE driver scalar (the stupidBackoff N/V convention — a
    // 1-row crossJoin would plan as a BroadcastNestedLoopJoin)
    val zRow = n.agg(sum(col("__w"))).head()
    require(!zRow.isNullAt(0),
      "temperatureMixture: empty corpus — no rows to mix (sum over zero sources)")
    val z = zRow.getDouble(0)
    val r = n.select(col(sourceCol),
      round(lit(budget.toDouble) * col("__w") / lit(z) / col("__ni"), 6)
        .as("__ri"))
    val hx = substring(md5(concat(lit("temp:"), col(idCol).cast("string"))), 1, 8)
    val fracBound = lpad(lower(hex(
      floor((col("__ri") - floor(col("__ri"))) * lit(4294967296.0)).cast("long"))),
      8, "0")
    df.join(broadcast(r), Seq(sourceCol))
      .withColumn("n_copies",
        floor(col("__ri")).cast("long") + when(hx < fracBound, 1L).otherwise(0L))
      .where(col("n_copies") > 0)
      .drop("__ri")
  }

  /** Conservative PII redaction as a pure codegen'd column expression:
    * emails → [EMAIL], dotted IPv4 quads → [IP], then 9+-digit runs
    * (account/phone/SSN-shaped numbers) → [NUM], applied in that order
    * so an address is captured whole before its digit runs are. The
    * patterns sit in the RE2 ∩ Java-regex dialect intersection, so the
    * exact rule replays on any engine (the gate runs it on DuckDB) —
    * and they are deliberately conservative: redaction must be
    * deterministic and auditable, not clever.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongNumRe = "\\d{9,}"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      LongNumRe, "[NUM]")

  /** Deterministic per-stratum cap: keep at most `cap` rows per value of
    * `strataCol`, chosen by md5-of-id order (the same engine-replayable
    * hash order as splitColumn — re-runs, repartitions and engines all
    * keep the SAME rows, unlike sample()/limit()). The standard
    * per-source ceiling of corpus assembly ("no more than N docs from
    * any one domain").
    *
    * One shuffle on the stratum key; rank is computed in-partition. A
    * pathologically huge stratum sorts within its partitions (spills,
    * completes) — for strata at full-corpus scale prefer mixtureFilter's
    * rate-based form, which is rank-free.
    */
  def stratifiedCap(df: DataFrame, idCol: String, strataCol: String,
                    cap: Int): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= cap)
      .drop("__rk")
  }

  /** Quality filter CALIBRATED to a keep-rate instead of a magic
    * threshold: computes the exact `1 - keepRate` percentile of
    * `scoreCol` (6dp-rounded, interpolated — Spark `percentile` and
    * DuckDB `quantile_cont` share the definition) and keeps rows at or
    * above it. The percentile is one exact aggregation; its scalar
    * result parameterizes the filter — the corpus is touched twice
    * (calibrate, filter), both single passes.
    */
  def calibratedQualityFilter(df: DataFrame, scoreCol: Column,
                              keepRate: Double): DataFrame = {
    require(keepRate > 0 && keepRate <= 1, s"keepRate must be in (0,1], got $keepRate")
    val scored = df.withColumn("__q", round(scoreCol, 6))
    val thr = scored.agg(expr(s"percentile(__q, ${1.0 - keepRate})"))
      .head().getDouble(0)
    scored.where(col("__q") >= thr).drop("__q")
  }

  /** Deterministic epoch shuffle: assigns every row a global position
    * 0..n-1 in a seeded pseudo-random order — the training-data ordering
    * step (each epoch's read order = a different seed). Like splitColumn,
    * the ORDER is a pure function of (seed, id): md5("seed:id") is the
    * sort key, so the permutation is identical across re-runs, cluster
    * sizes and engines — a resumable dataloader can trust `posCol` as a
    * stable cursor. Requires non-null, unique ids (ties fall back to id
    * order; null ids would sort differently across engines).
    *
    * Scale shape: repartitionByRange on the key (Spark's sampled range
    * exchange — the global-sort machinery) + in-partition sort; global
    * position = per-partition offset + local index, the zipWithIndex
    * two-pass enumeration expressed entirely in DataFrame algebra so the
    * whole pass stays columnar/codegen (no RDD round-trip re-encoding
    * every row): `spark_partition_id` + `monotonically_increasing_id`
    * are stamped on the sorted partitions (deterministic because they
    * sit above the in-partition sort — both passes see the same row
    * order), per-partition (count, first-id) aggregate to a
    * partitions-sized frame, a triangular self-join turns counts into
    * prefix offsets, and a broadcast join attaches them back. The big
    * side shuffles ONCE (the range exchange); the rest moves only
    * O(#partitions) rows. No single-partition window, no driver-side
    * data. Cost: the sorted input computes twice (tally branch + attach
    * branch; the exchange is reused) — persist upstream if expensive.
    *
    * Reference analogue: none — ordering for trainers is out of bacon's
    * scope; standard LLM-pipeline surface (SURVEY §2.63).
    */
  def epochShuffle(df: DataFrame, idCol: String, seed: Long,
                   posCol: String = "epoch_pos"): DataFrame = {
    val key = md5(concat(lit(s"$seed:"), col(idCol).cast("string")))
    val local = df.withColumn("__ek", key)
      .repartitionByRange(col("__ek"), col(idCol))
      .sortWithinPartitions(col("__ek"), col(idCol))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
    // one row per partition: row count + the first local id (no reliance
    // on monotonically_increasing_id's bit layout — only on it being
    // increasing by 1 per row within a partition)
    val tallies = local.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__c"), min(col("__mid")).as("__m0"))
    // prefix-sum over the one-row-per-partition tallies via the
    // partition-grain spine (BoundedSpine contract: bounded by
    // parallelism, never the data; the previous inequality self-join
    // planned as an O(P²) BroadcastNestedLoopJoin)
    val wt = graft.ops.BoundedSpine.prefixSum(col("__pid"))
    val offsets = tallies
      .withColumn("__off", coalesce(sum(col("__c")).over(wt), lit(0L)))
      .drop("__c")
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(posCol, col("__off") + (col("__mid") - col("__m0")))
      .drop("__ek", "__pid", "__mid", "__m0", "__off")
  }

  /** TF-IDF top terms per document: term frequency × ln(N / document
    * frequency), the classic salience score — what a corpus search or
    * keyword-extraction step runs after dedup. Returns the `k` highest-
    * scoring terms per document (score 6dp-rounded; ties by term text,
    * so the cut is deterministic and engine-portable).
    *
    * Scale shape: explode tokens → ONE (doc, term) count aggregation
    * (map-side combined); document frequency derives from that same
    * aggregate (tf is one row per (doc, term), so df = rows per term)
    * instead of a second tokenize+explode+distinct pass over the corpus
    * — the base text scans exactly once. The vocab-sized df table joins
    * back by term (AQE picks broadcast when it fits; NEVER the corpus
    * against itself) → top-k window per doc. N is one scalar count. No
    * collect of anything vocab- or corpus-sized.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val n = df.select(col(idCol)).distinct().count()
    val terms = df.select(col(idCol).as("__id"),
        explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("term"))
    val tf = terms.groupBy(col("__id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val scored = tf.join(dfreq, "term")
      .withColumn("tfidf",
        round(col("tf").cast("double") * log(lit(n.toDouble) / col("__df")), 6))
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= k)
      .select(col("__id").as(idCol), col("term"), col("tf"),
        col("tfidf"), col("__rk").cast("long").as("rk"))
  }

  /** BM25 relevance of every document to a fixed query-term set — the
    * standard retrieval scorer (Robertson idf, k1/b saturation):
    *   Σ_t ln(1 + (N−df+0.5)/(df+0.5)) ·
    *       tf·(k1+1) / (tf + k1·(1−b + b·len/avgdl))
    * Documents matching no query term are absent (score 0).
    *
    * Scale shape: the corpus tokenizes ONCE into a slim per-doc frame
    * (id, length, query-term hits — localCheckpoint'd, like d19's
    * inverted index, so the N/avgdl scalar actions and the scoring job
    * all read the materialized slim rows instead of re-tokenizing the
    * text per action); the per-term df table derives from the (doc,
    * term) count itself and is |query| rows (broadcast). Exact double
    * arithmetic in an engine-shared evaluation order, so the score
    * replays hash-exact.
    */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
                 queryTerms: Seq[String], k1: Double = 1.2,
                 b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val toks = TextFunctions.wsTokens(lower(trim(col(textCol))))
    val perDoc = df.select(col(idCol).as("__id"),
        size(toks).cast("long").as("__dl"),
        filter(toks, t => t.isin(queryTerms: _*)).as("__qtk"))
      .localCheckpoint()
    val n = perDoc.count()
    val avgdl = perDoc.agg(avg(col("__dl"))).head().getDouble(0)
    val tf = perDoc.select(col("__id"), col("__dl"), explode(col("__qtk")).as("term"))
      .groupBy(col("__id"), col("term"))
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val idf = log(lit(1.0) + (lit(n) - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    val sat = col("__tf").cast("double") * lit(k1 + 1.0) /
      (col("__tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / lit(avgdl)))
    tf.join(broadcast(dfreq), "term")
      .groupBy(col("__id"))
      .agg(round(sum(idf * sat), 6).as("bm25"))
      .select(col("__id").as(idCol), col("bm25"))
  }

  /** BM25 for a free-text query string: tokenized with the SAME rule as
    * the corpus side (lowercase, whitespace split — `wsTokens`), terms
    * deduplicated (BM25 treats the query as a set; repeating a word in
    * the query must not double its contribution).
    */
  def bm25ScoresForQuery(df: DataFrame, idCol: String, textCol: String,
                         query: String, k1: Double = 1.2,
                         b: Double = 0.75): DataFrame = {
    val terms = query.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    require(terms.nonEmpty, s"query '$query' tokenizes to nothing")
    bm25Scores(df, idCol, textCol, terms, k1, b)
  }

  /** Pointwise mutual information over term CO-OCCURRENCE in documents:
    * pmi(a,b) = ln(N·n_ab / (n_a·n_b)) with presence counts (a document
    * contributes once per term) — positive when two terms appear
    * together more than their marginals predict; the standard
    * collocation / topic-signal statistic.
    *
    * Scale shape: distinct terms per doc self-join WITHIN the doc id —
    * quadratic in a document's DISTINCT term count, not its length, and
    * never corpus×corpus; real corpora should pre-filter to a bounded
    * vocabulary (stopword/top-k cut) before calling. Marginals are the
    * vocab-sized df table joined back twice (AQE broadcasts when small).
    * `minCount` cuts rare pairs before the join-back, which is also
    * where PMI's small-count noise lives.
    */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
               minCount: Int = 5): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val n = df.select(col(idCol)).distinct().count()
    val terms = df.select(col(idCol).as("__id"),
        explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("term"))
      .distinct()
    val dfreq = terms.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    val a = terms.alias("a"); val b = terms.alias("b")
    val pairs = a.join(b, col("a.__id") === col("b.__id") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("t1"), col("b.term").as("t2"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    pairs
      .join(dfreq.select(col("term").as("t1"), col("__df").as("__dfa")), "t1")
      .join(dfreq.select(col("term").as("t2"), col("__df").as("__dfb")), "t2")
      .select(col("t1"), col("t2"), col("n_ab"),
        round(log(lit(n.toDouble) * col("n_ab") / (col("__dfa") * col("__dfb"))), 6)
          .as("pmi"))
  }

  /** Deterministic weighted sample WITHOUT replacement of exactly `n`
    * rows, inclusion probability ∝ `weightCol` (Efraimidis–Spirakis
    * A-ES): each row's key is ln(u)/w with u a seeded md5-fraction of
    * the id, and the n largest keys win (ln(u)/w is monotone in the
    * paper's u^(1/w)). Like splitColumn/epochShuffle, u is a pure
    * function of (seed, id): the SAME n rows win on every re-run, any
    * partitioning, any engine — "sample 1M docs, length-weighted" as a
    * reproducible pipeline step, not a dice roll.
    *
    * Rows with NULL or non-positive weight are excluded (they can never
    * win a weighted draw).
    *
    * Scale shape: the key is a pure column expression and the top-n is
    * a TakeOrdered — per-partition top-n then a driver-side merge of n
    * rows per partition, never a global sort. n is assumed
    * driver-mergeable (samples, not corpus-scale splits — use
    * mixtureFilter/calibratedQualityFilter for rate-shaped selection).
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: Column,
                     n: Int, seed: Long): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    // u in (0,1]: first 8 md5 hex chars + 1, over 2^32 — exact in doubles
    val u = (conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long") + 1).cast("double") / 4294967296.0
    df.where(weightCol.isNotNull && weightCol > 0)
      .withColumn("__sk", log(u) / weightCol.cast("double"))
      .orderBy(col("__sk").desc, col(idCol).asc)
      .limit(n)
      .drop("__sk")
  }

  /** Lowercased host of a URL — scheme and userinfo stripped, cut at the
    * first of `/ : ? #` (port/path/query/fragment). Scheme-less inputs
    * ("example.com/page") resolve to their leading host. Pure codegen'd
    * regexp_extract; NULL/hostless input yields NULL, not ''.
    */
  def urlHost(url: Column): Column = {
    // Scheme is stripped FIRST (a single optional-scheme regex would
    // backtrack on "https://" and report the scheme as the host); then
    // userinfo allows ':' (user:pw@host) and the host capture stops at
    // the first of / : ? # — ':' excluded there cuts the port off
    val h = lower(regexp_extract(
      regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", ""),
      "^(?:[^/@?#]*@)?([^/:?#]+)", 1))
    when(h === "", lit(null)).otherwise(h)
  }

  /** Every ≥2-label suffix of a host, the host itself included:
    * a.b.example.com → [a.b.example.com, b.example.com, example.com].
    * This is the standard blocklist-matching chain (a list entry for
    * example.com must block its subdomains); single-label hosts
    * ("localhost") yield just themselves.
    */
  def hostSuffixes(host: Column): Column = {
    val parts = split(host, "\\.")
    val n = size(parts)
    when(n >= 2,
      transform(sequence(lit(1), n - 1),
        i => concat_ws(".", slice(parts, i, n - i + 1))))
      .otherwise(array(host))
  }

  /** Query-parameter names dropped by [[canonicalizeUrl]]: click/session
    * trackers that vary per-visit without changing the resource. Kept
    * deliberately short — dropping a REAL parameter merges distinct
    * pages, the unrecoverable direction.
    */
  val DefaultDropParams: Seq[String] =
    Seq("fbclid", "gclid", "msclkid", "mc_eid", "igshid")

  /** Parameter-name prefixes dropped by [[canonicalizeUrl]] (the utm_*
    * campaign family).
    */
  val DefaultDropPrefixes: Seq[String] = Seq("utm_")

  /** Canonical form of a URL — the normalization every web-crawl
    * pipeline runs before URL-level dedup, where the same page hides
    * behind case, default ports, tracker params, param order, fragments
    * and trailing slashes:
    *
    *  - scheme and host lowercased; scheme-less input resolves as http
    *  - userinfo stripped; default port dropped (http:80, https:443)
    *  - path: duplicate slashes collapsed, trailing slash stripped,
    *    empty path → "/" (path CASE is preserved — paths are
    *    case-sensitive by spec)
    *  - query: params split on '&', trackers dropped (exact names in
    *    `dropParams`, name prefixes in `dropPrefixes`), survivors
    *    sorted bytewise and rejoined; empty query drops the '?'
    *  - fragment stripped
    *
    * Percent-encoding is NOT normalized (%7E vs ~ stay distinct) —
    * decoding without re-encoding corrupts reserved characters, and
    * the false-negative cost of skipping it is tiny next to the rule
    * set above. Protocol-relative input ("//cdn.example.com/x", the
    * common crawled-href form) resolves as http like other scheme-less
    * input. NULL in → NULL out; input with NO host (a bare path like
    * "/about") → NULL — absence of a canonical key, not a key of "".
    * Bracketed IPv6 hosts ("http://[::1]/x") also → NULL: the
    * colon-based port split cannot parse them, and a wrong split would
    * collapse DISTINCT IPv6 hosts onto one key (the unrecoverable
    * direction) — no key means the row passes through undeduped.
    *
    * Pure codegen'd column expression — regexp splits + array HOFs, no
    * UDF, no shuffle: the cheapest operator class at 100 TB. The exact
    * rule replays in DuckDB (the t18 oracle), so canonical keys are
    * engine-portable.
    */
  def canonicalizeUrl(url: Column,
                      dropParams: Seq[String] = DefaultDropParams,
                      dropPrefixes: Seq[String] = DefaultDropPrefixes): Column = {
    val scheme0 = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val scheme = when(scheme0 === "", lit("http")).otherwise(scheme0)
    // strips "scheme://" AND the bare "//" of protocol-relative URLs
    val rest = regexp_replace(url, "^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//", "")
    val nofrag = regexp_replace(rest, "#.*$", "")
    val hostport = regexp_extract(nofrag, "^(?:[^/@?#]*@)?([^/?#]*)", 1)
    val host = lower(regexp_extract(hostport, "^([^:]*)", 1))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val portPart = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val pathq = regexp_extract(nofrag, "^(?:[^/@?#]*@)?[^/?#]*([^#]*)", 1)
    val path0 = regexp_replace(
      regexp_replace(regexp_extract(pathq, "^([^?]*)", 1), "/{2,}", "/"),
      "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val rawQ = regexp_extract(pathq, "\\?(.*)$", 1)
    val kept = filter(split(rawQ, "&"), p => {
      val name = regexp_extract(p, "^([^=]*)", 1)
      val exact = dropParams.map(d => name === lit(d))
        .foldLeft(lit(false): Column)(_ || _)
      val pref = dropPrefixes.map(x => name.startsWith(x))
        .foldLeft(lit(false): Column)(_ || _)
      p =!= "" && !exact && !pref
    })
    val q = array_join(array_sort(kept), "&")
    val out = concat(scheme, lit("://"), host, portPart, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
    when(host === "" || hostport.contains("["), lit(null).cast("string"))
      .otherwise(out)
  }

  /** URL-level exact dedup by canonical form — the step before any
    * content dedup in a crawl pipeline (it is ~free and removes the
    * bulk of recrawl duplicates). Keeps the LOWEST id per canonical
    * URL (deterministic, engine-portable) and annotates survivors with
    * `canonical_url` and `n_dups` (group size, 1 = unique). Rows whose
    * URL has no canonical form (NULL / hostless — see
    * [[canonicalizeUrl]]) pass through untouched with a NULL key and
    * n_dups = 1: absence of a key is not evidence of duplication (the
    * [[filterByDomainBlocklist]] convention).
    *
    * Scale shape: the ~15-regexp canonicalization runs ONCE per row,
    * in the slim (id, canonical) projection that feeds the key
    * aggregation; the winner table carries only (canonical, min id,
    * count) and equi-joins back on the id (AQE broadcasts it when it
    * fits). The losers never ship their payload columns.
    */
  def dedupByCanonicalUrl(df: DataFrame, idCol: String, urlCol: String,
                          dropParams: Seq[String] = DefaultDropParams,
                          dropPrefixes: Seq[String] = DefaultDropPrefixes): DataFrame = {
    val canon = df.select(col(idCol).as("__cid"),
      canonicalizeUrl(col(urlCol), dropParams, dropPrefixes).as("canonical_url"))
    val winners = canon.where(col("canonical_url").isNotNull)
      .groupBy(col("canonical_url"))
      .agg(min(col("__cid")).as("__keep_id"), count(lit(1)).as("n_dups"))
    val kept = df.join(winners, df(idCol) === col("__keep_id"))
      .drop("__keep_id")
    val passed = df
      .join(canon.where(col("canonical_url").isNull).select(col("__cid")),
        df(idCol) === col("__cid"), "left_semi")
      .withColumn("canonical_url", lit(null).cast("string"))
      .withColumn("n_dups", lit(1L))
    kept.unionByName(passed)
  }

  /** C4-style URL blocklist filter: drop every row whose URL host — or
    * any registrable suffix of it — appears in `blocklist` (a frame with
    * a `domain` column). Rows with un-parseable URLs are KEPT (absence
    * of a host is not evidence of badness; drop them with a separate
    * quality rule if wanted).
    *
    * Scale shape: real blocklists are 10⁵-10⁶ domains — too big to
    * inline in an expression, small enough to broadcast; the suffix
    * chain explodes to ~host-depth short rows per document and
    * semi-joins against the list, so the corpus is touched once and
    * only (id, suffix) pairs move. Returns surviving rows, all columns
    * intact.
    */
  def filterByDomainBlocklist(df: DataFrame, idCol: String, urlCol: String,
                              blocklist: DataFrame): DataFrame = {
    val blocked = df
      .select(col(idCol).as("__bl_id"), explode(hostSuffixes(urlHost(col(urlCol)))).as("__sfx"))
      .join(broadcast(blocklist.select(lower(col("domain")).as("__dom")).distinct()),
        col("__sfx") === col("__dom"), "left_semi")
      .select(col("__bl_id")).distinct()
    df.join(blocked, df(idCol) === col("__bl_id"), "left_anti")
  }

  /** HTML main-text extraction — the step BEFORE every other text
    * filter when the corpus is raw crawl markup (the trafilatura/
    * jusText role, reduced to a deterministic closed-form rule chain
    * so the exact behaviour replays in DuckDB):
    *
    *  1. `<script>`/`<style>` elements removed WITH their content
    *     (code is never corpus text), HTML comments removed
    *  2. block-closing tags (`</p> </div> </h1..6> </li> </tr>`) and
    *     `<br>` become newlines — paragraph structure survives for the
    *     downstream line-grain filters (d32/d44/t12)
    *  3. every remaining tag strips to a space
    *  4. the five standard entities + `&nbsp;` decode LAST (decoding
    *     first would let "&lt;script&gt;" re-enter as markup)
    *  5. whitespace normalizes: runs of spaces/tabs collapse, line
    *     edges trim, ≥3 newlines collapse to 2, outer edges trim
    *
    * One chain of codegen'd regexp_replace — a pure map over the
    * corpus, the cheapest operator class at 100 TB. Patterns stay in
    * the RE2∩Java subset ((?is) flags and lazy quantifiers are exact
    * in both engines; no backrefs).
    */
  def extractHtmlText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val blocks = regexp_replace(noComment,
      "(?i)<(?:br\\s*/?|/p|/div|/h[1-6]|/li|/tr)>", "\n")
    val noTags = regexp_replace(blocks, "<[^>]+>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    val spaces = regexp_replace(ent, "[ \\t]+", " ")
    val edges = regexp_replace(regexp_replace(spaces, " ?\\n ?", "\n"),
      "\\n{3,}", "\n\n")
    // trim() strips only spaces in both engines — newline edges need
    // the regex form
    regexp_replace(edges, "^\\s+|\\s+$", "")
  }

  /** CCNet-style corpus-wide PARAGRAPH dedup (Wenzek et al. 2019 §3.2:
    * sharded paragraph-hash dedup is CCNet's first and highest-yield
    * filter — ~70% of raw crawl text is duplicated paragraphs): every
    * line whose normalized form (lower + trim, ≥ `minChars` chars)
    * appears elsewhere in the corpus keeps ONLY its first occurrence —
    * the (doc, position)-minimal one, a deterministic stand-in for
    * CCNet's shard order — and later copies are dropped. Differs from
    * [[removeBoilerplateLines]] on both axes: that operator drops ALL
    * occurrences, and only of lines frequent across ≥ minDocs distinct
    * documents; this one drops every copy but the first, of every
    * duplicated line. Short/blank lines (< minChars) are structure, not
    * content, and always survive. Line order is preserved.
    *
    * Returns (idCol, clean_text, n_kept, n_removed).
    *
    * Scale shape: one exploded pass → map-side-combinable min(struct)
    * per normalized line → ONE equi-join back on the line key (Zipf-
    * bounded; the blank-line hot keys are already excluded by minChars,
    * and AQE splits any residual skew) → per-doc reassembly. No
    * windows, no self-joins; deduping 100 TB is two shuffles.
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      minChars: Int = 5): DataFrame = {
    val lines = explodeLines(df, idCol, textCol, minChars, lower)
    // First-occurrence stamp via aggregate + join-back, NOT a window
    // over the line key. The r17 single-pass window form (min over a
    // Window.partitionBy(__key)) was measured 1.46x faster at sf0.1 and
    // REVERTED on scale evidence: duplicated paragraphs at web scale
    // are boilerplate — hot BY DESIGN — and WindowExec does no partial
    // aggregation, so every row of a hot key lands in ONE task (the
    // sibling removeBoilerplateLines form measured 4.3 s -> 108 s at
    // 30x data before its revert). The groupBy collapses hot keys
    // map-side; the join-back costs a second (fully parallel) upstream
    // evaluation, which is the scale-correct trade.
    val first = lines.where(col("__key").isNotNull)
      .groupBy(col("__key"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__first"))
    val marked = lines.join(first, Seq("__key"), "left")
      .withColumn("__keep", col("__key").isNull ||
        (col("__first.__id") === col("__id") && col("__first.__pos") === col("__pos")))
    reassemble(marked, col("__keep"), idCol)
  }

  /** Corpus-level boilerplate line removal (the RefinedWeb/CCNet line
    * dedup rule): a line whose trimmed text appears in at least
    * `minDocs` DISTINCT documents is boilerplate (nav menus, cookie
    * banners, copyright footers) and is stripped from every document.
    * Lines shorter than `minChars` after trimming never participate —
    * they are kept verbatim (an empty spacer line "appears" everywhere
    * but is formatting, not boilerplate). Line order is preserved;
    * documents whose every line is boilerplate come back with empty
    * text, not dropped (dropping is a separate quality rule).
    *
    * Returns (idCol, clean_text, n_kept, n_removed).
    *
    * Scale shape: posexplode lines → per-line distinct-doc counts (two
    * map-side-combinable aggregations — (doc, line) dedup then line
    * count) → the boilerplate table (df ≥ minDocs — tiny by Zipf: the
    * whole point is that boilerplate repeats) left-joined back as a
    * drop marker (AQE broadcasts it when it fits; a marker, not an
    * anti-join, so removals stay countable) → per-doc reassembly, a
    * collect_list bounded by the document's own line count. The corpus
    * shuffles on the line key once and on the doc id once (the line
    * scan computes twice — count branch + mark branch — persist
    * upstream if the input is expensive); nothing corpus-sized reaches
    * the driver.
    */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             minDocs: Int, minChars: Int = 1): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = explodeLines(df, idCol, textCol, minChars, identity)
    // Document frequency via distinct+aggregate+join-back, NOT a
    // window over the line key. The r17 single-pass window form
    // (size(collect_set(__id)) over Window.partitionBy(__key)) was
    // measured 1.55x faster at sf0.1 and REVERTED on scale evidence:
    // boilerplate lines are hot BY DESIGN (that is what this operator
    // detects), WindowExec does no partial aggregation, and the hot
    // keys concentrated most of the exploded corpus into a few tasks —
    // d32 measured 4.33 s -> 80 s in-sweep (108 s isolated) at 30x
    // data. distinct+groupBy collapses hot keys map-side; the
    // join-back's second upstream evaluation is fully parallel and is
    // the scale-correct trade.
    val common = lines.where(col("__key").isNotNull)
      .select(col("__id"), col("__key")).distinct()
      .groupBy(col("__key")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocs)
      .select(col("__key").as("__bp"))
    val marked = lines.join(common, col("__key") === col("__bp"), "left")
      .withColumn("__drop", col("__bp").isNotNull)
    reassemble(marked, !col("__drop"), idCol)
  }

  /** The line rows of every document, shared by the line-grain dedup
    * operators: (`__id`, `__pos` 0-based, `__line`, `__key`), where
    * `__key` is `norm(trim(line))` for a line of at least `minChars`
    * trimmed chars and NULL for a shorter one (structure, never a dedup
    * key). `norm` is `lower` for case-folded matching, identity for
    * exact matching.
    *
    * Input contract: `idCol` must be unique. Rows that share an id are
    * treated as one document — their lines pool in [[reassemble]]. A
    * NULL text yields no line row (`posexplode` skips null), so its
    * document is absent from the line operators' output.
    */
  private def explodeLines(df: DataFrame, idCol: String, textCol: String,
                           minChars: Int, norm: Column => Column): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    df.select(col(idCol).as("__id"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__key",
        when(length(trim(col("__line"))) >= minChars, norm(trim(col("__line")))))
  }

  /** Per-document reassembly of [[explodeLines]] rows: the lines where
    * `keep` holds, rejoined with "\n" in position order, plus the kept
    * and removed line counts. Returns (idCol, clean_text, n_kept,
    * n_removed), one row per document with at least one line; a document
    * whose every line is removed comes back as "" with n_kept = 0, not
    * dropped. The collect_list is bounded by the document's own line
    * count.
    */
  private def reassemble(marked: DataFrame, keep: Column, idCol: String): DataFrame =
    marked.groupBy(col("__id"))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(when(keep, struct(col("__pos"), col("__line"))))),
          s => s.getField("__line"))).as("clean_text"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        sum(when(!keep, 1L).otherwise(0L)).as("n_removed"))
      .select(col("__id").as(idCol), col("clean_text"), col("n_kept"), col("n_removed"))

  /** Unigram language model trained on a reference corpus: one row per
    * token with its raw count — the model half of CCNet-style perplexity
    * filtering (Wenzek et al. 2020: score web text against an LM trained
    * on a trusted corpus; low perplexity ≈ "reads like the reference").
    * The reference trains 5-gram KenLM models; with no external model
    * files available the unigram form keeps the scoring engine-exact and
    * oracle-replayable while preserving the operational shape (train on
    * a trusted slice, score everything, filter on the score).
    *
    * Scale shape: one explode + one map-side-combinable count aggregation;
    * the result is vocab-sized (Zipf — millions of rows at 100 TB, never
    * corpus-sized). Tokenization matches the text-analysis family:
    * whitespace tokens of lowercased trimmed text.
    */
  def unigramLm(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("token_count"))

  /** Per-document cross-entropy (and perplexity) under an add-α-smoothed
    * unigram LM:  H(d) = −(1/|d|) Σ_t tf_t · ln((c_t + α)/(N + αV)),
    * ppl = e^H, with N = Σ counts and V = |vocab| of the LM; tokens the
    * LM never saw take the α-floor (c = 0). Deterministic double
    * arithmetic — the gate replays the identical formula in DuckDB.
    * Documents with zero tokens are absent from the output (their score
    * is undefined, not 0 — filter empties with a length rule first).
    *
    * Scale shape: per-doc term counts (one map-side-combined shuffle on
    * (id, token)) → equi-join against the vocab-sized LM (AQE broadcasts
    * it when it fits; never corpus×corpus) → one per-doc sum. N and V
    * reduce to a single driver row (two scalars, not data). The same
    * shape as tfidfTopTerms — the LM is the only non-corpus input, so
    * scoring 100 TB is one pass over the corpus plus a vocab join.
    */
  def crossEntropyScore(df: DataFrame, idCol: String, textCol: String,
                        lm: DataFrame, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
    val totals = lm.agg(sum(col("token_count")).cast("double").as("n"),
      count(lit(1)).cast("double").as("v")).head()
    val denom = totals.getDouble(0) + alpha * totals.getDouble(1)
    val tf = df.select(col(idCol).as("__id"),
        explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("token"))
      .groupBy(col("__id"), col("token")).agg(count(lit(1)).as("__tf"))
    val logp = log((coalesce(col("token_count"), lit(0L)).cast("double") + alpha) / denom)
    tf.join(lm, Seq("token"), "left")
      .withColumn("__lp", logp)
      .groupBy(col("__id"))
      .agg(sum(col("__tf")).as("n_tokens"),
        (-sum(col("__tf").cast("double") * col("__lp")) / sum(col("__tf")).cast("double"))
          .as("cross_entropy"))
      .select(col("__id").as(idCol), col("n_tokens"), col("cross_entropy"),
        exp(col("cross_entropy")).as("ppl"))
  }

  /** CCNet head/middle/tail corpus bucketing (Wenzek et al. 2020 §4.3):
    * score every document under a unigram LM of ITS OWN language slice
    * (the engine-exact stand-in for CCNet's per-language KenLM — the
    * [[unigramLm]] convention, add-1 smoothing, per-language N and V),
    * then split each language's documents into perplexity TERTILES:
    * `head` = the lowest-perplexity third (reads most like the
    * language's reference distribution), `middle`, `tail`. CCNet ships
    * these as separate corpus qualities; downstream mixing typically
    * keeps head+middle and drops or down-weights tail.
    *
    * Cut points are exact per-language percentiles computed by
    * AGGREGATION (one vocab-shuffle for the LM, one (id, token) shuffle
    * for scoring, then a languages-sized cut table broadcast back) —
    * never a corpus-wide sort or a per-language window, whose single
    * reducer per language would be the bottleneck at 100 TB. The tertile
    * comparison happens on the 6-dp-rounded cross-entropy scaled to a
    * 64-bit integer, so interpolated cuts over identical integer
    * multisets — and hence the bucket labels — replay exactly on any
    * engine. Zero-token documents are absent (score undefined), matching
    * [[crossEntropyScore]].
    *
    * Returns (idCol, langCol, xent [6 dp], bucket).
    */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        langCol: String): DataFrame = {
    val tk = df.select(col(idCol).as("__id"), col(langCol).as("__lang"),
      explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("token"))
    val lm = tk.groupBy(col("__lang"), col("token"))
      .agg(count(lit(1)).as("__c"))
    val tot = lm.groupBy(col("__lang"))
      .agg(sum(col("__c")).cast("double").as("__n"),
        count(lit(1)).cast("double").as("__v"))
    val tf = tk.groupBy(col("__id"), col("__lang"), col("token"))
      .agg(count(lit(1)).as("__tf"))
    // every token is in its own language's LM by construction (the doc
    // contributed it), so the join is an inner equi-join with no OOV arm
    val xent = tf.join(lm, Seq("__lang", "token"))
      .join(broadcast(tot), Seq("__lang"))
      .withColumn("__lp",
        log((col("__c").cast("double") + 1.0) / (col("__n") + col("__v"))))
      .groupBy(col("__id"), col("__lang"))
      .agg((-sum(col("__tf").cast("double") * col("__lp"))
        / sum(col("__tf")).cast("double")).as("__xent"))
      .select(col("__id"), col("__lang"), round(col("__xent"), 6).as("xent"))
      .withColumn("__pi", round(col("xent") * lit(1e6), 0).cast("long"))
    val cuts = xent.groupBy(col("__lang")).agg(
      percentile(col("__pi"), lit(1.0 / 3)).as("__c1"),
      percentile(col("__pi"), lit(2.0 / 3)).as("__c2"))
    xent.join(broadcast(cuts), Seq("__lang"))
      .select(col("__id").as(idCol), col("__lang").as(langCol), col("xent"),
        when(col("__pi") <= col("__c1"), lit("head"))
          .when(col("__pi") <= col("__c2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Intrinsic tokenizer evaluation over a corpus, grouped (typically by
    * source or language): the metrics a tokenizer choice is judged by
    * before any model is trained.
    *  - `fertility` — subword tokens per whitespace word (Ács 2019 /
    *    Rust et al. 2021 "How good is your tokenizer?"); 1.0 means every
    *    word is a single token, and a group whose fertility is far above
    *    the corpus mean is the one the vocabulary underserves.
    *  - `bytes_per_token` — UTF-8 bytes of the normalized text per
    *    emitted token, the compression rate that fixes how much real
    *    text a fixed context window holds.
    *  - `continuation_frac` — fraction of tokens that do NOT close a
    *    word (word-splitting rate; 0 iff fertility is 1).
    * `encode` is any whitespace-word subword encoder UDF returning the
    * token array with word-final tokens carrying `wordEndMarker` as a
    * suffix — [[Bpe.encodeUdf]]'s contract (marker [[Bpe.EndOfWord]]);
    * WordPiece-style encoders fit by passing their word-final form.
    *
    * Scale shape: one map pass (encode is per-row, the memoized UDF) +
    * one map-side-combinable aggregation to groupCol cardinality — the
    * cheapest operator class at 100 TB; token ARRAYS never shuffle, only
    * the per-doc count quadruple does.
    */
  def tokenizerEval(df: DataFrame, textCol: String, groupCol: String,
                    encode: org.apache.spark.sql.expressions.UserDefinedFunction,
                    wordEndMarker: String = Bpe.EndOfWord): DataFrame = {
    val norm = lower(trim(col(textCol)))
    val t = df.where(col(textCol).isNotNull)
      .select(col(groupCol).as("group_key"),
        size(TextFunctions.wsTokens(norm)).as("__nw"),
        encode(col(textCol)).as("__t"),
        octet_length(norm).as("__b"))
      .select(col("group_key"), col("__nw"), col("__b"),
        size(col("__t")).as("__nt"),
        size(filter(col("__t"), x => x.endsWith(wordEndMarker))).as("__ne"))
      // zero-word docs (whitespace-only text) carry no tokenizer signal
      // and an all-empty group would divide by zero below (ANSI: job
      // death) — the d31 zero-token-docs-absent convention
      .where(col("__nw") > 0)
    t.groupBy(col("group_key")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("__nw")).as("n_words"),
      sum(col("__nt")).as("n_tokens"),
      sum(col("__b")).as("n_bytes"),
      round(sum(col("__nt")).cast("double") / sum(col("__nw")), 6).as("fertility"),
      round(sum(col("__b")).cast("double") / sum(col("__nt")), 6).as("bytes_per_token"),
      round(lit(1.0) - sum(col("__ne")).cast("double") / sum(col("__nt")), 6)
        .as("continuation_frac"))
  }

  /** Fixed-token chunking with overlap — the context-window prep step
    * (RAG passage extraction, long-document training windows). Token
    * k·stride+1 starts chunk k (1-based token positions, 0-based chunk
    * ids, stride = chunkTokens − overlapTokens); chunks run while their
    * start covers un-emitted tokens, so every token lands in ≥1 chunk,
    * consecutive full chunks share exactly `overlapTokens` tokens, and
    * the final chunk may be short. Zero-token documents yield no rows.
    * The chunk count is pure integer arithmetic
    * (⌈max(0, n−chunk)/stride⌉ + 1), so the boundaries replay exactly on
    * any engine.
    *
    * Scale shape: a pure per-row transform — tokens → sequence of chunk
    * starts → explode. No shuffle, no state, embarrassingly parallel;
    * output size = input tokens × (1 + overlap/stride). The one
    * watch-item at 100 TB is row width, not the operator: chunk text is
    * re-materialized per chunk, so overlap inflates storage by a known
    * constant factor the caller chose.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens), got $overlapTokens")
    val stride = chunkTokens - overlapTokens
    val nc = (floor((greatest(col("__n") - lit(chunkTokens), lit(0)) + lit(stride - 1))
      / lit(stride)) + lit(1)).cast("int")
    df.select(col(idCol).as("__id"), TextFunctions.wsTokens(col(textCol)).as("__tk"))
      .withColumn("__n", size(col("__tk")))
      .where(col("__n") > 0)
      .select(col("__id"), col("__tk"), col("__n"),
        explode(transform(sequence(lit(0), nc - 1), k => k * stride + 1)).as("__start"))
      .select(col("__id").as(idCol),
        ((col("__start") - 1) / stride).cast("long").as("chunk_id"),
        col("__start").cast("long").as("start_token"),
        least(lit(chunkTokens), col("__n") - col("__start") + 1).cast("long")
          .as("chunk_tokens"),
        array_join(slice(col("__tk"), col("__start"), lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** C4-style heuristic cleaning (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning…", §2.2) — the canonical web-text rule
    * set, applied line-by-line then document-by-document:
    *   - keep only lines whose trimmed text ends in a terminal
    *     punctuation mark (`.` `!` `?` `"`);
    *   - keep only lines with at least `minWordsPerLine` words;
    *   - drop any line containing the word "javascript" (case-folded);
    *   - drop the whole document if any `badSubstrings` entry occurs in
    *     the case-folded original text (C4 uses "lorem ipsum" and the
    *     curly brace as a code marker);
    *   - drop the whole document if fewer than `minSentences` sentences
    *     survive (sentence count = terminal `.`/`!`/`?` characters in
    *     the kept text — the replayable proxy for C4's sentence
    *     splitter).
    * Returns every input row with (idCol, clean_text, n_lines_kept,
    * n_sentences, keep) so keep-rate accounting stays possible; filter
    * on `keep` for the survivor corpus.
    *
    * Scale shape: a pure per-row column program — one `filter` HOF over
    * the split lines, no explode, no shuffle, no state. At 100 TB this
    * is the cheapest class of operator there is: map-only, codegen'd,
    * pushed behind whatever scan feeds it.
    */
  def c4Filters(df: DataFrame, idCol: String, textCol: String,
                minWordsPerLine: Int = 3, minSentences: Int = 5,
                badSubstrings: Seq[String] = Seq("lorem ipsum", "{")): DataFrame = {
    require(minWordsPerLine >= 1, s"minWordsPerLine must be >= 1, got $minWordsPerLine")
    require(minSentences >= 0, s"minSentences must be >= 0, got $minSentences")
    val kept = filter(split(col(textCol), "\n"), l =>
      trim(l).rlike("[.!?\"]$") &&
        size(filter(split(trim(l), "\\s+"), w => length(w) > 0)) >= minWordsPerLine &&
        !lower(l).contains("javascript"))
    val cleanText = array_join(kept, "\n")
    val nSentences = length(regexp_replace(cleanText, "[^.!?]", ""))
    val bad = badSubstrings
      .map(s => lower(col(textCol)).contains(s.toLowerCase))
      .reduceOption(_ || _).getOrElse(lit(false))
    df.select(col(idCol),
      cleanText.as("clean_text"),
      size(kept).cast("long").as("n_lines_kept"),
      nSentences.cast("long").as("n_sentences"),
      (nSentences >= minSentences && !bad).as("keep"))
  }

  /** Token-distribution drift between two corpus snapshots — the
    * monitoring op a continuously-crawled corpus needs: per source,
    * smoothed unigram distributions P_a (baseline) and P_b (current)
    * over the union vocabulary, reported as KL(P_b ‖ P_a) (how
    * surprised the old model is by the new data) and the symmetric,
    * bounded Jensen–Shannon divergence. Add-α smoothing keeps both
    * well-defined on vocabulary that appears in only one snapshot —
    * precisely the tokens that constitute drift.
    *
    * Returns (source, n_tokens_a, n_tokens_b, vocab, kl_b_vs_a, js),
    * divergences 6dp-rounded, nats.
    *
    * Scale shape: ONE pass over both snapshots (union + conditional
    * count — per-(source, token) rows, map-side combinable), per-source
    * totals joined back (a #sources-row broadcast), one vocab-sized
    * per-source sum. Nothing corpus-sized shuffles twice and nothing
    * reaches the driver.
    */
  def tokenDrift(dfA: DataFrame, dfB: DataFrame, sourceCol: String,
                 textCol: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
    val tag = (df: DataFrame, b: Int) => df.select(
      col(sourceCol).as("source"),
      explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("token"),
      lit(b).as("__b"))
    val counts = tag(dfA, 0).unionAll(tag(dfB, 1))
      .groupBy(col("source"), col("token"))
      .agg(sum(lit(1) - col("__b")).cast("double").as("ca"),
        sum(col("__b")).cast("double").as("cb"))
    driftFromJointCounts(counts, alpha)
  }

  /** Per-(source, token) counts of a snapshot — the pre-aggregated form
    * [[tokenDriftFromCounts]] consumes. Materialize this ONCE for a
    * reference snapshot (vocab-sized, Zipf) and every later drift
    * comparison pays only the other side's tokenization.
    */
  def tokenDriftCounts(df: DataFrame, sourceCol: String, textCol: String): DataFrame =
    df.select(col(sourceCol).as("source"),
        explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))

  /** [[tokenDrift]] against a PRE-AGGREGATED reference: `refCounts` is
    * a (source, token, c) frame from [[tokenDriftCounts]]. Identical
    * output to `tokenDrift(refSnapshot, dfB, …)` (spec-pinned), but the
    * reference corpus is never re-tokenized — the continuous-monitor
    * shape, where one frozen snapshot is compared against every
    * micro-batch. One pass over `dfB` + a vocab-key full-outer join +
    * the same per-source sum.
    */
  def tokenDriftFromCounts(refCounts: DataFrame, dfB: DataFrame,
                           sourceCol: String, textCol: String,
                           alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
    val cb = tokenDriftCounts(dfB, sourceCol, textCol)
      .withColumnRenamed("c", "__cb")
    val counts = refCounts
      .select(col("source"), col("token"), col("c").as("__ca"))
      .join(cb, Seq("source", "token"), "full_outer")
      .select(col("source"), col("token"),
        coalesce(col("__ca"), lit(0L)).cast("double").as("ca"),
        coalesce(col("__cb"), lit(0L)).cast("double").as("cb"))
    driftFromJointCounts(counts, alpha)
  }

  /** Shared tail of [[tokenDrift]]/[[tokenDriftFromCounts]]: per-source
    * totals + smoothed KL/JS over a (source, token, ca, cb) frame.
    */
  private def driftFromJointCounts(counts: DataFrame, alpha: Double): DataFrame = {
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).cast("double").as("v"))
    val pa = (col("ca") + alpha) / (col("na") + lit(alpha) * col("v"))
    val pb = (col("cb") + alpha) / (col("nb") + lit(alpha) * col("v"))
    val m = (pa + pb) / 2
    counts.join(broadcast(totals), Seq("source"))
      .groupBy(col("source"), col("na"), col("nb"), col("v"))
      .agg(round(sum(pb * log(pb / pa)), 6).as("kl_b_vs_a"),
        round(sum(pa * log(pa / m)) / 2 + sum(pb * log(pb / m)) / 2, 6).as("js"))
      .select(col("source"), col("na").cast("long").as("n_tokens_a"),
        col("nb").cast("long").as("n_tokens_b"), col("v").cast("long").as("vocab"),
        col("kl_b_vs_a"), col("js"))
  }

  /** Composition targeting — derive the per-source sampling rates that
    * hit a target token-share mixture (the LLaMA/Pile data-mixing
    * decision) while keeping as much data as possible: with T_i tokens
    * in source i and target share s_i, the retained total
    * T' = min_i T_i/s_i makes the scarcest-relative-to-target source
    * the binding one (rate exactly 1.0) and every other source
    * downsamples to rate_i = s_i·T'/T_i. Sources not in `targets` are
    * excluded from the mixture (rate-0 by omission). Feed the rates to
    * [[mixtureFilter]] for the deterministic per-document decision —
    * the two operators together turn "I want 50/30/20" into a
    * reproducible corpus.
    *
    * Returns (source, tokens, target_share, rate) — rate in (0, 1],
    * 6dp-rounded so the arithmetic replays engine-exactly.
    *
    * Scale shape: ONE map-side-combinable token-count aggregation over
    * the corpus (source-grain result), a broadcast-sized join against
    * the target table, and a single driver scalar (T'). The decision
    * table is #sources rows; the corpus is touched once.
    */
  def targetMixtureRates(df: DataFrame, sourceCol: String, textCol: String,
                         targets: Seq[(String, Double)]): DataFrame = {
    require(targets.nonEmpty, "at least one target share")
    require(targets.forall(_._2 > 0), "target shares must be positive")
    require(math.abs(targets.map(_._2).sum - 1.0) < 1e-9, "target shares must sum to 1")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.groupBy(col(sourceCol).as("source"))
      .agg(sum(TextFunctions.tokenCount(col(textCol))).as("tokens"))
    val tgt = targets.toDF("source", "target_share")
    val joined = toks.join(broadcast(tgt), Seq("source"))
    val missing = targets.size - joined.count()
    require(missing == 0,
      s"$missing target source(s) absent from the corpus — a share against zero tokens is unsatisfiable")
    val tp = joined.agg(min(col("tokens").cast("double") / col("target_share")))
      .head().getDouble(0)
    joined.select(col("source"), col("tokens"), col("target_share"),
      round(least(lit(1.0),
        col("target_share") * tp / col("tokens").cast("double")), 6).as("rate"))
  }

  /** Bigram language model trained on a reference corpus: one row per
    * observed (prev_token, token) pair with its count. The conditional
    * step up from [[unigramLm]] toward CCNet's 5-gram KenLM — context
    * makes the score sensitive to word ORDER, which is what separates
    * shuffled-token spam from prose a unigram model cannot tell apart.
    *
    * Scale shape: one pass — tokens → adjacent pairs via two slices
    * zipped (no positional self-join) → map-side-combinable count. The
    * result is bounded by observed bigram vocabulary (Zipf again), never
    * corpus size.
    */
  def bigramLm(df: DataFrame, textCol: String): DataFrame = {
    val tk = TextFunctions.wsTokens(lower(trim(col(textCol))))
    df.select(tk.as("__tk")).where(size(col("__tk")) >= 2)
      .select(explode(zip_with(
        slice(col("__tk"), lit(1), size(col("__tk")) - 1),
        slice(col("__tk"), lit(2), size(col("__tk")) - 1),
        (a, b) => struct(a.as("prev_token"), b.as("token")))).as("__bg"))
      .select(col("__bg.prev_token").as("prev_token"), col("__bg.token").as("token"))
      .groupBy(col("prev_token"), col("token"))
      .agg(count(lit(1)).as("bigram_count"))
  }

  /** Trigram language model trained on a reference corpus: one row per
    * observed (prev2_token, prev_token, token) triple with its count —
    * one more context order toward CCNet's 5-gram KenLM (Wenzek et al.
    * 2019, "CCNet: Extracting High Quality Monolingual Datasets from
    * Web Crawl Data"): a bigram model scores word PAIRS, a trigram
    * model starts scoring phrase structure, which separates
    * template-stitched spam (plausible pairs, implausible runs) from
    * prose.
    *
    * Scale shape: identical to [[bigramLm]] with one more shifted
    * slice — tokens → adjacent triples via three zipped slices (no
    * positional self-join) → map-side-combinable count. The result is
    * bounded by observed trigram vocabulary (Zipf), never corpus size.
    */
  def trigramLm(df: DataFrame, textCol: String): DataFrame = {
    val tk = TextFunctions.wsTokens(lower(trim(col(textCol))))
    df.select(tk.as("__tk")).where(size(col("__tk")) >= 3)
      .select(
        slice(col("__tk"), lit(1), size(col("__tk")) - 2).as("__a"),
        slice(col("__tk"), lit(2), size(col("__tk")) - 2).as("__b"),
        slice(col("__tk"), lit(3), size(col("__tk")) - 2).as("__c"))
      .select(explode(arrays_zip(col("__a"), col("__b"), col("__c"))).as("__tg"))
      .select(col("__tg.__a").as("prev2_token"), col("__tg.__b").as("prev_token"),
        col("__tg.__c").as("token"))
      .groupBy(col("prev2_token"), col("prev_token"), col("token"))
      .agg(count(lit(1)).as("trigram_count"))
  }

  /** Per-document cross-entropy under an add-α-smoothed trigram LM:
    *   H(d) = −(1/(n−2)) Σ_{i=3..n} ln((c(w_{i−2} w_{i−1} w_i) + α) /
    *                                    (c(w_{i−2} w_{i−1} ·) + αV)),
    * ppl = e^H, with c(ab ·) = Σ_c c(abc) (the LM's context totals) and
    * V = the LM's completion-vocabulary size (distinct third tokens).
    * Unseen contexts score the uniform α/(αV) floor. Deterministic
    * double arithmetic, gate-replayable; documents with fewer than
    * three tokens are absent.
    *
    * `hashContext = true` is the 100 TB form: the (prev2, prev) context
    * pair is packed to ONE 64-bit xxhash key before the joins, so the
    * shuffled rows carry 8 bytes of context instead of two strings, and
    * the context-total aggregation groups on a fixed-width long. Scores
    * are identical absent a 64-bit collision (CorpusOpsSpec pins
    * hashed == unhashed on real text); the oracle replays the exact
    * string-keyed form.
    *
    * Scale shape: per-doc trigram counts (one map-side-combined
    * shuffle) → equi-joins against the LM and its context-total
    * projection (both vocab-sized; AQE broadcasts when they fit) → one
    * per-doc sum. Same join discipline as [[bigramCrossEntropy]].
    */
  def trigramCrossEntropy(df: DataFrame, idCol: String, textCol: String,
                          lm: DataFrame, alpha: Double = 1.0,
                          hashContext: Boolean = false): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
    val v = lm.select(col("token")).distinct().count().toDouble
    val keys = if (hashContext) Seq("__ck") else Seq("prev2_token", "prev_token")
    def keyed(d: DataFrame): DataFrame =
      if (hashContext)
        d.withColumn("__ck", xxhash64(col("prev2_token"), col("prev_token")))
          .drop("prev2_token", "prev_token")
      else d
    val lmK = keyed(lm)
    val ctx = lmK.groupBy(keys.map(col): _*)
      .agg(sum(col("trigram_count")).cast("double").as("__ctx"))
    val tk = TextFunctions.wsTokens(lower(trim(col(textCol))))
    val tf = keyed(df.select(col(idCol).as("__id"), tk.as("__tk"))
      .where(size(col("__tk")) >= 3)
      .select(col("__id"),
        slice(col("__tk"), lit(1), size(col("__tk")) - 2).as("__a"),
        slice(col("__tk"), lit(2), size(col("__tk")) - 2).as("__b"),
        slice(col("__tk"), lit(3), size(col("__tk")) - 2).as("__c"))
      .select(col("__id"), explode(arrays_zip(col("__a"), col("__b"), col("__c"))).as("__tg"))
      .select(col("__id"), col("__tg.__a").as("prev2_token"),
        col("__tg.__b").as("prev_token"), col("__tg.__c").as("token")))
      .groupBy((Seq("__id") ++ keys :+ "token").map(col): _*)
      .agg(count(lit(1)).as("__tf"))
    val logp = log((coalesce(col("trigram_count"), lit(0L)).cast("double") + alpha)
      / (coalesce(col("__ctx"), lit(0.0)) + alpha * v))
    tf.join(lmK, keys :+ "token", "left")
      .join(ctx, keys, "left")
      .withColumn("__lp", logp)
      .groupBy(col("__id"))
      .agg(sum(col("__tf")).as("n_trigrams"),
        (-sum(col("__tf").cast("double") * col("__lp")) / sum(col("__tf")).cast("double"))
          .as("cross_entropy"))
      .select(col("__id").as(idCol), col("n_trigrams"), col("cross_entropy"),
        exp(col("cross_entropy")).as("ppl"))
  }

  /** Per-document cross-entropy under an add-α-smoothed bigram LM:
    *   H(d) = −(1/(n−1)) Σ_{i=2..n} ln((c(w_{i−1} w_i) + α) /
    *                                    (c(w_{i−1} ·) + αV)),
    * ppl = e^H, with c(a ·) = Σ_b c(ab) (the LM's prefix totals) and
    * V = the LM's completion-vocabulary size (distinct second tokens).
    * Unseen prefixes score the uniform α/(αV) floor. Deterministic
    * double arithmetic, gate-replayable. Documents with fewer than two
    * tokens have no bigrams and are absent from the output.
    *
    * Scale shape: per-doc bigram counts (one map-side-combined shuffle
    * on (id, prev, token)) → equi-joins against the LM and its
    * prefix-total projection (both vocab-sized; AQE broadcasts when they
    * fit) → one per-doc sum. V reduces to a single driver scalar. Same
    * join discipline as [[crossEntropyScore]] — scoring 100 TB is one
    * corpus pass plus vocab-sized joins.
    */
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String,
                         lm: DataFrame, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
    val v = lm.select(col("token")).distinct().count().toDouble
    val ctx = lm.groupBy(col("prev_token"))
      .agg(sum(col("bigram_count")).cast("double").as("__ctx"))
    val tk = TextFunctions.wsTokens(lower(trim(col(textCol))))
    val tf = df.select(col(idCol).as("__id"), tk.as("__tk"))
      .where(size(col("__tk")) >= 2)
      .select(col("__id"), explode(zip_with(
        slice(col("__tk"), lit(1), size(col("__tk")) - 1),
        slice(col("__tk"), lit(2), size(col("__tk")) - 1),
        (a, b) => struct(a.as("prev_token"), b.as("token")))).as("__bg"))
      .select(col("__id"), col("__bg.prev_token").as("prev_token"),
        col("__bg.token").as("token"))
      .groupBy(col("__id"), col("prev_token"), col("token"))
      .agg(count(lit(1)).as("__tf"))
    val logp = log((coalesce(col("bigram_count"), lit(0L)).cast("double") + alpha)
      / (coalesce(col("__ctx"), lit(0.0)) + alpha * v))
    tf.join(lm, Seq("prev_token", "token"), "left")
      .join(ctx, Seq("prev_token"), "left")
      .withColumn("__lp", logp)
      .groupBy(col("__id"))
      .agg(sum(col("__tf")).as("n_bigrams"),
        (-sum(col("__tf").cast("double") * col("__lp")) / sum(col("__tf")).cast("double"))
          .as("cross_entropy"))
      .select(col("__id").as(idCol), col("n_bigrams"), col("cross_entropy"),
        exp(col("cross_entropy")).as("ppl"))
  }

  /** Stupid Backoff document scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — THE distributed-scale
    * n-gram scoring method: no normalization pass, no Kneser-Ney
    * discount table, just raw count ratios with a fixed backoff
    * penalty, which is why it was built for MapReduce-sized LMs and why
    * it is the right KenLM stand-in for an engine whose gate must stay
    * closed-form). Per scored position i (full trigram context, i ≥ 3):
    *
    *   S(w | a b) = c₃(a b w) / ctx₂(a b)                if c₃ > 0
    *              = 0.4 · c₂(b w) / ctx₁(b)              elif c₂ > 0
    *              = 0.4² · (c₁(w) + α) / (N + αV)        else
    *
    * with ctx₂/ctx₁ the LMs' own context totals (Σ over completions),
    * and the final tier add-α-smoothed so OOV tokens score finite (the
    * one graft addition to Brants' raw c₁/N — a pure backoff ladder
    * would take ln 0 on unseen words). backoff = 0.4 is the paper's
    * value. Returns (idCol, n_scored, score) with
    * score = −(1/n_scored) Σ ln S — documents under three tokens are
    * absent, like [[trigramCrossEntropy]].
    *
    * Scale shape: ONE corpus pass to per-doc trigram-grain counts, then
    * five vocab-sized equi-joins (trigram LM, its context totals,
    * bigram LM, its context totals, unigram counts — AQE broadcasts
    * each when it fits) and one per-doc sum; N and V are one driver
    * scalar aggregate. Scoring 100 TB is one pass plus Zipf-bounded
    * joins — exactly the property Brants designed for.
    */
  def stupidBackoffScore(df: DataFrame, idCol: String, textCol: String,
                         uniLm: DataFrame, biLm: DataFrame, triLm: DataFrame,
                         backoff: Double = 0.4, alpha: Double = 0.5): DataFrame = {
    require(backoff > 0 && backoff <= 1, s"backoff must be in (0,1], got $backoff")
    require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
    val nv = uniLm.agg(sum(col("token_count")).cast("double"),
      count(lit(1)).cast("double")).head()
    require(!nv.isNullAt(0) && nv.getDouble(1) > 0,
      "stupidBackoffScore: empty unigram LM — train on non-empty text")
    val (n, v) = (nv.getDouble(0), nv.getDouble(1))
    val ctx2 = triLm.groupBy(col("prev2_token"), col("prev_token"))
      .agg(sum(col("trigram_count")).cast("double").as("__ctx2"))
    val ctx1 = biLm.groupBy(col("prev_token"))
      .agg(sum(col("bigram_count")).cast("double").as("__ctx1"))
    val tk = TextFunctions.wsTokens(lower(trim(col(textCol))))
    val tf = df.select(col(idCol).as("__id"), tk.as("__tk"))
      .where(size(col("__tk")) >= 3)
      .select(col("__id"),
        slice(col("__tk"), lit(1), size(col("__tk")) - 2).as("__a"),
        slice(col("__tk"), lit(2), size(col("__tk")) - 2).as("__b"),
        slice(col("__tk"), lit(3), size(col("__tk")) - 2).as("__c"))
      .select(col("__id"), explode(arrays_zip(col("__a"), col("__b"), col("__c"))).as("__tg"))
      .select(col("__id"), col("__tg.__a").as("prev2_token"),
        col("__tg.__b").as("prev_token"), col("__tg.__c").as("token"))
      .groupBy(col("__id"), col("prev2_token"), col("prev_token"), col("token"))
      .agg(count(lit(1)).as("__tf"))
    val s = when(coalesce(col("trigram_count"), lit(0L)) > 0,
        col("trigram_count").cast("double") / col("__ctx2"))
      .when(coalesce(col("bigram_count"), lit(0L)) > 0,
        lit(backoff) * col("bigram_count").cast("double") / col("__ctx1"))
      .otherwise(lit(backoff * backoff) *
        (coalesce(col("token_count"), lit(0L)).cast("double") + alpha) / (n + alpha * v))
    tf.join(triLm, Seq("prev2_token", "prev_token", "token"), "left")
      .join(ctx2, Seq("prev2_token", "prev_token"), "left")
      .join(biLm, Seq("prev_token", "token"), "left")
      .join(ctx1, Seq("prev_token"), "left")
      .join(uniLm, Seq("token"), "left")
      .withColumn("__ls", log(s))
      .groupBy(col("__id"))
      .agg(sum(col("__tf")).as("n_scored"),
        (-sum(col("__tf").cast("double") * col("__ls")) / sum(col("__tf")).cast("double"))
          .as("score"))
      .select(col("__id").as(idCol), col("n_scored"), col("score"))
  }

  /** Order-n n-gram language model (n ≥ 2) in CONTEXT-KEYED form: one
    * row per observed n-gram as (ctx, token, ngram_count), where `ctx`
    * is the space-joined n−1 preceding tokens — unambiguous because the
    * tokenizer splits on whitespace, so the joined string biject-maps
    * to the token tuple. One keyed column instead of n−1 makes the
    * model order-generic: [[stupidBackoffScoreN]] consumes a LADDER of
    * these without per-order column names, and the 100 TB form hashes
    * the single ctx string to an 8-byte join key.
    *
    * Scale shape: the [[trigramLm]] pattern at any order — n shifted
    * slices zipped (no positional self-join), one map-side-combinable
    * count; result bounded by observed n-gram vocabulary (Zipf), never
    * corpus size. [[bigramLm]]/[[trigramLm]] remain the named-column
    * forms the d36/d41 gates replay.
    */
  def ngramLm(df: DataFrame, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"ngramLm order must be >= 2, got $n (unigramLm covers n=1)")
    val tk = TextFunctions.wsTokens(lower(trim(col(textCol))))
    val width = size(col("__tk")) - (n - 1)
    val slices = (0 until n).map(j =>
      slice(col("__tk"), lit(j + 1), width).as(s"__s$j"))
    df.select(tk.as("__tk")).where(size(col("__tk")) >= n)
      .select(slices: _*)
      .select(explode(arrays_zip((0 until n).map(j => col(s"__s$j")): _*)).as("__g"))
      .select(
        concat_ws(" ", (0 until n - 1).map(j => col(s"__g.__s$j")): _*).as("ctx"),
        col(s"__g.__s${n - 1}").as("token"))
      .groupBy(col("ctx"), col("token"))
      .agg(count(lit(1)).as("ngram_count"))
  }

  /** EVERY n-gram LM tier 2..maxN from ONE corpus pass: rows
    * (n, ctx, token, ngram_count), each order's slice exactly equal to
    * [[ngramLm]] at that order (spec-pinned). Training a Stupid Backoff
    * ladder with per-order [[ngramLm]] calls scans and tokenizes the
    * corpus maxN−1 times and shuffles each tier separately; here every
    * position emits its ≤ maxN−1 tagged grams inside one projection, so
    * the corpus is scanned ONCE and one map-side-combinable aggregation
    * (keyed (n, ctx, token) — disjoint key spaces, no tier collides)
    * builds the whole ladder. At 100 TB that's the difference between
    * 4 corpus scans + 4 shuffles and 1 + 1. Callers materialize the
    * Zipf-bounded result (localCheckpoint) and slice per order.
    * `minN = 1` folds the unigram tier into the same pass (ctx = "",
    * slice n=1 renames to [[unigramLm]]'s (token, token_count) shape —
    * spec-pinned equal, including 1-token docs no higher order sees).
    *
    * Per-position gram construction is a `transform` over a trimmed
    * `sequence` (slice-of-sequence, because Spark's `sequence(1, s)`
    * runs DESCENDING when s < 1 — the trim yields the empty array for
    * docs shorter than the order instead of phantom positions).
    */
  def ngramLms(df: DataFrame, textCol: String, maxN: Int,
               minN: Int = 2): DataFrame = {
    require(maxN >= 2, s"ngramLms maxN must be >= 2, got $maxN")
    require(minN == 1 || minN == 2,
      s"ngramLms minN must be 1 (fold the unigram tier in, ctx = '') or 2, got $minN")
    val tk = TextFunctions.wsTokens(lower(trim(col(textCol))))
    val grams = (minN to maxN).map { n =>
      val w = size(col("__tk")) - (n - 1)
      val starts =
        slice(sequence(lit(1), greatest(w, lit(1))), lit(1), greatest(w, lit(0)))
      transform(starts, i => struct(
        lit(n).as("n"),
        array_join(slice(col("__tk"), i, lit(n - 1)), " ").as("ctx"),
        element_at(col("__tk"), i + (n - 1)).as("token")))
    }
    df.select(tk.as("__tk")).where(size(col("__tk")) >= minN)
      .select(explode(concat(grams: _*)).as("__g"))
      .select(col("__g.n").as("n"), col("__g.ctx").as("ctx"),
        col("__g.token").as("token"))
      .groupBy(col("n"), col("ctx"), col("token"))
      .agg(count(lit(1)).as("ngram_count"))
  }

  /** Stupid Backoff at arbitrary order — the 5-gram CCNet/KenLM context
    * [[stupidBackoffScore]]'s fixed trigram ladder approximates, still
    * in Brants et al. 2007's distributed closed form. `ctxLms` is the
    * ladder of [[ngramLm]] tables in ASCENDING order (bigram first), so
    * `ctxLms = Seq(ngramLm(ref, t, 2), ..., ngramLm(ref, t, 5))` scores
    * with full 4-token context. Per scored position (full top-order
    * context, so docs under `order` tokens are absent):
    *
    *   S(w | ctx) = c_o(ctx_{o−1} w) / Σ_w' c_o(ctx_{o−1} w')   if seen
    *              = 0.4^(o−j) · c_j(ctx_{j−1} w) / Σ ...        first
    *                seen tier j walking down
    *              = 0.4^(o−1) · (c₁(w) + α) / (N + αV)          floor
    *
    * — identical to the trigram form at `ctxLms.size == 2` (pinned in
    * CorpusOpsSpec), one more 0.4 rung per extra order.
    *
    * `hashContext = true` is the 100 TB form (the d41 machinery
    * generalized): every tier's ctx string AND the token key — corpus
    * side and LM side — pack to 64-bit xxhash keys before the joins, so
    * shuffled/sorted rows are fixed-width numeric instead of carrying
    * up-to-(o−1) repeated token strings (at 500M+ grain rows the
    * string comparisons inside the sort-merge joins were the measured
    * cost). Scores identical absent a 64-bit collision; the oracle
    * replays the string-keyed form.
    *
    * Scale shape: ONE corpus pass to the top-order position grain (each
    * row carrying its lower-order ctx keys as derived columns — no
    * extra passes per tier, and NO grain pre-aggregation: top-order
    * n-grams rarely repeat within a document, so a per-doc gram groupBy
    * would shuffle the whole grain for ~no combining), then o
    * vocab-sized equi-joins — each tier's LM row carries its context
    * total DENORMALIZED (`ctx_total`; computed here when the caller
    * didn't pre-materialize it), which halves the former
    * LM-plus-totals join chain — and one map-side-combining per-doc
    * sum. N and V are one driver scalar aggregate. Scoring 100 TB stays
    * one pass plus Zipf-bounded joins — the property Brants designed
    * for.
    */
  def stupidBackoffScoreN(df: DataFrame, idCol: String, textCol: String,
                          uniLm: DataFrame, ctxLms: Seq[DataFrame],
                          backoff: Double = 0.4, alpha: Double = 0.5,
                          hashContext: Boolean = false): DataFrame = {
    require(backoff > 0 && backoff <= 1, s"backoff must be in (0,1], got $backoff")
    require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
    require(ctxLms.nonEmpty, "ctxLms must contain at least the bigram LM")
    val order = ctxLms.size + 1
    val nv = uniLm.agg(sum(col("token_count")).cast("double"),
      count(lit(1)).cast("double")).head()
    require(!nv.isNullAt(0) && nv.getDouble(1) > 0,
      "stupidBackoffScoreN: empty unigram LM — train on non-empty text")
    val (n, v) = (nv.getDouble(0), nv.getDouble(1))
    // tier L (context length L, 1 ≤ L < order): join key = the last L
    // context tokens, space-joined. hashContext packs BOTH the ctx and
    // the token key to xxhash64 longs, so every shuffled/sorted grain
    // row is fixed-width numeric — at 500M+ rows the string comparisons
    // in the sort-merge joins were the measured cost, not the hash
    def ctxKey(c: Column): Column = if (hashContext) xxhash64(c) else c
    val tk = TextFunctions.wsTokens(lower(trim(col(textCol))))
    val width = size(col("__tk")) - (order - 1)
    val slices = (0 until order).map(j =>
      slice(col("__tk"), lit(j + 1), width).as(s"__s$j"))
    // one corpus pass: top-order grain with every tier's ctx key as a
    // derived column of the same row
    val grain = df.select(col(idCol).as("__id"), tk.as("__tk"))
      .where(size(col("__tk")) >= order)
      .select(col("__id") +: slices: _*)
      .select(col("__id"),
        explode(arrays_zip((0 until order).map(j => col(s"__s$j")): _*)).as("__g"))
      .select(Seq(col("__id"),
          ctxKey(col(s"__g.__s${order - 1}")).as("token")) ++
        (1 until order).map { l =>
          ctxKey(concat_ws(" ",
            (order - 1 - l until order - 1).map(j => col(s"__g.__s$j")): _*))
            .as(s"__ctx$l")
        }: _*)
    // NO per-doc grain pre-aggregation (unlike the unigram scorer,
    // where per-doc term counts shrink tokens to vocab): top-order
    // n-grams rarely repeat within a document, so a groupBy on the
    // wide (id, token, ctx1..ctx{o−1}) key would shuffle the entire
    // grain for ~no combining — at 100 TB that one exchange dominates
    // the query. Each position scores individually through the joins
    // (broadcast when the Zipf-bounded LMs fit) and the only shuffle
    // left is the final per-doc sum of slim (id, lnS) rows, which
    // map-side-combines per doc. Identical result: Σ tf·ln S over
    // grouped grams == Σ ln S over positions.
    val tf = grain.withColumn("__tf", lit(1L))
    // per-tier LM frames keyed to this tier's ctx name, each row
    // carrying ITS context's total DENORMALIZED in (`ctx_total` when the
    // caller pre-materialized it — the Queries.lmTier ladder — else a
    // groupBy + self-join here): the ladder only ever reads tot_l when
    // c_l > 0, i.e. when the (ctx, token) row EXISTS, so a separate
    // ctx-keyed total join per tier is redundant — dropping it halves
    // the grain-sized joins from 2(o−1)+1 to o
    val keyedLms = (1 until order).map { l =>
      val src = ctxLms(l - 1)
      val withTot =
        if (src.columns.contains("ctx_total")) src
        else src.join(
          src.groupBy(col("ctx")).agg(sum(col("ngram_count")).as("ctx_total")),
          Seq("ctx"))
      withTot.select(ctxKey(col("ctx")).as(s"__ctx$l"),
        ctxKey(col("token")).as("token"),
        col("ngram_count").as(s"__c${l + 1}"),
        col("ctx_total").cast("double").as(s"__tot$l"))
    }
    val uniKeyed =
      if (hashContext)
        uniLm.select(xxhash64(col("token")).as("token"), col("token_count"))
      else uniLm.select(col("token"), col("token_count"))
    val joined = keyedLms.zipWithIndex.foldLeft(tf) {
      case (acc, (lm, i)) =>
        acc.join(lm, Seq(s"__ctx${i + 1}", "token"), "left")
    }.join(uniKeyed, Seq("token"), "left")
    // the backoff ladder, floor first so the highest seen tier wins
    val floor = lit(math.pow(backoff, order - 1)) *
      (coalesce(col("token_count"), lit(0L)).cast("double") + alpha) / (n + alpha * v)
    val s = (1 until order).foldLeft(floor: Column) { (lower, l) =>
      when(coalesce(col(s"__c${l + 1}"), lit(0L)) > 0,
        lit(math.pow(backoff, order - 1 - l)) *
          col(s"__c${l + 1}").cast("double") / col(s"__tot$l"))
        .otherwise(lower)
    }
    joined
      .withColumn("__ls", log(s))
      .groupBy(col("__id"))
      .agg(sum(col("__tf")).as("n_scored"),
        (-sum(col("__tf").cast("double") * col("__ls")) / sum(col("__tf")).cast("double"))
          .as("score"))
      .select(col("__id").as(idCol), col("n_scored"), col("score"))
  }

  /** Token-level smoothed log-probability CONTRAST between two unigram
    * LMs over their union vocabulary: (token, w) with
    *   w = ln((c_A + α)/(N_A + αV)) − ln((c_B + α)/(N_B + αV)),
    * plus the OOV floor (the same expression at c = 0) for tokens
    * neither LM saw. The shared union vocabulary V is what makes the
    * two distributions comparable — the [[tokenDrift]] convention.
    * Both DSIR weighting and the NB classifier are per-doc sums over
    * exactly this table, so they share it.
    */
  private def logProbContrast(lmA: DataFrame, lmB: DataFrame, alpha: Double)
      : (DataFrame, Double) = {
    val joined = lmA.select(col("token"), col("token_count").as("__ca"))
      .join(lmB.select(col("token"), col("token_count").as("__cb")),
        Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("__ca"), lit(0L)).cast("double").as("__ca"),
        coalesce(col("__cb"), lit(0L)).cast("double").as("__cb"))
    val t = joined.agg(sum(col("__ca")).as("na"), sum(col("__cb")).as("nb"),
      count(lit(1)).cast("double").as("v")).head()
    val v = t.getDouble(2)
    // v == 0 ⇒ both sums are NULL and getDouble would NPE opaquely —
    // fail with the actual cause instead (e.g. an all-null/whitespace
    // text column fed to importanceWeights or nbTrain)
    require(v > 0,
      "logProbContrast: empty union vocabulary — both LMs contain zero " +
        "tokens; train them on text with at least one non-whitespace token")
    val (na, nb) = (t.getDouble(0), t.getDouble(1))
    val denomA = na + alpha * v; val denomB = nb + alpha * v
    val w = joined.select(col("token"),
      (log((col("__ca") + alpha) / denomA) - log((col("__cb") + alpha) / denomB))
        .as("w"))
    (w, math.log(alpha / denomA) - math.log(alpha / denomB))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169):
    * per-document log importance weight
    *   lw(d) = Σ_t tf_t · (ln p_target(t) − ln p_raw(t))
    * under add-α-smoothed unigram LMs sharing the union vocabulary —
    * the select-web-data-that-looks-like-the-target primitive. The
    * paper scores hashed bigram features under two bag-of-ngrams LMs;
    * the word-unigram form keeps the score engine-exact and
    * oracle-replayable while preserving the contract (train two cheap
    * LMs, weight every raw doc by target-likeness). Documents with zero
    * tokens are absent (their weight is undefined, not 0).
    *
    * Returns (idCol, n_tokens, log_weight).
    *
    * Scale shape: the two LMs are vocab-sized inputs; their full-outer
    * contrast join is vocab×vocab-key (Zipf, never corpus-sized); then
    * ONE corpus pass — per-doc term counts, a vocab-sized equi-join
    * (AQE broadcasts when it fits), one per-doc sum. The same join
    * discipline as [[crossEntropyScore]]; weighting 100 TB of raw crawl
    * is one pass over it.
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        targetLm: DataFrame, rawLm: DataFrame,
                        alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
    val (w, floor) = logProbContrast(targetLm, rawLm, alpha)
    val tf = df.select(col(idCol).as("__id"),
        explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("token"))
      .groupBy(col("__id"), col("token")).agg(count(lit(1)).as("__tf"))
    tf.join(w, Seq("token"), "left")
      .groupBy(col("__id"))
      .agg(sum(col("__tf")).as("n_tokens"),
        sum(col("__tf").cast("double") * coalesce(col("w"), lit(floor)))
          .as("log_weight"))
      .select(col("__id").as(idCol), col("n_tokens"), col("log_weight"))
  }

  /** DSIR selection: sample exactly `n` documents without replacement
    * with inclusion probability ∝ exp(log importance weight) — the
    * resampling half of Xie et al. 2023. Gumbel-top-k on the LOG
    * weights (key = lw + Gumbel noise, the n largest win) is the
    * numerically safe form of the [[weightedSample]] A-ES draw:
    * exp(lw) over- and under-flows doubles for strongly target-like or
    * target-unlike documents, while lw − ln(−ln u) never leaves double
    * range. The noise u is the same pure function of (seed, id) as
    * every sampler here — the SAME n docs win on any partitioning, any
    * engine, any re-run.
    *
    * Scale shape: [[importanceWeights]]'s one corpus pass + a pure
    * column key + TakeOrdered(n) — per-partition top-n, driver merge of
    * n rows per partition; no global sort.
    */
  def importanceResample(df: DataFrame, idCol: String, textCol: String,
                         targetLm: DataFrame, rawLm: DataFrame,
                         n: Int, seed: Long, alpha: Double = 0.5): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    val lw = importanceWeights(df, idCol, textCol, targetLm, rawLm, alpha)
    // u in (0,1) — strictly open: u=1 would make the Gumbel key +inf and
    // that row would win every draw regardless of weight
    val u = (conv(substring(md5(concat(lit(s"$seed:"), col(idCol).cast("string"))), 1, 8),
      16, 10).cast("long").cast("double") + 0.5) / 4294967296.0
    df.join(lw.select(col(idCol), col("log_weight")), Seq(idCol))
      .withColumn("__gk", col("log_weight") - log(-log(u)))
      .orderBy(col("__gk").desc, col(idCol).asc)
      .limit(n)
      .drop("__gk")
  }

  /** Naive-Bayes quality classifier over word unigrams — the
    * train-on-curated-vs-crawl filter of the GPT-3/CCNet lineage
    * (Brown et al. 2020 train a linear classifier with curated corpora
    * as positives and raw Common Crawl as negatives, then keep
    * high-scoring documents). Multinomial NB makes the whole loop
    * closed-form: the model IS two token-count aggregations, so
    * training is deterministic, incremental (counts add), and
    * oracle-replayable — no gradient loop, no learned state outside the
    * weight table.
    *
    * `train` returns the vocab-sized per-token log-odds table
    *   w(t) = ln p(t|pos) − ln p(t|neg)   (add-α, union vocabulary)
    * with the class-prior log-odds ln(nPos/nNeg) and the OOV floor.
    * `score` emits each document's posterior log-odds
    *   score(d) = prior + Σ_t tf_t · w(t)
    * — positive means "more curated-like than crawl-like"; threshold or
    * feed it to [[calibratedQualityFilter]]'s keep-rate machinery.
    * Zero-token documents are absent from `score` output.
    *
    * Scale shape: training = two corpus passes producing vocab-sized
    * tables (map-side-combinable counts); scoring = ONE corpus pass +
    * a vocab-sized join + per-doc sum, the [[crossEntropyScore]] shape.
    */
  object NbClassifier {
    final case class Model(tokenLogOdds: DataFrame, prior: Double, oovFloor: Double)

    def train(positive: DataFrame, negative: DataFrame, textCol: String,
              alpha: Double = 0.5): Model = {
      require(alpha > 0, s"smoothing alpha must be positive, got $alpha")
      val nPos = positive.count(); val nNeg = negative.count()
      require(nPos > 0 && nNeg > 0, s"both classes need documents: pos=$nPos neg=$nNeg")
      val (w, floor) = logProbContrast(
        unigramLm(positive, textCol), unigramLm(negative, textCol), alpha)
      Model(w, math.log(nPos.toDouble / nNeg), floor)
    }

    def score(df: DataFrame, idCol: String, textCol: String, model: Model): DataFrame = {
      val tf = df.select(col(idCol).as("__id"),
          explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("token"))
        .groupBy(col("__id"), col("token")).agg(count(lit(1)).as("__tf"))
      tf.join(model.tokenLogOdds, Seq("token"), "left")
        .groupBy(col("__id"))
        .agg(sum(col("__tf")).as("n_tokens"),
          (lit(model.prior) + sum(col("__tf").cast("double")
            * coalesce(col("w"), lit(model.oovFloor)))).as("score"))
        .select(col("__id").as(idCol), col("n_tokens"), col("score"))
    }
  }

  /** Corpus datasheet card (Gebru et al. 2021 "Datasheets for
    * Datasets"; the per-source summary tables of the Dolma/RefinedWeb
    * reports): one row per source with the numbers every dataset release
    * publishes —
    *   n_docs, n_tokens, mean/median tokens per doc, mean chars,
    *   lang share (fraction of docs in `lang`), and the exact-duplicate
    *   ratio 1 − distinct(text)/n_docs (by content digest).
    * Deterministic arithmetic end to end, so the whole card
    * oracle-replays.
    *
    * Scale shape: ONE pass over the corpus — per-row token/char counts
    * are map-side column expressions feeding a source-grain aggregate.
    * The exact distinct-digest count and the exact median are the two
    * shuffle-bearing members (Spark plans the distinct via Expand, the
    * percentile collects per-group values); both are exact by design
    * because a RELEASED datasheet should not carry sketch error. For an
    * in-flight 100 TB monitor, swap approx_count_distinct and the KLL
    * percentiles (q31/q36 machinery) — same card, sketch-cheap.
    */
  def corpusCard(df: DataFrame, sourceCol: String, textCol: String,
                 langCol: String, lang: String = "en"): DataFrame = {
    val toks = TextFunctions.tokenCount(col(textCol))
    df.select(col(sourceCol).as("source"),
        toks.as("__toks"), length(col(textCol)).cast("double").as("__chars"),
        md5(col(textCol)).as("__digest"),
        when(col(langCol) === lang, 1.0).otherwise(0.0).as("__inlang"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_tokens"),
        round(avg(col("__toks")), 2).as("mean_tokens"),
        round(expr("percentile(__toks, 0.5)"), 2).as("p50_tokens"),
        round(avg(col("__chars")), 2).as("mean_chars"),
        round(avg(col("__inlang")), 6).as("lang_share"),
        round(lit(1.0) - countDistinct(col("__digest")).cast("double")
          / count(lit(1)).cast("double"), 6).as("exact_dup_ratio"))
  }

  /** The FULL Gopher quality-rule signal set (Rae et al. 2021,
    * "Scaling Language Models", Table A1) — the complete document-level
    * filter battery MassiveWeb was built with, extending the partial
    * signals already here (TextFunctions.dupLineFraction /
    * top2GramShare / lineStats) to the whole published table:
    *
    *  - n_words, mean_word_len — word-count and mean-word-length bounds;
    *  - symbol_word_ratio — '#' / '…' / '...' occurrences per word;
    *  - alpha_word_frac — fraction of words with ≥1 ASCII letter;
    *  - stop_hits — how many of the 8 Gopher stop words appear;
    *  - bullet_line_frac / ellipsis_line_frac — list-ish and
    *    truncated-ish line fractions;
    *  - dup_line_frac / dup_para_frac — repeated-segment COUNT
    *    fractions (the d18 signals, recomputed here from the same fold);
    *  - dup_line_char_frac / dup_para_char_frac — repeated-segment
    *    CHARACTER-mass fractions;
    *  - top_{2,3,4}gram_char_frac — character share of the single most
    *    frequent word n-gram;
    *  - dup_{5..10}gram_char_frac — character mass of repeated n-gram
    *    occurrences beyond each value's first, over total token chars.
    *
    * Character-mass semantics are the closed form Σ_{v: c(v)>1}
    * (c(v)−1)·charlen(v) — repeat occurrences may OVERLAP in the
    * document and are counted independently (capped at 1.0), which is
    * what a sort+fold can compute in O(L log L) per document and what
    * an external engine can replay exactly from (gram → count) tables;
    * span-union variants need positional marking and are O(L²)-ish in
    * pure relational form. All tokens are lowercased whitespace tokens
    * (the d18 convention); n-gram char lengths exclude the n−1 joiner
    * spaces; a document with fewer than n tokens scores 0 for that n.
    *
    * `keep` applies the published Table-A1 thresholds to the
    * 6dp-ROUNDED signals (both engines compare the same rounded values,
    * so the boolean is engine-exact): 50 ≤ n_words ≤ 100000,
    * 3 ≤ mean_word_len ≤ 10, symbol_word_ratio ≤ 0.1,
    * bullet_line_frac ≤ 0.9, ellipsis_line_frac ≤ 0.3,
    * alpha_word_frac ≥ 0.8, stop_hits ≥ `minStopHits` (Table A1 fixes
    * 2; the stop list is ENGLISH-specific, so non-English or synthetic
    * corpora tune this one gate — the standard practice in Gopher
    * reproductions — while every other threshold stays published),
    * dup_line_frac ≤ 0.30,
    * dup_para_frac ≤ 0.30, dup_line_char_frac ≤ 0.20,
    * dup_para_char_frac ≤ 0.20, top n-gram ≤ 0.20/0.18/0.16 (n=2/3/4),
    * dup n-gram ≤ 0.15/0.14/0.13/0.12/0.11/0.10 (n=5..10).
    *
    * Scale: map-only — one row in, one row out, no shuffle, no UDF;
    * per-document cost is 11 sorted folds of O(L log L) (2 segment +
    * 9 gram), the d23 operator class. Token/line arrays are staged in
    * their own projections (HOF trees evaluate interpreted with no
    * common-subexpression elimination — the d18 lesson) so the
    * tokenization runs once, not once per signal.
    */
  def gopherSignals(df: DataFrame, idCol: String, textCol: String,
                    minStopHits: Int = 2): DataFrame = {
    val withGrams = gopherFolds(df, idCol, textCol, Nil)
    val sig = withGrams.select(
      col(idCol) +: gopherSigExprs.map { case (n, e) => e.as(n) }: _*)
    sig.withColumn("keep",
      gopherKeep(gopherSigExprs.map { case (n, _) => n -> col(n) }.toMap,
        minStopHits))
  }

  /** The staged tokenize/segment/fold pipeline shared by
    * [[gopherSignals]] and [[gopherFilter]]: token/line arrays live in
    * their own projections (HOF trees evaluate interpreted with no
    * common-subexpression elimination — the d18 lesson; Catalyst's
    * CollapseProject keeps the staging because the aliases are
    * non-cheap and multiply referenced), `carry` columns ride every
    * projection so the filter form keeps the caller's rows without
    * re-evaluating the upstream.
    */
  private def gopherFolds(df: DataFrame, idCol: String, textCol: String,
                          carry: Seq[String]): DataFrame = {
    import TextFunctions._
    val reserved = Set("__tk", "__ln", "__pg", "__sym", "__n", "__tc",
      "__alpha", "__stop", "__nl", "__bullet", "__ellip", "__lf", "__pf") ++
      (2 to 10).map(n => s"__g$n")
    require(!reserved(idCol) && carry.forall(c => !reserved(c)),
      s"id or carried column collides with a gopher-internal name: $idCol, $carry")
    val cs = carry.map(col)
    val t = coalesce(col(textCol), lit(""))
    val staged = df.select(col(idCol) +: cs ++: Seq(
      wsTokens(lower(t)).as("__tk"),
      nonBlankSegments(t, "\n").as("__ln"),
      nonBlankSegments(t, "\n{2,}").as("__pg"),
      size(regexp_extract_all(t, lit("#|\\.\\.\\.|…"), lit(0)))
        .cast("long").as("__sym")): _*)
    val folded = staged.select(col(idCol) +: cs ++: Seq(col("__tk"), col("__sym"),
      size(col("__tk")).cast("long").as("__n"),
      aggregate(col("__tk"), lit(0L), (a, x) => a + length(x)).as("__tc"),
      size(filter(col("__tk"), w => w.rlike("[a-z]"))).cast("long").as("__alpha"),
      size(array_intersect(array_distinct(col("__tk")),
        array(GopherStop.map(lit): _*))).cast("long").as("__stop"),
      size(col("__ln")).cast("long").as("__nl"),
      size(filter(col("__ln"), l => l.rlike("^([-*•]|[0-9]+[.)])\\s")))
        .cast("long").as("__bullet"),
      size(filter(col("__ln"), l => l.rlike("(\\.\\.\\.|…)$")))
        .cast("long").as("__ellip"),
      segMassFold(col("__ln"), 0).as("__lf"),
      segMassFold(col("__pg"), 0).as("__pf")): _*)
    folded.select(col("*") +: (2 to 10).map(n =>
      segMassFold(wordShingles(col("__tk"), n), n - 1).as(s"__g$n")): _*)
  }

  /** The Table-A1 signal expressions over [[gopherFolds]]' columns, in
    * the published output order. One definition feeds both the named
    * [[gopherSignals]] projection and [[gopherFilter]]'s inline
    * predicate, so the 6dp-rounded values — and therefore the keep
    * boolean — are identical expression trees on both paths.
    */
  private def gopherSigExprs: Seq[(String, Column)] = {
    def frac(num: Column, den: Column): Column =
      when(den <= 0, 0.0).otherwise(round(num.cast("double") / den.cast("double"), 6))
    def charFrac(mass: Column, n: Int): Column =
      when(col("__n") < n || col("__tc") <= 0, 0.0)
        .otherwise(round(least(mass.cast("double") / col("__tc").cast("double"),
          lit(1.0)), 6))
    def dupCount(f: Column): Column = frac(f.getField("cnt") - f.getField("nd"), f.getField("cnt"))
    def dupChar(f: Column): Column = frac(f.getField("dup"), f.getField("tot"))
    Seq(
      "n_words" -> col("__n"),
      "mean_word_len" -> frac(col("__tc"), col("__n")),
      "symbol_word_ratio" -> frac(col("__sym"), col("__n")),
      "alpha_word_frac" -> frac(col("__alpha"), col("__n")),
      "stop_hits" -> col("__stop"),
      "bullet_line_frac" -> frac(col("__bullet"), col("__nl")),
      "ellipsis_line_frac" -> frac(col("__ellip"), col("__nl")),
      "dup_line_frac" -> dupCount(col("__lf")),
      "dup_line_char_frac" -> dupChar(col("__lf")),
      "dup_para_frac" -> dupCount(col("__pf")),
      "dup_para_char_frac" -> dupChar(col("__pf")),
      "top_2gram_char_frac" -> charFrac(col("__g2").getField("top"), 2),
      "top_3gram_char_frac" -> charFrac(col("__g3").getField("top"), 3),
      "top_4gram_char_frac" -> charFrac(col("__g4").getField("top"), 4),
      "dup_5gram_char_frac" -> charFrac(col("__g5").getField("dup"), 5),
      "dup_6gram_char_frac" -> charFrac(col("__g6").getField("dup"), 6),
      "dup_7gram_char_frac" -> charFrac(col("__g7").getField("dup"), 7),
      "dup_8gram_char_frac" -> charFrac(col("__g8").getField("dup"), 8),
      "dup_9gram_char_frac" -> charFrac(col("__g9").getField("dup"), 9),
      "dup_10gram_char_frac" -> charFrac(col("__g10").getField("dup"), 10))
  }

  /** The published Table-A1 thresholds over the 6dp-rounded signals —
    * `sig` maps each signal name to either the named column
    * ([[gopherSignals]]) or its defining expression ([[gopherFilter]]).
    */
  private def gopherKeep(sig: Map[String, Column], minStopHits: Int): Column =
    sig("n_words").between(50L, 100000L) &&
      sig("mean_word_len").between(3.0, 10.0) &&
      sig("symbol_word_ratio") <= 0.1 &&
      sig("bullet_line_frac") <= 0.9 &&
      sig("ellipsis_line_frac") <= 0.3 &&
      sig("alpha_word_frac") >= 0.8 &&
      sig("stop_hits") >= minStopHits.toLong &&
      sig("dup_line_frac") <= 0.30 && sig("dup_para_frac") <= 0.30 &&
      sig("dup_line_char_frac") <= 0.20 && sig("dup_para_char_frac") <= 0.20 &&
      sig("top_2gram_char_frac") <= 0.20 &&
      sig("top_3gram_char_frac") <= 0.18 &&
      sig("top_4gram_char_frac") <= 0.16 &&
      sig("dup_5gram_char_frac") <= 0.15 &&
      sig("dup_6gram_char_frac") <= 0.14 &&
      sig("dup_7gram_char_frac") <= 0.13 &&
      sig("dup_8gram_char_frac") <= 0.12 &&
      sig("dup_9gram_char_frac") <= 0.11 &&
      sig("dup_10gram_char_frac") <= 0.10

  /** Rows of `df` surviving the Gopher Table-A1 battery. The signals
    * are per-row pure (one row in, one row out), so the filter is the
    * same map-only pass as [[gopherSignals]] with the keep conjunction
    * applied inline — df's columns ride the staged projections and the
    * upstream plan is evaluated ONCE, with no join and no exchange.
    * (The previous shape semi-joined `df` against its own kept ids,
    * which re-evaluated the whole upstream on both join sides and paid
    * an id-keyed shuffle.) The contract is per ROW: each row is judged
    * on its own text, so rows sharing an id are kept or dropped
    * independently (the semi-join kept every row of a passing id). The
    * keep boolean compares the
    * same 6dp-rounded expressions [[gopherSignals]] emits, so
    * filter-vs-signals agreement is by construction.
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minStopHits: Int = 2): DataFrame = {
    val orig = df.columns.toSeq
    gopherFolds(df, idCol, textCol, orig.filterNot(_ == idCol))
      .where(gopherKeep(gopherSigExprs.toMap, minStopHits))
      .select(orig.map(col): _*)
  }
}
