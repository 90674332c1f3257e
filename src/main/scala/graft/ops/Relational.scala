package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Relational building blocks the reference reaches via its Django/SQL
  * backends (bacon/sql.py, bacon/django/sql.py) — star joins, top-k
  * drill-downs, measure filters — expressed as scale-aware Spark plans.
  */
object Relational {

  /** Star-schema join: fact joined to each dimension, broadcast-hinted
    * ONLY when the dimension's estimated size is under `broadcastThreshold`
    * bytes. Unbounded "dims" (e.g. an orders table that scales with the
    * fact) would OOM the executors if force-broadcast at 100 TB, so they
    * join without a hint and AQE picks SMJ / shuffled-hash / runtime
    * broadcast from actual stats. The reference assumes records arrive
    * pre-joined (bacon works on a single iterable); at scale the join must
    * be explicit, with broadcast reserved for genuinely bounded tables.
    */
  def starJoin(fact: DataFrame, dims: Seq[(DataFrame, Column)],
               broadcastThreshold: Long = 64L << 20): DataFrame =
    dims.foldLeft(fact) { case (acc, (dim, on)) =>
      val estBytes = dim.queryExecution.optimizedPlan.stats.sizeInBytes
      if (estBytes <= broadcastThreshold) acc.join(broadcast(dim), on)
      else acc.join(dim, on)
    }

  /** Top-k rows per group — one shuffle on the partition keys, rank
    * computed in-partition. `order` must be deterministic (include a
    * tiebreaker) for stable results.
    */
  def topKPerGroup(df: DataFrame, partitionBy: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partitionBy: _*).orderBy(order: _*)
    df.withColumn("__rank__", row_number().over(w))
      .where(col("__rank__") <= k)
      .drop("__rank__")
  }

  /** One-pass bounded "is this frame driver-sized?" probe: collect up
    * to `threshold + 1` rows and return Some(rows) — the COMPLETE
    * result — when the frame holds ≤ threshold rows, None otherwise.
    * Replaces the approxRowCount-then-collect pair the tokenizer
    * trainers used on their vocab AGGREGATES: an aggregate carries no
    * optimizer row count, so the estimate fell to the sample-count
    * branch and ran the whole tokenize+explode+agg pipeline once for
    * the count and again for the collect. CollectLimit executes the
    * aggregation once and ships at most threshold+1 rows to the driver
    * regardless of the frame's true size (the path decision also
    * becomes exact instead of sample-approximate).
    */
  private[graft] def collectIfAtMost(df: DataFrame, threshold: Long): Option[Array[Row]] = {
    require(threshold >= 0, s"collectIfAtMost: threshold must be >= 0, got $threshold")
    // threshold + 1 capped at Int.MaxValue without overflowing the Long
    val lim = math.min(threshold, Int.MaxValue - 1L).toInt + 1
    val rows = df.limit(lim).collect()
    if (rows.length <= threshold) Some(rows) else None
  }

  /** A driver-held LocalRelation over collected rows. Projections,
    * filters and limits over it fold at plan time
    * (ConvertToLocalRelation) and collect with no Spark job, and a
    * broadcast exchange over its LocalTableScan builds on the driver,
    * also job-free.
    */
  private[graft] def localTable(spark: SparkSession, rows: Array[Row],
                                schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** HAVING — filter on an aggregated measure after a slice. */
  def having(slice: DataFrame, predicate: Column): DataFrame = slice.where(predicate)

  /** Range (interval) join: every left row paired with every right row
    * whose `[rightStart, rightEnd]` interval contains `leftPoint`
    * (inclusive both ends), optionally within equal `keys`. The three
    * named columns must be numeric (e.g. `unix_micros(ts)`); |values|
    * must stay under 2^53 (bins are computed with a double floor-div).
    *
    * Plan shape — bin-bucketed equi-join, NOT a cartesian/BNLJ: both
    * sides hash-partition on (keys, bin(binWidth)), right intervals
    * explode to every bin they overlap, and a left point's single bin
    * meets each interval copy at most once — so the equi-join output
    * needs NO dedup and the inequality runs as a cheap post-filter.
    * A naive `l JOIN r ON p BETWEEN s AND e` plans as
    * BroadcastNestedLoopJoin and dies at scale. Cost scales with
    * (interval length / binWidth): pick binWidth near the typical
    * interval length; intervals spanning ≥ `maxBinsPerInterval` bins
    * raise an error instead of silently exploding the shuffle.
    *
    * Inverted (`end < start`) and NULL-bounded intervals match nothing;
    * NULL points match nothing (inner-join semantics).
    *
    * Reference analogue: none — bacon has no interval join; standard
    * analytics surface alongside asOfJoin (SURVEY §2.62).
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                leftPoint: String, rightStart: String, rightEnd: String,
                binWidth: Long, maxBinsPerInterval: Int = 4096,
                rightPrefix: String = "r_"): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    def bin(c: Column): Column = floor(c / lit(binWidth.toDouble)).cast("long")
    val binEnd = when(
      bin(col(rightEnd)) - bin(col(rightStart)) >= maxBinsPerInterval,
      raise_error(concat(
        lit(s"rangeJoin: interval spans >= $maxBinsPerInterval bins of $binWidth; " +
          "raise binWidth or maxBinsPerInterval (start="),
        col(rightStart).cast("string"), lit(", end="), col(rightEnd).cast("string"), lit(")")))
        .cast("long")
    ).otherwise(bin(col(rightEnd)))
    val l = left.withColumn("__bin", bin(col(leftPoint))).alias("__l")
    val r = right
      .where(col(rightEnd) >= col(rightStart)) // inverted/NULL intervals match nothing
      .withColumn("__bin", explode(sequence(bin(col(rightStart)), binEnd)))
      .alias("__r")
    val keyCond = keys.map(k => col(s"__l.$k") === col(s"__r.$k"))
    val cond = (keyCond :+ (col("__l.__bin") === col("__r.__bin")) :+
      (col(s"__l.$leftPoint") >= col(s"__r.$rightStart")) :+
      (col(s"__l.$leftPoint") <= col(s"__r.$rightEnd"))).reduce(_ && _)
    l.join(r, cond).select(
      left.columns.map(c => col(s"__l.$c").as(c)) ++
        right.columns.filterNot(keys.contains)
          .map(c => col(s"__r.$c").as(s"$rightPrefix$c")): _*)
  }

  /** Interval-overlap join: every (left, right) pair whose intervals
    * `[lStart, lEnd]` and `[rStart, rEnd]` overlap (inclusive ends),
    * optionally within equal `keys`. Numeric columns, same contract as
    * `rangeJoin`.
    *
    * Plan shape: BOTH sides explode to the bins they span and equi-join
    * on (keys, bin). A pair overlapping several shared bins would
    * duplicate, so the join keeps only the FIRST overlapping bin — the
    * one containing max(lStart, rStart), which lies inside both
    * intervals whenever they overlap — making the output exactly-once
    * with no dropDuplicates (no extra shuffle). Same
    * `maxBinsPerInterval` guard on both sides.
    *
    * Inverted and NULL-bounded intervals match nothing.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftStart: String, leftEnd: String,
                   rightStart: String, rightEnd: String,
                   binWidth: Long, maxBinsPerInterval: Int = 4096,
                   rightPrefix: String = "r_"): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    def bin(c: Column): Column = floor(c / lit(binWidth.toDouble)).cast("long")
    def explodeBins(df: DataFrame, s: String, e: String): DataFrame = {
      val guarded = when(
        bin(col(e)) - bin(col(s)) >= maxBinsPerInterval,
        raise_error(concat(
          lit(s"intervalJoin: interval spans >= $maxBinsPerInterval bins of $binWidth; " +
            "raise binWidth or maxBinsPerInterval (start="),
          col(s).cast("string"), lit(", end="), col(e).cast("string"), lit(")")))
          .cast("long")
      ).otherwise(bin(col(e)))
      df.where(col(e) >= col(s))
        .withColumn("__bin", explode(sequence(bin(col(s)), guarded)))
    }
    val l = explodeBins(left, leftStart, leftEnd).alias("__l")
    val r = explodeBins(right, rightStart, rightEnd).alias("__r")
    val keyCond = keys.map(k => col(s"__l.$k") === col(s"__r.$k"))
    val overlap = Seq(
      col(s"__l.$leftStart") <= col(s"__r.$rightEnd"),
      col(s"__r.$rightStart") <= col(s"__l.$leftEnd"),
      // keep the pair only in its first shared bin → exactly-once output
      col("__l.__bin") === bin(greatest(col(s"__l.$leftStart"), col(s"__r.$rightStart"))))
    val cond = (keyCond ++ Seq(col("__l.__bin") === col("__r.__bin")) ++ overlap).reduce(_ && _)
    l.join(r, cond).select(
      left.columns.map(c => col(s"__l.$c").as(c)) ++
        right.columns.filterNot(keys.contains)
          .map(c => col(s"__r.$c").as(s"$rightPrefix$c")): _*)
  }

  /** Backward as-of join: for every left row, the single right row with
    * the greatest `rightTs` ≤ `leftTs` within the same `keys` (the
    * time-series point-in-time lookup — trades/quotes, event/last-state).
    * Left rows with no prior right row keep NULL payload (left-join
    * semantics); `tolerance` (an interval Column, e.g.
    * `expr("INTERVAL 1 HOUR")`) additionally nulls matches older than
    * `leftTs - tolerance`.
    *
    * Plan shape — the scale-safe union-window form, NOT a range join:
    * both sides union into one stream tagged left/right, ONE shuffle on
    * `keys`, and a running `last(payload, ignoreNulls)` ordered by
    * (ts, side) picks each left row's latest predecessor in-partition
    * (sort spills; nothing explodes). A naive `l JOIN r ON keys AND
    * r.ts <= l.ts` + max() builds O(|l|·|r|) intermediate pairs per key
    * and dies at scale. Right rows sort BEFORE left rows at equal ts, so
    * the match is inclusive, like DuckDB/pandas ASOF defaults; equal-ts
    * right duplicates resolve deterministically to the greatest payload
    * struct (dedup the right side first if that tiebreak is not the
    * intended one).
    *
    * Reference analogue: none — bacon has no temporal join; included as
    * part of the standard analytics surface (SURVEY §2.58).
    *
    * `direction`: "backward" (default — greatest rightTs ≤ leftTs),
    * "forward" (smallest rightTs ≥ leftTs, the next-event lookup) or
    * "nearest" (whichever of the two is closer in |Δts|; equal distance
    * resolves backward). Forward is the same one-shuffle union-window
    * plan scanned in descending ts; nearest evaluates both windows over
    * the one shuffle. All are inclusive at equal ts; forward `tolerance`
    * nulls matches newer than `leftTs + tolerance`, nearest applies the
    * per-side bound before choosing.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, payload: Seq[String],
               prefix: String = "asof_",
               tolerance: Option[Column] = None,
               direction: String = "backward"): DataFrame = {
    require(keys.nonEmpty, "as-of join needs at least one key column")
    require(payload.nonEmpty, "no payload columns requested from the right side")
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be 'backward', 'forward' or 'nearest', got '$direction'")
    val payCols = (rightTs +: payload).distinct
    // carry the whole left row / right payload as one struct each, so the
    // union schema is fixed and nothing needs renaming
    val lrow = struct(left.columns.map(col): _*)
    val lrowType = left.select(lrow).schema.head.dataType
    val payStruct = struct(payCols.map(col): _*)
    val payType = right.select(payStruct).schema.head.dataType
    val rTagged = right.select(
      keys.map(col) ++ Seq(col(rightTs).as("__ts"), lit(0).as("__side"),
        payStruct.as("__rpay"), lit(null).cast(lrowType).as("__lrow")): _*)
    val lTagged = left.select(
      keys.map(col) ++ Seq(col(leftTs).as("__ts"), lit(1).as("__side"),
        lit(null).cast(payType).as("__rpay"), lrow.as("__lrow")): _*)
    // forward scans in DESCENDING ts: the running `last` then holds the
    // nearest right row at-or-after the left row. Right still sorts
    // before left at equal ts (inclusive), and equal-ts right duplicates
    // still resolve to the greatest payload struct in every direction.
    // "nearest" evaluates BOTH windows — same partitioning, so still one
    // shuffle (the second window re-sorts in-partition, no exchange) —
    // and keeps the match with the smaller |Δts|, ties to backward.
    def w(ord: Column) = Window.partitionBy(keys.map(col): _*)
      .orderBy(ord, col("__side").asc, col("__rpay").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runB = last(col("__rpay"), ignoreNulls = true).over(w(col("__ts").asc))
    val runF = last(col("__rpay"), ignoreNulls = true).over(w(col("__ts").desc))
    def tolB(m: Column) = tolerance.fold(lit(true))(t =>
      m.getField(rightTs) >= col("__ts") - t)
    def tolF(m: Column) = tolerance.fold(lit(true))(t =>
      m.getField(rightTs) <= col("__ts") + t)
    val union = rTagged.unionByName(lTagged)
    val matched = (direction match {
      case "backward" =>
        union.withColumn("__m",
          when(runB.isNotNull && tolB(runB), runB))
      case "forward" =>
        union.withColumn("__m",
          when(runF.isNotNull && tolF(runF), runF))
      case _ => // nearest
        val validB = runB.isNotNull && tolB(runB)
        val validF = runF.isNotNull && tolF(runF)
        val closerB = (col("__ts") - runB.getField(rightTs)) <=
          (runF.getField(rightTs) - col("__ts"))
        union.withColumn("__m",
          when(validB && validF, when(closerB, runB).otherwise(runF))
            .when(validB, runB).when(validF, runF))
    }).where(col("__side") === 1)
    matched.select(
      left.columns.map(c => col(s"__lrow.$c").as(c)) ++
        payCols.map(p => col("__m").getField(p).as(s"$prefix$p")): _*)
  }

  /** Fuzzy (set-similarity) string join — the AllPairs/PPJoin prefix
    * filter (Bayardo, Ma & Srikant 2007, "Scaling up all pairs
    * similarity search"; Xiao et al. 2008): join two tables on
    * approximate string equality, emitting (leftId, rightId, jaccard)
    * for every cross-table pair whose char-`gramLen`-gram Jaccard
    * similarity ≥ `threshold`. The record-linkage primitive — matching
    * crawl records against a canonical catalog, merging entity tables —
    * where exact equi-join keys don't exist.
    *
    * Scale shape (never a cartesian):
    *  1. each side's key → DISTINCT lowercased char n-gram set (strings
    *     shorter than gramLen contribute themselves as the single gram;
    *     NULL and EMPTY keys never match anything);
    *  2. global gram document-frequency over BOTH sides (one bounded
    *     aggregation — gram vocabulary, not row count);
    *  3. PREFIX FILTER: each key sorts its grams rarest-first by
    *     (freq, gram) — a shared total order with no global rank
    *     window — and indexes only its first |G| − ⌈t·|G|⌉ + 1 grams:
    *     any pair with J ≥ t must share a prefix gram (overlap
    *     |A∩B| ≥ t·|A∪B| ≥ ⌈t·max(|A|,|B|)⌉, and per-side prefixes at
    *     each side's own ⌈t·|G|⌉ are at least the theorem's
    *     max-α lengths — conservative, no false negatives; spec-pinned
    *     against brute force);
    *  4. candidates = equi-join of the two prefix posting lists on the
    *     gram (rarest grams ⇒ smallest postings), deduped, LENGTH
    *     FILTER t·|A| ≤ |B| ≤ |A|/t applied on the way;
    *  5. verify: exact |A∩B| via array_intersect on the carried gram
    *     arrays (keys are short strings — the arrays are bytes, not
    *     documents), Jaccard = inter/(|A|+|B|−inter), exact rational
    *     comparison against the threshold, THEN 6dp rounding for
    *     output.
    *
    * The only shuffles are the gram-frequency aggregation, the posting
    * equi-join on the gram, and the candidate dedup — each keyed and
    * AQE-sized; skew concentrates in frequent grams, which the prefix
    * filter is precisely designed to keep OUT of the index.
    *
    * Adversarial skew guard: when ALL keys are near-identical, even the
    * rarest prefix grams carry huge posting lists, and a plain gram
    * equi-join lands each hot gram's |L|·|R| work on ONE task. Posting
    * grams therefore join on an ADAPTIVE 2-D GRID (the AQE skew-split
    * idea applied symmetrically): each gram's fan is sized from its own
    * measured document frequency — `fan = ⌈freq / skewedGramFreq⌉`
    * capped at `saltFan` — and both sides split by a deterministic id
    * hash into `fan` cells while replicating `fan` ways across the
    * other side's cells, so every (l, r) pair meets exactly once at
    * cell (h(l), h(r)). Per-task input stays ≈ `skewedGramFreq` posting
    * rows and per-task verify work ≈ (skewedGramFreq/2)² pairs NO
    * MATTER how hot the gram — a 200×-threshold monster just gets a
    * 200-cell-per-side grid (until the `saltFan` cap) instead of one
    * straggler task. Cold grams (freq ≤ skewedGramFreq, so
    * ⌈freq/skewedGramFreq⌉ = 1) take fan 1: a plain join row, no
    * replication, no cost; just past the threshold fan is 2 (each
    * posting row duplicated twice per side).
    *
    * The trade the grid buys balance with: BOTH sides replicate `fan`
    * ways, so a hot gram's shuffled posting volume grows as freq·fan ≈
    * freq²/skewedGramFreq until the `saltFan` cap — up to saltFan×
    * replication of a huge posting list per side. That is the standard
    * symmetric-skew-join cost (the pairs genuinely number |L|·|R|; the
    * grid only chooses to pay them as bounded shuffle volume instead of
    * one unbounded straggler task). For corpora where hot grams are
    * EXPECTED, lower `saltFan` to cap the replication (tasks then grow
    * past skewedGramFreq instead) or raise `skewedGramFreq`/`gramLen`
    * so fewer grams qualify.
    */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftId: String, leftKey: String,
                rightId: String, rightKey: String,
                threshold: Double, gramLen: Int = 3,
                skewedGramFreq: Long = 5000L, saltFan: Int = 64): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(gramLen >= 1, s"gramLen must be >= 1, got $gramLen")
    require(saltFan >= 1, s"saltFan must be >= 1, got $saltFan")
    require(skewedGramFreq >= 1,
      s"skewedGramFreq must be >= 1, got $skewedGramFreq")
    // NULL and EMPTY keys are both unmatched: an empty key would gram to
    // the single "" (substr over the empty string), making every empty
    // left key pair with every empty right key at J=1.0 AND concentrating
    // all empties in one "" posting list the prefix filter cannot prune.
    def gramsOf(df: DataFrame, id: String, key: String, side: String) =
      df.where(col(key).isNotNull && length(col(key)) > 0)
        .select(col(id).as(s"__${side}id"),
          array_distinct(transform(
            sequence(lit(0), greatest(length(lower(col(key))) - gramLen, lit(0))),
            i => lower(col(key)).substr(i + 1, lit(gramLen))))
            .as(s"__${side}g"))
        .withColumn(s"__${side}n", size(col(s"__${side}g")))
    val lg = gramsOf(left, leftId, leftKey, "l").localCheckpoint(false)
    val rg = gramsOf(right, rightId, rightKey, "r").localCheckpoint(false)
    // global gram -> document frequency over both sides (bounded: gram
    // vocabulary); broadcast back as the shared rarest-first sort key
    val freq = lg.select(explode(col("__lg")).as("gram"))
      .unionAll(rg.select(explode(col("__rg")).as("gram")))
      .groupBy(col("gram")).agg(count(lit(1)).as("freq"))
    def prefix(df: DataFrame, side: String) = {
      val g = col(s"__${side}g"); val n = col(s"__${side}n")
      df.select(col(s"__${side}id"), n, explode(g).as("gram"))
        .join(broadcast(freq), "gram")
        .groupBy(col(s"__${side}id"), n)
        .agg(array_sort(collect_list(struct(col("freq"), col("gram")))).as("__sorted"))
        .select(col(s"__${side}id"), n,
          explode(slice(col("__sorted"),
            lit(1), (n - ceil(n * lit(threshold)) + 1).cast("int"))).as("__p"))
        .select(col(s"__${side}id"), n, col("__p.gram").as("gram"),
          col("__p.freq").as("__gf"))
    }
    // adaptive 2-D grid join: each gram's fan derives from its own
    // document frequency (identical on both sides — same broadcast freq
    // table), each side hash-splits its ids into fan cells and
    // replicates fan ways across the other side's cells; a pair meets
    // exactly once at (h(l), h(r)). Cold grams take fan 1: plain row.
    val fanOf = least(
      greatest(ceil(col("__gf").cast("double") / lit(skewedGramFreq.toDouble))
        .cast("long"), lit(1L)),
      lit(saltFan.toLong))
    val lp = prefix(lg, "l").withColumn("__fan", fanOf)
      .withColumn("__salt", pmod(xxhash64(col("__lid")), col("__fan")))
      .withColumn("__rsalt",
        explode(sequence(lit(0L), col("__fan") - 1)))
      .drop("__fan", "__gf")
    val rp = prefix(rg, "r").withColumn("__fan", fanOf)
      .withColumn("__rsalt", pmod(xxhash64(col("__rid")), col("__fan")))
      .withColumn("__salt",
        explode(sequence(lit(0L), col("__fan") - 1)))
      .drop("__fan", "__gf")
    val cand = lp.join(rp, Seq("gram", "__salt", "__rsalt"))
      .where(col("__rn") >= ceil(col("__ln") * lit(threshold)) &&
        col("__ln") >= ceil(col("__rn") * lit(threshold)))
      .select(col("__lid"), col("__rid")).distinct()
    cand.join(lg, "__lid").join(rg, "__rid")
      .withColumn("__inter", size(array_intersect(col("__lg"), col("__rg"))).cast("double"))
      .withColumn("__jac",
        col("__inter") / (col("__ln") + col("__rn") - col("__inter")))
      .where(col("__jac") >= threshold)
      .select(col("__lid").as(leftId), col("__rid").as(rightId),
        round(col("__jac"), 6).as("jaccard"))
  }
}
