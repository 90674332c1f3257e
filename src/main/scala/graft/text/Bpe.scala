package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding vocabulary induction (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units")
  * — the tokenizer-training half of a training-data pipeline: learn the
  * merge table from the corpus itself, at corpus scale.
  *
  * The standard trick makes this tractable: BPE statistics depend only
  * on the WORD-FREQUENCY table, not the corpus — so the corpus is
  * scanned exactly once (a map-side-combinable word count), and every
  * merge iteration runs over the vocab-sized (word, count, symbols)
  * frame. At 100 TB the vocab table is millions of rows (Zipf), so the
  * per-merge cost is a small distributed aggregation, not a corpus
  * pass. Each iteration's winning pair is a single driver-side row (two
  * strings + a count — a scalar decision, the same class as a LIMIT 1
  * collect); applying the merge is a pure `aggregate` HOF fold over
  * each word's symbol array, and the frame is `localCheckpoint`ed per
  * round to truncate lineage exactly like the connected-components
  * loops in [[graft.dedup.Dedup]].
  *
  * Greedy left-to-right merge semantics match the reference algorithm:
  * folding left keeps the just-merged symbol as the fold tail, so
  * "aaaa" under the merge (a,a) becomes [aa, aa], never overlapping
  * applications. Ties on pair count break lexicographically
  * (left, then right) so the learned table is deterministic on any
  * cluster layout.
  */
object Bpe {

  /** End-of-word marker appended as a standalone symbol, per the
    * reference algorithm — it keeps "est" in "widest" distinct from
    * "est</w>" at word end.
    */
  val EndOfWord = "</w>"

  /** Word-frequency table with initial character-level symbol arrays:
    * (word, word_count, symbols). One corpus scan.
    */
  def wordSymbols(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("word_count"))
      .withColumn("symbols",
        concat(filter(split(col("word"), ""), s => length(s) > 0),
          array(lit(EndOfWord))))

  /** One greedy left-to-right application of the merge (a, b) → "ab"
    * over a symbol array, as a pure Catalyst fold — no UDF.
    */
  private[text] def mergePair(sym: org.apache.spark.sql.Column, a: String, b: String)
      : org.apache.spark.sql.Column =
    mergePairAs(sym, a, b, a + b)

  /** The same fold with an explicit merged-symbol spelling — WordPiece
    * merges strip the continuation prefix off the right component
    * ((a, ##b) → "a" + "b"), so the output string is not always a + b.
    */
  private[text] def mergePairAs(sym: org.apache.spark.sql.Column, a: String,
                                b: String, merged: String)
      : org.apache.spark.sql.Column =
    aggregate(sym, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
        .otherwise(concat(acc, array(x))))

  /** Learn `numMerges` BPE merges from the corpus. Returns the merge
    * table (rank, left, right, pair_count) in learned order; stops
    * early when the best remaining pair occurs fewer than
    * `minPairCount` times (weighted by word frequency).
    *
    * Two execution regimes behind one contract (the broadcast-join
    * discipline applied to an iterative loop): the corpus scan is
    * always distributed, then if the word-frequency table is small
    * enough to collect (`localVocabThreshold`, decided exactly by one
    * bounded collect, `Relational.collectIfAtMost`, with no
    * full pass) the merge loop runs driver-side over the collected
    * counts — 40 merges are 40 in-memory passes over a Map instead of
    * 80 Spark jobs. A 100 TB web corpus with a hapax-heavy vocab
    * exceeds the threshold and takes the distributed loop, whose
    * per-round cost is a vocab-sized aggregation. BpeSpec pins the two
    * regimes merge-for-merge equal.
    */
  def bpeMerges(spark: SparkSession, df: DataFrame, textCol: String,
                numMerges: Int, minPairCount: Long = 2L,
                localVocabThreshold: Long = 500000L): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    import spark.implicits._
    val counts = df
      .select(explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("word_count"))
    graft.ops.Relational.collectIfAtMost(counts, localVocabThreshold) match {
      case Some(rows) =>
        val wc = rows.map(r => r.getString(0) -> r.getLong(1))
        serialMerges(wc, numMerges, minPairCount)
          .zipWithIndex
          .map { case ((a, b, c), i) => (i.toLong, a, b, c) }
          .toDF("rank", "left", "right", "pair_count")
      case None =>
        val vocab0 = counts.withColumn("symbols",
          concat(filter(split(col("word"), ""), s => length(s) > 0),
            array(lit(EndOfWord))))
        distributedMergeLoop(spark, vocab0, numMerges, minPairCount)
    }
  }

  /** The distributed greedy merge loop over an initialized
    * (word_count, symbols) vocab frame — shared by char-level
    * [[bpeMerges]] and byte-level [[ByteBpe.byteBpeMerges]], which
    * differ ONLY in how a word becomes its initial symbol array.
    */
  private[text] def distributedMergeLoop(spark: SparkSession, vocab0: DataFrame,
                                         numMerges: Int, minPairCount: Long): DataFrame = {
    import spark.implicits._
    var vocab = vocab0.localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    while (rank < numMerges) {
      // Weighted adjacent-pair counts over the vocab frame: two shifted
      // slices zipped — no positional explode-and-self-join.
      val top = vocab.where(size(col("symbols")) >= 2)
        .select(col("word_count"), explode(zip_with(
          slice(col("symbols"), lit(1), size(col("symbols")) - 1),
          slice(col("symbols"), lit(2), size(col("symbols")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("word_count")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty || top.head.getLong(2) < minPairCount) {
        rank = numMerges // converged: nothing frequent enough remains
      } else {
        val (a, b, c) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += ((rank, a, b, c))
        val prev = vocab
        vocab = vocab.withColumn("symbols", mergePair(col("symbols"), a, b))
          .localCheckpoint(true)
        prev.unpersist()
        rank += 1
      }
    }
    vocab.unpersist()
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
      .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
        col("pair_count"))
  }

  /** Driver-side merge loop over a collected word-frequency table —
    * the small-vocab regime of [[bpeMerges]] (Sennrich 2016 algorithm 1
    * verbatim: weighted pair counts, lexicographic tie-break, greedy
    * left-to-right application).
    */
  def serialMerges(wordCounts: Seq[(String, Long)], numMerges: Int,
                   minPairCount: Long = 2L): Seq[(String, String, Long)] =
    serialMergeLoop(wordCounts.map { case (w, c) =>
      (w.split("").filter(_.nonEmpty).toSeq :+ EndOfWord) -> c
    }, numMerges, minPairCount)

  /** The driver-side greedy merge loop over pre-symbolized words — the
    * serial counterpart of [[distributedMergeLoop]], shared with
    * [[ByteBpe]] the same way.
    */
  private[text] def serialMergeLoop(init: Seq[(Seq[String], Long)], numMerges: Int,
                                    minPairCount: Long): Seq[(String, String, Long)] = {
    var vocab: Map[Seq[String], Long] = init
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (!done && out.size < numMerges) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (sym, c) =>
        var i = 0
        while (i < sym.length - 1) {
          val p = (sym(i), sym(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val ((a, b), c) = pairCounts.minBy { case ((a, b), c) => (-c, a, b) }
        if (c < minPairCount) done = true
        else {
          out += ((a, b, c))
          vocab = vocab.toSeq.map { case (sym, wc) =>
            val m = scala.collection.mutable.ArrayBuffer.empty[String]
            sym.foreach { x =>
              if (m.nonEmpty && m.last == a && x == b) m(m.length - 1) = a + b
              else m += x
            }
            (m.toSeq, wc)
          }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        }
      }
    }
    out.toSeq
  }

  /** Serial reference encoder: apply a learned merge table to one word
    * (driver-side Scala, used by specs and by [[encodeUdf]]). Merges
    * apply in rank order, each greedily left-to-right — identical
    * semantics to the distributed fold in [[mergePair]].
    */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var sym = word.split("").filter(_.nonEmpty).toSeq :+ EndOfWord
    merges.foreach { case (a, b) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      sym.foreach { x =>
        if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
        else out += x
      }
      sym = out.toSeq
    }
    sym
  }

  /** Min-rank encoder: repeatedly merge the lowest-rank adjacent pair
    * present (all its occurrences, left-to-right) until none of the
    * learned pairs remains — the GPT-2-tokenizer apply loop. Provably
    * identical to [[encodeWord]]'s apply-every-merge-in-rank-order
    * (BpeSpec pins the parity): a merge of rank k can only CREATE
    * pairs involving its merged symbol, and any learned pair containing
    * that symbol was necessarily learned after it (the symbol did not
    * exist before merge k), so no pair of rank < k ever appears after
    * rank k applies — skipping straight to the next present rank is
    * safe. PRECONDITION: that argument assumes the creation-order
    * invariant of a LEARNED table (every composite symbol in a rank-r
    * pair is the output of some rank-<r merge — always true of
    * [[bpeMerges]] output). A hand-built table violating it (e.g.
    * rank 0 = ("ab","c"), rank 1 = ("a","b")) makes the two encoders
    * diverge; [[validateMerges]] checks the invariant and [[encodeUdf]]
    * enforces it at construction. Cost is O(|word|² ) scans instead of
    * O(|merges|·|word|):
    * with a 50k-merge learned vocab that is the difference between
    * ~10 and ~500k symbol comparisons per word.
    */
  def rankEncode(word: String, ranks: Map[(String, String), Int]): Seq[String] =
    rankEncodeSymbols(word.split("").filter(_.nonEmpty).toSeq :+ EndOfWord, ranks)

  /** The min-rank apply loop over pre-built initial symbols — shared
    * with [[ByteBpe]]'s byte-alphabet encoder.
    */
  private[text] def rankEncodeSymbols(sym0: Seq[String],
                                      ranks: Map[(String, String), Int]): Seq[String] = {
    var sym = sym0.toBuffer
    var done = sym.length < 2
    while (!done) {
      // lowest-rank pair present in the current symbol sequence
      var best = Int.MaxValue
      var a: String = null; var b: String = null
      var i = 0
      while (i < sym.length - 1) {
        val r = ranks.getOrElse((sym(i), sym(i + 1)), Int.MaxValue)
        if (r < best) { best = r; a = sym(i); b = sym(i + 1) }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge ALL occurrences of the winning pair, left-to-right
        // greedily — the same single-pass semantics as mergePair
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        sym.foreach { x =>
          if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
          else out += x
        }
        sym = out
        done = sym.length < 2
      }
    }
    sym.toSeq
  }

  /** Tokenize a text column with a learned merge table. The merge list
    * is driver-collected (tokenizer-sized — tens of thousands of rows,
    * never data-sized) and carried as a rank map inside the UDF
    * closure; each word encodes via [[rankEncode]] (cost independent of
    * vocab size) with a word-level memo per task, so the cost is
    * O(distinct words per partition), not O(tokens × merges).
    */
  /** Check the learned-BPE creation-order invariant [[rankEncode]]'s
    * min-rank shortcut depends on: processing pairs in rank order, every
    * component must be a base symbol (single character or the
    * [[EndOfWord]] marker) or the concatenation output of an
    * earlier-rank merge. Tables from [[bpeMerges]] satisfy this by
    * construction; hand-built tables that don't would make
    * [[rankEncode]] and [[encodeWord]] diverge, so fail fast with the
    * offending rank named.
    */
  def validateMerges(merges: Seq[(String, String)]): Unit = {
    val produced = scala.collection.mutable.HashSet.empty[String]
    def base(s: String) = s.length == 1 || s == EndOfWord || produced(s)
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      require(base(a) && base(b),
        s"merge table violates the creation-order invariant at rank $r: " +
          s"pair ($a, $b) references a composite symbol no earlier merge " +
          "produces — rankEncode/encodeWord parity holds only for tables " +
          "from bpeMerges (or any table where every composite component " +
          "is an earlier merge's output)")
      produced += (a + b)
    }
  }

  def encodeUdf(merges: Seq[(String, String)])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    validateMerges(merges) // once, driver-side, O(|merges|)
    val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    // The memo lives in the closure: one copy per task after
    // deserialization, shared across that task's rows (single-threaded),
    // so repeated words encode once per partition, not once per token.
    val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    udf { (text: String) =>
      if (text == null) null
      else text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        .flatMap(w => memo.getOrElseUpdate(w, rankEncode(w, ranks)))
    }
  }
}
