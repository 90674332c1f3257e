package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed WordPiece vocabulary induction + the greedy
  * longest-match-first encoder (Schuster & Nakajima 2012, "Japanese and
  * Korean Voice Search"; the BERT tokenizer, as implemented by the
  * public HuggingFace `tokenizers` WordPiece trainer). Completes the
  * tokenizer family next to [[Bpe]] (frequency-merge) and [[Unigram]]
  * (EM-pruned): WordPiece is merge-based like BPE but selects each
  * merge by the LIKELIHOOD gain
  *
  *   score(a, b) = count(ab) / (count(a) · count(b))
  *
  * — the pair that most exceeds its unigram-independence expectation —
  * so a rare-but-cohesive pair beats a frequent pair of already-
  * frequent units (BpeSpec/WordPieceSpec pin a corpus where the two
  * criteria pick DIFFERENT first merges). Word-internal continuation
  * pieces carry the `##` prefix as part of the symbol (the HF
  * `continuing_subword_prefix`), and a merge concatenates the left
  * symbol with the right symbol's prefix-stripped text:
  * ("a", "##b") → "ab", ("##a", "##b") → "##ab".
  *
  * INFERENCE is not merge replay (the BPE encoders' contract) but
  * greedy longest-match-first against the final vocabulary: the
  * longest vocab piece prefixing the remaining word wins, continuation
  * positions match `##`-prefixed entries, and a word with any
  * unmatchable position encodes to ONE `[UNK]` (the BERT rule — a
  * partially-encodable word is not half-emitted).
  *
  * Scale shape (the [[Bpe.bpeMerges]] two-regime contract): the corpus
  * scan is always distributed (one word-frequency aggregation); the
  * merge loop runs driver-side when the word table collects under
  * `localVocabThreshold`, else distributed with TWO vocab-sized
  * aggregations per round (adjacent-pair counts via zipped shifted
  * slices, unit counts via one explode) joined into the score — never
  * a corpus rescan. WordPieceSpec pins the regimes merge-for-merge
  * equal, scores included.
  */
object WordPiece {

  /** The BERT unknown-word token. */
  val Unk = "[UNK]"

  /** Continuation prefix carried by word-internal symbols. */
  val ContPrefix = "##"

  private def stripCont(s: String): String =
    if (s.startsWith(ContPrefix)) s.substring(ContPrefix.length) else s

  /** Initial WordPiece symbols of one word: first char bare, every
    * later char `##`-prefixed.
    */
  private def initialSymbols(word: String): Seq[String] = {
    val cs = word.split("").filter(_.nonEmpty).toSeq
    if (cs.isEmpty) cs
    else cs.head +: cs.tail.map(ContPrefix + _)
  }

  /** Learn `numMerges` WordPiece merges. Returns
    * (rank, left, right, pair_count, score) in learned order; stops
    * early when the best remaining pair occurs fewer than
    * `minPairCount` times. Ties on score break toward the higher pair
    * count, then lexicographic (left, right) — deterministic in both
    * regimes.
    */
  def train(spark: SparkSession, df: DataFrame, textCol: String,
            numMerges: Int, minPairCount: Long = 2L,
            localVocabThreshold: Long = 500000L): DataFrame =
    trainCounts(spark, wordCounts(df, textCol), numMerges, minPairCount,
      localVocabThreshold)

  /** The corpus word-frequency table (word, word_count) [[train]]
    * aggregates — exposed so a caller needing the counts for other work
    * (e.g. [[vocabulary]]) can compute them ONCE, checkpoint, and feed
    * [[trainCounts]] instead of paying a second corpus scan.
    */
  def wordCounts(df: DataFrame, textCol: String): DataFrame = df
    .select(explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("word"))
    .groupBy(col("word")).agg(count(lit(1)).as("word_count"))

  /** [[train]] over a precomputed (word, word_count) table. */
  def trainCounts(spark: SparkSession, counts: DataFrame,
                  numMerges: Int, minPairCount: Long = 2L,
                  localVocabThreshold: Long = 500000L): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    import spark.implicits._
    val local = graft.ops.Relational.collectIfAtMost(counts, localVocabThreshold)
    if (local.isDefined) {
      val wc = local.get.map(r => r.getString(0) -> r.getLong(1))
      return serialTrain(wc, numMerges, minPairCount)
        .zipWithIndex
        .map { case ((a, b, c, sc), i) => (i.toLong, a, b, c, sc) }
        .toDF("rank", "left", "right", "pair_count", "score")
    }
    // first char bare, later chars ##-prefixed — one transform over the
    // split array, no UDF
    val chars = filter(split(col("word"), ""), s => length(s) > 0)
    var vocab = counts.withColumn("symbols",
        transform(chars, (c, i) =>
          when(i === 0, c).otherwise(concat(lit(ContPrefix), c))))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long, Double)]
    var rank = 0
    while (rank < numMerges) {
      val pairs = vocab.where(size(col("symbols")) >= 2)
        .select(col("word_count"), explode(zip_with(
          slice(col("symbols"), lit(1), size(col("symbols")) - 1),
          slice(col("symbols"), lit(2), size(col("symbols")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("__p"))
        .groupBy(col("__p.l").as("l"), col("__p.r").as("r"))
        .agg(sum(col("word_count")).as("c"))
      val units = vocab
        .select(col("word_count"), explode(col("symbols")).as("u"))
        .groupBy(col("u")).agg(sum(col("word_count")).as("cu"))
      val top = pairs
        .join(units.select(col("u").as("l"), col("cu").as("cl")), Seq("l"))
        .join(units.select(col("u").as("r"), col("cu").as("cr")), Seq("r"))
        .select(col("l"), col("r"), col("c"),
          (col("c").cast("double") / (col("cl").cast("double") * col("cr").cast("double")))
            .as("score"))
        .orderBy(col("score").desc, col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty || top.head.getLong(2) < minPairCount) {
        rank = numMerges
      } else {
        val (l, r, c, sc) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2), top.head.getDouble(3))
        merges += ((rank, l, r, c, sc))
        val prev = vocab
        vocab = vocab.withColumn("symbols",
            Bpe.mergePairAs(col("symbols"), l, r, l + stripCont(r)))
          .localCheckpoint(true)
        prev.unpersist()
        rank += 1
      }
    }
    vocab.unpersist()
    merges.toSeq.toDF("rank", "left", "right", "pair_count", "score")
      .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
        col("pair_count"), col("score"))
  }

  /** Driver-side trainer over a collected word-frequency table — the
    * small-vocab regime of [[train]]. Returns
    * (left, right, pair_count, score) in learned order.
    */
  def serialTrain(wordCounts: Seq[(String, Long)], numMerges: Int,
                  minPairCount: Long = 2L): Seq[(String, String, Long, Double)] = {
    var vocab: Map[Seq[String], Long] = wordCounts
      .map { case (w, c) => initialSymbols(w) -> c }
      .filter(_._1.nonEmpty)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Double)]
    var done = false
    while (!done && out.size < numMerges) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      val unitCounts = scala.collection.mutable.HashMap.empty[String, Long]
      vocab.foreach { case (sym, c) =>
        sym.foreach(u => unitCounts(u) = unitCounts.getOrElse(u, 0L) + c)
        var i = 0
        while (i < sym.length - 1) {
          val p = (sym(i), sym(i + 1))
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val ((a, b), c) = pairCounts.minBy { case ((a, b), c) =>
          val score = c.toDouble / (unitCounts(a).toDouble * unitCounts(b).toDouble)
          (-score, -c, a, b)
        }
        if (c < minPairCount) done = true
        else {
          val score = c.toDouble / (unitCounts(a).toDouble * unitCounts(b).toDouble)
          out += ((a, b, c, score))
          val merged = a + stripCont(b)
          vocab = vocab.toSeq.map { case (sym, wc) =>
            val m = scala.collection.mutable.ArrayBuffer.empty[String]
            sym.foreach { x =>
              if (m.nonEmpty && m.last == a && x == b) m(m.length - 1) = merged
              else m += x
            }
            (m.toSeq, wc)
          }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        }
      }
    }
    out.toSeq
  }

  /** The final piece vocabulary: every initial character symbol of the
    * training words plus every merge output. This is the set
    * [[encodeWord]] matches against — tokenizer-sized, never
    * data-sized.
    */
  def vocabulary(wordCounts: Seq[(String, Long)],
                 merges: Seq[(String, String)]): Set[String] =
    wordCounts.iterator.flatMap(w => initialSymbols(w._1)).toSet ++
      merges.iterator.map { case (a, b) => a + stripCont(b) }

  /** Greedy longest-match-first encoding of one word (the BERT
    * WordPiece inference rule): the longest vocab piece prefixing the
    * remainder wins; positions past the first match `##`-prefixed
    * entries; any unmatchable position collapses the WHOLE word to
    * one [[Unk]].
    */
  def encodeWord(word: String, vocab: Set[String]): Seq[String] = {
    if (word.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val prefix = if (i == 0) "" else ContPrefix
      var j = word.length
      var hit: String = null
      while (j > i && hit == null) {
        val cand = prefix + word.substring(i, j)
        if (vocab(cand)) hit = cand else j -= 1
      }
      if (hit == null) return Seq(Unk)
      out += hit
      i = j
    }
    out.toSeq
  }

  /** Tokenize a text column with a learned vocabulary (driver-collected,
    * tokenizer-sized) — per-task word memo, the [[Bpe.encodeUdf]]
    * discipline.
    */
  def encodeUdf(vocab: Set[String])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    udf { (text: String) =>
      if (text == null) null
      else text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        .flatMap(w => memo.getOrElseUpdate(w, encodeWord(w, vocab)))
    }
  }
}
