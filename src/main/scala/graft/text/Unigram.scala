package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed unigram-LM tokenizer induction (Kudo 2018, "Subword
  * Regularization", arXiv:1804.10959 — the SentencePiece `unigram`
  * trainer): the OTHER standard tokenizer-training algorithm next to
  * BPE ([[Bpe]]), learned top-down — start from a large seed piece
  * inventory, EM-fit a unigram language model over all segmentations,
  * and prune low-utility pieces until the target vocabulary size.
  *
  * Same scale trick as BPE: the statistics depend only on the
  * WORD-FREQUENCY table, never the corpus — one corpus scan builds
  * (word, count), and every EM iteration is a pass over that
  * Zipf-bounded frame. Pieces are learned WITHIN words (the [[Bpe]]
  * convention; SentencePiece's "▁"-marked raw-stream mode differs only
  * in pre-tokenization), so per-word forward–backward is a pure
  * function computed inside a UDF over the word table, and the M-step
  * is one piece-grain aggregation. The piece table itself is
  * tokenizer-sized (≤ seedSize rows by construction — the same class
  * as the BPE merge table), so collecting it per round is a bounded
  * driver decision, not a data-sized collect.
  *
  * Simplifications vs the reference implementation, chosen to keep the
  * trainer closed-form and engine-deterministic: seeding uses all
  * word-substrings up to `maxPieceLen` weighted by occurrence count
  * (SentencePiece samples frequent substrings via a suffix array —
  * same inventory on bounded-length pieces); pruning ranks pieces by
  * expected count (the standard cheap proxy for SentencePiece's
  * loss-difference test); EM runs a fixed `emIters` sub-iterations per
  * pruning round, as the reference does. Single-character pieces are
  * never pruned, so every word stays segmentable.
  *
  * Determinism: the serial regime is exactly reproducible; the
  * distributed regime's cross-word double summation is
  * order-dependent, so logprobs agree with the serial trainer to fp
  * tolerance and UnigramSpec pins vocab-set equality + 1e-9-relative
  * logprobs + identical Viterbi segmentations.
  */
object Unigram {

  private val Neg = Double.NegativeInfinity

  private def logAdd(a: Double, b: Double): Double =
    if (a == Neg) b
    else if (b == Neg) a
    else if (a >= b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  /** Seed inventory over a word-frequency table: every substring of
    * length ≤ maxPieceLen weighted by Σ word_count × occurrences; all
    * single characters, plus the top (seedSize − #chars) multi-char
    * pieces by (weight desc, piece asc).
    */
  def seedPieces(wc: Seq[(String, Long)], maxPieceLen: Int,
                 seedSize: Int): Map[String, Double] = {
    val weight = scala.collection.mutable.HashMap.empty[String, Double]
    wc.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        val lim = math.min(w.length, i + maxPieceLen)
        while (j <= lim) {
          val p = w.substring(i, j)
          weight(p) = weight.getOrElse(p, 0.0) + c.toDouble
          j += 1
        }
        i += 1
      }
    }
    val (chars, multi) = weight.toSeq.partition(_._1.length == 1)
    val kept = chars ++ multi.sortBy { case (p, v) => (-v, p) }
      .take(math.max(0, seedSize - chars.size))
    val total = kept.map(_._2).sum
    kept.map { case (p, v) => p -> math.log(v / total) }.toMap
  }

  /** Forward–backward expected piece counts for ONE word under the
    * current piece log-probabilities — the E-step contribution of one
    * word-table row (multiply by word_count outside). Lattice nodes =
    * character positions; every in-vocab substring of length ≤
    * maxPieceLen is an edge. Returns (piece, posterior count) pairs;
    * empty when the word is unsegmentable (cannot happen while single
    * chars stay in the vocabulary).
    */
  def expectedCounts(word: String, lp: collection.Map[String, Double],
                     maxPieceLen: Int): Seq[(String, Double)] = {
    val n = word.length
    val alpha = Array.fill(n + 1)(Neg); alpha(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      val maxL = math.min(maxPieceLen, i)
      while (l <= maxL) {
        val j = i - l
        if (alpha(j) != Neg) {
          val s = lp.getOrElse(word.substring(j, i), Neg)
          if (s != Neg) alpha(i) = logAdd(alpha(i), alpha(j) + s)
        }
        l += 1
      }
      i += 1
    }
    if (alpha(n) == Neg) return Seq.empty
    val beta = Array.fill(n + 1)(Neg); beta(n) = 0.0
    var j2 = n - 1
    while (j2 >= 0) {
      var l = 1
      val maxL = math.min(maxPieceLen, n - j2)
      while (l <= maxL) {
        val i2 = j2 + l
        if (beta(i2) != Neg) {
          val s = lp.getOrElse(word.substring(j2, i2), Neg)
          if (s != Neg) beta(j2) = logAdd(beta(j2), s + beta(i2))
        }
        l += 1
      }
      j2 -= 1
    }
    val z = alpha(n)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var j3 = 0
    while (j3 < n) {
      var l = 1
      val maxL = math.min(maxPieceLen, n - j3)
      while (l <= maxL) {
        val i3 = j3 + l
        val p = word.substring(j3, i3)
        val s = lp.getOrElse(p, Neg)
        if (s != Neg && alpha(j3) != Neg && beta(i3) != Neg) {
          val post = math.exp(alpha(j3) + s + beta(i3) - z)
          if (post > 0.0) out(p) = out.getOrElse(p, 0.0) + post
        }
        l += 1
      }
      j3 += 1
    }
    out.toSeq
  }

  /** One EM step over a collected word table: expected counts (E) →
    * renormalized log-probs (M). Pieces with zero expectation drop out
    * unless single-char.
    */
  private def emStep(wc: Seq[(String, Long)], lp: Map[String, Double],
                     maxPieceLen: Int): Map[String, Double] = {
    val acc = scala.collection.mutable.HashMap.empty[String, Double]
    wc.foreach { case (w, c) =>
      expectedCounts(w, lp, maxPieceLen).foreach { case (p, e) =>
        acc(p) = acc.getOrElse(p, 0.0) + e * c
      }
    }
    normalize(acc.toSeq, lp.keySet.filter(_.length == 1))
  }

  /** Renormalize expected counts into log-probs; protected single-char
    * pieces that received zero expectation stay at a tiny floor count
    * so the lattice never disconnects.
    */
  private def normalize(counts: Seq[(String, Double)],
                        protectedChars: Set[String]): Map[String, Double] = {
    val m = counts.filter { case (p, v) => v > 0.0 || protectedChars(p) }.toMap
    val withFloor = protectedChars.foldLeft(m) { (acc, ch) =>
      if (acc.getOrElse(ch, 0.0) > 0.0) acc else acc.updated(ch, 1e-12)
    }
    val total = withFloor.values.sum
    withFloor.map { case (p, v) => p -> math.log(v / total) }
  }

  /** Prune to `target` pieces: all single chars survive; multi-char
    * pieces keep the top slots by (logprob desc, piece asc).
    */
  private def prune(lp: Map[String, Double], target: Int): Map[String, Double] = {
    val (chars, multi) = lp.toSeq.partition(_._1.length == 1)
    val kept = chars ++ multi.sortBy { case (p, s) => (-s, p) }
      .take(math.max(0, target - chars.size))
    kept.toMap
  }

  /** Serial reference trainer over a collected word-frequency table —
    * the small-vocab regime of [[train]] and the parity baseline for
    * UnigramSpec. Returns (piece, logprob) sorted by piece.
    */
  def serialTrain(wc: Seq[(String, Long)], vocabSize: Int,
                  maxPieceLen: Int = 8, seedSize: Int = 5000,
                  shrink: Double = 0.75, emIters: Int = 2): Seq[(String, Double)] = {
    require(vocabSize >= 1 && seedSize >= vocabSize,
      s"need seedSize >= vocabSize >= 1, got seed=$seedSize vocab=$vocabSize")
    require(shrink > 0.0 && shrink < 1.0, s"shrink in (0,1), got $shrink")
    var lp = seedPieces(wc, maxPieceLen, seedSize)
    // prune never drops single chars, so a vocabSize below the distinct
    // char count can never be reached — the stall check (no shrink in a
    // full EM+prune round) terminates that case instead of spinning
    var prev = -1
    while (lp.size > vocabSize && lp.size != prev) {
      prev = lp.size
      for (_ <- 1 to emIters) lp = emStep(wc, lp, maxPieceLen)
      lp = prune(lp, math.max(vocabSize, (lp.size * shrink).toInt))
    }
    for (_ <- 1 to emIters) lp = emStep(wc, lp, maxPieceLen)
    lp.toSeq.sortBy(_._1)
  }

  /** Learn a unigram-LM vocabulary from the corpus. Word-frequency
    * table ≤ `localVocabThreshold` (exact, by one bounded collect —
    * `Relational.collectIfAtMost`) → the serial loop over collected
    * counts; larger → the distributed loop: per EM
    * iteration ONE pass over the word table (forward–backward in a
    * UDF, piece log-probs in its closure — tokenizer-sized) plus one
    * piece-grain aggregation, with M-step and pruning driver-side on
    * the ≤ seedSize-row piece table. Returns (piece, logprob).
    */
  def train(spark: SparkSession, df: DataFrame, textCol: String,
            vocabSize: Int, maxPieceLen: Int = 8, seedSize: Int = 5000,
            shrink: Double = 0.75, emIters: Int = 2,
            localVocabThreshold: Long = 500000L): DataFrame = {
    // same contract as serialTrain — the distributed regime must reject
    // the same bad arguments instead of running them at scale
    require(vocabSize >= 1 && seedSize >= vocabSize,
      s"need seedSize >= vocabSize >= 1, got seed=$seedSize vocab=$vocabSize")
    require(shrink > 0.0 && shrink < 1.0, s"shrink in (0,1), got $shrink")
    import spark.implicits._
    val counts = df
      .select(explode(TextFunctions.wsTokens(lower(trim(col(textCol))))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("word_count"))
    val local = graft.ops.Relational.collectIfAtMost(counts, localVocabThreshold)
    if (local.isDefined) {
      val wc = local.get.map(r => r.getString(0) -> r.getLong(1)).toSeq
      return serialTrain(wc, vocabSize, maxPieceLen, seedSize, shrink, emIters)
        .toDF("piece", "logprob")
    }
    val words = counts.localCheckpoint(true)
    // distributed seed: one explode of bounded substrings per word —
    // the UDF emits ≤ len·maxPieceLen short strings per word row
    val subUdf = udf { (w: String) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        var j = i + 1
        val lim = math.min(w.length, i + maxPieceLen)
        while (j <= lim) { out += w.substring(i, j); j += 1 }
        i += 1
      }
      out.toSeq
    }
    val weights = words
      .select(col("word_count"), explode(subUdf(col("word"))).as("piece"))
      .groupBy(col("piece"))
      .agg(sum(col("word_count").cast("double")).as("w"))
      .localCheckpoint(true)
    // char-ness is UTF-16 units (String.length), matching seedPieces'
    // serial partition exactly — Spark's `length` counts CODEPOINTS,
    // which would protect supplementary-plane pieces the serial regime
    // treats as prunable multi-char, breaking the pinned parity
    val isChar = udf { (s: String) => s.length == 1 }
    val chars = weights.where(isChar(col("piece"))).collect()
    val multi = weights.where(!isChar(col("piece")))
      .orderBy(col("w").desc, col("piece").asc)
      .limit(math.max(0, seedSize - chars.length)).collect()
    val seedTotal = (chars ++ multi).map(_.getDouble(1)).sum
    var lp: Map[String, Double] = (chars ++ multi)
      .map(r => r.getString(0) -> math.log(r.getDouble(1) / seedTotal)).toMap
    val protectedChars = chars.map(_.getString(0)).toSet
    def distEmStep(cur: Map[String, Double]): Map[String, Double] = {
      val emUdf = udf { (w: String) => expectedCounts(w, cur, maxPieceLen) }
      val agg = words
        .select(col("word_count"), explode(emUdf(col("word"))).as("pc"))
        .select(col("pc._1").as("piece"),
          (col("pc._2") * col("word_count")).as("e"))
        .groupBy(col("piece")).agg(sum(col("e")).as("e"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toSeq
      normalize(agg, protectedChars)
    }
    // same stall-terminated loop as serialTrain — an unreachable
    // vocabSize (below the protected char count) must not burn guard
    // rounds of distributed EM jobs
    var prev = -1
    while (lp.size > vocabSize && lp.size != prev) {
      prev = lp.size
      for (_ <- 1 to emIters) lp = distEmStep(lp)
      lp = prune(lp, math.max(vocabSize, (lp.size * shrink).toInt))
    }
    for (_ <- 1 to emIters) lp = distEmStep(lp)
    lp.toSeq.sortBy(_._1).toDF("piece", "logprob")
  }

  /** Viterbi segmentation of one word under a piece log-prob table:
    * the max-probability path through the piece lattice. Unknown
    * single characters score at `floor` so segmentation is total;
    * ties prefer the LONGER piece ending at a position (then the
    * earlier comparison, fixed scan order) — deterministic on any
    * engine.
    */
  def viterbi(word: String, lp: collection.Map[String, Double],
              maxPieceLen: Int, floor: Double): Seq[String] = {
    val n = word.length
    if (n == 0) return Seq.empty
    val best = Array.fill(n + 1)(Neg); best(0) = 0.0
    val back = Array.fill(n + 1)(-1)
    var i = 1
    while (i <= n) {
      // l descending: on equal scores the longer piece (smaller j) wins
      var l = math.min(maxPieceLen, i)
      while (l >= 1) {
        val j = i - l
        if (best(j) != Neg) {
          val s = lp.getOrElse(word.substring(j, i),
            if (l == 1) floor else Neg)
          if (s != Neg && best(j) + s > best(i)) {
            best(i) = best(j) + s; back(i) = j
          }
        }
        l -= 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { out += word.substring(back(pos), pos); pos = back(pos) }
    out.reverseIterator.toSeq
  }

  /** Tokenize a text column with a learned (piece, logprob) table —
    * the [[Bpe.encodeUdf]] contract: table driver-collected
    * (tokenizer-sized), Viterbi per word with a per-task word memo.
    * Unknown characters segment at a floor 10 nats under the rarest
    * piece.
    */
  def encodeUdf(pieces: Seq[(String, Double)])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(pieces.nonEmpty, "empty piece table")
    val lp = pieces.toMap
    val maxLen = pieces.map(_._1.length).max
    val floor = pieces.map(_._2).min - 10.0
    val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    udf { (text: String) =>
      if (text == null) null
      else text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        .flatMap(w => memo.getOrElseUpdate(w, viterbi(w, lp, maxLen, floor)))
    }
  }
}
