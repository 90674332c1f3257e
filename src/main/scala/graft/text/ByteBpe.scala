package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-level BPE with byte fallback — the GPT-2/tiktoken tokenizer
  * family (Radford et al. 2019 "Language Models are Unsupervised
  * Multitask Learners" §2.2): the initial alphabet is the 256 UTF-8
  * BYTES, so every possible input is a sequence of base symbols and
  * NOTHING is ever out-of-vocabulary — unseen characters, binary-ish
  * junk, emoji and CJK all encode (at worst as their raw bytes), and
  * `decodeTokens(encode(s)) == s` byte-identically for every valid
  * unicode string.
  *
  * Differences from the char-level [[Bpe]], each deliberate:
  *  - bytes, not chars, via the GPT-2 byte↔printable-char bijection
  *    (merges operate on strings, but every 1-char base symbol IS one
  *    byte — multi-byte characters merge back together from their
  *    byte pieces as ordinary high-frequency merges);
  *  - NO lowercasing and NO [[Bpe.EndOfWord]] marker: byte level is
  *    byte-faithful, and word boundaries live in the pre-tokenizer;
  *  - a LOSSLESS pre-tokenizer — alternating maximal runs of
  *    whitespace / non-whitespace (each run a token, whitespace
  *    included) — so concatenating decoded tokens reproduces the
  *    original string exactly (the Ġ-prefix of GPT-2 plays this role;
  *    explicit whitespace-run tokens are the simpler equivalent with
  *    the same no-information-loss property).
  *
  * The training machinery is [[Bpe]]'s verbatim (the shared
  * serial/distributed merge loops): statistics depend only on the
  * pre-token frequency table, so the corpus is scanned once and every
  * merge round is a vocab-sized aggregation — the same 100 TB shape.
  */
object ByteBpe {

  /** The GPT-2 `bytes_to_unicode` bijection: bytes that are printable
    * and not whitespace-like keep their own code point ('!'..'~',
    * '¡'..'¬', '®'..'ÿ'); the rest map to 256+n in discovery order.
    * Merged symbols stay readable AND every byte has exactly one char.
    */
  val byteToChar: Array[Char] = {
    val keep = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ')).map(_.toInt).toSet
    val out = new Array[Char](256)
    var shift = 0
    for (b <- 0 until 256) {
      if (keep(b)) out(b) = b.toChar
      else { out(b) = (256 + shift).toChar; shift += 1 }
    }
    out
  }

  val charToByte: Map[Char, Int] =
    byteToChar.zipWithIndex.map { case (c, b) => c -> b }.toMap

  /** A token's initial symbol array: one mapped char per UTF-8 byte. */
  def toSymbols(token: String): Seq[String] =
    token.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .toSeq.map(b => byteToChar(b & 0xff).toString)

  /** Inverse of encoding: token strings → bytes → UTF-8 string. Total
    * on any token sequence built from the byte alphabet (throws on a
    * char outside it — that token was not produced by this encoder).
    */
  def decodeTokens(tokens: Seq[String]): String = {
    val bytes = tokens.iterator.flatMap(_.iterator.map { c =>
      charToByte.getOrElse(c,
        throw new IllegalArgumentException(
          s"token char '$c' (U+${c.toInt.toHexString}) is not in the byte alphabet")).toByte
    }).toArray
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Lossless pre-tokenizer: maximal runs of whitespace and
    * non-whitespace, in order — `preTokens(s).mkString == s` for every
    * string (surrogate pairs are never split: both halves are
    * non-whitespace, so they stay in one run).
    */
  def preTokens(text: String): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 1
    while (i < text.length) {
      if (Character.isWhitespace(text.charAt(i)) !=
          Character.isWhitespace(text.charAt(start))) {
        out += text.substring(start, i)
        start = i
      }
      i += 1
    }
    out += text.substring(start)
    out.toSeq
  }

  private val preTokUdf = udf((s: String) =>
    if (s == null) Seq.empty[String] else preTokens(s))
  private val symUdf = udf((w: String) => toSymbols(w))

  /** Learn `numMerges` byte-level merges. Same two regimes and the same
    * contract as [[Bpe.bpeMerges]] (returns (rank, left, right,
    * pair_count) in learned order; early stop under `minPairCount`);
    * only the symbolization differs.
    */
  def byteBpeMerges(spark: SparkSession, df: DataFrame, textCol: String,
                    numMerges: Int, minPairCount: Long = 2L,
                    localVocabThreshold: Long = 500000L): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    import spark.implicits._
    val counts = df.select(explode(preTokUdf(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("word_count"))
    graft.ops.Relational.collectIfAtMost(counts, localVocabThreshold) match {
      case Some(rows) =>
        val wc = rows.map(r => r.getString(0) -> r.getLong(1))
        Bpe.serialMergeLoop(wc.toSeq.map { case (w, c) => toSymbols(w) -> c },
            numMerges, minPairCount)
          .zipWithIndex
          .map { case ((a, b, c), i) => (i.toLong, a, b, c) }
          .toDF("rank", "left", "right", "pair_count")
      case None =>
        Bpe.distributedMergeLoop(spark,
          counts.withColumn("symbols", symUdf(col("word"))), numMerges, minPairCount)
    }
  }

  /** Encode one pre-token with a learned merge table (min-rank apply,
    * [[Bpe.rankEncodeSymbols]]). Byte fallback is STRUCTURAL: the
    * initial symbols are always in-alphabet, and merges only ever
    * combine them, so an input sharing nothing with the training corpus
    * comes back as its raw byte symbols rather than failing.
    */
  def encodeToken(token: String, ranks: Map[(String, String), Int]): Seq[String] =
    Bpe.rankEncodeSymbols(toSymbols(token), ranks)

  /** Full-string encode: lossless pre-tokens, each min-rank encoded.
    * `decodeTokens(encode(s, ranks)) == s` for every valid string.
    */
  def encode(text: String, ranks: Map[(String, String), Int]): Seq[String] =
    preTokens(text).flatMap(encodeToken(_, ranks))

  /** Tokenize a text column with a learned merge table — the
    * [[Bpe.encodeUdf]] contract at byte level (driver-collected ranks,
    * per-task pre-token memo; cost O(distinct pre-tokens per
    * partition)).
    */
  def encodeUdf(merges: Seq[(String, String)])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    Bpe.validateMerges(merges)
    val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val memo = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    udf { (text: String) =>
      if (text == null) null
      else preTokens(text).flatMap(w =>
        memo.getOrElseUpdate(w, encodeToken(w, ranks)))
    }
  }
}
