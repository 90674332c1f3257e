package graft.text

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Hand-computed oracle values for the full Gopher Table-A1 signal set
  * (CorpusOps.gopherSignals / gopherFilter).
  */
class GopherSpec extends SparkSpec {
  import spark.implicits._

  private def sig(text: String): Row =
    CorpusOps.gopherSignals(Seq((1L, text)).toDF("doc_id", "text"),
      "doc_id", "text").collect()(0)

  private def f(r: Row, name: String): Double =
    r.getDouble(r.fieldIndex(name))

  test("word-level scalars: counts, mean length, symbols, alpha, stops") {
    val r = sig("# tag … more ... end")
    assert(r.getLong(r.fieldIndex("n_words")) == 6L)
    assert(f(r, "symbol_word_ratio") == 0.5) // '#', '…', '...' over 6 words
    // alpha words: tag, more, end → 3/6
    assert(f(r, "alpha_word_frac") == 0.5)

    val s = sig("the cat is of the house with food")
    assert(s.getLong(s.fieldIndex("stop_hits")) == 3L) // the, of, with
    assert(f(s, "mean_word_len") == 3.25) // (3+3+2+2+3+5+4+4)/8
  }

  test("mean word length is total token chars over token count") {
    val r = sig("ab cde f")
    assert(f(r, "mean_word_len") == 2.0) // (2+3+1)/3
  }

  test("top n-gram char fraction: most frequent 2-gram's char mass") {
    // tokens: aa bb aa bb cc → tc=10; "aa bb" appears twice, charlen 4
    val r = sig("aa bb aa bb cc")
    assert(f(r, "top_2gram_char_frac") == 0.8) // 2*4/10
    // fewer tokens than n → 0 (the shingle degenerate is gated)
    assert(f(r, "dup_10gram_char_frac") == 0.0)
  }

  test("top n-gram is the MOST FREQUENT gram's mass, never a rarer-but-longer one") {
    // 2-grams (char length excludes the joiner space): "x x"×2 (mass
    // 2·2=4), "x longwordhere"×1 (mass 13), "longwordhere another"×1
    // (mass 19). Table A1 takes the single most frequent n-gram, so the
    // share is 4/tc — the max-mass variant (19) would silently flip
    // keep verdicts near the thresholds.
    val r = sig("x x x longwordhere another")
    assert(f(r, "top_2gram_char_frac") == 0.181818) // 4/22
  }

  test("top n-gram count ties break to the larger char mass, deterministically") {
    // "zz zz"×2 (mass 2·4=8) ties "a a"×2 (mass 2·2=4) on count; the
    // tie-break is mass, not sort order (a lexicographic-first fold
    // would pick "a a"). tc = 2·3 + 1·3 + 4·4 = 25.
    val r = sig("zz zz zz a a a pad1 pad2 pad3 pad4")
    assert(f(r, "top_2gram_char_frac") == 0.32) // 8/25
  }

  test("dup n-gram char fraction counts repeat occurrences beyond the first") {
    // a b c d e a b c d e: the 5-gram "a b c d e" occurs twice →
    // dup mass (2−1)·5 over tc=10
    val r = sig("a b c d e a b c d e")
    assert(f(r, "dup_5gram_char_frac") == 0.5)
    // every 2-gram except "e a" occurs twice; max mass 2·2 over 10
    assert(f(r, "top_2gram_char_frac") == 0.4)
    // no 6-gram repeats (all six 6-grams distinct)
    assert(f(r, "dup_6gram_char_frac") == 0.0)
  }

  test("line and paragraph duplicate fractions, count and char mass") {
    val r = sig("foo bar\nfoo bar\nbaz")
    assert(f(r, "dup_line_frac") == 0.333333) // (3−2)/3
    assert(f(r, "dup_line_char_frac") == 0.411765) // 7/(7+7+3)
    val p = sig("p1 a\n\np2 b\n\np1 a")
    assert(f(p, "dup_para_frac") == 0.333333)
    assert(f(p, "dup_para_char_frac") == 0.333333) // 4/12
  }

  test("count-based dup fractions agree with the standalone d18 signals") {
    val docs = Seq((1L, "x\nx\ny\n\nz q\n\nz q"), (2L, "a\nb\nc"),
      (3L, "")).toDF("doc_id", "text")
    val joined = CorpusOps.gopherSignals(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"),
        TextFunctions.dupLineFraction(col("text")).as("ref_line"),
        TextFunctions.dupParagraphFraction(col("text")).as("ref_para")), "doc_id")
      .collect()
    joined.foreach { r =>
      assert(f(r, "dup_line_frac") == f(r, "ref_line"))
      assert(f(r, "dup_para_frac") == f(r, "ref_para"))
    }
  }

  test("bullet and ellipsis line fractions") {
    val r = sig("- item one\ntext...\nnormal line")
    assert(f(r, "bullet_line_frac") == 0.333333)
    assert(f(r, "ellipsis_line_frac") == 0.333333)
    val u = sig("truncated…\nplain")
    assert(f(u, "ellipsis_line_frac") == 0.5)
  }

  test("empty and null-safe: all signals zero, keep=false") {
    val r = CorpusOps.gopherSignals(
      Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    r.foreach { row =>
      assert(row.getLong(row.fieldIndex("n_words")) == 0L)
      assert(f(row, "mean_word_len") == 0.0)
      assert(f(row, "dup_line_char_frac") == 0.0)
      assert(!row.getBoolean(row.fieldIndex("keep")))
    }
  }

  test("keep: a clean stopword-bearing doc passes, a repetitive one fails") {
    // 60 words alternating Gopher stop words with unique fillers: no
    // repeated 2-gram, mean word length in [3,10], ≥2 stop hits
    val stops = Seq("the", "of", "and", "that", "with", "have")
    val good = (0 until 30).map(i => s"${stops(i % 6)} filler$i").mkString(" ")
    // the same 12-word sentence five times: dup 5..10-gram mass explodes
    val bad = Seq.fill(5)(
      "the quick brown fox jumps over lazy dogs with great energy and")
      .mkString(" ")
    val out = CorpusOps.gopherSignals(
      Seq((1L, good), (2L, bad)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getLong(out(0).fieldIndex("n_words")) == 60L)
    assert(out(0).getBoolean(out(0).fieldIndex("keep")))
    assert(!out(1).getBoolean(out(1).fieldIndex("keep")))
    assert(f(out(1), "dup_5gram_char_frac") > 0.15)

    val kept = CorpusOps.gopherFilter(
      Seq((1L, good), (2L, bad)).toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("unicode and NUL-safe: multi-byte chars count once, NUL tokens fold") {
    // char counts are UTF-16 code units on both engines for BMP text;
    // the fold's run-open test uses run>0, so NUL-bearing tokens are
    // ordinary values, never sentinel collisions
    val r = sig("héllo wörld héllo wörld")
    assert(r.getLong(r.fieldIndex("n_words")) == 4L)
    assert(f(r, "mean_word_len") == 5.0)
    // "héllo wörld" twice: mass 2·(11−1) over tc=20, capped at 1
    assert(f(r, "top_2gram_char_frac") == 1.0)
    val nul = sig("a\u0000b c a\u0000b c")
    assert(nul.getLong(nul.fieldIndex("n_words")) == 4L)
    assert(f(nul, "mean_word_len") == 2.0) // (3+1+3+1)/4
    assert(f(nul, "top_2gram_char_frac") == 1.0) // NUL-bearing 2-gram x2: 2*4/8
  }

  test("a reserved gopher-internal name is refused as the id column") {
    val docs = Seq((1L, "some text")).toDF("__tk", "text")
    val e = intercept[IllegalArgumentException](
      CorpusOps.gopherSignals(docs, "__tk", "text"))
    assert(e.getMessage.contains("__tk"))
    intercept[IllegalArgumentException](CorpusOps.gopherFilter(docs, "__tk", "text"))
  }

  test("gopherFilter judges each row on its own text, also when ids repeat") {
    val stops = Seq("the", "of", "and", "that", "with", "have")
    val good = (0 until 30).map(i => s"${stops(i % 6)} filler$i").mkString(" ")
    val bad = Seq.fill(5)(
      "the quick brown fox jumps over lazy dogs with great energy and")
      .mkString(" ")
    // id 7 carries one passing and one failing row, id 8 two passing
    val docs = Seq((7L, good, "a"), (7L, bad, "b"), (8L, good, "c"), (8L, good, "d"))
      .toDF("doc_id", "text", "tag")
    val kept = CorpusOps.gopherFilter(docs, "doc_id", "text")
      .select("doc_id", "tag").as[(Long, String)].collect().toSet
    assert(kept == Set((7L, "a"), (8L, "c"), (8L, "d")))
  }

  test("partitioning invariance: signals identical at 1 and 7 partitions") {
    val docs = (0L until 40L).map { i =>
      (i, s"the w$i of x${i % 7} and y${i % 3} that z$i\nline $i...\n- b $i")
    }.toDF("doc_id", "text")
    val a = CorpusOps.gopherSignals(docs.repartition(1), "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq)
    val b = CorpusOps.gopherSignals(docs.repartition(7), "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }
}
