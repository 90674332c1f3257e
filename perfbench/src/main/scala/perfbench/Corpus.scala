package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.sim.{PqIndex, Similarity}
import graft.text.{Bpe, CorpusOps}

/** A generated training corpus with its planted content: which ids are
  * injected exact copies, and the boilerplate line and the span that are
  * pasted into many documents.
  */
final case class CorpusInput(docs: Vector[(Long, String)], vectors: Vector[(Long, Array[Float])],
                             copyIds: Set[Long], hotLine: String, hotSpan: String,
                             spanIds: Set[Long], lineIds: Set[Long], nearDupIds: Set[Long],
                             nearDupSources: Set[Long])

object CorpusGen {
  val stopWords = Vector("the", "of", "and", "to", "in", "is", "that", "for", "it", "with",
    "as", "on", "was", "by", "this", "be", "are", "from")
  val dim = 32

  /** Base documents, replicated with per-replica token perturbation (every
    * token of replica r > 0 carries the prefix `q<r>`, so replicas are
    * distinct documents with the same statistics), then the designed-hot
    * documents: a boilerplate line pasted into 15% of documents, a 60-token
    * span into another 10%, 4% exact copies and 4% near-duplicates (5% of
    * tokens replaced) of random documents. Each document has an embedding
    * near its topic's centroid; copies stay near their source.
    */
  def apply(seed: Long, baseDocs: Int, replicas: Int): CorpusInput = {
    val r = new java.util.SplittableRandom(seed * 131 + 3)
    def word(len: Int) = (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    val vocab = Vector.fill(3000)(word(3 + r.nextInt(7))).distinct
    def token(): String =
      if (r.nextInt(10) < 3) stopWords(r.nextInt(stopWords.size)) else vocab(Gen.zipf(r, vocab.size))
    def line(words: Int): String = {
      val ws = Vector.fill(words)(token())
      (ws.head.capitalize +: ws.tail).mkString(" ") + "."
    }
    val topics = 24
    val centroids = Vector.fill(topics)(Array.fill(dim)(r.nextDouble().toFloat * 2 - 1))
    def vecNear(c: Array[Float], noise: Double): Array[Float] = {
      val v = c.map(x => (x + (r.nextDouble() * 2 - 1) * noise).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val base = Vector.fill(baseDocs)(Vector.fill(7 + r.nextInt(4))(line(9 + r.nextInt(6))))
    val baseTopic = Vector.fill(baseDocs)(r.nextInt(topics))
    val docs = mutable.ArrayBuffer.empty[(Long, Vector[String])]
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    for (rep <- 0 until replicas; (d, i) <- base.zipWithIndex) {
      docs += ((docs.size.toLong, if (rep == 0) d else d.map(_.split(" ").map(t => s"q$rep$t").mkString(" "))))
      vecs += vecNear(centroids((baseTopic(i) + rep) % topics), 0.6)
    }
    val hotLine = "Accept all cookies to keep reading the rest of this page."
    val hotSpan = Vector.fill(60)(vocab(r.nextInt(vocab.size))).mkString(" ") + "."
    val lineIds = mutable.Set.empty[Long]
    val spanIds = mutable.Set.empty[Long]
    for (k <- docs.indices) {
      val (id, ls) = docs(k)
      val u = r.nextInt(100)
      if (u < 15) { docs(k) = (id, ls.patch(r.nextInt(ls.size + 1), Seq(hotLine), 0)); lineIds += id }
      else if (u < 25) { docs(k) = (id, ls.patch(r.nextInt(ls.size + 1), Seq(hotSpan), 0)); spanIds += id }
    }
    val n0 = docs.size
    val copyIds = mutable.Set.empty[Long]
    val nearIds = mutable.Set.empty[Long]
    val nearSrc = mutable.Set.empty[Long]
    (0 until n0 * 8 / 100).foreach { j =>
      val src = r.nextInt(n0)
      val id = docs.size.toLong
      val text = docs(src)._2
      if (j % 2 == 0) { docs += ((id, text)); copyIds += id }
      else {
        docs += ((id, text.map(_.split(" ").map(t => if (r.nextInt(100) < 5) token() else t).mkString(" "))))
        nearIds += id
        nearSrc += src.toLong
      }
      if (spanIds.contains(src.toLong)) spanIds += id
      if (lineIds.contains(src.toLong)) lineIds += id
      vecs += vecNear(vecs(src), 0.05)
    }
    CorpusInput(docs.map { case (id, ls) => id -> ls.mkString("\n") }.toVector,
      vecs.zipWithIndex.map { case (v, i) => i.toLong -> v }.toVector,
      copyIds.toSet, hotLine, hotSpan, spanIds.toSet, lineIds.toSet, nearIds.toSet, nearSrc.toSet)
  }
}

/** corpus-build: the training-data batch pipeline, run end to end over the
  * generated corpus once per operation. Every stage writes its output as
  * parquet, as a batch pipeline's stage boundary does.
  */
final class Corpus(ctx: RunContext) extends Workload {
  import ctx._
  import spark.implicits._

  private val (baseDocs, replicas) = if (tiny) (40, 2) else (120, 4)
  private var input: CorpusInput = _
  private var inputBytes = 0L
  private var passes = 0
  private var recall = 0.0
  val stages = Vector("text.quality", "dedup.exact", "dedup.near", "dedup.clusters", "dedup.spans",
    "text.lines", "text.lm", "text.tokenizer", "sim.index", "sim.search")

  private def corpusDir(tag: String) = s"$work/$tag"

  /** Write the generated corpus and embeddings as parquet. */
  private def store(in: CorpusInput, dir: String): Unit = {
    in.docs.toDF("doc_id", "text").repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    in.vectors.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def setup(): Unit = {
    val warm = corpusDir("warm")
    store(CorpusGen(seed ^ 0x5eed, baseDocs / 8, 2), warm)
    warmUp(warm)
    input = CorpusGen(seed, baseDocs, replicas)
    store(input, corpusDir("corpus"))
    inputBytes = Files.size(new java.io.File(corpusDir("corpus")))
  }

  /** Warm-up on the throwaway corpus: the quality filters only (a full
    * pass would cost as much as a measured one).
    */
  private def warmUp(dir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    save(CorpusOps.c4Filters(CorpusOps.gopherFilter(docs, "doc_id", "text"), "doc_id", "text"),
      dir, "quality")
  }

  def op(i: Int): String = {
    runPass(corpusDir("corpus"), corpusDir(s"pass-$i"), s"p$i")
    passes = i + 1
    "req"
  }

  override def itemsPerOp: Double = input.docs.size.toDouble

  private def save(df: DataFrame, dir: String, name: String): DataFrame = {
    df.write.mode("overwrite").parquet(s"$dir/$name")
    spark.read.parquet(s"$dir/$name")
  }

  /** One pipeline run: quality filters, exact and near dedup, span and line
    * dedup, LM scoring, tokenizer training, index build and batch search.
    */
  private def runPass(in: String, out: String, id: String): Unit = tracer.span("pass", id) {
    def stage[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try tracer.span(name, s"$id:$name")(body)
      finally System.err.println(f"$id $name ${(System.nanoTime() - t) / 1e6}%.0f ms")
    }
    val docs = spark.read.parquet(s"$in/documents.parquet")
    val quality = stage("text.quality") {
      val kept = CorpusOps.gopherFilter(docs, "doc_id", "text")
      save(CorpusOps.c4Filters(kept, "doc_id", "text").where(col("keep"))
        .select(col("doc_id"), col("clean_text").as("text")), out, "quality")
    }
    val exact = stage("dedup.exact") {
      Dedup.exact(quality, "doc_id", "text").where(col("n_dups") > 1).count()
      save(Dedup.keepCanonical(quality, "doc_id", "text"), out, "exact")
    }
    val pairs = stage("dedup.near")(save(Dedup.minhashLshPairs(exact, "doc_id", "text"), out, "pairs"))
    val near = stage("dedup.clusters") {
      val losers = Dedup.duplicateClustersStar(pairs)
        .where(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
      save(exact.join(losers, Seq("doc_id"), "left_anti"), out, "near")
    }
    val spans = stage("dedup.spans") {
      save(Dedup.softDedupWeights(near, "doc_id", "text", k = 13), out, "weights")
      save(Dedup.exactSubstrDedup(near, "doc_id", "text", minTokens = 50)
        .select(col("doc_id"), col("text"), col("n_removed")), out, "spans")
    }
    val lines = stage("text.lines") {
      val stripped = CorpusOps.removeBoilerplateLines(spans, "doc_id", "text", minDocs = 10)
        .select(col("doc_id"), col("clean_text").as("text"))
      save(CorpusOps.dedupParagraphs(stripped, "doc_id", "text", minChars = 5)
        .select(col("doc_id"), col("clean_text").as("text")), out, "lines")
    }
    stage("text.lm") {
      val lm = save(CorpusOps.ngramLms(lines, "text", 3, minN = 1), out, "lm")
      val uni = lm.where(col("n") === 1).select(col("token"), col("ngram_count").as("token_count"))
      val ctxLms = (2 to 3).map(n => lm.where(col("n") === n)
        .select(col("ctx"), col("token"), col("ngram_count")))
      save(CorpusOps.stupidBackoffScoreN(lines, "doc_id", "text", uni, ctxLms), out, "scores")
    }
    stage("text.tokenizer")(save(Bpe.bpeMerges(spark, lines, "text", numMerges = 40), out, "merges").count())
    val vecs = spark.read.parquet(s"$in/embeddings.parquet")
      .join(lines.select(col("doc_id").as("vec_id")), "vec_id")
    stage("sim.index") {
      PqIndex.build(vecs, "vec_id", "embedding", m = 8, codesPerSub = 16,
        numCentroids = Similarity.suggestedCentroids(vecs.count()), iters = 1).write(s"$out/index")
    }
    stage("sim.search") {
      save(PqIndex.load(spark, s"$out/index").searchBatch(
        vecs.where(col("vec_id") % 17 === 0), "vec_id", "embedding", k = 10, nProbe = 4,
        excludeSelf = true), out, "search")
    }
  }

  /** Check each pass against what the generator planted. A pass fails when
    * an injected exact copy survives exact dedup, the hot span survives
    * span dedup in more than one document, the hot line survives line
    * dedup, a duplicated line survives paragraph dedup, a surviving
    * document lacks an LM score, the tokenizer learned the wrong number of
    * merges, or a search query got no neighbours, more than k, itself or
    * an id outside the index.
    */
  def verify(): Set[Int] = {
    val bad = mutable.Set.empty[Int]
    (0 until passes).foreach { p =>
      val out = corpusDir(s"pass-$p")
      def read(name: String) = spark.read.parquet(s"$out/$name")
      val problems = mutable.ArrayBuffer.empty[String]
      val exactIds = read("exact").select("doc_id").as[Long].collect().toSet
      if ((exactIds & input.copyIds).nonEmpty) problems += "injected exact copies survive dedup.exact"
      // a near-duplicate pair that near dedup kept shares the windows
      // around the span, which protect the source's copy: only the other
      // documents must lose it
      val pairIds = input.nearDupIds ++ input.nearDupSources
      val spanDocs = read("spans").select("doc_id", "text").as[(Long, String)].collect()
        .filter { case (id, t) => !pairIds.contains(id) && t.contains(input.hotSpan.stripSuffix(".")) }
      if (spanDocs.length > 1)
        problems += s"hot span survives dedup.spans in ${spanDocs.length} documents"
      val weights = read("weights").select(col("id"), col("weight")).as[(Long, Double)].collect().toMap
      val planted = weights.keySet & input.spanIds
      if (planted.nonEmpty && planted.forall(weights(_) >= 1.0))
        problems += "softDedupWeights did not down-weight the hot-span documents"
      val lineTexts = read("lines").select("text").as[String].collect()
      val allLines = lineTexts.toSeq.flatMap(_.split("\n")).map(_.trim.toLowerCase).filter(_.length >= 5)
      if (allLines.contains(input.hotLine.toLowerCase)) problems += "hot line survives text.lines"
      if (allLines.distinct.size != allLines.size) problems += "duplicated line survives dedupParagraphs"
      if (read("scores").count() != lineTexts.count(_.split("\\s+").count(_.nonEmpty) >= 3))
        problems += "LM scores missing for documents"
      if (read("merges").count() != 40) problems += "tokenizer learned the wrong number of merges"
      val indexed = read("lines").select("doc_id").as[Long].collect().toSet
      val queries = indexed.filter(_ % 17 == 0)
      val found = read("search").select("id1", "id2").as[(Long, Long)].collect().groupBy(_._1)
      if (found.keySet != queries || found.values.exists(ns => ns.length > 10 ||
          ns.exists { case (q, n) => q == n || !indexed.contains(n) }))
        problems += "search returned no neighbours, more than k, the query itself or an unindexed id"
      if (problems.nonEmpty) {
        System.err.println(s"pass $p: ${problems.mkString("; ")}")
        bad += p
      }
    }
    if (passes > 0) recall = searchRecall(corpusDir(s"pass-${passes - 1}"))
    bad.toSet
  }

  /** recall@10 of the ADC batch search against exact cosine top-10 over
    * the indexed vectors, for the pass's query sample.
    */
  private def searchRecall(out: String): Double = {
    val indexed = spark.read.parquet(s"$out/lines").select("doc_id").as[Long].collect().toSet
    val vecs = input.vectors.filter(v => indexed.contains(v._1))
    val found = spark.read.parquet(s"$out/search").select("id1", "id2").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val byId = vecs.toMap
    val scores = found.keys.toSeq.map { q =>
      val qv = byId(q)
      val exact = vecs.filter(_._1 != q)
        .map { case (id, v) => id -> qv.indices.map(i => qv(i) * v(i)).sum }
        .sortBy(x => (-x._2, x._1)).take(10).map(_._1).toSet
      (exact & found(q)).size.toDouble / exact.size
    }
    if (scores.isEmpty) 0.0 else scores.sum / scores.size
  }

  def perLayer: Map[String, Double] = {
    val perStage = stages.flatMap { s =>
      val (ms, c) = tracer.byName(s)
      val n = math.max(ms.size, 1)
      Seq(s"$s.ms" -> Stats.median(ms), s"$s.jobs" -> c.jobs.toDouble / n,
        s"$s.task_cpu_s" -> c.cpuNs / 1e9 / n, s"$s.shuffle_bytes" -> c.shuffleBytes.toDouble / n,
        s"$s.spill_bytes" -> c.spillBytes.toDouble / n, s"$s.straggler" -> c.straggler)
    }
    if (passes == 0) return perStage.toMap
    val last = corpusDir(s"pass-${passes - 1}")
    val exact = spark.read.parquet(s"$last/exact")
    val kept = spark.read.parquet(s"$last/pairs").count()
    // the same LSH banding with no Jaccard cut: every candidate pair
    val candidates = Dedup.minhashLshPairs(exact, "doc_id", "text", threshold = 0.0).count()
    (perStage ++ Seq(
      "dedup.near.pair_yield" -> (if (candidates == 0) 0.0 else kept.toDouble / candidates),
      "sim.index.bytes" -> Files.size(new java.io.File(s"$last/index")).toDouble,
      "sim.search.recall" -> recall)).toMap
  }

  def properties(ops: Int): Map[String, Any] = {
    val n = input.docs.size
    val hot = input.copyIds ++ input.spanIds ++ input.lineIds ++ input.nearDupIds
    Map(
      "corpus_docs" -> n,
      "corpus_bytes" -> inputBytes,
      "base_docs" -> baseDocs, "replicas" -> replicas,
      "hot_doc_share" -> hot.size.toDouble / n,
      "exact_copy_share" -> input.copyIds.size.toDouble / n,
      "near_dup_share" -> input.nearDupIds.size.toDouble / n,
      "hot_line_share" -> input.docs.count(_._2.split("\n").contains(input.hotLine)).toDouble / n,
      "hot_span_share" -> input.docs.count(_._2.contains(input.hotSpan)).toDouble / n,
      "passes" -> passes)
  }

  /** Index plus every stage artifact of the last pass, per input byte. */
  def bytesStoredRatio: Option[Double] =
    if (passes == 0) None
    else Some(Files.size(new java.io.File(corpusDir(s"pass-${passes - 1}"))).toDouble / inputBytes)
}
