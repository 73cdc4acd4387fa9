package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.dedup.Dedup
import graft.text.{Bm25, HeavyHitters}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A batch LLM-data pipeline over a generated corpus: exact and near-dup
  * detection, grouping and keeper choice, benchmark decontamination,
  * embedding near-dups, n-gram heavy hitters and a BM25 index with a
  * query batch. One client operation is one whole pipeline pass.
  */
final class CorpusCuration(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  private val nUnique = 5000
  private val vocabSize = 5000
  private val exactSources = 75
  private val nearSources = 75
  private val quoteTargets = 50
  private val benchDocs = 50
  private val quoteLen = 13
  private val topK = 20
  private val minPasses = 3

  /** One generated corpus with the truth planted into it. */
  private final case class Corpus(docs: DataFrame, bench: DataFrame, embeddings: DataFrame,
      nDocs: Int, queries: Seq[(Long, String)], exact: Set[(Long, Long)],
      plantedPairs: Set[(Long, Long)], contaminated: Set[Long])

  private var corpus: Corpus = _

  private val passS = ArrayBuffer.empty[Double]
  private val lshPairs = ArrayBuffer.empty[Double]
  private val lshFound = ArrayBuffer.empty[Double]
  private val bm25Bytes = ArrayBuffer.empty[Double]
  private val heavyHitters = ArrayBuffer.empty[Seq[(String, Long)]]

  private def generate(nUnique: Int, rnd: SplittableRandom): Corpus = {
    val vocab = Gen.vocabulary(vocabSize, rnd)
    val zipf = new Gen.Zipf(vocabSize, 1.05)
    def words(n: Int): Array[String] = Array.fill(n)(vocab(zipf.sample(rnd)))
    val texts = ArrayBuffer.fill(nUnique)(words(80 + rnd.nextInt(81)))
    val benchTexts = Array.fill(benchDocs)(words(60))

    // disjoint roles among the unique docs
    val roles = Array.range(0, nUnique)
    Gen.shuffle(roles, rnd)
    val scale = nUnique.toDouble / this.nUnique
    val (exactSrc, rest) = roles.splitAt((exactSources * scale).toInt)
    val (nearSrc, rest2) = rest.splitAt((nearSources * scale).toInt)
    val quoted = rest2.take((quoteTargets * scale).toInt)

    val exactGroups = ArrayBuffer.empty[Seq[Long]]
    exactSrc.foreach { s =>
      val copies = Seq.fill(1 + rnd.nextInt(2)) { texts += texts(s).clone(); (texts.size - 1).toLong }
      exactGroups += (s.toLong +: copies)
    }
    val nearPairs = nearSrc.map { s =>
      val t = texts(s).clone()
      (1 to 2).foreach(_ => t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocabSize)))
      texts += t
      (s.toLong, (texts.size - 1).toLong)
    }
    quoted.foreach { d =>
      val b = benchTexts(rnd.nextInt(benchDocs))
      val from = rnd.nextInt(b.length - quoteLen + 1)
      val t = texts(d)
      val at = rnd.nextInt(t.length + 1)
      texts(d) = t.take(at) ++ b.slice(from, from + quoteLen) ++ t.drop(at)
    }
    val queries = (0 until 8).map { q =>
      val t = texts(rnd.nextInt(nUnique))
      val at = rnd.nextInt(t.length - 3)
      (q.toLong, t.slice(at, at + 3).mkString(" "))
    }
    val emb = new Gen.Clustered(rnd.nextLong()).points(texts.size, stream = 5)
    exactGroups.foreach(g => g.tail.foreach(c => emb(c.toInt) = emb(g.head.toInt)))

    val docs = spark.createDataFrame(texts.indices.map(i => (i.toLong, texts(i).mkString(" "))))
      .toDF("doc_id", "text").repartition(ctx.cores).cache()
    val embeddings = spark.createDataFrame(emb.indices.map(i => (i.toLong, emb(i))))
      .toDF("id", "vector").repartition(ctx.cores).cache()
    val bench = spark.createDataFrame(benchTexts.indices.map(i => (i.toLong, benchTexts(i).mkString(" "))))
      .toDF("bench_id", "text")
    docs.count()
    embeddings.count()
    Corpus(docs, bench, embeddings, texts.size, queries,
      exactGroups.map(g => (g.min, g.size.toLong)).toSet,
      (exactGroups.flatMap(g => g.combinations(2).map(p => (p.min, p.max))) ++ nearPairs).toSet,
      quoted.map(_.toLong).toSet)
  }

  private def release(c: Corpus): Unit = if (c != null) {
    c.docs.unpersist()
    c.embeddings.unpersist()
  }

  def setup(): Unit = {
    release(corpus)
    corpus = generate(nUnique, new SplittableRandom(ctx.seed))
  }

  /** One pass over a corpus a fifth the size, so JIT and codegen are warm
    * without paying for a full cold pass.
    */
  def warmup(): Unit = {
    val small = generate(nUnique / 5, new SplittableRandom(ctx.seed + 1))
    pass(small)
    release(small)
  }

  def enoughSamples: Boolean = passS.size >= minPasses

  def step(): String = tracer.op("pipeline") {
    val c = corpus
    val r = pass(c)
    passS += r.seconds
    lshPairs += r.emitted.length
    val found = r.emitted.count(c.plantedPairs.contains)
    lshFound += found
    bm25Bytes += r.bm25Bytes
    heavyHitters += r.heavyHitters

    ctx.check(r.exact == c.exact,
      s"exact groups: ${(c.exact -- r.exact).size} planted missing, ${(r.exact -- c.exact).size} unexpected")
    ctx.check(r.flagged == c.contaminated,
      s"contamination: ${(c.contaminated -- r.flagged).size} planted missed, " +
        s"${(r.flagged -- c.contaminated).size} extra")
    ctx.check(found.toDouble / c.plantedPairs.size >= 0.9,
      s"near-dup pairs: only $found of ${c.plantedPairs.size} planted pairs found")
    ctx.check(r.kept > 0 && r.semantic >= c.exact.size, s"keepers ${r.kept}, semantic pairs ${r.semantic}")
    ctx.check(r.heavyHitters.size == topK, s"heavy hitters: ${r.heavyHitters.size} of $topK")
    val byQuery = r.hits.groupBy(_._1)
    ctx.check(byQuery.size == c.queries.size && byQuery.values.forall { rs =>
      val s = rs.sortBy(_._3)
      s.length <= 10 && s.map(_._3).toSeq == (1 to s.length) &&
        s.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
    }, s"bm25: malformed hits for ${c.queries.size} queries")
    "pipeline"
  }

  private final case class PassResult(seconds: Double, exact: Set[(Long, Long)],
      emitted: Array[(Long, Long)], kept: Long, flagged: Set[Long], semantic: Long,
      heavyHitters: Seq[(String, Long)], hits: Array[(Long, Double, Int)], bm25Bytes: Double)

  /** The pipeline, each call's result materialized before the next call. */
  private def pass(c: Corpus): PassResult = {
    val t0 = System.nanoTime()
    val exact = tracer.span("dedup", "exactGroups") {
      Dedup.exactGroups(c.docs).filter(col("n_dups") > 1).select("keep_id", "n_dups").collect()
    }
    val pairs = tracer.span("dedup", "minhashLshPairs") {
      Dedup.minhashLshPairs(c.docs).select("doc_a", "doc_b").localCheckpoint()
    }
    val groups = tracer.span("dedup", "connectedComponents") {
      Dedup.connectedComponents(pairs).localCheckpoint()
    }
    val kept = tracer.span("dedup", "keepBestPerGroup") {
      Dedup.keepBestPerGroup(groups,
          c.docs.select(col("doc_id").as("id"), length(col("text")).cast("double").as("score")))
        .filter(col("keep") === 1).count()
    }
    val flagged = tracer.span("dedup", "contaminationPairs") {
      Dedup.contaminationPairs(c.docs, c.bench, minShared = 1, n = quoteLen)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    }
    val semantic = tracer.span("dedup", "semanticNearDupPairs") {
      Dedup.semanticNearDupPairs(c.embeddings, c = 16, threshold = 1e-4).count()
    }
    val hh = tracer.span("text", "ngramTopK") {
      HeavyHitters.ngramTopK(c.docs, 2, topK, 4096).select("gram", "n_count", "rank").collect()
        .sortBy(_.getInt(2)).map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    val bm25Dir = ctx.fresh("bm25")
    tracer.span("text", "bm25.buildIndex") { Bm25.buildIndex(c.docs, bm25Dir, nBuckets = 16) }
    val hits = tracer.span("text", "bm25.searchSaved") {
      Bm25.searchSaved(spark, bm25Dir, c.queries, 10)
        .select(col("qid"), col("score"), col("rank").cast("int")).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val emitted = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val bytes = Main.du(bm25Dir)._1.toDouble
    Main.deleteTree(new java.io.File(bm25Dir).toPath)
    pairs.unpersist()
    groups.unpersist()
    PassResult(secs, exact.map(r => (r.getLong(0), r.getLong(1))).toSet, emitted, kept, flagged,
      semantic, hh, hits, bytes)
  }

  def verify(): Unit = {
    // heavy-hitter top-k against a plain Spark SQL group-by count of the same bigrams
    val toks = split(lower(trim(col("text"))), "\\s+")
    val grams = corpus.docs.select(explode(transform(sequence(lit(0), size(toks) - 2),
      i => concat_ws(" ", slice(toks, i + 1, lit(2))))).as("gram"))
    val want = grams.groupBy("gram").count()
      .orderBy(col("count").desc, col("gram")).limit(topK)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    heavyHitters.foreach(hh => ctx.check(hh == want, s"heavy hitters differ from group-by: $hh vs $want"))
  }

  private def pass(q: Double) = Stats.quantile(passS.toSeq, q)
  private def nearDupRecall = Stats.median(lshFound.toSeq) / corpus.plantedPairs.size
  private def nDocs = corpus.nDocs

  def endToEnd: Map[String, M] = Map(
    "throughput_per_s" -> M(nDocs / pass(0.5), "1/s"),
    "call_p50_s" -> M(pass(0.5), "s"),
    "call_p90_s" -> M(pass(0.9), "s"),
    "quality" -> M(nearDupRecall, "ratio"),
    "bytes_per_item" -> M(Stats.median(bm25Bytes.toSeq) / nDocs, "B"))

  def named: Map[String, M] = Map(
    "curation_docs_per_s" -> M(nDocs / pass(0.5), "1/s"),
    "near_dup_recall" -> M(nearDupRecall, "ratio"),
    "passes" -> M(passS.size, "count"))

  def layers: Map[String, M] = {
    def med(name: String) = tracer.medianSeconds(name)
    Map(
      "dedup.exact_s" -> M(med("exactGroups"), "s"),
      "dedup.lsh_s" -> M(med("minhashLshPairs"), "s"),
      "dedup.lsh_pairs" -> M(Stats.median(lshPairs.toSeq), "count"),
      "dedup.lsh_useful_ratio" -> M(Stats.median(lshFound.toSeq) / Stats.median(lshPairs.toSeq), "ratio"),
      "dedup.components_s" -> M(med("connectedComponents"), "s"),
      "dedup.keep_best_s" -> M(med("keepBestPerGroup"), "s"),
      "dedup.contamination_s" -> M(med("contaminationPairs"), "s"),
      "dedup.semantic_s" -> M(med("semanticNearDupPairs"), "s"),
      "text.heavy_hitters_s" -> M(med("ngramTopK"), "s"),
      "text.bm25_build_s" -> M(med("bm25.buildIndex"), "s"),
      "text.bm25_search_s" -> M(med("bm25.searchSaved"), "s"))
  }
}
