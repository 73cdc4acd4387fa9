package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.hnsw.{HnswConfig, HnswSpark}
import org.apache.spark.sql.DataFrame

/** Read-only batch ANN serving through `HnswSpark.searchSavedDF`, in a
  * seeded interleave of small batches (artifact load and scheduling
  * dominate: every call re-reads and CRC-checks every graph) and bulk
  * batches (graph traversal and the distance kernel dominate).
  */
final class AnnSearch(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  private val n = 50000
  private val parts = 2 * ctx.cores
  private val k = 10
  private val smallBatch = 32
  private val bulkBatch = 8192
  private val smallPerBulk = 10
  private val minSmall = 100
  private val config = HnswConfig(m = 16, efConstruction = 100)
  private val gen = new Gen.Clustered(ctx.seed)
  private val pool = gen.points(2 * bulkBatch, stream = 1)
  private val rnd = new SplittableRandom(ctx.seed ^ 0x2545F4914F6CDD1DL)

  private var vectors: Array[Array[Float]] = _
  private var indexDir: String = _
  private var buildS = 0.0
  private var round = Iterator.empty[Boolean]
  private var recording = true

  private val smallS = ArrayBuffer.empty[Double]
  private val bulkQps = ArrayBuffer.empty[Double]
  // (query, returned ids) samples for recall against brute force
  private val samples = ArrayBuffer.empty[(Array[Float], Array[Long])]

  def setup(): Unit = {
    vectors = gen.points(n, stream = 0)
    val vs = vectors
    val data = spark.createDataFrame(spark.sparkContext
        .parallelize(0 until n, ctx.cores).map(i => (i.toLong, vs(i))))
      .toDF("id", "vector").persist()
    data.count()
    indexDir = ctx.fresh("ann-index")
    buildS = Main.timed(HnswSpark.buildAndSave(spark, data, indexDir, "euclidean", config, parts))
    data.unpersist()
  }

  def warmup(): Unit = {
    recording = false
    // small-batch latency keeps falling over the first few dozen calls
    (1 to 2).foreach { _ =>
      (1 to 10).foreach(_ => search(small = true))
      search(small = false)
    }
    recording = true
  }

  def enoughSamples: Boolean = smallS.size >= minSmall && bulkQps.nonEmpty

  def step(): String = {
    if (!round.hasNext) {
      val r = Array.fill(smallPerBulk)(true) :+ false
      Gen.shuffle(r, rnd)
      round = r.iterator
    }
    val small = round.next()
    search(small)
    if (small) "small" else "bulk"
  }

  private def search(small: Boolean): Unit = {
    val (kind, qidx) =
      if (small) ("small", Array.fill(smallBatch)(rnd.nextInt(pool.length)).distinct)
      else {
        val off = rnd.nextInt(pool.length - bulkBatch + 1)
        ("bulk", Array.range(off, off + bulkBatch))
      }
    val t0 = System.nanoTime()
    val rows = tracer.op(kind) {
      tracer.span("hnsw", s"searchSavedDF.$kind") {
        HnswSpark.searchSavedDF(spark, indexDir, queryFrame(qidx), k)
          .select("qid", "id", "dist", "rank").collect()
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    if (recording) {
      if (small) smallS += secs else bulkQps += qidx.length / secs
    }
    val byQuery = rows.groupBy(_.getLong(0))
    ctx.check(byQuery.size == qidx.length, s"$kind: ${byQuery.size} of ${qidx.length} queries answered")
    qidx.iterator.take(if (small) 2 else 16).foreach { q =>
      byQuery.get(q.toLong).foreach(r => samples += ((pool(q), r.sortBy(_.getInt(3)).map(_.getLong(1)))))
    }
    byQuery.foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      val dists = sorted.map(_.getDouble(2))
      val ids = sorted.map(_.getLong(1))
      ctx.check(sorted.length == k && sorted.map(_.getInt(3)).toSeq == (1 to k) &&
        dists.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)) &&
        ids.distinct.length == k && ids.forall(i => i >= 0 && i < n),
        s"$kind query $qid: bad top-$k ${ids.mkString(",")} / ${dists.mkString(",")}")
    }
  }

  private def queryFrame(qidx: Array[Int]): DataFrame =
    spark.createDataFrame(qidx.toSeq.map(q => (q.toLong, pool(q)))).toDF("qid", "qvec")

  private var recall = Double.NaN

  def verify(): Unit = {
    val ids = Array.tabulate(n)(_.toLong)
    val hits = Gen.parallelMap(samples.toIndexedSeq) { case (q, got) =>
      Gen.exactTopK(q, ids, vectors, k).toSet.intersect(got.toSet).size.toDouble / k
    }
    recall = hits.sum / hits.size
    // HNSW is approximate; a recall this low means the graphs or the merge are broken
    ctx.check(recall >= 0.8, s"recall@$k $recall below 0.8 over ${hits.size} sampled queries")
  }

  private def artifactBytes: Double = Probes.graphFiles(indexDir).map(_.length).sum.toDouble

  private def searchQps: Double = Stats.median(bulkQps.toSeq)

  def endToEnd: Map[String, M] = Map(
    "throughput_per_s" -> M(searchQps, "1/s"),
    "call_p50_s" -> M(Stats.quantile(smallS.toSeq, 0.5), "s"),
    "call_p90_s" -> M(Stats.quantile(smallS.toSeq, 0.9), "s"),
    "quality" -> M(recall, "ratio"),
    "bytes_per_item" -> M(artifactBytes / n, "B"))

  def named: Map[String, M] = Map(
    "search_qps" -> M(searchQps, "1/s"),
    "search_batch_p50_s" -> M(Stats.quantile(smallS.toSeq, 0.5), "s"),
    "search_batch_p90_s" -> M(Stats.quantile(smallS.toSeq, 0.9), "s"),
    "recall_at_10" -> M(recall, "ratio"),
    "small_batches" -> M(smallS.size, "count"),
    "bulk_batches" -> M(bulkQps.size, "count"))

  def layers: Map[String, M] =
    Probes.hnsw(indexDir, pool.take(2000), vectors.take(5000), config) ++ Map(
      "hnsw.search_small_s" -> M(tracer.medianSeconds("searchSavedDF.small"), "s"),
      "hnsw.search_bulk_s" -> M(tracer.medianSeconds("searchSavedDF.bulk"), "s"),
      "hnsw.build_s" -> M(buildS, "s"))
}
