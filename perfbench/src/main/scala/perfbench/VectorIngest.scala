package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import graft.hnsw.{HnswConfig, HnswSpark}
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.VectorOp

/** Writes beside reads on one maintained HNSW index: seeded micro-batches
  * of upserts, updates and removes go through the delta-log sink, each
  * followed by the ratio-gated compaction and a small fresh read.
  */
final class VectorIngest(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  private val nBase = 4000
  private val batchOps = 1000
  private val parts = 2 * ctx.cores
  private val k = 10
  private val minBatches = 24
  private val config = HnswConfig(m = 16, efConstruction = 100)
  private val gen = new Gen.Clustered(ctx.seed)
  private val rnd = new SplittableRandom(ctx.seed ^ 0x632BE59BD9B4E019L)

  private var dir: String = _
  private var sink: (org.apache.spark.sql.Dataset[VectorOp], Long) => Unit = _
  private var buildS = 0.0
  private var recording = true

  // the generator's view of the index: live ids with their vectors
  private val live = mutable.LongMap.empty[Array[Float]]
  private val liveIds = ArrayBuffer.empty[Long]
  private val livePos = mutable.LongMap.empty[Int]
  private val removed = mutable.HashSet.empty[Long]
  private var nextId = 0L
  private var version = 0L
  private var batchId = 0L
  private var stream = 100L

  private val ingestS = ArrayBuffer.empty[Double]
  private val freshS = ArrayBuffer.empty[Double]
  private val sinkS = ArrayBuffer.empty[Double]
  private val gateS = ArrayBuffer.empty[Double]
  private val compactS = ArrayBuffer.empty[Double]
  private val deltaBytes = ArrayBuffer.empty[Double]
  private var ratioMax = 0.0
  private var opsDone = 0L
  private var writeWallS = 0.0
  private val recalls = ArrayBuffer.empty[Double]
  private var endBytes = 0L

  private def addLive(id: Long, v: Array[Float]): Unit = {
    if (!live.contains(id)) { livePos(id) = liveIds.size; liveIds += id }
    live(id) = v
  }

  private def dropLive(id: Long): Unit = {
    val p = livePos.remove(id).get
    val last = liveIds.remove(liveIds.size - 1)
    if (last != id) { liveIds(p) = last; livePos(last) = p }
    live.remove(id)
    removed += id
  }

  def setup(): Unit = {
    live.clear()
    livePos.clear()
    liveIds.clear()
    removed.clear()
    val base = gen.points(nBase, stream = 0)
    base.indices.foreach(i => addLive(i.toLong, base(i)))
    nextId = nBase
    dir = ctx.fresh("maintained")
    val data = spark.createDataFrame(spark.sparkContext
        .parallelize(0 until nBase, ctx.cores).map(i => (i.toLong, base(i))))
      .toDF("id", "vector").persist()
    data.count()
    buildS = Main.timed(HnswSpark.buildAndSave(spark, data, s"$dir/base", "euclidean", config, parts))
    data.unpersist()
    sink = StreamingOps.hnswDeltaMaintenanceSink(spark, dir, parts, "euclidean", config)
  }

  def warmup(): Unit = {
    recording = false
    (1 to 2).foreach(_ => step())
    recording = true
  }

  def enoughSamples: Boolean = ingestS.size >= minBatches

  /** ≈70% new-id upserts, 20% updates of live ids, 10% removes of live ids;
    * an id appears at most once per batch.
    */
  private def makeBatch(): (Seq[VectorOp], Array[Long]) = {
    val nUpdate = batchOps / 5
    val nRemove = batchOps / 10
    val nNew = batchOps - nUpdate - nRemove
    stream += 1
    val fresh = gen.points(nNew + nUpdate, stream)
    val touched = mutable.LinkedHashSet.empty[Long]
    while (touched.size < nUpdate + nRemove) touched += liveIds(rnd.nextInt(liveIds.size))
    val (upd, rem) = touched.toArray.splitAt(nUpdate)
    val ops = ArrayBuffer.empty[VectorOp]
    (0 until nNew).foreach { i =>
      version += 1; ops += VectorOp(nextId, "upsert", fresh(i), version); nextId += 1
    }
    upd.indices.foreach { i => version += 1; ops += VectorOp(upd(i), "upsert", fresh(nNew + i), version) }
    rem.foreach { id => version += 1; ops += VectorOp(id, "remove", null, version) }
    // probes for the fresh read: new upserts and updated ids
    val probes = Array.fill(4)(nextId - 1 - rnd.nextInt(nNew)) ++ upd.take(2)
    (ops.toSeq, probes)
  }

  def step(): String = tracer.op("batch") {
    import spark.implicits._
    val (ops, probes) = makeBatch()
    val before = if (tracer.enabled) Main.du(s"$dir/delta")._1 else 0L
    val t0 = System.nanoTime()
    tracer.span("streaming", "sink") { sink(spark.createDataset(ops), batchId) }
    val t1 = System.nanoTime()
    val (ratio, compacted) = tracer.span("streaming", "compactHnswIfNeeded") {
      StreamingOps.compactHnswIfNeeded(spark, dir)
    }
    val t2 = System.nanoTime()
    batchId += 1
    ops.foreach(o => if (o.op == "upsert") addLive(o.id, o.vector) else dropLive(o.id))
    if (tracer.enabled && !compacted) deltaBytes += (Main.du(s"$dir/delta")._1 - before).toDouble

    val unchanged = Array.fill(2)(liveIds(rnd.nextInt(liveIds.size)))
    val qids = (probes ++ unchanged).distinct.filter(live.contains)
    val queries = qids.map(id => (id, live(id)))
    val t3 = System.nanoTime()
    val rows = tracer.span("streaming", "searchHnswMaintained") {
      StreamingOps.searchHnswMaintained(spark, dir, queries, k).select("qid", "id", "dist", "rank").collect()
    }
    val t4 = System.nanoTime()
    if (recording) {
      ingestS += (t2 - t0) / 1e9
      freshS += (t4 - t3) / 1e9
      sinkS += (t1 - t0) / 1e9
      if (compacted) compactS += (t2 - t1) / 1e9 else gateS += (t2 - t1) / 1e9
      if (!ratio.isNaN) ratioMax = math.max(ratioMax, ratio)
      opsDone += ops.size
      writeWallS += (t2 - t0) / 1e9
    }

    // Ids this batch wrote are served by the delta's exact scan unless the
    // gate just folded them into the (approximate) base graphs.
    val byQuery = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getInt(3)) }
    if (!compacted) probes.filter(live.contains).foreach { q =>
      val rs = byQuery.getOrElse(q, Array.empty)
      ctx.check(rs.nonEmpty && rs.head.getLong(1) == q && rs.head.getDouble(2) <= 1e-6,
        s"batch $batchId: upserted id $q is not its own nearest neighbour: " +
          rs.take(1).map(r => s"${r.getLong(1)}@${r.getDouble(2)}").mkString)
    }
    ctx.check(qids.forall(q => byQuery.get(q).exists(_.length == k)),
      s"batch $batchId: a fresh read returned fewer than $k rows")
    val resurrected = rows.map(_.getLong(1)).filter(removed.contains)
    ctx.check(resurrected.isEmpty, s"batch $batchId: removed ids returned: ${resurrected.distinct.take(5).mkString(",")}")
    if (recording) {
      val ids = liveIds.toArray
      val vecs = ids.map(live(_))
      Gen.parallelMap(qids.toIndexedSeq) { q =>
        val want = Gen.exactTopK(live(q), ids, vecs, k).toSet
        want.intersect(byQuery.getOrElse(q, Array.empty).map(_.getLong(1)).toSet).size.toDouble / k
      }.foreach(recalls += _)
    }
    "batch"
  }

  def verify(): Unit = {
    // fold every outstanding delta row so the base graphs alone hold the
    // live set; bytes are measured there, not at a point in the cycle
    StreamingOps.compactHnswMaintained(spark, dir)
    endBytes = Main.du(dir)._1
    val conf = spark.sparkContext.hadoopConfiguration
    val count = Probes.graphFiles(s"$dir/base").map(g => HnswSpark.loadPartition(g.getAbsolutePath, conf).size.toLong).sum
    ctx.check(count == live.size, s"final live count $count, generator holds ${live.size}")
  }

  private def p(xs: ArrayBuffer[Double], q: Double) = Stats.quantile(xs.toSeq, q)
  private def recall = recalls.sum / recalls.size
  private def opsPerS = opsDone / writeWallS

  def endToEnd: Map[String, M] = Map(
    "throughput_per_s" -> M(opsPerS, "1/s"),
    "call_p50_s" -> M(p(ingestS, 0.5), "s"),
    "call_p90_s" -> M(p(ingestS, 0.9), "s"),
    "quality" -> M(recall, "ratio"),
    "bytes_per_item" -> M(endBytes.toDouble / live.size, "B"))

  def named: Map[String, M] = Map(
    "build_vectors_per_s" -> M(nBase / buildS, "1/s"),
    "ingest_ops_per_s" -> M(opsPerS, "1/s"),
    "ingest_batch_p50_s" -> M(p(ingestS, 0.5), "s"),
    "ingest_batch_p90_s" -> M(p(ingestS, 0.9), "s"),
    "fresh_search_p50_s" -> M(p(freshS, 0.5), "s"),
    "fresh_recall_at_10" -> M(recall, "ratio"),
    "bytes_per_vector" -> M(endBytes.toDouble / live.size, "B"),
    "batches" -> M(ingestS.size, "count"),
    "compactions" -> M(compactS.size, "count"))

  def layers: Map[String, M] = {
    def med(xs: ArrayBuffer[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    val probeVecs = gen.points(2000, stream = 7)
    Probes.hnsw(s"$dir/base", probeVecs, probeVecs, config) ++ Map(
      "hnsw.build_s" -> M(buildS, "s"),
      "streaming.sink_s" -> M(med(sinkS), "s"),
      "streaming.gate_s" -> M(med(gateS), "s"),
      "streaming.compact_s" -> M(med(compactS), "s"),
      "streaming.compactions" -> M(compactS.size, "count"),
      "streaming.search_maintained_s" -> M(med(freshS), "s"),
      "streaming.delta_ratio_max" -> M(ratioMax, "ratio"),
      "io.bytes_written_per_batch" -> M(med(deltaBytes), "B"),
      "io.files" -> M(Main.du(dir)._2.toDouble, "count"))
  }
}
