package perfbench

import graft.core.{DistKernel, Distances}
import graft.hnsw.{HnswConfig, HnswIndex, HnswSpark}

/** Single-thread microprobes of the kernel and graph layers, run in
  * traced runs after the timed loop.
  */
object Probes {
  private val Reps = 5

  /** ns per euclidean distance at dim 64: the SIMD kernel `DistKernel.best`
    * against the scalar `Distances.euclideanF32`.
    */
  def core(): Map[String, M] = {
    val gen = new Gen.Clustered(1L)
    val vs = gen.points(1024, stream = 9)
    def nsPerCall(f: (Array[Float], Array[Float]) => Double): Double = {
      val calls = 1 << 20
      Stats.median((1 to Reps).map { _ =>
        var sink = 0.0
        val t0 = System.nanoTime()
        var i = 0
        while (i < calls) { sink += f(vs(i & 1023), vs((i * 7 + 3) & 1023)); i += 1 }
        val ns = (System.nanoTime() - t0).toDouble / calls
        require(!sink.isNaN)
        ns
      })
    }
    val simd = DistKernel.best
    Map(
      "core.dist_ns_simd" -> M(nsPerCall(simd.euclidean), "ns"),
      "core.dist_ns_scalar" -> M(nsPerCall(Distances.euclideanF32), "ns"))
  }

  /** Driver-side load, search and insert probes of persisted HNSW graphs. */
  def hnsw(indexDir: String, queries: Array[Array[Float]], inserts: Array[Array[Float]],
      config: HnswConfig): Map[String, M] = {
    val artifacts = graphFiles(indexDir)
    require(artifacts.nonEmpty, s"no graph artifacts under $indexDir")
    val conf = new org.apache.hadoop.conf.Configuration()
    val loadMs = Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      artifacts.foreach(a => HnswSpark.loadPartition(a.getAbsolutePath, conf))
      (System.nanoTime() - t0) / 1e6 / artifacts.length
    })
    val graph = HnswSpark.loadPartition(artifacts.head.getAbsolutePath, conf)
    val searchUs = Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      queries.foreach(q => graph.search(q, 10))
      (System.nanoTime() - t0) / 1e3 / queries.length
    })
    val insertUs = Stats.median((1 to Reps).map { _ =>
      val idx = new HnswIndex(Distances.Euclidean, config)
      val t0 = System.nanoTime()
      inserts.indices.foreach(i => idx.add(i.toLong, inserts(i)))
      (System.nanoTime() - t0) / 1e3 / inserts.length
    })
    Map(
      "hnsw.load_partition_ms" -> M(loadMs, "ms"),
      "hnsw.artifact_bytes" -> M(artifacts.map(_.length).sum.toDouble, "B"),
      "hnsw.index_search_us" -> M(searchUs, "us"),
      "hnsw.index_insert_us" -> M(insertUs, "us"))
  }

  /** The persisted partition graphs under an index directory, by name. */
  def graphFiles(indexDir: String): Array[java.io.File] =
    Option(new java.io.File(indexDir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".hnsw")).sortBy(_.getName)

  /** Every per-layer metric with its unit; a workload that does not call a
    * layer reports that layer's metrics as 0.
    */
  val perLayerUnits: Map[String, String] = Map(
    "spark.jobs" -> "jobs/op", "spark.stages" -> "stages/op", "spark.tasks" -> "tasks/op",
    "spark.task_s" -> "s/op", "spark.busy_share" -> "ratio", "spark.driver_only_s" -> "s/op",
    "spark.planning_s" -> "s/op", "spark.shuffle_read_bytes" -> "B/op",
    "spark.shuffle_write_bytes" -> "B/op", "spark.spill_bytes" -> "B/op",
    "spark.result_bytes" -> "B/op",
    "jvm.gc_s" -> "s/op", "jvm.peak_heap_mb" -> "MB",
    "core.dist_ns_simd" -> "ns", "core.dist_ns_scalar" -> "ns",
    "client.self_s" -> "s/op", "hnsw.self_s" -> "s/op", "streaming.self_s" -> "s/op",
    "dedup.self_s" -> "s/op", "text.self_s" -> "s/op",
    "hnsw.load_partition_ms" -> "ms", "hnsw.artifact_bytes" -> "B",
    "hnsw.search_small_s" -> "s", "hnsw.search_bulk_s" -> "s",
    "hnsw.index_search_us" -> "us", "hnsw.index_insert_us" -> "us", "hnsw.build_s" -> "s",
    "streaming.sink_s" -> "s", "streaming.gate_s" -> "s", "streaming.compact_s" -> "s",
    "streaming.compactions" -> "count", "streaming.search_maintained_s" -> "s",
    "streaming.delta_ratio_max" -> "ratio",
    "io.bytes_written_per_batch" -> "B", "io.files" -> "count",
    "dedup.exact_s" -> "s", "dedup.lsh_s" -> "s", "dedup.lsh_pairs" -> "count",
    "dedup.lsh_useful_ratio" -> "ratio", "dedup.components_s" -> "s",
    "dedup.keep_best_s" -> "s", "dedup.contamination_s" -> "s", "dedup.semantic_s" -> "s",
    "text.heavy_hitters_s" -> "s", "text.bm25_build_s" -> "s", "text.bm25_search_s" -> "s",
    "trace.overhead_share" -> "ratio")
}
