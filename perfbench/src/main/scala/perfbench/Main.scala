package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** Everything one run shares: the session, the seed, the tracer, the
  * run's scratch directory and the tally of calls and output checks.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val cores: Int, workRoot: File) {
  val tracer = new Tracer(spark.sparkContext)
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  private var dirs = 0

  /** A new directory path (not yet created) under the run's scratch directory. */
  def fresh(name: String): String = {
    dirs += 1
    new File(workRoot, s"$name-$dirs").getAbsolutePath
  }

  /** Counts one attempted output check; a false `ok` counts as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
    }
    ok
  }
}

/** A closed-loop workload: one client thread issues one call at a time. */
trait Workload {
  /** One complete set-up (inputs, index or corpus). Run several times;
    * the state of the last one is what the timed loop uses.
    */
  def setup(): Unit
  def warmup(): Unit
  /** One client operation; returns its kind. */
  def step(): String
  /** Enough samples for the reported percentiles. */
  def enoughSamples: Boolean
  /** Whole-run output checks, after the timed loop. */
  def verify(): Unit
  /** The end-to-end metrics every workload reports, under shared names. */
  def endToEnd: Map[String, M]
  /** The same measurements under this workload's own names. */
  def named: Map[String, M]
  /** Per-layer metrics, after a traced loop. */
  def layers: Map[String, M]
}

object Main {
  private val SetupReps = 5

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val exit =
      try run(spark, workload, seed, seconds, traced, cores, work, opts.getOrElse("tree", "unknown"),
        opts.get("spans"))
      finally spark.stop()
    deleteTree(work.toPath)
    sys.exit(exit)
  }

  private def run(spark: SparkSession, name: String, seed: Long, seconds: Double, traced: Boolean,
      cores: Int, work: File, tree: String, spansFile: Option[String]): Int = {
    val ctx = new Ctx(spark, seed, cores, work)
    val w: Workload = name match {
      case "ann_search" => new AnnSearch(ctx)
      case "vector_ingest" => new VectorIngest(ctx)
      case "corpus_curation" => new CorpusCuration(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = (1 to SetupReps).map(_ => timed(w.setup()))
    val warmupS = timed(w.warmup())

    // Untraced runs give the end-to-end metrics. A traced run traces every
    // other operation, so traced and untraced operations share one warm-up
    // state and their difference states the tracing overhead.
    val probe = new SparkProbe
    if (traced) {
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    val jvm = new JvmWindow
    val ops = ArrayBuffer.empty[Op]
    val loopS = timed(loop(ctx, w, seconds, ops, traced))
    var layers = Map.empty[String, M]
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(probe)
      spark.listenerManager.unregister(probe)
      val tracedOps = ops.count(_.traced)
      val measured = sparkLayers(probe, ctx.tracer, jvm, ops.toSeq, cores) ++
        selfTimes(ctx.tracer, tracedOps) ++
        Probes.core() ++
        w.layers +
        ("trace.overhead_share" -> M(overhead(ops.toSeq), "ratio"))
      val unknown = measured.keySet -- Probes.perLayerUnits.keySet
      require(unknown.isEmpty, s"per-layer metrics missing from the declared list: $unknown")
      layers = Probes.perLayerUnits.map { case (k, unit) => k -> measured.getOrElse(k, M(0.0, unit)) }
      spansFile.foreach(writeSpans(_, ctx.tracer, probe))
    }
    val verifyS = timed(w.verify())

    val errorRate = if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    val correct = ctx.failed == 0 && ctx.attempted > 0
    val e2e = if (traced) Map.empty[String, M] else w.endToEnd + ("setup_s" -> M(Stats.median(setupS), "s"))
    val metrics = if (traced) layers else e2e
    val report = Json.obj(
      "perfbench" -> Json.obj(
        "workload" -> name, "seed" -> seed, "traced" -> traced, "seconds" -> seconds,
        "source_tree_sha256" -> tree, "nproc" -> cores,
        "jvm" -> System.getProperty("java.vm.version"),
        "simd" -> graft.core.DistKernel.isSimd,
        "setup_reps_s" -> setupS, "warmup_s" -> warmupS, "loop_s" -> loopS, "verify_s" -> verifyS,
        "ops" -> ops.size, "failures" -> ctx.failures.toSeq),
      "metrics" -> Json.metrics(if (traced) layers
        else e2e ++ w.named + ("error_rate" -> M(errorRate, "ratio"))))
    println(report)
    println(Json.obj("correct" -> correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> Json.metrics(metrics)))
    if (correct) 0 else 1
  }

  /** One client operation as the loop saw it. */
  private final case class Op(kind: String, seconds: Double, traced: Boolean)

  private def loop(ctx: Ctx, w: Workload, seconds: Double, log: ArrayBuffer[Op],
      traced: Boolean): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < end || !w.enoughSamples) {
      ctx.tracer.enabled = traced && log.size % 2 == 1
      val t0 = System.nanoTime()
      val kind =
        try w.step()
        catch {
          case NonFatal(e) =>
            ctx.check(ok = false, s"call failed: $e")
            "failed"
        }
      log += Op(kind, (System.nanoTime() - t0) / 1e9, ctx.tracer.enabled)
    }
    ctx.tracer.enabled = false
  }

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Traced minus untraced median time per operation kind, as a share of
    * untraced, weighting each kind by how often it was traced. Medians keep
    * an occasional compaction or bulk batch from deciding the sign.
    */
  private def overhead(ops: Seq[Op]): Double = {
    val med = (xs: Seq[Op]) => Stats.median(xs.map(_.seconds))
    val (on, off) = ops.partition(_.traced)
    val untraced = off.groupBy(_.kind).map { case (k, v) => k -> med(v) }
    val kinds = on.groupBy(_.kind).filter(k => untraced.contains(k._1)).toSeq
    val base = kinds.map { case (k, v) => v.size * untraced(k) }.sum
    if (base == 0) 0.0 else kinds.map { case (_, v) => v.size * med(v) }.sum / base - 1
  }

  /** Spark counters of the traced operations (jobs carry their span id),
    * per traced operation; GC and heap cover the whole loop.
    */
  private def sparkLayers(p: SparkProbe, tracer: Tracer, jvm: JvmWindow, ops: Seq[Op],
      cores: Int): Map[String, M] = {
    import scala.jdk.CollectionConverters._
    val tagged = new SparkCounts
    p.bySpan.asScala.foreach { case (span, c) => if (span >= 0) tagged.add(c) }
    val roots = tracer.spans.filter(_.parent < 0)
    val perOp = 1.0 / math.max(roots.size, 1)
    val wallS = roots.map(_.seconds).sum
    val jobs = p.jobIntervals.asScala.toSeq
    val driverOnlyS = roots.map(r => Intervals.uncovered(r.startMs, r.endMs, jobs)).sum / 1000.0
    Map(
      "spark.jobs" -> M(tagged.jobs * perOp, "jobs/op"),
      "spark.stages" -> M(tagged.stages * perOp, "stages/op"),
      "spark.tasks" -> M(tagged.tasks * perOp, "tasks/op"),
      "spark.task_s" -> M(tagged.taskNs / 1e9 * perOp, "s/op"),
      "spark.busy_share" -> M(tagged.taskNs / 1e9 / (wallS * cores), "ratio"),
      "spark.driver_only_s" -> M(driverOnlyS * perOp, "s/op"),
      "spark.planning_s" -> M(p.planningMs / 1000.0 / math.max(ops.size, 1), "s/op"),
      "spark.shuffle_read_bytes" -> M(tagged.shuffleRead * perOp, "B/op"),
      "spark.shuffle_write_bytes" -> M(tagged.shuffleWrite * perOp, "B/op"),
      "spark.spill_bytes" -> M(tagged.spill * perOp, "B/op"),
      "spark.result_bytes" -> M(tagged.resultBytes * perOp, "B/op"),
      "jvm.gc_s" -> M(jvm.gcSeconds / math.max(ops.size, 1), "s/op"),
      "jvm.peak_heap_mb" -> M(jvm.peakHeapMb, "MB"))
  }

  /** Self time per layer per operation, for every layer a workload can call. */
  private def selfTimes(tracer: Tracer, ops: Int): Map[String, M] = {
    val self = tracer.selfSeconds
    Seq("client", "hnsw", "streaming", "dedup", "text").map { layer =>
      s"$layer.self_s" -> M(self.getOrElse(layer, 0.0) / math.max(ops, 1), "s/op")
    }.toMap
  }

  /** One JSON line per span, with the Spark work attributed to it. */
  private def writeSpans(path: String, tracer: Tracer, probe: SparkProbe): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try tracer.spans.foreach { s =>
      val c = Option(probe.bySpan.get(s.id)).getOrElse(new SparkCounts)
      out.println(Json.obj("id" -> s.id, "op" -> s.op, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.startMs, "seconds" -> s.seconds, "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks, "task_s" -> c.taskNs / 1e9,
        "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
        "result_bytes" -> c.resultBytes))
    }
    finally out.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  /** Bytes and regular-file count under a directory. */
  def du(dir: String): (Long, Long) = {
    val p = new File(dir).toPath
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L
        var files = 0L
        s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON rendering for the result lines. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }
    .mkString("{", ", ", "}"))

  def metrics(ms: Map[String, M]): Raw = obj(ms.toSeq.sortBy(_._1).map { case (k, m) =>
    k -> obj("value" -> m.value, "unit" -> m.unit)
  }: _*)

  private def value(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
