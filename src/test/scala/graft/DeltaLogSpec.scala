package graft

import graft.io.{HadoopIO, Manifest}
import graft.streaming.DeltaLog

/** The shared delta-log primitives, one crash window each. The per-sink
  * crash tests in StreamingIndexSpec / HeavyHittersSpec exercise the same
  * code through the sinks; these pin the protocol itself.
  */
class DeltaLogSpec extends SparkTestBase {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fresh(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  private def names(dir: String): Set[String] =
    Manifest.read(dir, conf).get.map(_.name).toSet

  test("commit skips a committed batch, clears a torn one, and writes the marker last") {
    val root = fresh("dl_commit")
    val (data, marker) = (s"$root/data", s"$root/marker")
    DeltaLog.init(root, Seq(data, marker), fresh = true, "test", "nothing", conf)(())
    def write(batchId: Long, rows: Seq[Long]): Unit = {
      rows.toDF("v").coalesce(1).write.parquet(s"$data/batch=$batchId")
      rows.toDF("v").coalesce(1).write.parquet(s"$marker/batch=$batchId")
    }
    def committed(): Set[Long] =
      DeltaLog.read(spark, marker, "v BIGINT").select("v").as[Long].collect().toSet

    assert(DeltaLog.commit(spark, Seq(data, marker), 0L)(write(0L, Seq(1L, 2L))))
    assert(committed() === Set(1L, 2L))
    // a redelivered committed batch is skipped: its write never runs
    var ran = false
    assert(!DeltaLog.commit(spark, Seq(data, marker), 0L) { ran = true })
    assert(!ran && committed() === Set(1L, 2L))

    // a torn batch 1: files on disk in both logs, no manifest lists them —
    // invisible to the read, cleared and rewritten by the redelivery
    Seq(99L).toDF("v").write.parquet(s"$data/batch=1")
    Seq(99L).toDF("v").write.parquet(s"$marker/batch=1")
    assert(committed() === Set(1L, 2L), "uncommitted files leaked into the read")
    assert(DeltaLog.commit(spark, Seq(data, marker), 1L)(write(1L, Seq(3L))))
    assert(committed() === Set(1L, 2L, 3L))
    assert(DeltaLog.read(spark, data, "v BIGINT").select("v").as[Long].collect().toSet ===
      Set(1L, 2L, 3L), "the torn attempt's rows survived the rewrite")

    // marker last: the marker's manifest rewrite dies (its in-progress
    // path is blocked), so the data log lists batch 2 and the marker does
    // not — the batch stays uncommitted and the redelivery rewrites it
    val blocker = s"$marker/${Manifest.FileName}.inprogress"
    HadoopIO.mkdirs(blocker, conf)
    intercept[java.io.IOException](DeltaLog.commit(spark, Seq(data, marker), 2L)(write(2L, Seq(4L))))
    assert(names(data).exists(_.startsWith("batch=2/")))
    assert(!names(marker).exists(_.startsWith("batch=2/")))
    assert(committed() === Set(1L, 2L, 3L))
    HadoopIO.delete(blocker, conf)
    // the redelivery drops batch 2 from the data manifest before its write
    // runs, so the write reads the data log's committed rows, not a
    // manifest entry for files the clear just deleted
    assert(DeltaLog.commit(spark, Seq(data, marker), 2L) {
      assert(DeltaLog.read(spark, data, "v BIGINT").select("v").as[Long].collect().toSet ===
        Set(1L, 2L, 3L))
      write(2L, Seq(4L))
    })
    assert(committed() === Set(1L, 2L, 3L, 4L))
    assert(names(data).count(_.startsWith("batch=2/")) === 1, "stale batch-2 entries survived")
  }

  test("an empty log reads as the typed empty view; a lost file fails the read") {
    val root = fresh("dl_read")
    val log = s"$root/log"
    DeltaLog.init(root, Seq(log), fresh = true, "test", "nothing", conf)(())
    val empty = DeltaLog.read(spark, log, "id BIGINT, label STRING")
    assert(empty.columns.toSeq === Seq("id", "label") && empty.collect().isEmpty)
    DeltaLog.commit(spark, Seq(log), 0L)(Seq((1L, "a")).toDF("id", "label").write.parquet(s"$log/batch=0"))
    val lost = HadoopIO.glob(s"$log/batch=0", "*.parquet", conf).head
    HadoopIO.delete(lost, conf)
    val e = intercept[IllegalArgumentException](DeltaLog.read(spark, log, "id BIGINT"))
    assert(e.getMessage.contains("INCOMPLETE"))
    // committed meta with a missing manifest is refused, not re-seeded
    HadoopIO.delete(s"$log/${Manifest.FileName}", conf)
    val e2 = intercept[IllegalArgumentException](
      DeltaLog.init(root, Seq(log), fresh = false, "test", "resumeIt", conf)(()))
    assert(e2.getMessage.contains("committed meta but no manifest under [log]"))
  }

  test("swap resume: a complete tmp finishes the swap, an incomplete one throws, a stale one is dropped") {
    val root = fresh("dl_swap")
    val (live, tmp) = (s"$root/log", s"$root/log.compact")
    def build(rows: Seq[Long]): String =
      DeltaLog.stage(live, conf)(t => rows.toDF("v").write.parquet(s"$t/batch=compacted"))
    def rows(): Set[Long] = DeltaLog.read(spark, live, "v BIGINT").select("v").as[Long].collect().toSet

    // live missing, complete (sealed) tmp: the crash fell between the
    // swap's delete and rename — resume renames the tmp into place
    build(Seq(1L))
    assert(DeltaLog.resume(live, tmp, conf))
    assert(rows() === Set(1L) && !HadoopIO.exists(tmp, conf))

    // live missing, tmp without its manifest: refused, nothing renamed
    DeltaLog.swap(live, build(Seq(2L)), conf)
    assert(rows() === Set(2L))
    HadoopIO.delete(live, conf)
    Seq(3L).toDF("v").write.parquet(s"$tmp/batch=compacted")
    val e = intercept[IllegalArgumentException](DeltaLog.resume(live, tmp, conf))
    assert(e.getMessage.contains("incomplete"))
    assert(!HadoopIO.exists(live, conf) && HadoopIO.exists(tmp, conf))
    intercept[IllegalArgumentException](DeltaLog.swap(live, tmp, conf))

    // live present: any tmp is a stale interrupted build and is deleted
    HadoopIO.delete(tmp, conf)
    DeltaLog.swap(live, build(Seq(4L)), conf)
    build(Seq(5L))
    assert(!DeltaLog.resume(live, tmp, conf))
    assert(rows() === Set(4L) && !HadoopIO.exists(tmp, conf))
  }

  test("swap resume: a torn first write of a sidecar is dropped, not refused") {
    val root = fresh("dl_sidecar")
    val (live, tmp) = (s"$root/folded", s"$root/folded.tmp")
    // the first swap of a sidecar died mid-write: no live, no _SUCCESS
    Seq(1L).toDF("batch_id").write.parquet(tmp)
    HadoopIO.delete(s"$tmp/_SUCCESS", conf)
    assert(!DeltaLog.resume(live, tmp, conf, DeltaLog.ParquetDone, sidecar = true))
    assert(!HadoopIO.exists(live, conf) && !HadoopIO.exists(tmp, conf))
    // so the next fold runs: its first sidecar write lands
    val log = s"$root/totals"
    DeltaLog.init(root, Seq(log), fresh = true, "test", "nothing", conf)(())
    DeltaLog.commit(spark, Seq(log), 0L)(Seq(5L).toDF("v").write.parquet(s"$log/batch=0"))
    Seq(1L).toDF("batch_id").write.parquet(tmp)
    HadoopIO.delete(s"$tmp/_SUCCESS", conf)
    DeltaLog.fold(spark, root, "totals")(() => t => Seq(5L).toDF("v").write.parquet(s"$t/batch=compacted"))
    assert(DeltaLog.foldedIds(spark, root) === Set(0L))
  }

  test("an as-of read below the compaction horizon throws; at or above it serves") {
    val root = fresh("dl_asof")
    val log = s"$root/delta"
    DeltaLog.init(root, Seq(log), fresh = true, "test", "nothing", conf)(())
    val schema = "id BIGINT, version BIGINT, batch STRING"
    DeltaLog.commit(spark, Seq(log), 7L)(
      Seq((1L, 7L)).toDF("id", "version").write.parquet(s"$log/batch=7"))
    // before any compaction there is no horizon: every version replays
    assert(DeltaLog.asOf(DeltaLog.read(spark, log, schema), log, 0L, root, "compactIt", conf)
      .count() === 0L)
    DeltaLog.swap(log, DeltaLog.stage(log, conf)(t =>
      Seq((2L, 3L), (3L, 5L)).toDF("id", "version").write.parquet(s"$t/batch=compacted")), conf)
    DeltaLog.commit(spark, Seq(log), 8L)(
      Seq((4L, 8L)).toDF("id", "version").write.parquet(s"$log/batch=8"))
    def asOf(v: Long) = DeltaLog.asOf(DeltaLog.read(spark, log, schema), log, v, root, "compactIt", conf)
      .select("id").as[Long].collect().toSet
    val e = intercept[IllegalArgumentException](asOf(4L))
    assert(e.getMessage.contains("compaction horizon 5") && e.getMessage.contains("compactIt"))
    assert(asOf(5L) === Set(2L, 3L))
    assert(asOf(8L) === Set(2L, 3L, 4L))
  }

  test("the gate resumes a missing live log unconditionally, otherwise fires on its gauge") {
    val root = fresh("dl_gate")
    var compactions = 0
    def gate(n: Int) = DeltaLog.gate(Seq(s"$root/log"), -1, conf)(n)(_ > 2) { compactions += 1 }
    assert(gate(5) === ((-1, true)) && compactions === 1)
    HadoopIO.mkdirs(s"$root/log", conf)
    assert(gate(2) === ((2, false)) && compactions === 1)
    assert(gate(3) === ((3, true)) && compactions === 2)
  }
}
