package graft.streaming

import graft.io.{HadoopIO, Manifest, ManifestEntry}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The ONE copy of the commit, read, swap and gate protocol every
  * manifested streaming sink in [[StreamingOps]] shares — the explicit
  * partition lifecycle the reference keeps beside its online mutation
  * routing (`storage/dataset.go:238-348`), written once so a fix to one
  * crash window cannot miss a hand-kept twin.
  *
  * A LOG is a directory of `batch=<key>/` subdirectories (parquet files,
  * optionally one more partition level deep) plus a completeness
  * [[graft.io.Manifest]] listing every committed file with its length.
  * The manifest is the only source of truth for what is committed:
  * unlisted files are the debris of a dead attempt, a listed file that is
  * missing or torn fails every read loudly.
  *
  *  - Init ([[init]]): a fresh directory gets its manifests before the
  *    caller's meta sidecar (the init commit marker); a directory whose
  *    meta is committed but whose manifest is missing is refused.
  *  - Commit ([[commit]]): idempotent per batch id — a batch the marker
  *    log (the last of the batch's logs) or the folded-ids sidecar
  *    already lists is skipped; otherwise the batch's manifest entries
  *    and subdirectories are cleared in every log, rewritten, and each
  *    log's entries for the batch are replaced, marker last.
  *  - Read ([[read]]): validated, restricted to listed batches, a typed
  *    empty view for an empty log; [[asOf]] scopes it to a version and
  *    refuses reads below the compaction horizon.
  *  - Swap ([[resume]], [[swap]], [[stage]], [[replace]]): one tmp→live
  *    swap (delete live, rename tmp) with one resume rule — a missing live
  *    directory means the crash fell between the delete and the rename,
  *    so the tmp must be complete and is renamed into place; an existing
  *    live directory means the tmp is stale and is deleted (a sidecar's
  *    torn first write, with no live to fall back to, is dropped too).
  *  - Gates ([[gate]], [[deltaRatio]], [[fold]]): the gauge-gated
  *    `*IfNeeded` wrapper, the manifest-only byte-ratio gauge, and the
  *    folded-ids compaction of the count-accumulating logs.
  *
  * Everything here is driver-side filesystem work: no Spark job except the
  * reads and writes the caller asks for.
  */
private[graft] object DeltaLog {

  /** Completeness test for a swap tmp (path, conf) — the swap refuses an
    * incomplete tmp and resume refuses to rename one into place.
    */
  type Done = (String, Configuration) => Boolean

  /** A log tmp is complete once its manifest landed (written last). */
  val Sealed: Done = (d, c) => Manifest.read(d, c).isDefined

  /** A sidecar tmp is complete once `name` (its last write) landed. */
  def marker(name: String): Done = (d, c) => HadoopIO.exists(s"$d/$name", c)

  /** A Spark-written parquet directory is complete once its job committed. */
  val ParquetDone: Done = marker("_SUCCESS")

  private val Compacted = "batch=compacted"

  // ------------------------------------------------------------ manifest

  /** (relative path, length) of a log's data files, or of one batch
    * subdirectory's: parquet files one or two levels under a batch
    * directory (the IVF and BM25 logs add a cell/bucket level), plus
    * top-level artifacts (an adopted HNSW base). Hidden names (`_manifest`,
    * checksum files) never count.
    */
  private def files(dir: String, conf: Configuration, sub: Option[String] = None): Seq[(String, Long)] = {
    val root = sub.fold(dir)(s => s"$dir/$s")
    val p = new org.apache.hadoop.fs.Path(root)
    val qualified = p.getFileSystem(conf).makeQualified(p).toString + "/"
    val patterns = if (sub.isDefined) Seq("*.parquet", "*/*.parquet") else Seq("*", "*/*.parquet", "*/*/*.parquet")
    patterns.flatMap(HadoopIO.globWithLength(root, _, conf))
      .filterNot { case (uri, _) => hidden(Manifest.baseName(uri)) }
      .map { case (uri, len) => (sub.fold("")(_ + "/") + uri.stripPrefix(qualified), len) }
      .sortBy(_._1)
  }

  private def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  private def entries(listed: Seq[(String, Long)]): Seq[ManifestEntry] =
    listed.map { case (rel, len) => ManifestEntry(rel, len, -1L) }

  /** The manifest of a maintained log, or `missing` as an error. */
  def manifest(dir: String, conf: Configuration)(missing: => String): Seq[ManifestEntry] =
    Manifest.read(dir, conf).getOrElse(throw new IllegalStateException(missing))

  /** Distinct batch subdirectories a manifest lists (`batch=3`, `batch=compacted`). */
  def batchKeys(listed: Seq[ManifestEntry]): Seq[String] =
    listed.map(_.name.takeWhile(_ != '/')).distinct

  /** Record batch subdirectory `sub`'s files: every prior entry under `sub`
    * (or, `alone`, every prior entry) is dropped first, so a rewritten
    * batch whose part-file names changed leaves no stale entry behind.
    * O(batch) listing plus one manifest rewrite, never a history glob.
    */
  def relist(dir: String, sub: String, conf: Configuration, alone: Boolean = false): Unit = {
    val prior = if (alone) Seq.empty else Manifest.read(dir, conf).getOrElse(Seq.empty)
    Manifest.write(dir, prior.filterNot(_.name.startsWith(sub + "/")) ++ entries(files(dir, conf, Some(sub))), conf)
  }

  /** Manifest of everything a freshly built log directory holds. */
  def seal(dir: String, conf: Configuration): Unit = Manifest.write(dir, entries(files(dir, conf)), conf)

  // ---------------------------------------------------------------- init

  /** Fresh: seed every log's manifest where none exists (an adopted,
    * CRC-bearing manifest is kept; a re-run of a crashed init lists what
    * it left), then run `commitMeta` — the meta sidecar is the init commit
    * marker. Not fresh: committed meta promises committed manifests, so a
    * missing one is lost state or a compaction swap that died mid-flight
    * (resumed by `resumeCall`); re-seeding it from a raw listing would
    * bless orphaned half-written batch files, so it is refused.
    */
  def init(indexDir: String, logs: Seq[String], fresh: Boolean, what: String, resumeCall: String,
      conf: Configuration)(commitMeta: => Unit): Unit =
    if (fresh) {
      logs.foreach(seed(_, conf))
      commitMeta
    } else {
      val missing = logs.filter(d => Manifest.read(d, conf).isEmpty)
      require(missing.isEmpty,
        s"$what dir $indexDir has committed meta but no manifest under " +
          s"[${missing.map(_.stripPrefix(indexDir + "/")).mkString(", ")}] — either lost/foreign " +
          s"state, or a compaction swap died mid-flight (run $resumeCall to resume it); " +
          "refusing to extend unverifiable state")
    }

  /** Init of a sink without a meta sidecar: seed each log that does not
    * exist yet. An existing log is left to [[validate]] — with no commit
    * marker there is no telling a lost manifest from a fresh one.
    */
  def create(logs: Seq[String], conf: Configuration): Unit =
    logs.filterNot(HadoopIO.exists(_, conf)).foreach(seed(_, conf))

  private def seed(dir: String, conf: Configuration): Unit = {
    HadoopIO.mkdirs(dir, conf)
    if (Manifest.read(dir, conf).isEmpty) seal(dir, conf)
  }

  // -------------------------------------------------------------- commit

  /** Idempotent batch commit over `logs` (the LAST is the marker): skip
    * when the marker manifest or the folded-ids sidecar under `folded`
    * already lists `batchId`; otherwise clear the batch from every log
    * (manifest entries first, then files) and from `scratch`
    * (unmanifested outputs such as pair tables), run `write`, and replace
    * each log's entries for the batch, marker last. The batch counts as
    * committed once the marker lists it: a crash before that is rewritten
    * on redelivery. Until then a non-marker log whose manifest landed
    * still lists the torn batch to outside readers; `write` never sees
    * it, since the clear runs first. Returns whether the batch was
    * written.
    */
  def commit(spark: SparkSession, logs: Seq[String], batchId: Long, scratch: Seq[String] = Nil,
      folded: Option[String] = None)(write: => Unit): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sub = s"batch=$batchId"
    def listed(d: String) = Manifest.read(d, conf).getOrElse(Seq.empty)
    def ofBatch(e: ManifestEntry) = e.name.startsWith(sub + "/")
    val done = listed(logs.last).exists(ofBatch) || folded.exists(foldedIds(spark, _).contains(batchId))
    if (!done) {
      logs.foreach { d =>
        val prior = listed(d)
        if (prior.exists(ofBatch)) Manifest.write(d, prior.filterNot(ofBatch), conf)
      }
      (scratch ++ logs).foreach(d => HadoopIO.delete(s"$d/$sub", conf))
      write
      logs.foreach(relist(_, sub, conf))
    }
    !done
  }

  // ---------------------------------------------------------------- read

  /** Fail-loud completeness check: every manifest-listed file must be
    * present at its recorded length (a lost or truncated file would
    * silently drop committed rows). Unlisted files are tolerated — they
    * are uncommitted debris. A MISSING manifest is an error: sinks seed
    * one at init and compaction seals one before its swap, so a
    * manifest-less log is foreign or the surviving half of a non-atomic
    * (S3-style file-by-file) rename that died mid-swap. Returns the
    * manifest.
    */
  def validate(dir: String, conf: Configuration): Seq[ManifestEntry] = {
    val listed = manifest(dir, conf)(
      s"maintained delta log at $dir has no manifest — sinks write one from " +
        "batch 0 and compaction writes one before its swap, so this directory is foreign or " +
        "a torn compaction swap; refusing to serve unverifiable state")
    val present = files(dir, conf).toMap
    val missing = listed.filterNot(e => present.contains(e.name))
    require(missing.isEmpty,
      s"maintained delta log at $dir is INCOMPLETE: manifest lists ${listed.size} " +
        s"files, missing [${missing.map(_.name).mkString(", ")}] — refusing to serve a view " +
        "with silently dropped mutations")
    listed.foreach { e =>
      require(present(e.name) == e.length,
        s"delta file ${e.name} at $dir is ${present(e.name)}B, manifest says ${e.length}B (torn)")
    }
    listed
  }

  /** The committed rows of a log: validated, then one directory read
    * pruned to the batch partitions the manifest lists (partition pruning
    * at planning — no extra listing, job or data pass), so a dead
    * attempt's files never leak into a count, a guard or a fold. An empty
    * log reads as a typed empty relation of the `empty` DDL schema.
    */
  def read(spark: SparkSession, dir: String, empty: String): DataFrame =
    rows(spark, dir).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType.fromDDL(empty)))

  /** [[read]] for callers that skip work on an empty log: None when the
    * manifest lists nothing.
    */
  def rows(spark: SparkSession, dir: String): Option[DataFrame] = {
    val keys = batchKeys(validate(dir, spark.sparkContext.hadoopConfiguration))
    if (keys.isEmpty) None
    else Some(spark.read.parquet(dir)
      .where(col("batch").cast("string").isin(keys.map(_.stripPrefix("batch=")): _*)))
  }

  /** Time travel over a versioned log's rows: versions at or below `v`.
    * Compaction collapses each id's history to its winning rows in
    * `batch=compacted`, so the newest compacted version is the horizon —
    * at or above it every compacted winner already satisfies version <= v
    * (an exact read); below it overwritten or removed state is gone and
    * the read fails loudly instead of silently missing it. (The partition
    * column is int-inferred while no compacted batch exists — the string
    * cast keeps the filter well-typed in both layouts.)
    */
  def asOf(rows: DataFrame, dir: String, v: Long, indexDir: String, compactCall: String,
      conf: Configuration): DataFrame = {
    if (Manifest.read(dir, conf).exists(_.exists(_.name.startsWith(Compacted + "/")))) {
      val floor = rows.filter(col("batch").cast("string") === "compacted")
        .agg(max(col("version"))).head().get(0)
      if (floor != null) require(v >= floor.asInstanceOf[Long],
        s"as-of version $v predates the compaction horizon $floor of $indexDir — history " +
          s"below the newest compacted version was collapsed by $compactCall and " +
          "cannot be replayed; keep the delta log un-compacted as far back as reads need")
    }
    rows.filter(col("version") <= v)
  }

  // ---------------------------------------------------------------- swap

  /** The one resume rule: live missing ⇒ the crash fell between the
    * swap's delete and rename, so `tmp` must be complete and is renamed
    * into place (returns true); live present ⇒ `tmp` is a stale
    * interrupted build and is deleted. Neither present: nothing to do.
    * [[swap]] checks the tmp before it deletes live, so live missing
    * beside an incomplete tmp means live never existed: for a log (seeded
    * at init) that is lost state and throws; for a `sidecar` (created by
    * its first swap) it is a first write that died, and the tmp is dropped.
    */
  def resume(live: String, tmp: String, conf: Configuration, done: Done = Sealed,
      sidecar: Boolean = false): Boolean =
    if (HadoopIO.exists(live, conf)) { HadoopIO.delete(tmp, conf); false }
    else if (!HadoopIO.exists(tmp, conf)) false
    else if (sidecar && !done(tmp, conf)) { HadoopIO.delete(tmp, conf); false }
    else {
      require(done(tmp, conf),
        s"$live is gone and $tmp is incomplete — the swap's tmp is always finished before " +
          "the live directory is deleted, so this state is inconsistent; refusing to resume")
      HadoopIO.rename(tmp, live, conf)
      true
    }

  /** Swap a complete `tmp` over `live`: delete, then rename. A crash
    * between the two leaves only the complete tmp, which [[resume]]
    * finishes; a crash inside a non-atomic rename leaves a partial live
    * log that fails [[validate]].
    */
  def swap(live: String, tmp: String, conf: Configuration, done: Done = Sealed): Unit = {
    require(done(tmp, conf), s"refusing to swap incomplete $tmp over $live")
    HadoopIO.delete(live, conf)
    HadoopIO.rename(tmp, live, conf)
  }

  /** Build `<live>.compact` from scratch with `write` and seal its
    * manifest BEFORE any destructive step; returns the tmp to [[swap]].
    */
  def stage(live: String, conf: Configuration)(write: String => Unit): String = {
    val tmp = s"$live.compact"
    HadoopIO.delete(tmp, conf)
    write(tmp)
    seal(tmp, conf)
    tmp
  }

  /** Rebuild a sidecar: `write` fills a fresh `tmp`, which then swaps over `live`. */
  def replace(live: String, tmp: String, conf: Configuration, done: Done = ParquetDone)(
      write: String => Unit): Unit = {
    HadoopIO.delete(tmp, conf)
    write(tmp)
    swap(live, tmp, conf, done)
  }

  // --------------------------------------------------------------- gates

  /** Un-compacted delta bytes over `baseBytes`, from manifest entries
    * alone (no scan, no job): 0.0 for an empty delta, +∞ when fresh
    * batches sit over no base (a never-compacted log is always worth one
    * pass).
    */
  def deltaRatio(delta: Seq[ManifestEntry], baseBytes: Long): Double = {
    val fresh = delta.filterNot(_.name.startsWith(Compacted + "/")).map(_.length).sum
    if (fresh == 0L) 0.0 else if (baseBytes == 0L) Double.PositiveInfinity else fresh.toDouble / baseBytes
  }

  /** Bytes of the compacted history a delta manifest lists. */
  def compactedBytes(delta: Seq[ManifestEntry]): Long =
    delta.filter(_.name.startsWith(Compacted + "/")).map(_.length).sum

  /** The `*IfNeeded` wrapper: a missing live directory is an interrupted
    * compaction swap — its gauge is unknowable and the compaction IS the
    * resume path, so finish it unconditionally and report `unknown`;
    * otherwise measure and compact only when `fire` says so. Returns
    * (gauge, whether a compaction ran).
    */
  def gate[A](live: Seq[String], unknown: A, conf: Configuration)(gauge: => A)(fire: A => Boolean)(
      compact: => Unit): (A, Boolean) =
    if (live.exists(d => !HadoopIO.exists(d, conf))) { compact; (unknown, true) }
    else {
      val g = gauge
      val ran = fire(g)
      if (ran) compact
      (g, ran)
    }

  /** Batch ids folded away by [[fold]] under `indexDir` — the replay
    * guard of the count-accumulating logs. A surviving complete
    * `folded.tmp` counts too: it is the complete successor sidecar (old
    * ids ∪ the ids being folded) of a swap interrupted between its delete
    * and rename, so every id in it is committed; a torn tmp never
    * renamed, and the batches it would list are still in the log.
    */
  def foldedIds(spark: SparkSession, indexDir: String): Set[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def ids(d: String) = spark.read.parquet(d).select("batch_id").collect().map(_.getLong(0)).toSet
    val live = s"$indexDir/folded"
    (if (HadoopIO.exists(live, conf)) ids(live) else Set.empty[Long]) ++
      (if (ParquetDone(s"$live.tmp", conf)) ids(s"$live.tmp") else Set.empty[Long])
  }

  /** Fold compaction of a count-accumulating log (`indexDir/liveName`):
    * `compute()` runs over the untouched live log and returns the writer
    * of the folded `batch=compacted` content. Sequence, and the crash
    * window each step covers:
    *
    *  1. resume a torn folded-sidecar swap — the guard's only copy of the
    *     previously folded ids is never deleted;
    *  2. resume a torn log swap (and return);
    *  3. fold-compute (a failure changes nothing); batch ids come off the
    *     live manifest — the committed set, no job, no stray dir;
    *  4. the sidecar (previous ∪ every numeric batch id being folded)
    *     swaps in BEFORE the destructive log swap, so a redelivery of a
    *     folded micro-batch skips instead of double-counting;
    *  5. the compacted log stages with its manifest and swaps in. A crash
    *     between 4 and 5 leaves batches both listed and still present;
    *     consumers skip them either way.
    */
  def fold(spark: SparkSession, indexDir: String, liveName: String)(compute: () => String => Unit): Unit = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val live = s"$indexDir/$liveName"
    val folded = s"$indexDir/folded"
    resume(folded, s"$folded.tmp", conf, ParquetDone, sidecar = true)
    if (resume(live, s"$live.compact", conf)) return
    val keys = batchKeys(validate(live, conf)).map(_.stripPrefix("batch="))
    if (keys.isEmpty) return
    val write = compute()
    val ids = foldedIds(spark, indexDir) ++ keys.filter(k => k.nonEmpty && k.forall(_.isDigit)).map(_.toLong)
    replace(folded, s"$folded.tmp", conf)(ids.toSeq.sorted.toDF("batch_id").coalesce(1).write.parquet(_))
    swap(live, stage(live, conf)(write), conf)
  }
}
