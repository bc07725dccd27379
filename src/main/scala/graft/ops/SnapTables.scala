package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A publication lost to concurrency under the single-writer protocol:
  * another writer holds (or just released) the claim, or the pointer
  * advanced past the generation the verb planned against. Every such
  * loss is TRANSIENT BY CONSTRUCTION — the table is in a consistent
  * state, nothing of the loser's was published, and re-resolving and
  * re-running the verb can succeed — which is exactly what
  * [[SnapTables.retryingPublish]] automates. Deliberately a subclass of
  * IllegalStateException so callers that match on the broad class keep
  * working; the message carries the operator instruction (wait / retry /
  * reclaimStale) for the unattended-exhaustion case.
  */
final class SnapConflict(msg: String, cause: Throwable = null)
    extends IllegalStateException(msg, cause)

/** Snapshot-manifest storage for the durable index tables — the one
  * publication layer of every index family that changes after its first
  * publish (the text families, the IVF-PQ codes, the binary-quant code
  * index), and the mechanical fix for the contract an in-place
  * storage-truth rewrite can only carry as documentation ("do not serve
  * while the rewrite runs"). An in-place dynamic partition overwrite
  * deletes the files a concurrent reader's plan may already hold, so
  * serving during maintenance is a race; here a rewrite never deletes
  * anything a published generation references:
  *
  *  - data files live in the ordinary `part=<v>/` directories (one shared
  *    pool; files are immutable once written);
  *  - `path/_manifests/gen-%06d.tsv` lists, per partition value, exactly
  *    the file names that generation serves;
  *  - `path/_generation` is a one-line pointer to the current generation,
  *    written via write-then-RENAME (atomic on HDFS/local), so a crash
  *    leaves the old pointer or the new one, never a truncated one.
  *
  * A rewrite appends NEW files for the affected partitions only (bounded
  * I/O — the affected-partition shape of an in-place dynamic overwrite,
  * without its delete), then publishes a new manifest that references the
  * new files for affected partitions and the PRIOR generation's files
  * everywhere else. Readers resolved before the flip keep serving the old
  * generation's (still present) files; readers resolved after see the new
  * ones; the flip itself is one atomic rename. Unreferenced files are
  * reclaimed later by [[expire]] — an explicitly separate step, so space
  * reclamation (which DOES invalidate old readers) is an operator
  * decision with its own timing, exactly the Iceberg/Delta
  * snapshot-expiry contract re-derived on plain parquet + JSON.
  *
  * Single-writer ENFORCEMENT (`withClaim`; without it two writers that read
  * generation N would both publish N+1 and the loser's publication would
  * be orphaned silently): every publish verb first CLAIMS its target
  * generation via a create-exclusive lock marker
  * (`_manifests/.publish-%06d.lock`) and then re-checks the pointer is
  * still at its base — the second writer of a race fails loudly at the
  * claim or at the re-check, never silently. The marker is released in
  * `finally`, so only a PROCESS CRASH mid-publication leaves one behind; a
  * later writer then fails with instructions to run [[reclaimStale]] (the
  * operator verb that deletes markers above the pointer once the crashed
  * writer is known dead). [[appendBatch]] writes its stream identity +
  * batch id into the marker, so ITS crash-replay recognizes its own
  * leftover claim and proceeds — the streamed ingest path stays
  * self-healing with no manual step. Markers at or below the pointer are
  * dead by construction (every future claim targets pointer+1) and are
  * swept by [[expire]].
  *
  * Manifests are plain tab-separated lines (`partValue TAB file TAB
  * file…`) — parquet task-file names contain no tabs or newlines, so no
  * quoting layer is needed and `hfs.open` + split is the whole parser; no
  * external formats. FORMAT HISTORY: manifests were `gen-%06d.json` before
  * round 17 and are `.tsv` since, with no read fallback — the change is
  * BREAKING for a table published by pre-r17 code (resolve fails with
  * "missing manifest …tsv", and expire never reclaims stale `.json`
  * files). Acceptable here because snapshot tables have only ever lived in
  * per-JVM [[graft.Scratch]] dirs; a durably persisted pre-r17 table must
  * be republished ([[publishInitial]] on the resolved old frame).
  *
  * Scale shape: a manifest holds one entry per (partition, file) — for the
  * 64-bucket index families that is tens of entries, KBs of text; at
  * thousands of partitions it is still MBs read once per serve session.
  * A serve plans from the manifest alone: the resolved DataFrame is a
  * parquet `HadoopFsRelation` over a [[ManifestFileIndex]] built from one
  * driver-side `getFileStatus` per listed file and the Spark schema in one
  * footer. It runs no schema-inference or listing job, however many files
  * the generation holds, and partition-column pruning (DPP included) and
  * column pruning behave exactly as on a directory scan.
  *
  * Partition columns are INT-valued (every durable table here partitions
  * by an int hash bucket / cluster id); a write that leaves a directory
  * whose value is not an INT (a null partition value, or a non-int column)
  * is undone and refused rather than corrupting a manifest.
  */
object SnapTables {

  private val PointerName = "_generation"
  private val ManifestDir = "_manifests"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def genName(gen: Int): String = f"gen-$gen%06d.tsv"

  private def markerPath(root: Path, gen: Int): Path =
    new Path(new Path(root, ManifestDir), f".publish-$gen%06d.lock")

  /** Create `p` with `body` atomically-exclusively. Hadoop's
    * `FileSystem.create(p, overwrite=false)` is genuinely atomic on HDFS
    * but CHECK-THEN-ACT on RawLocalFileSystem (exists() + create), so two
    * local racers can both pass — the two-concurrent-writers spec caught
    * exactly that (both published gen 1; one writer's manifest tmp
    * vanished under the other). On a file:// scheme we drop to
    * java.nio `CREATE_NEW` (O_CREAT|O_EXCL — kernel-atomic); everywhere
    * else the Hadoop exclusive create is the real thing.
    */
  private def createExclusive(hfs: FileSystem, p: Path,
      body: Array[Byte]): Unit = {
    // The CREATE and the WRITE are separate operations. A write/close
    // failure (disk full) AFTER a successful exclusive create must not
    // leave OUR OWN empty marker behind: claimGeneration would then read
    // it back and mis-diagnose "claimed by another writer ('')", and every
    // later writer stays blocked on a marker nobody holds until a manual
    // reclaimStale. Delete what this process created before rethrowing —
    // the create's exclusivity already proved nobody else owns the path.
    if (hfs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      val ch = java.nio.file.Files.newByteChannel(local,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      try { ch.write(java.nio.ByteBuffer.wrap(body)); () }
      catch { case e: Throwable =>
        // a double fault (ENOSPC write, then close failing on the flush)
        // must still reach the delete — and the WRITE error is the root
        // cause worth propagating, not the close's
        try ch.close() catch { case _: Throwable => () }
        java.nio.file.Files.deleteIfExists(local)
        throw e
      }
      finally ch.close()
    } else {
      val out = hfs.create(p, false)
      try { out.write(body); out.close() }
      catch { case e: Throwable =>
        try out.close() catch { case _: Throwable => () }
        hfs.delete(p, false); throw e
      }
    }
  }

  /** Create-exclusive claim of the target generation — the single-writer
    * ENFORCEMENT point (object doc). `identity` is written into the marker;
    * a claim that finds an existing marker with the SAME identity is a
    * crash-replay of the same logical publication (appendBatch's streamId +
    * batchId) and keeps the claim. Any other existing marker throws: either
    * a concurrent writer is mid-publication, or a crashed one left its
    * marker — the caller cannot tell from here, the OPERATOR can (the
    * crashed writer's process is gone), hence [[reclaimStale]].
    */
  private def claimGeneration(hfs: FileSystem, root: Path, gen: Int,
      identity: String): Unit = {
    val dir = new Path(root, ManifestDir)
    if (!hfs.exists(dir)) hfs.mkdirs(dir)
    val mp = markerPath(root, gen)
    try {
      createExclusive(hfs, mp, identity.getBytes("UTF-8"))
    } catch {
      case e: java.io.IOException =>
        val existing = try {
          val in = hfs.open(mp)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        } catch { case _: java.io.IOException => "" }
        if (existing.nonEmpty && existing == identity) () // our own replay
        else if (existing.isEmpty && !hfs.exists(mp)) throw new SnapConflict(
          // the competing claim vanished between our failed create and this
          // read: its writer COMPLETED and released — nothing is torn, a
          // plain re-resolve-and-retry succeeds; steering the operator to
          // reclaimStale here would delete a future writer's live claim
          s"SnapTables: lost the claim race for generation $gen of $root to a " +
            "writer that already completed its publication — re-resolve and retry",
          e)
        else if (existing.isEmpty) throw new SnapConflict(
          // empty marker: EITHER a live writer between its create and its
          // identity write (retry resolves this) OR a crashed writer's torn
          // marker (only reclaimStale does). Do not prescribe reclaim
          // unconditionally — against a live mid-write claim it re-opens
          // the two-writer race this lock exists to prevent.
          s"SnapTables: generation $gen of $root carries an empty claim marker — " +
            "either a concurrent writer is mid-claim (retry shortly) or a " +
            "writer crashed between creating and writing its marker (a TORN " +
            "claim; if the empty marker persists and no publish is in flight, " +
            "run SnapTables.reclaimStale(path))",
          e)
        else throw new SnapConflict(
          s"SnapTables: generation $gen of $root is claimed by another writer " +
            s"('$existing') — either a concurrent publish is in flight (wait for " +
            "it; this table advanced past your read) or a crashed writer left " +
            "its claim (verify it is dead, then SnapTables.reclaimStale(path))",
          e)
    }
  }

  private def releaseGeneration(hfs: FileSystem, root: Path, gen: Int): Unit = {
    hfs.delete(markerPath(root, gen), false)
    ()
  }

  /** Run `body` holding the claim on the generation after `base` (0 when
    * None), the single-writer step of every publish verb and [[expire]]. A
    * pointer that moved off `base` before the claim landed throws
    * [[SnapConflict]] naming `who`; the claim is released however `body` ends.
    */
  private def withClaim[T](spark: SparkSession, hfs: FileSystem, path: String,
      base: Option[Int], who: String, identity: String)(body: => T): T = {
    val root = new Path(path)
    val gen = base.fold(0)(_ + 1)
    claimGeneration(hfs, root, gen, identity)
    try {
      if (currentGeneration(spark, path) != base) throw new SnapConflict(base.fold(
        s"SnapTables: $path was published concurrently during $who's claim")(g =>
        s"SnapTables: $path advanced past generation $g during $who's claim — " +
          "re-resolve and retry"))
      body
    } finally releaseGeneration(hfs, root, gen)
  }

  /** The current generation of a table that must already be published. */
  private def publishedGeneration(spark: SparkSession, path: String): Int =
    currentGeneration(spark, path).getOrElse(
      throw new IllegalStateException(s"SnapTables: $path has no published generation"))

  /** Operator recovery verb: delete publication claims ABOVE the pointer —
    * these belong to writers that crashed mid-publication (a live writer
    * would still be holding one, so run this only when no maintenance job
    * is in flight on the table). Claims at or below the pointer are dead
    * regardless (no future claim can target them) and are swept by
    * [[expire]]. Returns the generations whose claims were removed.
    */
  def reclaimStale(spark: SparkSession, path: String): Seq[Int] = {
    val root = new Path(path)
    val hfs = fs(spark, path)
    val cur = currentGeneration(spark, path).getOrElse(-1)
    val dir = new Path(root, ManifestDir)
    if (!hfs.exists(dir)) return Nil
    hfs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(".publish-"))
      .flatMap { p =>
        val g = p.getName.stripPrefix(".publish-").stripSuffix(".lock").toInt
        if (g > cur) { hfs.delete(p, false); Some(g) } else None
      }.sorted
  }

  /** Run a publish verb, retrying on [[SnapConflict]] with doubling
    * backoff — the multi-writer convenience the enforcement layer makes
    * safe: every verb reads its base generation internally, plans against
    * it and publishes only onto it, so a lost race leaves the table
    * consistent and a plain re-run is the correct response. Wrap the WHOLE
    * verb call (`retryingPublish() { deleteByKey(...) }`), never a body
    * holding a pre-resolved frame — a stale plan is exactly what the
    * conflict rejected. After `attempts` losses the last conflict
    * propagates with its operator instruction intact (a crashed writer's
    * orphaned claim never self-resolves — retry exhaustion is how it
    * surfaces to the operator, who then runs [[reclaimStale]]). Deterministic backoff, no
    * jitter: two retrying writers cannot lockstep-collide here because
    * the claim itself serializes them — whoever arrives second loses
    * THAT round and succeeds on a later one.
    */
  def retryingPublish[T](attempts: Int = 5, backoffMs: Long = 50)
      (body: => T): T = {
    require(attempts >= 1, s"SnapTables: attempts must be >= 1, got $attempts")
    var delay = backoffMs
    var i = 1
    while (i < attempts) {
      try return body
      catch { case _: SnapConflict =>
        Thread.sleep(delay)
        delay = math.min(delay * 2, 5000L)
        i += 1
      }
    }
    body // final attempt: a conflict here propagates to the caller
  }

  /** Atomic pointer write: tmp + OVERWRITE-rename via [[FileContext]] — the
    * Hadoop API whose rename atomically REPLACES an existing destination
    * (local and HDFS), so a concurrent reader always observes either the
    * old pointer or the new one. A `FileSystem.rename` would refuse an
    * existing destination, and delete-then-rename would open exactly the
    * window this layer exists to close: a resolve() between the delete and
    * the rename would find no pointer at all and throw mid-serve.
    */
  private def writePointer(hfs: FileSystem, root: Path, gen: Int): Unit = {
    val tmp = hfs.makeQualified(new Path(root, s".$PointerName.tmp"))
    val out = hfs.create(tmp, true)
    out.write(gen.toString.getBytes("UTF-8"))
    out.close()
    val dst = hfs.makeQualified(new Path(root, PointerName))
    org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, hfs.getConf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Current generation number, or None for an unpublished path. An empty
    * or torn pointer (crash between create and close under a non-atomic
    * writer) is rejected loudly — with rename-based publication it cannot
    * occur, so its presence means a foreign writer touched the table.
    *
    * Missing-pointer handling: on HDFS the OVERWRITE-rename in
    * [[writePointer]] is atomic, so a published table's pointer is never
    * absent. On the LOCAL filesystem, however, `FileContext.rename(…,
    * OVERWRITE)` bottoms out in delete-then-rename: the session's `file:`
    * delegate, [[graft.streaming.ForkFreeRawLocalFs]], keeps the stock
    * `AbstractFileSystem#rename` (delete the destination, then
    * `RawLocalFileSystem#rename`) and only changes how permissions are
    * applied and links are read, leaving a microscopic
    * no-pointer window during a flip — so a miss is retried ONCE after a
    * short pause before concluding the table is unpublished. The retry
    * costs one 20 ms pause only on genuinely unpublished paths (each
    * publishInitial pays it once); a mid-flip reader on local FS sees the
    * new pointer on the second look instead of throwing mid-serve.
    */
  def currentGeneration(spark: SparkSession, path: String): Option[Int] = {
    val hfs = fs(spark, path)
    val p = new Path(path, PointerName)
    if (!hfs.exists(p)) {
      Thread.sleep(20)
      if (!hfs.exists(p)) return None
    }
    // LOCAL-FS FLIP WINDOW #2 (a true two-thread race caught it): the
    // ChecksumFileSystem wrapping RawLocalFileSystem renames the data file
    // and its .crc sidecar as TWO operations, so a reader between them sees
    // the new pointer bytes under the old checksum — ChecksumException, not
    // old-or-new. Same shape as the missing-pointer window above, same
    // remedy: brief bounded retries (driver-side µs-read; HDFS renames are
    // atomic and never enter this loop). An open racing the delete half of
    // the local delete-then-rename gets the same retry via the FNFE case.
    var attempt = 0
    while (true) {
      try {
        val in = hfs.open(p)
        val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        require(raw.nonEmpty && raw.forall(_.isDigit),
          s"SnapTables: corrupt generation pointer '$raw' at $p")
        return Some(raw.toInt)
      } catch {
        case e @ (_: org.apache.hadoop.fs.ChecksumException |
                  _: java.io.FileNotFoundException) =>
          if (attempt >= 5) throw e
          attempt += 1
          Thread.sleep(10L * attempt)
      }
    }
    None // unreachable — the loop returns or throws
  }

  /** One parsed manifest: the file listing plus the '#'-header records
    * ([[appendBatch]]'s batch high-water mark, the publishing stream's
    * checkpoint identity, and — round 19 — the zone-map stats: the name of
    * the tracked key column plus one (partition, file) → [min,max] line
    * per data file, the Iceberg per-file stats shape re-derived on the
    * TSV manifest). Parsed in ONE read — every publish consults both the
    * entries and the headers, and the ingest hot path runs once per
    * micro-batch.
    */
  private case class Manifest(entries: Map[Int, Seq[String]],
      batchId: Option[Long], streamId: Option[String],
      statsCol: Option[String] = None,
      zones: Map[(Int, String), (Long, Long)] = Map.empty)

  private def readManifestFull(hfs: FileSystem, root: Path, gen: Int): Manifest = {
    val p = new Path(new Path(root, ManifestDir), genName(gen))
    require(hfs.exists(p), s"SnapTables: missing manifest $p")
    val in = hfs.open(p)
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    // format: one "partValue TAB file TAB file..." line per partition —
    // written by writeManifest below; '#'-prefixed header lines carry
    // generation metadata
    val lines = raw.split("\n").iterator.filter(_.nonEmpty).toSeq
    Manifest(
      entries = lines.filterNot(_.startsWith("#")).map { line =>
        val cols = line.split("\t")
        cols.head.toInt -> cols.tail.toSeq
      }.toMap,
      batchId = lines.find(_.startsWith("#batch\t"))
        .map(_.stripPrefix("#batch\t").trim.toLong),
      streamId = lines.find(_.startsWith("#stream\t"))
        .map(_.stripPrefix("#stream\t").trim).filter(_.nonEmpty),
      statsCol = lines.find(_.startsWith("#statscol\t"))
        .map(_.stripPrefix("#statscol\t").trim).filter(_.nonEmpty),
      zones = lines.filter(_.startsWith("#zone\t")).map { line =>
        val c = line.split("\t") // ["#zone", part, file, min, max]
        (c(1).toInt, c(2)) -> (c(3).toLong, c(4).toLong)
      }.toMap)
  }

  /** The highest [[appendBatch]] batch id published at or before `gen` —
    * the replay-detection record, stored in the manifest itself so the
    * exactly-once decision and the file list it protects are one atomic
    * artifact. Every publish verb CARRIES the header forward (a compaction
    * or delete between an unacknowledged streaming batch and its replay
    * must not amnesia the high-water mark — that would re-open the
    * duplication window the header closes).
    */
  def lastAppendBatch(spark: SparkSession, path: String, gen: Int): Option[Long] =
    readManifestFull(fs(spark, path), new Path(path), gen).batchId

  private def writeManifest(hfs: FileSystem, root: Path, gen: Int,
      entries: Map[Int, Seq[String]], batchId: Option[Long] = None,
      streamId: Option[String] = None, statsCol: Option[String],
      zones: Map[(Int, String), (Long, Long)]): Unit = {
    val dir = new Path(root, ManifestDir)
    if (!hfs.exists(dir)) hfs.mkdirs(dir)
    val tmp = new Path(dir, s".${genName(gen)}.tmp")
    val out = hfs.create(tmp, true)
    // zone lines are restricted to files this manifest references — a
    // carried-forward map may still hold entries for files a rewrite
    // just superseded
    val live = entries.toSeq.flatMap { case (v, fs) => fs.map(v -> _) }.toSet
    val body = (batchId.map(b => s"#batch\t$b").toSeq ++
      streamId.map(sid => s"#stream\t$sid").toSeq ++
      statsCol.map(c => s"#statscol\t$c").toSeq ++
      zones.toSeq.filter(z => live(z._1)).sortBy(_._1)
        .map { case ((v, f), (mn, mx)) => s"#zone\t$v\t$f\t$mn\t$mx" } ++
      entries.toSeq.sortBy(_._1)
        .map { case (v, files) => (v.toString +: files.sorted).mkString("\t") })
      .mkString("\n")
    out.write(body.getBytes("UTF-8"))
    out.close()
    // a destination manifest can already exist after a crash BETWEEN a prior
    // attempt's manifest write and its pointer flip — that manifest was never
    // served (the pointer still names gen-1), so replacing it is safe, and
    // HDFS/local rename does NOT overwrite an existing destination: without
    // this delete the retried publish would die on an opaque rename failure
    val dst = new Path(dir, genName(gen))
    if (hfs.exists(dst)) hfs.delete(dst, false)
    require(hfs.rename(tmp, dst),
      s"SnapTables: manifest rename failed for gen $gen")
  }

  /** Data-file names on disk per partition directory, keyed by the value
    * in its `partCol=<value>` name as written. One `listStatus` of the root
    * and one per partition directory, all on the driver, so a publish's
    * before/after pair on a P-partition table costs 2(P+1) listings. No
    * table here has more than 64 partitions (the index families' default
    * bucket count; CMS has 8, the ANN codes 22 cells), where that is less
    * than one Spark job.
    */
  private def listPartitionFiles(hfs: FileSystem, root: Path,
      partCol: String): Map[String, Seq[String]] = {
    if (!hfs.exists(root)) return Map.empty
    hfs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map { d =>
        d.getPath.getName.stripPrefix(s"$partCol=") ->
          hfs.listStatus(d.getPath).toSeq.map(_.getPath.getName)
            .filter(n => !n.startsWith(".") && !n.startsWith("_"))
      }.toMap
  }

  /** Write `df` into its partition directories and return the data files
    * the write added, per partition value. Sound only while the caller
    * holds the claim: no other writer adds files then, so the diff of the
    * listings of every partition directory just before and just after the
    * write is exactly this write's output. That makes the write the one
    * computation of `df`: the touched partitions, emptiness and a rewrite's
    * stray check all read the diff, never a probe of the caller's frame.
    * A row whose partition value is null lands in a directory whose value
    * is not an INT (`__HIVE_DEFAULT_PARTITION__`); such a write is undone
    * and refused.
    */
  private def writeAdded(hfs: FileSystem, path: String, partCol: String,
      df: DataFrame): Map[String, Seq[String]] = {
    val root = new Path(path)
    val before = listPartitionFiles(hfs, root, partCol)
    // one shuffle keyed on the partition column bounds the file count at
    // ~one per partition (AQE coalesces small ones): resolve() stats every
    // manifest file and the scan opens each one, so a 32-task ×
    // 64-partition fan-out write would hand every later serve thousands
    // of files (measured +2.5 s warm on the winnow serve) and bloat every
    // manifest
    df.repartition(col(partCol))
      .write.mode("append").partitionBy(partCol).parquet(path)
    val added = listPartitionFiles(hfs, root, partCol)
      .map { case (v, names) => v -> names.diff(before.getOrElse(v, Nil)) }
      .filter(_._2.nonEmpty)
    val notInt = added.keys.filter(_.toIntOption.isEmpty)
    if (notInt.nonEmpty) {
      discard(hfs, root, partCol, added)
      throw new IllegalArgumentException(
        s"SnapTables: rows with a null or non-INT $partCol landed in " +
          s"${notInt.toSeq.sorted.map(v => s"$partCol=$v").mkString(", ")} at " +
          s"$path — partition values must be non-null INTs; the write was undone")
    }
    added
  }

  /** Delete `added`, the files a refused write just made, and every
    * directory among theirs left without a data file, so the refusal
    * leaves the partition directories as they were.
    */
  private def discard(hfs: FileSystem, root: Path, partCol: String,
      added: Map[String, Seq[String]]): Unit =
    added.foreach { case (v, names) =>
      val dir = new Path(root, s"$partCol=$v")
      names.foreach(n => hfs.delete(new Path(dir, n), false))
      if (hfs.listStatus(dir).forall(_.getPath.getName.startsWith(".")))
        hfs.delete(dir, true)
    }

  private def byValue(files: Map[String, Seq[String]]): Map[Int, Seq[String]] =
    files.map { case (v, names) => v.toInt -> names }

  /** Per-file [min,max] of `statsCol` for exactly the given new files —
    * ONE scan of the delta, never of the table (zone maintenance must cost
    * what the publish itself costs, not a full-table pass). Integral key
    * columns only (every durable table here keys on int/long hashes); a
    * file whose keys are all null simply gets no zone line and is never
    * pruned. Zones key on (partition, file name): task-file names are
    * unique PER TASK, not per file — one task writing two partition
    * directories reuses its part-00000-<uuid> name in both, so the bare
    * name alone is ambiguous; the (partCol=v, name) pair from the scanned
    * path is not.
    */
  private def computeZones(spark: SparkSession, path: String, partCol: String,
      statsCol: String, newFiles: Map[Int, Seq[String]]):
      Map[(Int, String), (Long, Long)] = {
    val expected = newFiles.toSeq
      .flatMap { case (v, ns) => ns.map(v -> _) }.toSet
    if (expected.isEmpty) return Map.empty
    frameOf(spark, path, partCol, newFiles, s"the new files of $path")
      .groupBy(input_file_name().as("__zf"))
      .agg(min(col(statsCol).cast("long")).as("__mn"),
        max(col(statsCol).cast("long")).as("__mx"))
      .collect().toSeq
      .filterNot(r => r.isNullAt(1) || r.isNullAt(2))
      .flatMap { r =>
        val segs = r.getString(0).split('/')
        val key = (segs(segs.length - 2).stripPrefix(s"$partCol=").toInt,
          segs.last)
        if (expected(key)) Some(key -> (r.getLong(1), r.getLong(2))) else None
      }.toMap
  }

  /** First publication: write `df` partitioned by `partCol` into `path`,
    * record every written file in manifest gen-0, flip the pointer.
    *
    * `statsCol` (round 19) opts the table into manifest-level data
    * skipping: gen-0 records per-file [min,max] of that integral column,
    * and EVERY later publish verb maintains the stats automatically (they
    * read the column name from the base manifest — callers never re-pass
    * it). A serve that filters the stats column then skips whole FILES,
    * not just partitions (see [[ManifestFileIndex]]).
    */
  def publishInitial(spark: SparkSession, path: String, partCol: String,
      df: DataFrame, statsCol: Option[String] = None): Unit = {
    val root = new Path(path)
    val hfs = fs(spark, path)
    require(currentGeneration(spark, path).isEmpty,
      s"SnapTables: $path is already published — use rewritePartitions")
    withClaim(spark, hfs, path, None, "the initial publish",
        java.util.UUID.randomUUID().toString) {
      // append into a REQUIRED-empty directory, not mode(overwrite): the
      // overwrite would delete the whole root including the claim marker
      // just taken, re-opening the two-initial-publishers race mid-write.
      // On an empty root the two modes write identical files; a non-empty
      // one is refused (a crashed pre-publication writer's leftovers are
      // indistinguishable from data — the operator clears the directory).
      require(listPartitionFiles(hfs, root, partCol).isEmpty,
        s"SnapTables: $path already holds partition directories but no " +
          "generation pointer — clear the directory before publishInitial")
      val written = byValue(writeAdded(hfs, path, partCol, df))
      val zones = statsCol.map(computeZones(spark, path, partCol, _, written))
        .getOrElse(Map.empty)
      writeManifest(hfs, root, 0, written, statsCol = statsCol, zones = zones)
      writePointer(hfs, root, 0)
    }
  }

  /** The frame over exactly `files` (partition value → file names under
    * `path`), planned from that list alone: one `getFileStatus` per file
    * and one footer read, both on the driver, feed a [[ManifestFileIndex]]
    * behind a parquet `HadoopFsRelation`. Nothing is listed and no Spark
    * job runs; partition filters (DPP's included) prune inside the index,
    * and so do filters on `statsCol` by the files' `zones`.
    * The data schema is the one Spark wrote into the first file's footer,
    * made nullable as a file-source read makes it, with the INT partition
    * column last. A file that is gone fails here, naming `what`.
    */
  private def frameOf(spark: SparkSession, path: String, partCol: String,
      files: Map[Int, Seq[String]], what: String, statsCol: Option[String] = None,
      zones: Map[(Int, String), (Long, Long)] = Map.empty): DataFrame = {
    val hfs = fs(spark, path)
    val root = hfs.makeQualified(new Path(path))
    val statuses = files.filter(_._2.nonEmpty).map { case (v, names) =>
      v -> names.sorted.map { n =>
        val p = new Path(root, s"$partCol=$v/$n")
        try hfs.getFileStatus(p)
        catch { case e: java.io.FileNotFoundException =>
          throw new IllegalStateException(s"SnapTables: $what references " +
            s"$p, which is gone (reclaimed by expire?) — only retained " +
            "generations resolve", e)
        }
      }.toArray
    }
    val index = new ManifestFileIndex(root, partCol, statuses, statsCol, zones)
    val first = statuses.minBy(_._1)._2.head
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      footerSchema(hfs, first), None, new ParquetFileFormat, Map.empty)(spark))
  }

  /** The Spark schema recorded in one parquet footer (the row-metadata key
    * every Spark parquet write sets), nullable throughout.
    */
  private def footerSchema(hfs: FileSystem, file: FileStatus): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, hfs.getConf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally reader.close()
    require(json != null,
      s"SnapTables: ${file.getPath} carries no Spark schema — not written by Spark")
    def nullable(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    nullable(DataType.fromJson(json)).asInstanceOf[StructType]
  }

  /** The table as the CURRENT generation serves it: a parquet scan over
    * exactly the manifest's files, planned from the manifest alone (see
    * `frameOf`). Files a later rewrite adds are invisible to this frame,
    * and files it supersedes stay on disk until [[expire]] — so a plan
    * resolved here keeps returning this generation's rows even while a
    * rewrite publishes the next one. Junk files in the partition
    * directories (a crashed writer's orphans) are equally invisible:
    * readers trust manifests, never directory listings. Two resolves of
    * one generation are the same relation (exchange reuse and the cache
    * manager see one table); two generations are not. On a table published
    * with a `statsCol`, a filter on that column also skips the files whose
    * zones cannot match it ([[ManifestFileIndex]]).
    */
  def resolve(spark: SparkSession, path: String, partCol: String): DataFrame =
    resolveAt(spark, path, partCol, publishedGeneration(spark, path))

  /** Time-travel read of a specific retained generation, planned like
    * [[resolve]] with no Spark job. An expired generation fails here: a
    * dropped manifest as "missing manifest", a reclaimed file naming the
    * generation and the table.
    */
  def resolveAt(spark: SparkSession, path: String, partCol: String,
      gen: Int): DataFrame = {
    val m = readManifestFull(fs(spark, path), new Path(path), gen)
    require(m.entries.values.exists(_.nonEmpty),
      s"SnapTables: generation $gen of $path is empty")
    frameOf(spark, path, partCol, m.entries, s"generation $gen of $path",
      m.statsCol, m.zones)
  }

  /** Incremental (CDC-style) read: the rows ADDED between `fromGen`
    * (exclusive) and `toGen` (inclusive), planned purely from manifests —
    * the manifest index over the files `toGen` references that `fromGen`
    * does not, job-free like [[resolve]]. This is Iceberg's append-only
    * incremental scan re-derived: it is SOUND only over a chain of pure append
    * publications, so the verb walks every adjacent manifest pair in the
    * range and REFUSES loudly if any step dropped or replaced a file (a
    * delete-rewrite, compaction, or rollback in the range means "files new
    * to toGen" no longer equals "rows new since fromGen" — a compaction's
    * rewritten file would replay old rows as changes, and removed rows
    * would be silently unrepresented). Both endpoint manifests must still
    * be retained (not [[expire]]d). Cost: manifest reads (driver-side KBs)
    * plus a scan of ONLY the delta files — at 100 TB a consumer keeping up
    * with a streamed ingest reads each generation's appended files once,
    * never the accumulated table.
    */
  def appendedBetween(spark: SparkSession, path: String, partCol: String,
      fromGen: Int, toGen: Int): DataFrame = {
    require(fromGen >= 0 && fromGen <= toGen,
      s"SnapTables: invalid generation range [$fromGen, $toGen] for $path")
    val hfs = fs(spark, path)
    val root = new Path(path)
    // walk adjacent pairs: each step must be a pure append (file superset).
    // One manifest read per generation in the range, reusing the previous
    // step's parse — KBs each, driver-side.
    def fileSet(m: Map[Int, Seq[String]]): Set[(Int, String)] =
      m.toSeq.flatMap { case (v, ns) => ns.map(v -> _) }.toSet
    var last = readManifestFull(hfs, root, fromGen)
    val fromSet = fileSet(last.entries)
    var prevSet = fromSet
    (fromGen + 1 to toGen).foreach { g =>
      last = readManifestFull(hfs, root, g)
      val curSet = fileSet(last.entries)
      val dropped = prevSet -- curSet
      if (dropped.nonEmpty) throw new IllegalArgumentException(
        s"SnapTables: generation $g of $path removed or replaced " +
          s"${dropped.size} file(s) of generation ${g - 1} — the range " +
          s"[$fromGen, $toGen] is not an append-only chain, so its file " +
          "delta does not equal its row delta; incremental read supports " +
          "append chains only (read resolveAt(toGen) and diff by key " +
          "instead)")
      prevSet = curSet
    }
    val added = (prevSet -- fromSet).groupMap(_._1)(_._2).map { case (v, ns) => v -> ns.toSeq }
    if (added.isEmpty) resolveAt(spark, path, partCol, toGen).where(lit(false))
    else frameOf(spark, path, partCol, added,
      s"generations ($fromGen, $toGen] of $path", last.statsCol, last.zones)
  }

  /** Bounded-I/O partition rewrite with snapshot-isolated publication,
    * planned and published against ONE generation: the verb reads the
    * current generation N and hands `plan` its frame (`resolveAt(N)`).
    * `None` publishes nothing and returns N. `Some((affected, survivors))`
    * makes the `affected` partitions' content `survivors` (which must cover
    * ONLY those partitions) in generation N+1, and every other partition
    * carries generation N's file list forward untouched. The publication
    * claims N+1 and re-checks that the pointer is still at N, so a plan that
    * another writer's publication outran throws [[SnapConflict]] instead of
    * silently undoing that writer's change (the epoch discipline: planned
    * against a recorded input version, committed only onto it). A `plan`
    * that throws takes no claim and writes nothing. Returns the generation
    * now serving.
    */
  def rewritePartitions(spark: SparkSession, path: String, partCol: String)
      (plan: DataFrame => Option[(Seq[Int], DataFrame)]): Int = {
    val gen = publishedGeneration(spark, path)
    plan(resolveAt(spark, path, partCol, gen)).fold(gen) {
      case (affected, survivors) =>
        rewriteAt(spark, path, partCol, gen, affected, survivors)
    }
  }

  /** Publish `survivors` as the `affected` partitions of generation
    * `gen`+1 under the claim on it. New files are APPENDED into the affected
    * partition directories (parquet task files have unique UUID names, so
    * nothing collides and nothing is deleted); the diff of before/after
    * directory listings identifies them — sound under the single-writer
    * contract. Partitions whose survivors are empty simply vanish from the
    * new manifest (the emptied-directory-drop semantics without the drop).
    * `survivors` is computed once, by the write; the refusals read the diff
    * after it (rows outside `affected`, or nothing left to serve anywhere),
    * delete exactly the files the write added, and throw. A crash ANYWHERE
    * before the final pointer rename leaves generation `gen` fully intact —
    * the orphaned new files are invisible to manifest readers and reclaimed
    * by [[expire]].
    */
  private def rewriteAt(spark: SparkSession, path: String, partCol: String,
      gen: Int, affected: Seq[Int], survivors: DataFrame): Int = {
    val root = new Path(path)
    val hfs = fs(spark, path)
    withClaim(spark, hfs, path, Some(gen), "the rewrite",
        java.util.UUID.randomUUID().toString) {
      val m = readManifestFull(hfs, root, gen)
      val cur = m.entries
      val added = writeAdded(hfs, path, partCol, survivors)
      val newFiles = byValue(added)
      // enforce, don't document, the survivors-cover-only-affected contract: a
      // survivor row in an UNAFFECTED partition would leave a file the new
      // manifest never references — the row looks written but no generation
      // ever serves it, and expire() reclaims it silently
      val stray = (newFiles.keySet -- affected).toSeq.sorted
      if (stray.nonEmpty) {
        discard(hfs, root, partCol, added)
        throw new IllegalArgumentException(
          s"SnapTables: survivors hold rows for partition(s) ${stray.mkString(",")} " +
            s"outside the affected set at $path — those rows would be written but " +
            "never referenced by any generation; fix the caller's affected list")
      }
      // partitions whose survivors are empty drop out; every new file lies in
      // an affected partition, so an empty `next` means nothing was written
      val next = (cur -- affected) ++ newFiles
      require(next.nonEmpty,
        s"SnapTables: the rewrite empties the whole table at $path — an empty " +
          "generation has no readable parquet; drop the table instead")
      // rewrites never change ingest history — carry both headers forward;
      // zone stats: carried-forward files keep their lines (writeManifest
      // drops superseded ones), the rewrite's new files get fresh ones
      val zones = m.statsCol.map(c =>
        m.zones ++ computeZones(spark, path, partCol, c, newFiles))
        .getOrElse(Map.empty)
      writeManifest(hfs, root, gen + 1, next, m.batchId, m.streamId,
        m.statsCol, zones)
      writePointer(hfs, root, gen + 1)
      gen + 1
    }
  }

  /** Storage-truth key-filter delete for a PER-KEY-LOCAL table (every row
    * derives from its own `keyCol` entity alone — the locality that makes
    * append exact makes this delete exact): one semi-join finds the
    * affected partitions, one anti-join rewrites exactly those, and the
    * result publishes as a generation — a concurrent reader of the current
    * generation is never invalidated. No broadcast hint on the removal set:
    * a typical right-to-be-forgotten batch broadcasts under AQE on its own;
    * a bulk purge must degrade to a shuffled join, not OOM. Returns the
    * generation now serving (unchanged when no stored row matched).
    */
  def deleteByKey(spark: SparkSession, path: String, partCol: String,
      keyCol: String, removedKeys: DataFrame): Int =
    rewritePartitions(spark, path, partCol)(
      deleteByKeyPlan(_, partCol, keyCol, removedKeys))

  /** Exact count RETRACTION on an additive side table (the q282
    * NB-retract precedent): `deltas` carries per-key counts to subtract
    * (column `__dec`); affected partitions rewrite with the decremented
    * counts and rows reaching zero drop entirely (a bucket no surviving
    * document occupies must not exist — its presence would shift serve-path
    * guards). Because the side tables are ADDITIVE under append,
    * subtraction of the removed docs' own contributions is exact — the
    * maintained table equals a survivors-only recompute. Duplicate-key
    * deltas pre-aggregate; unknown-key and over-retraction batches fail
    * loudly BEFORE any file is written. The decremented partitions publish
    * as a new generation — concurrent readers (serve-path df caps, bucket
    * guards) keep their statistics until they re-resolve. Returns the
    * generation now serving.
    */
  def decrementCounts(spark: SparkSession, path: String, partCol: String,
      keyCols: Seq[String], countCol: String, deltas: DataFrame): Int =
    // refused batches throw in the plan, BEFORE any file is written, so the
    // generation never advances
    rewritePartitions(spark, path, partCol)(
      decrementPlan(_, partCol, keyCols, countCol, deltas, at = path))

  /** The key-filter delete PLAN behind [[deleteByKey]] — one semi-join to
    * find the affected partitions, one anti-join for their survivors. None
    * when no stored row matches (the no-op case). The bounded driver
    * transfer is the affected partition-value set, capped by the table's
    * fan-out.
    */
  private def deleteByKeyPlan(
      tbl: DataFrame,
      partCol: String,
      keyCol: String,
      removedKeys: DataFrame): Option[(Seq[Int], DataFrame)] = {
    val rm = removedKeys.select(col(keyCol))
    val affected = tbl.join(rm, Seq(keyCol), "left_semi")
      .select(col(partCol)).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) return None
    Some((affected,
      tbl.where(col(partCol).isin(affected: _*))
        .join(rm, Seq(keyCol), "left_anti")))
  }

  /** The exact-subtraction PLAN with all three guards behind
    * [[decrementCounts]]. None when no stored key matches after the guards
    * pass (the no-op case); `at` names the table in guard messages.
    */
  private def decrementPlan(
      tbl: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      countCol: String,
      deltas: DataFrame,
      at: String): Option[(Seq[Int], DataFrame)] = {
    // normalize FIRST: duplicate key rows in `deltas` (two retraction rows
    // for one key — a union of per-batch retractions) must subtract their
    // SUM once; joined raw they would fan out the left join, duplicating
    // each matched stored row with each copy decremented by only its own
    // share. Checkpointed so the two validation actions and the rewrite
    // never recompute the caller's lineage.
    val dec = deltas.groupBy(keyCols.map(col): _*)
      .agg(sum(col("__dec")).as("__dec")).localCheckpoint()
    // ONE dec-keyed probe pass serves both guards that used to scan the
    // table separately (anti-join unknown check + semi-join affected set):
    // each retraction key's matched partitions, or a null marker when the
    // key has no stored row. The probe is retraction-batch-sized (dec keys
    // × their matched rows), checkpointed so the two reads below never
    // rescan the table.
    val probe = dec.select(keyCols.map(col): _*)
      .join(tbl.select((keyCols :+ partCol).map(col): _*)
          .withColumn("__hit", lit(true)),
        keyCols, "left")
      .localCheckpoint()
    // a retraction keyed on something the table never counted is a caller
    // bug (retracting never-ingested docs, or a DOUBLE-submitted retraction
    // whose first pass already dropped the key at zero) — a silent no-op
    // would leave the caller believing the retraction landed
    val unknown = probe.where(col("__hit").isNull)
      .select(keyCols.map(col): _*).limit(1).collect()
    require(unknown.isEmpty,
      s"decrementCounts: retraction key ${unknown.headOption.getOrElse("")} has no " +
        s"row in the stored table at $at — retracting something never counted " +
        "(or already retracted); refusing the whole batch")
    val affected = probe.where(col("__hit").isNotNull)
      .select(col(partCol)).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) return None
    val cols = tbl.columns.toSeq
    val decremented = tbl
      .where(col(partCol).isin(affected: _*))
      .join(dec, keyCols, "left")
      .withColumn(countCol, col(countCol) - coalesce(col("__dec"), lit(0L)))
      .localCheckpoint()
    // over-retraction (__dec exceeding the stored count) must FAIL, not
    // silently ride the `> 0` survivor filter into a full delete: on an
    // additive side table that failure mode means a double-submitted
    // retraction batch corrupts counts with no error. Keys retracting to
    // exactly zero are the legitimate full-retraction case and drop below.
    val over = decremented.where(col(countCol) < 0)
      .select(keyCols.map(col): _*).limit(1).collect()
    require(over.isEmpty,
      s"decrementCounts: retraction of key ${over.headOption.getOrElse("")} exceeds " +
        s"its stored count at $at (double-submitted retraction batch?); " +
        "refusing the whole batch before mutating")
    Some((affected,
      decremented.where(col(countCol) > 0).select(cols.map(col): _*)))
  }

  /** Exact count INCREMENT on a snapshot-published additive side table —
    * [[decrementCounts]]'s append-side twin, and the verb that lets a
    * count-keyed table (LM uni/big, the MinHash bucket-df) ride the
    * snapshot layer through INGEST, not just retraction: a bare
    * [[appendPartitions]] would duplicate keys the table already counts
    * (two rows for one key double-serves every guard that reads it), so
    * the touched partitions rewrite as (current ∪ delta) summed per key —
    * additive merge == rebuild on the unioned corpus, the
    * [[LmIndex.append]] law published as a generation.
    *
    * `deltas` must CARRY the partition column (computed with the SAME
    * bucketing the publisher used): an increment may introduce brand-new
    * keys, whose partition cannot be derived from the stored side. A delta
    * key already stored MUST land in its stored partition — a mismatch
    * means the caller bucketed differently than the publisher and would
    * split one logical key across two partitions (every serve-path groupBy
    * would double-count it); checked against the stored table and refused
    * loudly BEFORE any file is written. I/O stays bounded by the delta's
    * partition fan-out: untouched partitions carry forward manifest-only.
    * Returns the generation now serving.
    */
  def mergeCounts(spark: SparkSession, path: String, partCol: String,
      keyCols: Seq[String], countCol: String, deltas: DataFrame): Int = {
    val cols = (partCol +: keyCols :+ countCol).map(col)
    // normalize duplicate delta keys FIRST (the decrementPlan discipline):
    // two increment rows for one key must add their SUM once
    val inc = deltas.groupBy((partCol +: keyCols).map(col): _*)
      .agg(sum(col(countCol)).as(countCol)).select(cols: _*).localCheckpoint()
    val affected = inc.select(col(partCol)).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    rewritePartitions(spark, path, partCol) { stored =>
      Option.when(affected.nonEmpty) {
        // the touched-partition rewrite below re-selects EXACTLY (partCol,
        // keyCols, countCol) — any extra stored column would be silently
        // dropped from rewritten partitions while untouched partitions carry
        // it forward manifest-only, a mixed-schema generation. Enforce, don't
        // document (the bucketing-mismatch guard's discipline).
        val expectCols = (partCol +: keyCols :+ countCol).sorted
        require(stored.columns.sorted.toSeq == expectCols,
          s"SnapTables.mergeCounts: stored table at $path has columns " +
            s"[${stored.columns.sorted.mkString(",")}] but the merge carries " +
            s"only [${expectCols.mkString(",")}] — the extra columns would be " +
            "dropped from rewritten partitions, a mixed-schema generation")
        val mismatched = stored.select((col(partCol).as("__sp") +: keyCols.map(col)): _*)
          .join(inc.select((col(partCol).as("__dp") +: keyCols.map(col)): _*), keyCols)
          .where(col("__sp") =!= col("__dp")).limit(1).collect()
        require(mismatched.isEmpty,
          s"SnapTables.mergeCounts: delta key ${mismatched.headOption.getOrElse("")} is " +
            s"stored under a different $partCol at $path — the caller's bucketing " +
            "disagrees with the publisher's and would split the key across partitions")
        (affected, stored.where(col(partCol).isin(affected: _*))
          .select(cols: _*).unionByName(inc)
          .groupBy((partCol +: keyCols).map(col): _*)
          .agg(sum(col(countCol)).as(countCol)))
      }
    }
  }

  /** The (partition value → file names) listing a generation serves — the
    * audit surface behind [[compactPartitions]]'s economics and the spec
    * hook for file-count invariants. Driver-bounded by construction: one
    * entry per (partition, file), never row-scale.
    */
  def manifestEntries(spark: SparkSession, path: String,
      gen: Int): Map[Int, Seq[String]] =
    readManifestFull(fs(spark, path), new Path(path), gen).entries

  /** Ingest APPEND as a generation — the verb that makes the layer a full
    * lifecycle rather than a delete facility: `delta`'s rows land as new
    * files in their partition directories and generation N+1's manifest
    * references the union (generation N's files PLUS the new ones) for the
    * touched partitions, everything else carried forward untouched. Nothing
    * is rewritten — an append's I/O is the delta alone, however large the
    * table (the micro-batch commit shape: a streaming ingest flipping one
    * generation per batch gets atomic, replayable publication on plain
    * parquet). Readers resolved at N never see the new rows (ingest
    * isolation); a crash before the pointer flip leaves orphan files that
    * manifests never reference and [[expire]] reclaims. Each touched
    * partition gains ~one file per append — the accretion
    * [[compactPartitions]] exists to fold. Append-only contract on keys
    * (the [[MinHashIndex.append]] stance): re-appending an existing key
    * duplicates it; the repair is [[deleteByKey]] + append, each its own
    * generation. `delta` is computed once, by the write, under the claim;
    * the touched partitions come from the listing diff around it. So an
    * empty delta also takes and releases the claim: it publishes nothing
    * and returns the current generation, but like any publish it can lose a
    * [[SnapConflict]] to a concurrent writer.
    */
  def appendPartitions(spark: SparkSession, path: String, partCol: String,
      delta: DataFrame): Int =
    appendCore(spark, path, partCol, delta, batchId = None, streamId = None,
      pre = None, identity = java.util.UUID.randomUUID().toString)

  /** [[appendPartitions]] driven from a streaming `foreachBatch` — the
    * exactly-once micro-batch commit: the publishing manifest records
    * `batchId` (a `#batch` header line), so when Spark replays a batch whose
    * publication already flipped (crash between the pointer rename and the
    * checkpoint's own commit log), the replay is recognized and publishes
    * NOTHING — the one duplication window a bare [[appendPartitions]] in
    * `foreachBatch` would leave. Every other crash point replays into a
    * clean re-publish: files appended without a flip are manifest-orphans
    * ([[expire]] reclaims), an unflipped leftover manifest is replaced
    * (never served).
    *
    * `streamId` (the checkpoint path — [[graft.streaming.Pipelines.snapshotIngest]]
    * passes it) is recorded as a `#stream` header and checked on every
    * batch: a DIFFERENT stream feeding a table whose mark another stream
    * set is refused outright — batch ids from two checkpoints are
    * incomparable, so id-only logic would misread the new stream's batch 0
    * as a replay (silent data loss) or as a reset. A batch id BELOW the
    * recorded mark from the SAME stream means its checkpoint was rolled
    * back — also refused (later batches would silently no-op). Without a
    * `streamId` the check degrades to id-only, which cannot tell a swapped
    * checkpoint's equal id from a true replay — pass it whenever the
    * caller has one. Returns the serving generation either way. An empty
    * batch takes and releases the claim like [[appendPartitions]] (so it
    * can lose a [[SnapConflict]]), publishes nothing and records no mark.
    */
  def appendBatch(spark: SparkSession, path: String, partCol: String,
      delta: DataFrame, batchId: Long, streamId: Option[String] = None): Int = {
    val root = new Path(path)
    val hfs = fs(spark, path)
    val gen = publishedGeneration(spark, path)
    val m = readManifestFull(hfs, root, gen)
    for (sid <- streamId; prev <- m.streamId)
      require(prev == sid,
        s"SnapTables.appendBatch: $path was being fed by the stream at checkpoint " +
          s"'$prev' but this batch comes from '$sid' — batch ids across checkpoints " +
          "are incomparable, so replay detection would silently lose or duplicate " +
          "batches; create/clear the table and its checkpoint together")
    require(m.batchId.forall(_ <= batchId),
      s"SnapTables.appendBatch: batch $batchId arrived but generation $gen of " +
        s"$path was published by batch ${m.batchId.get} — the stream's checkpoint " +
        "was reset while the table lived on; create/clear the table and the " +
        "checkpoint together")
    if (m.batchId.contains(batchId)) return gen // replayed, already-published batch
    // identity = stream + batch: a crash-replay of THIS batch recognizes
    // its own leftover claim and proceeds (self-healing ingest); any other
    // writer fails the claim loudly
    val identity = streamId.map(sid => s"stream:$sid:batch:$batchId")
      .getOrElse(s"batch:$batchId")
    appendCore(spark, path, partCol, delta, batchId = Some(batchId),
      streamId = streamId, pre = Some((gen, m)), identity = identity)
  }

  private def appendCore(spark: SparkSession, path: String, partCol: String,
      delta: DataFrame, batchId: Option[Long], streamId: Option[String],
      pre: Option[(Int, Manifest)], identity: String): Int = {
    val root = new Path(path)
    val hfs = fs(spark, path)
    // `pre` threads appendBatch's already-read (generation, manifest)
    // through — the ingest hot path reads each manifest ONCE per
    // micro-batch, not once for the guards and again here
    val gen = pre.map(_._1).getOrElse(publishedGeneration(spark, path))
    withClaim(spark, hfs, path, Some(gen), "the append", identity) {
      val m = pre.map(_._2).getOrElse(readManifestFull(hfs, root, gen))
      val cur = m.entries
      // a self-referential delta (one that reads this table's current
      // generation) reads the manifest's fixed file list, so the files this
      // write adds never enter its own scan
      val added = byValue(writeAdded(hfs, path, partCol, delta))
      if (added.isEmpty) gen // an empty delta publishes nothing
      else {
        val next = cur ++ added.map { case (v, names) =>
          v -> (cur.getOrElse(v, Nil) ++ names)
        }
        // an append keeps every existing zone line and adds the delta's
        val zones = m.statsCol.map(c =>
          m.zones ++ computeZones(spark, path, partCol, c, added))
          .getOrElse(Map.empty)
        writeManifest(hfs, root, gen + 1, next,
          batchId.orElse(m.batchId), streamId.orElse(m.streamId),
          m.statsCol, zones)
        writePointer(hfs, root, gen + 1)
        gen + 1
      }
    }
  }

  /** Small-file compaction as a content-invariant generation — the
    * maintenance verb an append-only generation store NEEDS at scale: every
    * [[rewritePartitions]] appends ~one new file per affected partition, so
    * a partition touched by many successive rewrites accretes a file chain
    * whose per-file open cost eventually dominates its scan (the classic
    * small-file problem; Iceberg's `rewrite_data_files` re-derived on plain
    * parquet). Partitions whose CURRENT manifest references two or more
    * files are rewritten into ~one file each and published as generation
    * N+1 with byte-identical logical content; partitions already at a
    * single file carry their manifest entries forward untouched (zero
    * I/O). Readers of generation N keep serving its files (nothing is
    * deleted until [[expire]]); a crash anywhere leaves generation N
    * serving. Returns the published generation (unchanged when nothing
    * needed compaction).
    */
  def compactPartitions(spark: SparkSession, path: String, partCol: String): Int = {
    val gen = publishedGeneration(spark, path)
    val affected = readManifestFull(fs(spark, path), new Path(path), gen).entries
      .collect { case (v, files) if files.size >= 2 => v }.toSeq.sorted
    if (affected.isEmpty) gen
    else rewriteAt(spark, path, partCol, gen, affected,
      resolveAt(spark, path, partCol, gen).where(col(partCol).isin(affected: _*)))
  }

  /** Publish a RETAINED prior generation's content as the new CURRENT
    * generation — Iceberg's `rollback_to_snapshot` re-derived: the bad-
    * publish undo that makes the generation chain an operational safety
    * net rather than a read-only audit trail. Nothing is copied and
    * nothing is deleted: generation N+1's manifest references exactly
    * `toGen`'s files (with its zone stats — they describe those files),
    * so the rollback costs one manifest write however large the table,
    * and the rolled-back generations stay time-travelable until
    * [[expire]].
    *
    * Ingest history is NOT rolled back: the new manifest carries the
    * CURRENT generation's `#batch`/`#stream` headers forward — rollback
    * reverts the data state, and a replay of an already-published batch
    * must still be recognized as a replay afterwards (re-appending it
    * would be the duplication window the header exists to close).
    * Re-ingesting rolled-back data is the normal forward path under fresh
    * batch ids.
    *
    * Fails loudly when `toGen`'s manifest was dropped or any file it
    * references was reclaimed (an expire already ran past it) — a
    * rollback target must be inside the retention window, the exact
    * timing decision [[expire]]'s `keepGens` exists to control.
    * Serializes with every other verb through the claim protocol. Returns
    * the published generation (no-op at the current generation).
    */
  def rollback(spark: SparkSession, path: String, partCol: String,
      toGen: Int): Int = {
    val root = new Path(path)
    val hfs = fs(spark, path)
    val gen = publishedGeneration(spark, path)
    require(toGen >= 0 && toGen <= gen,
      s"SnapTables: cannot roll $path back to generation $toGen from $gen")
    if (toGen == gen) return gen
    withClaim(spark, hfs, path, Some(gen), "the rollback",
        s"rollback:${java.util.UUID.randomUUID()}") {
      require(hfs.exists(new Path(new Path(root, ManifestDir), genName(toGen))),
        s"SnapTables: rollback target generation $toGen of $path was expired " +
          "(its manifest is gone) — only retained generations can serve again")
      val target = readManifestFull(hfs, root, toGen)
      val missing = target.entries.toSeq.flatMap { case (v, names) =>
        names.map(n => new Path(root, s"$partCol=$v/$n"))
      }.filterNot(hfs.exists)
      require(missing.isEmpty,
        s"SnapTables: rollback target generation $toGen of $path references " +
          s"${missing.size} reclaimed file(s) (e.g. ${missing.head}) — an " +
          "expire already ran past it; the state is unrecoverable from here")
      val cur = readManifestFull(hfs, root, gen)
      writeManifest(hfs, root, gen + 1, target.entries,
        cur.batchId, cur.streamId, target.statsCol, target.zones)
      writePointer(hfs, root, gen + 1)
      gen + 1
    }
  }

  /** Reclaim space: delete every data file not referenced by the newest
    * `keepGens` manifests, drop older manifests, and remove emptied
    * partition directories. This is the step that invalidates readers of
    * expired generations — run it when in-flight plans against them have
    * drained (the operator timing decision snapshot expiry exists to
    * isolate).
    *
    * Retention is by count alone: an operator whose readers can outlive
    * `keepGens` publications (a streamed ingest flips a generation per
    * micro-batch) runs expire less often or keeps more generations.
    */
  def expire(spark: SparkSession, path: String, partCol: String,
      keepGens: Int = 2): Unit = {
    require(keepGens >= 1, "SnapTables: must keep at least the current generation")
    val root = new Path(path)
    val hfs = fs(spark, path)
    val gen = currentGeneration(spark, path).getOrElse(return)
    // Expire holds the gen+1 claim for the whole sweep: a publisher that has
    // claimed gen+1 and written data files no kept manifest references yet
    // would otherwise have them swept, then flip the pointer to a manifest
    // of deleted files. A racing publisher or expire fails at its claim; a
    // crash mid-sweep leaves a marker above the pointer → reclaimStale.
    withClaim(spark, hfs, path, Some(gen), "expire",
        s"expire:${java.util.UUID.randomUUID()}") {
      val mdir = new Path(root, ManifestDir)
      val keep = ((gen - keepGens + 1) max 0) to gen
      // a generation inside the keep window may already be GONE — a prior
      // expire with a tighter keepGens dropped it; that is not corruption
      // (nothing can resurrect it), so reference only the manifests that
      // still exist. The CURRENT generation's manifest is never optional:
      // its absence means the table cannot serve, fail loudly via readManifestFull.
      // keyed like the listing below: by the directory's value as written
      val referenced: Set[(String, String)] = keep.flatMap { g =>
        if (g != gen && !hfs.exists(new Path(mdir, genName(g)))) Nil
        else readManifestFull(hfs, root, g).entries.toSeq.flatMap { case (v, names) =>
          names.map(v.toString -> _)
        }
      }.toSet
      listPartitionFiles(hfs, root, partCol).foreach { case (v, names) =>
        names.filterNot(n => referenced.contains(v -> n)).foreach { n =>
          hfs.delete(new Path(root, s"$partCol=$v/$n"), false)
        }
        val dir = new Path(root, s"$partCol=$v")
        if (hfs.listStatus(dir).forall(s => s.getPath.getName.startsWith(".")))
          hfs.delete(dir, true)
      }
      hfs.listStatus(mdir).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith("gen-") && n.endsWith(".tsv")
            && !keep.map(genName).contains(n))
          hfs.delete(s.getPath, false)
        // dead publication claims: a marker at or below the pointer can never
        // conflict again (every future claim targets pointer+1) — it is the
        // leftover of a crash between the pointer flip and the marker release.
        // Expire's OWN claim sits at gen+1, above the pointer: never swept
        // here, released when `withClaim` returns.
        if (n.startsWith(".publish-") && n.endsWith(".lock")
            && n.stripPrefix(".publish-").stripSuffix(".lock").toInt <= gen)
          hfs.delete(s.getPath, false)
      }
    }
  }
}
