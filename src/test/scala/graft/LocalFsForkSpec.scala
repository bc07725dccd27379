package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DataGen, SnapTables}
import graft.streaming.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, Pipelines, StreamSource}

/** Marks the end of a recording: once the stream delivers it, every event
  * committed before it has been delivered too.
  */
final class RecordingEnd extends jdk.jfr.Event

/** The session's `file:` writes fork no process. The flight recorder's
  * `jdk.ProcessStart` events, with stacks, are recorded around a streaming
  * drain and a SnapTables publication cycle; none may come from Hadoop's
  * `Shell` (the `chmod`/`readlink`/`ls` fallbacks of the stock local
  * filesystem without `libhadoop`).
  */
class LocalFsForkSpec extends AnyFunSuite with SparkSpec {

  private val ShellClass = "org.apache.hadoop.util.Shell"

  /** Every process started while `body` runs. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val seen = new ConcurrentLinkedQueue[RecordedEvent]()
    val ended = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[RecordingEnd])
      rs.onEvent("jdk.ProcessStart", e => seen.add(e))
      rs.onEvent(classOf[RecordingEnd].getName, _ => ended.countDown())
      rs.startAsync()
      body
      new RecordingEnd().commit()
      assert(ended.await(60, TimeUnit.SECONDS), "the recording did not deliver its end marker")
    } finally rs.close()
    seen.asScala.toSeq
  }

  private def fromShell(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala.exists(_.getMethod.getType.getName == ShellClass))

  private def describe(events: Seq[RecordedEvent]): String =
    events.map(e => s"${e.getString("command")} <- " + e.getStackTrace.getFrames.asScala
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").take(12).mkString(" < "))
      .mkString("\n")

  test("the session resolves file: paths to the fork-free filesystem through both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass)
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(new Path(tmpDir("localfs-class")).getFileSystem(conf) eq fs)
    val afs = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass)
  }

  test("control: the recording sees the stock filesystem fork chmod through Shell") {
    assume(!NativeCodeLoader.isNativeCodeLoaded, "libhadoop is loaded: the stock chmod does not fork")
    val stock = new RawLocalFileSystem
    stock.initialize(URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    val f = Files.createTempFile(java.nio.file.Paths.get(tmpDir("localfs-control")), "f", ".txt")
    val events = processStarts(stock.setPermission(new Path(f.toUri), new FsPermission(0x1a4.toShort)))
    assert(events.exists(fromShell), describe(events))
  }

  test("a 3-slice AvailableNow drain and a SnapTables publish/append/compact/expire cycle fork nothing through Shell") {
    val src = tmpDir("localfs-src")
    // three one-minute slices, one file each, consumed one per trigger
    for (i <- 0 until 3)
      DataGen.envelopeFor(spark.range(i * 200L, (i + 1) * 200L).toDF("id"),
          startEpochSeconds = 1704067200L + i * 60L, spreadSeconds = 60L)
        .coalesce(1).write.mode("append").parquet(src)
    val out = tmpDir("localfs-out")
    val table = tmpDir("localfs-table")
    def part(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("key"), (col("id") % 3).cast("int").as("pb"))

    val events = processStarts {
      Pipelines.articlesToParquet(spark,
        StreamSource.FileEnvelopeSource(src, maxFilesPerTrigger = Some(1)), out, s"$out-ckpt")
        .awaitTermination()
      SnapTables.publishInitial(spark, table, "pb", part(0, 12))
      SnapTables.appendPartitions(spark, table, "pb", part(12, 24))
      SnapTables.compactPartitions(spark, table, "pb")
      SnapTables.expire(spark, table, "pb", keepGens = 1)
    }
    assert(spark.read.parquet(out).count() > 0, "the drain emitted no finalized window")
    assert(SnapTables.resolve(spark, table, "pb").count() == 24)
    val shell = events.filter(fromShell)
    assert(shell.size == 0, s"process launches through Shell:\n${describe(shell)}")
  }
}
