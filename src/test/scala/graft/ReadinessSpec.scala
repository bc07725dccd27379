package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Readiness
import graft.streaming.Readiness.Status

/** The producer readiness predicate must reproduce the reference
  * healthcheck's gate logic exactly, and the marker file must appear only
  * once all three gates pass.
  */
class ReadinessSpec extends AnyFunSuite {

  test("healthy iff bucket AND stream AND first-100 published (the reference's /health gate)") {
    assert(!Status(bucketCreated = false, streamCreated = false, published = 0).healthy)
    assert(!Status(bucketCreated = true, streamCreated = true, published = 99).healthy)
    assert(Status(bucketCreated = true, streamCreated = true, published = 100).healthy)
    assert(!Status(bucketCreated = false, streamCreated = true, published = 500).healthy)
    assert(!Status(bucketCreated = true, streamCreated = false, published = 500).healthy)
    // custom threshold
    assert(Status(bucketCreated = true, streamCreated = true, published = 5,
      threshold = 5).healthy)
  }

  test("marker appears only when healthy, atomically, and is idempotent") {
    val dir = java.nio.file.Paths.get(Scratch.dir("readiness"))
    val marker = dir.resolve("ready")
    assert(!Readiness.writeMarker(marker,
      Status(bucketCreated = true, streamCreated = true, published = 99)))
    assert(!java.nio.file.Files.exists(marker))
    assert(Readiness.writeMarker(marker,
      Status(bucketCreated = true, streamCreated = true, published = 100)))
    assert(java.nio.file.Files.exists(marker))
    // re-publishing the marker is fine (REPLACE_EXISTING)
    assert(Readiness.writeMarker(marker,
      Status(bucketCreated = true, streamCreated = true, published = 250)))
    assert(java.nio.file.Files.exists(marker))
    assert(new String(java.nio.file.Files.readAllBytes(marker)).contains("\"published\":250"))
  }
}
