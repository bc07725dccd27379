package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Producer liveness surface — the deployment-agnostic twin of the
  * reference publisher's Flask `/health` endpoint
  * (`populate-script/populate_stream.py:120-137`): healthy iff the bucket
  * was created AND the stream was created AND the first N records were
  * published (N = 100, `populate_stream.py:87`). The reference serves this
  * as HTTP 200/503 for a docker-compose healthcheck; offline, the same
  * predicate backs an atomically-written marker FILE, which a compose
  * healthcheck consumes as `test -f /path/ready` — the thinnest adapter
  * that keeps the semantics intact. An HTTP wrapper in a real deployment
  * is one route over [[Status.healthy]].
  */
object Readiness {

  /** First-records threshold that flips `publishing_started`
    * (`populate_stream.py:87`).
    */
  val DefaultPublishThreshold = 100L

  /** The three gates of the reference healthcheck, evaluated lazily so the
    * same value serves progress reporting before readiness.
    */
  final case class Status(
      bucketCreated: Boolean,
      streamCreated: Boolean,
      published: Long,
      threshold: Long = DefaultPublishThreshold) {
    def publishingStarted: Boolean = published >= threshold
    def healthy: Boolean = bucketCreated && streamCreated && publishingStarted
  }

  /** Write the readiness marker atomically (tmp + ATOMIC_MOVE rename — a
    * healthcheck can never observe a half-written marker) iff the status is
    * healthy. Returns whether the marker now exists; unhealthy status
    * leaves the filesystem untouched.
    */
  def writeMarker(marker: Path, st: Status): Boolean = {
    if (!st.healthy) return false
    val tmp = marker.resolveSibling(marker.getFileName.toString + ".tmp")
    Files.createDirectories(marker.toAbsolutePath.getParent)
    Files.write(tmp,
      s"""{"status":"healthy","published":${st.published},"threshold":${st.threshold}}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, marker, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    true
  }
}
