package perfbench

import java.io.File
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.DataGen

/** Seeded article envelopes cut into one-minute event-time slices. The
  * on-time rows are `DataGen.envelopeFor` over ids `0 until slices *
  * perSlice`, stamped uniformly over the `slices` minutes; slice `i` holds
  * the rows stamped in minute `i`. A `lateShare` of extra rows, in their own
  * id range, is stamped the same way but planted 7 to 10 minutes (drawn per
  * row from the seed) after its own minute, when it still fits. Every row
  * derives from the seed and its id, so a seed names one input.
  */
final class Staging(spark: SparkSession, seed: Long, val slices: Int, perSlice: Int,
    lateShare: Double) {
  import Staging._

  val onTimeRows: Long = slices.toLong * perSlice
  private val lateIds = (onTimeRows * lateShare).round

  private def stamped(from: Long, until: Long): DataFrame =
    DataGen.envelopeFor(spark.range(from, until).toDF("id"), seed,
      startEpochSeconds = Base, spreadSeconds = slices * 60L)

  private val minute: Column =
    ((unix_seconds(col("approximateArrivalTimestamp")) - Base) / 60).cast("int")

  /** The planted late rows, each with the slice it is planted in. */
  val late: DataFrame = stamped(LateIdBase, LateIdBase + lateIds)
    .withColumn("slice", minute + lit(7) +
      pmod(xxhash64(lit(seed), col("sequenceNumber")), lit(4L)).cast("int"))
    .where(col("slice") < slices)

  /** Every envelope with its `slice` column. */
  def envelopes: DataFrame =
    stamped(0L, onTimeRows).withColumn("slice", minute).unionByName(late)

  /** Write `df` (which carries `slice`) as one parquet file per slice and
    * return the files in slice order.
    */
  def write(dir: String, df: DataFrame): IndexedSeq[File] = {
    df.repartition(slices, col("slice")).write.partitionBy("slice").parquet(dir)
    (0 until slices).map { i =>
      val parts = Option(new File(s"$dir/slice=$i").listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.endsWith(".parquet"))
      require(parts.length == 1, s"slice $i staged as ${parts.length} files")
      parts.head
    }
  }
}

object Staging {
  val Base = 1704067200L // 2024-01-01T00:00:00Z
  val LateIdBase = 1000000000L

  def isLate: Column = col("sequenceNumber").cast("long") >= LateIdBase
}
