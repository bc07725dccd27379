package graft

/** Smoke main: runs the flagship entry() (the reference pipeline on generated
  * articles) and prints its row count + schema — the driver's rows>0 check.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    val df = SparkEntry.entry(spark)
    df.printSchema()
    df.show(5, false)
    println("entry rows=" + df.count())
    spark.stop()
  }
}
