package graft

/** Minimal end-to-end smoke: runs the flagship `SparkEntry.entry` the way
  * the driver does and prints the row count (expects > 0).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"entry rows: $n")
    spark.stop()
  }
}
