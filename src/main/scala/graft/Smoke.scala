package graft
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalTuning.session(Bench.envCpus(sys.env).toInt)
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(6)
    spark.stop()
  }
}
