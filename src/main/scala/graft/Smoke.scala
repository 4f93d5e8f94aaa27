package graft
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    val n = SparkEntry.entry(spark).count()
    println(s"SMOKE entry rows=$n")
    spark.stop()
  }
}
