package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Diagnostic main: dumps `.explain("formatted")` for the named
  * registry keys to one file each — the before/after plan evidence an
  * optimization round commits under `plans/r<N>/`.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <key>[,<key>...]
  * Writes <outDir>/<key>_<suffix>.txt per key.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <key>[,<key>...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val keys = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val spark = SparkEntry.session()
    Files.createDirectories(Paths.get(outDir))
    for (k <- keys) {
      val df = SparkEntry.queries(k)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${k}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${k}_$suffix.txt")
    }
    spark.stop()
  }
}
