package graft

import java.nio.file.{Files, Paths}

import graft.sources.TxTable

/** Micro-bench for TxTable metadata resolution at streaming commit
  * rates (S24: one manifest per micro-batch): measures
  * [[TxTable.latestVersion]] WITH the `_txlog/_head` hint (O(1 +
  * publish lag) probe) vs WITHOUT it (full `_txlog` listing), and
  * [[TxTable.lastCommittedBatch]] via the carried per-app txn map
  * (head-only read) — the r11 upgrades that keep a long-lived
  * streaming sink's per-batch metadata cost flat instead of
  * O(commits). Prints one JSON line. Run:
  * {{{ sbt "runMain graft.TxMetaBench [nCommits]" }}}
  */
object TxMetaBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 2000
    val spark = SparkEntry.session()
    import spark.implicits._
    val dir = SparkEntry.tempDir("txmeta_")
    require(TxTable.create(Seq((0L, "t0")).toDF("doc_id", "text"),
      dir, buckets = 1))
    // n streaming-shaped commits through the public protocol (empty
    // micro-batches: we are benching the metadata path, and an empty
    // commit exercises the same manifest CAS + txn-map fold)
    (1 to n).foreach { b =>
      TxTable.appendOnce(Seq((b.toLong, s"t$b")).toDF("doc_id", "text")
        .limit(0), dir, appId = "txmeta", batchId = b.toLong, buckets = 1)
    }
    def time[A](reps: Int)(f: => A): Double = {
      f // warm
      val t0 = System.nanoTime()
      (0 until reps).foreach(_ => f)
      (System.nanoTime() - t0) / 1e6 / reps
    }
    val withHint = time(50)(TxTable.latestVersion(dir))
    val lastBatch = time(50)(TxTable.lastCommittedBatch(dir, "txmeta"))
    Files.deleteIfExists(Paths.get(dir, "_txlog", "_head"))
    val listing = time(50)(TxTable.latestVersion(dir))
    println(s"""{"metric":"txmeta","commits":${n + 1},""" +
      s""""latest_with_hint_ms":$withHint,""" +
      s""""latest_listing_ms":$listing,""" +
      s""""last_committed_batch_ms":$lastBatch}""")
    spark.stop()
  }
}
