package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftColumnBridge

/** Diagnostic main: counts Spark JOBS per registry key, first-pass
  * (fixture-build-inclusive) vs steady (rerun after the memo is
  * warm). The driver host amplifies the per-job floor of SEQUENTIAL
  * jobs ~2-3x over this machine (r12-r14 officials), so build_sec
  * work is planned against this count, not wall seconds — cutting a
  * fixture from 40 jobs to 15 transfers to the official record even
  * when the local wall barely moves.
  *
  * Usage: runMain graft.JobAudit <sfDir> [keyPrefix...]
  * Prints one line per key: first-pass jobs, steady jobs, wall secs,
  * and the DerivedCache build count delta (which keys paid a shared
  * fixture). Keys run in Bench's seeded order so fixture attribution
  * matches the official record. The TOTAL line's `buildJobs` (first
  * minus steady) is the one-time fixture cost; `JobAudit <sfDir>
  * q_index` gives it for the two maintained-index fixtures
  * (IndexQueries.docFixture / vecFixture).
  */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val prefixes = args.drop(1)
    val spark = SparkEntry.session()
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    // Same seeded shuffle as Bench so shared fixtures land on the
    // same first payer as the official record.
    val order = new scala.util.Random(20260813).shuffle(names)
    println(f"${"key"}%-38s ${"j1"}%5s ${"j2"}%5s ${"sec1"}%7s ${"sec2"}%7s builds")
    var totalFirst = 0L; var totalSteady = 0L
    for (name <- order) {
      def once(): (Long, Double) = {
        GraftColumnBridge.drainListenerBus(spark.sparkContext)
        val j0 = jobs.get(); val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        GraftColumnBridge.drainListenerBus(spark.sparkContext)
        (jobs.get() - j0, sec)
      }
      val b0 = graft.operators.DerivedCache.buildCount.get()
      val (j1, s1) = once()
      val builds = graft.operators.DerivedCache.buildCount.get() - b0
      val (j2, s2) = once()
      totalFirst += j1; totalSteady += j2
      println(f"$name%-38s $j1%5d $j2%5d $s1%7.2f $s2%7.2f $builds")
    }
    println(f"TOTAL first=$totalFirst steady=$totalSteady buildJobs=${totalFirst - totalSteady}")
    spark.stop()
  }
}
