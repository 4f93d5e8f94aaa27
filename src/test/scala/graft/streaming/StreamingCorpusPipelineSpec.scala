package graft.streaming

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.firehose.FirehoseFixture
import graft.sources.TxTable

/** S26 — the reference pipeline to TxTable, end-to-end: decode +
  * quality gate + duplicate screen + exactly-once commits, under
  * restart, forced mid-batch crash replay, and cross-file
  * redelivery. The q_pipeline_streaming key hash-gates the same run
  * against the DuckDB generator replay; this spec covers what the
  * gate cannot: crash injection and fold-equals-direct. */
class StreamingCorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(
      Paths.get(System.getProperty("java.io.tmpdir")), p).toString

  /** Expected kept events per the fixture contract: blocks 10–14,
    * noise (e≡3 mod 4) gated, block 10's redelivery deduped. */
  private val expected: Set[String] = Seq(
    (10, 3), (11, 4), (12, 5), (13, 2), (14, 3)).flatMap {
    case (b, n) => (0 until n).filter(_ % 4 != 3).map(e => s"ev-$b-$e")
  }.toSet

  private def run(staging: String, table: String, cp: String): Unit = {
    val q = StreamingCorpusPipeline.start(
      spark, staging, table, cp, appId = "s26_spec")
    try q.awaitTermination() finally q.stop()
  }

  private def ids(table: String): Set[String] =
    TxTable.read(spark, table).select("id").as[String].collect().toSet

  test("end-to-end: gate drops noise, dedup absorbs the redelivered " +
      "block, one version per file, fold == direct at every version") {
    val (staging, table, cp) =
      (tmp("s26_stage_"), tmp("s26_tbl_"), tmp("s26_cp_"))
    FirehoseFixture.writeStreaming(new java.io.File(staging))
    run(staging, table, cp)
    assert(TxTable.latestVersion(table).contains(5L),
      "create + one commit per staged file")
    assert(ids(table) == expected,
      s"content diverged: ${ids(table).toSeq.sorted}")
    // not one copy of the redelivered block leaked into v4's commit
    val v4feed = TxTable.changes(spark, table, 3L, 4L)
      .select("id").as[String].collect().toSet
    assert(v4feed == Set("ev-13-0", "ev-13-1"),
      s"redelivery must contribute nothing: $v4feed")
    // IVM fold over the feed == direct per-version reads
    (1L to 5L).foreach { v =>
      val direct = TxTable.read(spark, table, Some(v)).count()
      val folded = (1L to v).map(k =>
        TxTable.changes(spark, table, k - 1, k)
          .filter($"_change" === "insert").count()).sum
      assert(direct == folded, s"fold != direct at v$v: $folded/$direct")
    }
    // time travel into the ingest history
    assert(TxTable.read(spark, table, Some(2L)).count() == 6L)
  }

  test("forced Bloom saturation: the manifest-sized prescreen " +
      "rebuilds when committed rows cross capacity, keeps " +
      "no-false-negatives (zero duplicates), and the residue stays " +
      "bounded") {
    val (staging, table, cp) =
      (tmp("s26b_stage_"), tmp("s26b_tbl_"), tmp("s26b_cp_"))
    FirehoseFixture.writeStreaming(new java.io.File(staging))
    val diag = new StreamingCorpusPipeline.PipelineDiag
    // bloomMinCapacity = 2: the filter starts sized for 2 ids, and
    // every commit (6, then 4, ... kept events) drives committed
    // rows past capacity — each batch forces the saturation path
    val q = StreamingCorpusPipeline.start(spark, staging, table, cp,
      appId = "s26_bloom_spec", bloomMinCapacity = 2L,
      diag = Some(diag))
    try q.awaitTermination() finally q.stop()
    assert(diag.bloomRebuilds.get() >= 2L,
      s"forced saturation must rebuild: ${diag.bloomRebuilds.get()}")
    // no false negatives at any fill level: an existing id must never
    // classify "definitely new" — which would re-append it. Content
    // must therefore be EXACTLY the expected set, no duplicates.
    assert(ids(table) == expected,
      "saturated/rebuilt prescreen lost or duplicated events")
    val n = TxTable.read(spark, table).count()
    assert(n == expected.size.toLong,
      s"duplicate rows under saturation: $n != ${expected.size}")
    // residue bound: the maybe-class can never exceed the total
    // gated volume (14 kept + 3 redelivered = 17); a rebuilt,
    // rightly-sized filter keeps it at redeliveries + fpp noise
    assert(diag.residueRows.get() <= 17L,
      s"residue exceeded the gated volume: ${diag.residueRows.get()}")
    // and it holds at least block 10's redelivered copies (3 kept
    // events): the filter has no false negatives
    assert(diag.residueRows.get() >= 3L,
      s"residue lost the redelivered ids: ${diag.residueRows.get()}")
    // the post-run filter is sized from the head manifest's O(1)
    // row count — present for every commit this pipeline wrote
    assert(TxTable.snapshot(table).get.totalRows.contains(
      expected.size.toLong))
  }

  test("one decode per micro-batch: every staged file is scanned " +
      "once and a batch runs at most five jobs") {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerJobStart, SparkListenerStageCompleted}
    import org.apache.spark.sql.GraftColumnBridge
    val (staging, table, cp) =
      (tmp("s26j_stage_"), tmp("s26j_tbl_"), tmp("s26j_cp_"))
    FirehoseFixture.writeStreaming(new java.io.File(staging))
    val stagedBytes = new java.io.File(staging).listFiles()
      .map(_.length()).sum
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    val scans = new java.util.concurrent.atomic.AtomicLong(0L)
    val scannedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      // a stage that runs the source's file scan decodes that
      // micro-batch's files once
      override def onStageCompleted(s: SparkListenerStageCompleted)
          : Unit =
        if (s.stageInfo.rddInfos.exists(
            _.scope.exists(_.name.startsWith("Scan binaryFile")))) {
          scans.incrementAndGet()
          scannedBytes.addAndGet(
            s.stageInfo.taskMetrics.inputMetrics.bytesRead)
        }
    }
    // earlier specs' events must not reach the new listener
    GraftColumnBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val batches = try {
      val q = StreamingCorpusPipeline.start(
        spark, staging, table, cp, appId = "s26_jobs_spec")
      try q.awaitTermination() finally q.stop()
      GraftColumnBridge.drainListenerBus(spark.sparkContext)
      q.lastProgress.batchId + 1
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(ids(table) == expected)
    assert(batches == 4L, "one micro-batch per staged file")
    assert(scans.get() == batches,
      s"${scans.get()} source scans for $batches micro-batches")
    assert(scannedBytes.get() == stagedBytes,
      s"read ${scannedBytes.get()} source bytes for $stagedBytes staged")
    assert(jobs.get() <= 5L * batches,
      s"${jobs.get()} jobs for $batches micro-batches")
  }

  test("batch/stream quality-verdict parity: the streaming gate IS " +
      "the shared QualityRules tree at log-event tuning") {
    import org.apache.spark.sql.functions._
    val msgs = Seq(
      "line 0 of block 10",            // keep
      "noise3",                        // too few words
      "a b " + "x" * 200,              // mean word len out of band
      Seq.fill(300)("w").mkString(" ") // too many words
    ).toDF("message")
    val gate = msgs.filter(StreamingCorpusPipeline.qualityKeep)
      .as[String].collect().toSeq
    val batch = msgs.filter(graft.operators.QualityRules.keeps(
        col("message"), graft.operators.QualityRules.LogEventProfile))
      .as[String].collect().toSeq
    assert(gate == batch, "stream gate must equal the batch tree")
    assert(gate == Seq("line 0 of block 10"),
      s"log profile verdicts off: $gate")
  }

  test("restart resumes from the checkpoint; a forced replay of the " +
      "last micro-batch commits nothing twice") {
    val (staging, table, cp) =
      (tmp("s26r_stage_"), tmp("s26r_tbl_"), tmp("s26r_cp_"))
    // stage only the first two files, drain, then stage the rest
    val full = tmp("s26r_full_")
    FirehoseFixture.writeStreaming(new java.io.File(full))
    def stage(name: String): Unit =
      Files.copy(Paths.get(full, name), Paths.get(staging, name),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    stage("f1.gz"); stage("f2.log")
    run(staging, table, cp)
    assert(TxTable.latestVersion(table).contains(3L))
    stage("f3.gz"); stage("f4.gz.gz")
    run(staging, table, cp)
    assert(TxTable.latestVersion(table).contains(5L))
    assert(ids(table) == expected, "restart lost or duplicated events")

    // crash injection: drop the newest checkpoint commit marker — the
    // restarted query re-delivers its final micro-batch; appendOnce
    // must no-op it (no new version, no duplicate rows)
    val commits = Paths.get(cp, "commits")
    val names = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    Files.list(commits).iterator().forEachRemaining(p =>
      if (!p.getFileName.toString.startsWith(".")) names += p)
    val victim = names.maxBy(_.getFileName.toString.toLong)
    Files.delete(victim)
    Files.deleteIfExists(
      commits.resolve(s".${victim.getFileName.toString}.crc"))
    // and behind it, in the same restarted run, a file that
    // redelivers the replayed batch's ids: the replay folds nothing
    // into the Bloom filter, so only the start-time build from the
    // table can class them "maybe" and send them to the anti-join
    val redelivery = Paths.get(staging, "f5.gz.gz")
    Files.copy(Paths.get(full, "f4.gz.gz"), redelivery)
    Files.setLastModifiedTime(redelivery, java.nio.file.attribute
      .FileTime.fromMillis(FirehoseFixture.BaseTs + 40000L))
    val versBefore = TxTable.latestVersion(table).get
    run(staging, table, cp)
    assert(TxTable.latestVersion(table).get == versBefore + 1L,
      "the replayed micro-batch must not commit a new version; " +
        "only the redelivery's batch does")
    assert(TxTable.changes(spark, table, versBefore, versBefore + 1L)
      .isEmpty, "the redelivered ids must be screened out")
    assert(ids(table) == expected,
      "replayed micro-batch must not duplicate or lose events")
    assert(TxTable.read(spark, table).count() == expected.size.toLong)
  }
}
