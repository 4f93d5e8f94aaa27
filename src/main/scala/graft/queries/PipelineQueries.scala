package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.firehose.{FirehoseDecoder, FirehoseFixture}

/** The reference pipeline (R6–R13) replayed as one batch query:
  * binaryFile scan → iterated gunzip → DATA_MESSAGE split →
  * `from_json` → explode → enrich → block-scoped batch ids.
  *
  * The decode itself (binary gunzip + delimiter split) is not
  * DuckDB-expressible, so the firehose keys are hash-gated against a
  * GOLDEN TWIN instead: `tools/firehose_oracle.py` — an independent
  * stdlib-Python decoder (gzip-until-plain loop, DATA_MESSAGE byte
  * scan, json parse, mirroring `kinesis-to-humio.py:91-112,131-148`)
  * — decodes the same fixture bytes and commits the expected rows as
  * CSVs under `tools/golden/`, which the oracle SQL SELECTs. Drift is
  * caught twice: `GoldenFirehoseSpec` pins the Spark output against
  * the committed CSVs at test time, and the driver's DuckDB compare
  * hash-gates them per round. The CSV / JSONL source keys
  * ([[graft.sources.TextSources]]) are oracle-gated directly: DuckDB
  * parses the same fixture files.
  */
object PipelineQueries {
  /** Deterministic fixture dir, generated on first use (regeneration
    * is byte-identical, so concurrent/repeated callers agree). */
  def fixtureDir: File = {
    val d = new File(
      System.getProperty("java.io.tmpdir"), "graft_firehose_fixture")
    FirehoseFixture.writeStandard(d)
    d
  }

  def firehosePipeline(spark: SparkSession): DataFrame = {
    val decoded = FirehoseDecoder.decode(
      spark, fixtureDir.getAbsolutePath)
    FirehoseDecoder.withBatchId(decoded, batchSize = 5000)
      .withColumn("file", regexp_extract(col("file"), "([^/]+)$", 1))
      .orderBy("file", "block_idx", "event_idx")
  }

  /** Large fixture dir (200k events / 32 gzip'd files), generated on
    * first use. Bench warms this up BEFORE its timed loop so
    * q_firehose_throughput measures decode, not single-threaded
    * driver-side fixture generation. */
  def largeFixtureDir: File = {
    val d = new File(
      System.getProperty("java.io.tmpdir"), "graft_firehose_large")
    d.mkdirs()
    FirehoseFixture.writeLarge(d)
    d
  }

  /** Multi-file decode at volume (200k events / 32 gzip'd files):
    * the throughput shape of the reference's sequential
    * download→gunzip→scan loop, decoded in parallel — one task per
    * file, aggregated to per-file counts (16 rows out, all compute
    * in the decode). */
  def firehoseThroughput(spark: SparkSession): DataFrame = {
    val dir = largeFixtureDir
    FirehoseDecoder.decode(spark, dir.getAbsolutePath)
      .withColumn("file", regexp_extract(col("file"), "([^/]+)$", 1))
      .groupBy("file")
      .agg(count(lit(1)).as("n_events"),
        min(col("timestamp")).as("min_ts"),
        max(col("timestamp")).as("max_ts"))
      .orderBy("file")
  }

  /** R12 payload shaping (`kinesis-to-humio.py:136-148,161-164`) as a
    * declarative op: one row per (file, block, batch) with the Humio
    * envelope `{tags:{logStreamPrefix,logGroup}, events:[{timestamp,
    * attributes}]}` serialized via to_json — the DataFrame form of
    * what HttpBatchSink posts. collect_list is safe here because a
    * batch is ≤ batchSize events by construction. */
  def firehosePayloads(spark: SparkSession, batchSize: Int = 5000): DataFrame = {
    val events = FirehoseDecoder.withBatchId(
      FirehoseDecoder.decode(spark, fixtureDir.getAbsolutePath),
      batchSize)
      .withColumn("file", regexp_extract(col("file"), "([^/]+)$", 1))
    events
      .groupBy("file", "block_idx", "batch_id", "logStreamPrefix",
        "logGroup")
      .agg(sort_array(collect_list(struct(
        col("event_idx"), col("timestamp"), col("id"), col("message"),
        col("logStream")))).as("evs"))
      .select(col("file"), col("block_idx"), col("batch_id"),
        to_json(struct(
          struct(col("logStreamPrefix"), col("logGroup")).as("tags"),
          transform(col("evs"), e => struct(
            e.getField("timestamp").as("timestamp"),
            struct(e.getField("id").as("id"),
              e.getField("message").as("message"),
              col("file").as("file"),
              e.getField("logStream").as("logStream"))
              .as("attributes"))).as("events"))).as("payload"),
        size(col("evs")).as("n_events"))
      .orderBy("file", "block_idx", "batch_id")
  }

  /** One-shot streaming-pipeline run (S26): Firehose ingest → quality
    * gate → duplicate screen → exactly-once TxTable commits, over the
    * deterministic 4-file staging fixture (one file per micro-batch —
    * strictly ascending mod times + maxFilesPerTrigger=1). Built once
    * per JVM through DerivedCache so Bench attributes the run to
    * build_sec; the gated key then reads the COMMIT LOG the run left
    * behind. */
  private def streamingPipelineTable(s: SparkSession): String =
    graft.operators.DerivedCache.memoValue(s, "pipeline_streaming_table") {
      val staging = SparkEntry.tempDir("graft_stream_staging_")
      graft.firehose.FirehoseFixture.writeStreaming(new File(staging))
      val table = SparkEntry.tempDir("graft_stream_table_")
      val ckpt = SparkEntry.tempDir("graft_stream_ckpt_")
      val q = graft.streaming.StreamingCorpusPipeline.start(
        s, staging, table, ckpt, appId = "pipeline_streaming")
      q.awaitTermination()
      val v = graft.sources.TxTable.latestVersion(table)
      require(v.contains(5L),
        s"expected 5 versions (create + one per staged file), got $v")
      table
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_firehose_pipeline" -> ((s, _) => firehosePipeline(s)),

    // S26 end-to-end under the hash gate: the per-version CHANGE FEED
    // of the pipeline's commit log — one version per staged file —
    // with the running total maintained IVM-style from the feed
    // itself (PrefixSum fold, the S25 consumer pattern; the spec
    // additionally pins fold == direct per-version reads). The DuckDB
    // oracle reconstructs the staged fixture arithmetically (seeded
    // generator, FIXTURES.md §A) and replays gate + dedup semantics:
    // v2 ← f1 (blocks 10+11, one noise event gated), v3 ← f2, v4 ←
    // f3 (block 10's REDELIVERY fully deduped — n_streams proves not
    // one copy leaked), v5 ← f4 (double-gzip, 1-segment logStream).
    "q_pipeline_streaming" -> ((s, _) => {
      val t = streamingPipelineTable(s)
      val isIns = col("_change") === "insert"
      val perV = (1L to 5L).map { v =>
        graft.sources.TxTable.changes(s, t, v - 1, v)
          .agg(coalesce(sum(when(isIns, 1L)), lit(0L)).as("n_insert"),
            coalesce(sum(when(isIns, col("ts"))), lit(0L)).as("ts_sum"),
            countDistinct(when(isIns, col("log_stream")))
              .as("n_streams"))
          .select(lit(v).as("version"), col("n_insert"),
            col("ts_sum"), col("n_streams"))
      }.reduce(_ unionByName _)
      graft.operators.PrefixSum.prefixSums(perV,
          Seq(col("n_insert") -> "n_total"), col("version"))
        .select("version", "n_insert", "ts_sum", "n_streams", "n_total")
        .orderBy("version")
    }),
    "q_firehose_throughput" -> ((s, _) => firehoseThroughput(s)),
    "q_firehose_payloads" -> ((s, _) => firehosePayloads(s, batchSize = 3)),

    // Text source formats beside parquet, explicit schemas (inference
    // is a full extra data pass at scale and types differently per
    // engine). Both gated against DuckDB reading the SAME fixture
    // file (read_csv / read_json), so the parse itself is compared.
    "q_source_csv" -> ((s, _) =>
      graft.sources.TextSources.readCsv(s)
        .groupBy("tag")
        .agg(count(lit(1)).as("n"),
          sum(col("val").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_val"))
        .orderBy("tag")),

    "q_source_jsonl" -> ((s, _) =>
      graft.sources.TextSources.readJsonl(s)
        .filter(col("val") > 50.0)
        .select("id", "name", "val")
        .orderBy("id")),

    // Hive-partitioned landing layout round trip: documents written
    // partitionBy(lang), read back with a lang predicate that is
    // satisfied by PRUNING (PartitionFilters in the scan — pinned by
    // PartitionPruneSpec), so the other languages' files are never
    // opened. Oracle compares against the source-of-truth table: the
    // layout must be lossless.
    "q_source_partitioned" -> ((s, d) =>
      graft.sinks.PartitionedCorpusSink.writeAndRead(
          graft.Tables.documents(s, d)
            .select("doc_id", "n_chars", "lang"),
          "graft_part_corpus", "lang")
        .filter(col("lang") === "en")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),

    // Dynamic partition pruning over the same layout: the fact side's
    // partition filter is not known until the DIM side is filtered at
    // runtime — Catalyst injects a dynamicpruning subquery into the
    // partitioned scan (reusing the dim's broadcast), so only the
    // languages surviving the dim filter are read. At 100 TB this is
    // the star-schema date/tenant-slice pattern: the fact scan
    // shrinks by the dim's selectivity with no code on the fact side.
    // DppSpec pins the runtime filter's presence in the scan.
    "q_join_dpp" -> ((s, d) => {
      import s.implicits._
      val fact = graft.sinks.PartitionedCorpusSink.writeAndRead(
        graft.Tables.documents(s, d)
          .select("doc_id", "n_chars", "lang"),
        "graft_part_corpus", "lang")
      // the dim must be a real SOURCE: an inline LocalRelation's
      // filter is constant-folded away before the PartitionPruning
      // rule looks for a selective predicate, so DPP never fires on
      // literal dims — exactly how it behaves in production, where
      // dims are tables.
      val dimDir = s"${System.getProperty("java.io.tmpdir")}/graft_dpp_dim"
      Seq(("en", "germanic"), ("de", "germanic"),
        ("fr", "romance"), ("es", "romance"), ("zh", "sinitic"),
        ("ja", "japonic"), ("ru", "slavic"), ("ar", "semitic"))
        .toDF("lang", "family")
        .write.mode("overwrite").parquet(dimDir)
      val dim = s.read.parquet(dimDir)
      fact.join(broadcast(dim.filter(col("family") === "germanic")),
          Seq("lang"))
        .groupBy("lang", "family")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("chars"))
        .orderBy("lang")
    }),

    // Nested-schema pruning: a struct-typed corpus lands in parquet;
    // a reader touching one subfield must scan ONLY that subfield
    // (ReadSchema struct<meta:struct<lang>> — pinned by DppSpec), not
    // the whole struct. The oracle proves the nested round trip
    // lossless on the surviving field.
    "q_source_nested" -> ((s, d) => {
      val dir = s"${System.getProperty("java.io.tmpdir")}/graft_nested"
      graft.Tables.documents(s, d)
        .select(col("doc_id"),
          struct(col("lang"), col("source"), col("n_chars")).as("meta"))
        .write.mode("overwrite").parquet(dir)
      s.read.parquet(dir)
        .select(col("doc_id"), col("meta.lang").as("lang"))
        .orderBy("doc_id")
    }),

    // ORC round-trip against the CSV twin of the same logical rows
    // (DuckDB has no ORC reader — the shared fixture is what makes
    // the format gate-able; see TextSources.orcFixtureDir).
    "q_source_orc" -> ((s, _) => {
      graft.sources.TextSources.csvFixture // the oracle reads this twin
      graft.sources.TextSources.readOrc(s)
        .groupBy("tag")
        .agg(count(lit(1)).as("n"),
          sum(col("val").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_val"),
          min("id").as("min_id"), max("id").as("max_id"))
        .orderBy("tag")
    })
  )

  /** Absolute path of the committed golden CSVs (embedded into
    * oracle_sql.json at Verify time). Anchored on the repo root
    * found by walking UP from this class's compiled location
    * (<repo>/target/scala-2.13/classes), not on the process CWD —
    * a driver launched from another directory would otherwise embed
    * a wrong path and fail all four golden gates for a reason
    * unrelated to correctness. CWD is the last-resort fallback. */
  private[queries] def goldenDir: String = {
    val fromClasspath = Option(
      classOf[FirehoseDecoder.type].getProtectionDomain.getCodeSource)
      .map(_.getLocation.toURI)
      .filter(_.getScheme == "file")
      .map(java.nio.file.Paths.get(_))
      .flatMap { start =>
        Iterator.iterate(start)(_.getParent).takeWhile(_ != null)
          .map(_.resolve("tools").resolve("golden"))
          .find(java.nio.file.Files.isDirectory(_))
      }
    fromClasspath
      .getOrElse(java.nio.file.Paths.get("tools", "golden").toAbsolutePath)
      .toString
  }

  def oracleSql: Map[String, String] = Map(
    // S26 replay: the staging fixture is seeded arithmetic
    // (FirehoseFixture.blockNoisy — ids ev-<b>-<e>, ts = 1.7e12 +
    // b*100000 + e, message 'line <e> of block <b>' except every
    // e≡3 (mod 4) a one-word 'noise<e>'), so the oracle REBUILDS the
    // staged events AND their messages from the generator contract,
    // applies the QUALITY RULE TREE at log-event tuning (word count
    // in [3, 256], mean word length in [1, 40], no stop-word rule —
    // the same QualityRules profile the engine gate compiles from,
    // replayed on the reconstructed text rather than positionally)
    // and the dedup (block 10's redelivery in f3 contributes nothing
    // — its events keep their v2 attribution), and aggregates the
    // same per-version feed stats + running total. The DECODE itself
    // is independently golden-twin gated by q_firehose_pipeline;
    // this key gates the pipeline composition end-to-end.
    "q_pipeline_streaming" ->
      """WITH blocks(block_id, n_ev, ver, stream) AS (VALUES
        |  (10, 3, 2, '2024/05/01/app/i-1'),
        |  (11, 4, 2, '2024/05/01/app/i-2'),
        |  (12, 5, 3, '2024/05/02/app/i-3'),
        |  (13, 2, 4, '2024/05/03/app/i-4'),
        |  (14, 3, 5, 'shorty')),
        |g AS (SELECT unnest(generate_series(0, 9)) AS e),
        |raw AS (
        |  SELECT b.block_id, g.e,
        |    CAST(1700000000000 AS BIGINT) + b.block_id * 100000 + g.e
        |      AS ts,
        |    b.ver, b.stream,
        |    CASE WHEN g.e % 4 = 3 THEN 'noise' || g.e
        |      ELSE 'line ' || g.e || ' of block ' || b.block_id
        |    END AS message
        |  FROM blocks b JOIN g ON g.e <= b.n_ev - 1),
        |ev AS (
        |  SELECT * FROM raw
        |  WHERE len(string_split(message, ' ')) BETWEEN 3 AND 256
        |    AND length(replace(message, ' ', ''))
        |      / CAST(len(string_split(message, ' ')) AS DOUBLE)
        |      BETWEEN 1.0 AND 40.0),
        |per AS (
        |  SELECT ver, COUNT(*) AS n_insert, SUM(ts) AS ts_sum,
        |    COUNT(DISTINCT stream) AS n_streams
        |  FROM ev GROUP BY ver),
        |vers AS (SELECT unnest(generate_series(1, 5)) AS version)
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(COALESCE(n_insert, 0) AS BIGINT) AS n_insert,
        |  CAST(COALESCE(ts_sum, 0) AS BIGINT) AS ts_sum,
        |  CAST(COALESCE(n_streams, 0) AS BIGINT) AS n_streams,
        |  CAST((SELECT COUNT(*) FROM ev e2 WHERE e2.ver <= version)
        |    AS BIGINT) AS n_total
        |FROM vers LEFT JOIN per ON per.ver = version
        |ORDER BY version""".stripMargin,

    // Firehose keys: hash-gated against the independent stdlib-Python
    // decoder's committed golden rows (tools/firehose_oracle.py).
    "q_firehose_pipeline" ->
      s"""SELECT * FROM read_csv('$goldenDir/firehose_pipeline.csv',
        |  header=true,
        |  columns={'timestamp':'BIGINT','logGroup':'VARCHAR',
        |    'logStream':'VARCHAR','logStreamPrefix':'VARCHAR',
        |    'file':'VARCHAR','id':'VARCHAR','message':'VARCHAR',
        |    'block_idx':'INTEGER','event_idx':'INTEGER',
        |    'batch_id':'INTEGER'})""".stripMargin,
    "q_firehose_payloads" ->
      s"""SELECT * FROM read_csv('$goldenDir/firehose_payloads.csv',
        |  header=true,
        |  columns={'file':'VARCHAR','block_idx':'INTEGER',
        |    'batch_id':'INTEGER','payload':'VARCHAR',
        |    'n_events':'INTEGER'})""".stripMargin,
    "q_firehose_throughput" ->
      s"""SELECT * FROM read_csv('$goldenDir/firehose_throughput.csv',
        |  header=true,
        |  columns={'file':'VARCHAR','n_events':'BIGINT',
        |    'min_ts':'BIGINT','max_ts':'BIGINT'})""".stripMargin,

    "q_source_csv" ->
      s"""SELECT tag, COUNT(*) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_val
        |FROM read_csv('${System.getProperty("java.io.tmpdir")}/graft_source_fixture.csv',
        |  header=true,
        |  columns={'id':'BIGINT','name':'VARCHAR','val':'DOUBLE','tag':'VARCHAR'})
        |GROUP BY tag ORDER BY tag""".stripMargin,
    "q_source_jsonl" ->
      s"""SELECT id, name, val
        |FROM read_json('${System.getProperty("java.io.tmpdir")}/graft_source_fixture.jsonl',
        |  columns={'id':'BIGINT','name':'VARCHAR','val':'DOUBLE','tag':'VARCHAR'})
        |WHERE val > 50.0 ORDER BY id""".stripMargin,
    "q_source_partitioned" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    "q_join_dpp" ->
      """SELECT lang, 'germanic' AS family, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents WHERE lang IN ('en', 'de')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_source_nested" ->
      "SELECT doc_id, lang FROM documents ORDER BY doc_id",
    "q_source_orc" ->
      s"""SELECT tag, COUNT(*) AS n,
        |  CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
        |  MIN(id) AS min_id, MAX(id) AS max_id
        |FROM read_csv('${System.getProperty("java.io.tmpdir")}/graft_source_fixture.csv',
        |  header=true,
        |  columns={'id':'BIGINT','name':'VARCHAR','val':'DOUBLE','tag':'VARCHAR'})
        |GROUP BY tag ORDER BY tag""".stripMargin
  )
}
