package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §2.3 for the operator inventory
  * each query key exercises, and SURVEY.md §7.4 for the determinism
  * rules that make every oracle pair hash-match DuckDB.
  */
object SparkEntry {
  /** The one session every main and spec starts from: `local[cores]`
    * with [[graft.functions.GraftExtensions]] installed, one shuffle
    * partition per core, UTC session time (the events.ts
    * normalization in [[Tables]] requires it), nanosecond parquet
    * timestamps read as longs, no UI and WARN logging. `cores`
    * defaults to `SPARK_GRAFT_CPUS`, else 4. Callers that need extra
    * runtime confs set them with `spark.conf.set` afterwards. */
  def session(cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A fresh directory under `java.io.tmpdir` whose name starts with
    * `prefix` — where fixtures write the tables they build. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")), prefix)
      .toString

  /** Flagship query: the reference's entire ingest dataflow (R6–R13)
    * as one declarative plan — gunzip-until-plain, DATA_MESSAGE
    * split, from_json, explode, lineage/prefix enrichment, batch ids
    * (see [[graft.firehose.FirehoseDecoder]]). Driver smoke-checks
    * rows>0. */
  def entry(spark: SparkSession): DataFrame =
    PipelineQueries.firehosePipeline(spark)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++
      AggQueries.queries ++
      WindowQueries.queries ++
      ScalarQueries.queries ++
      TextQueries.queries ++
      SimilarityQueries.queries ++
      PipelineQueries.queries ++
      LlmQueries.queries ++
      CompositeQueries.queries ++
      TpchQueries.queries ++
      CurationQueries.queries ++
      EventQueries.queries ++
      AnalyticsQueries.queries ++
      CorpusQueries.queries ++
      GraphQueries.queries ++
      RetrievalQueries.queries ++
      TxQueries.queries ++
      IndexQueries.queries

  /** For each key in `queries`, equivalent ANSI SQL runnable by
    * DuckDB on the same parquet tables. Omitted keys get the driver's
    * weaker rows-only check. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++
      AggQueries.oracleSql ++
      WindowQueries.oracleSql ++
      ScalarQueries.oracleSql ++
      TextQueries.oracleSql ++
      SimilarityQueries.oracleSql ++
      PipelineQueries.oracleSql ++
      CompositeQueries.oracleSql ++
      TpchQueries.oracleSql ++
      LlmQueries.oracleSql ++
      CurationQueries.oracleSql ++
      EventQueries.oracleSql ++
      AnalyticsQueries.oracleSql ++
      CorpusQueries.oracleSql ++
      GraphQueries.oracleSql ++
      RetrievalQueries.oracleSql ++
      TxQueries.oracleSql ++
      IndexQueries.oracleSql
}
