package graft
import org.apache.spark.sql.execution.SparkPlan
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare — and
  * plan_flags.json, the per-query SCALE-ANTIPATTERN scan the local
  * gate (tools/verify_local.py) fails on: unpartitioned window
  * operators, nested-loop joins, cartesian products. Plans are
  * checked here, with typed operator access, rather than grepped
  * from explain text downstream. */
object Verify {

  /** Scale-antipattern flags for one physical plan (adaptive nodes
    * unwrapped). These are the shapes that cannot survive a 100×
    * scale-up: a window over one task, an O(n·m) join. A nested-loop/
    * cartesian join whose build side is PROVABLY single-row (a global
    * no-grouping aggregate, possibly under projections/exchanges, or
    * a cross of such) is the legitimate broadcast-scalar pattern used
    * throughout the registry and is not flagged — it is O(n), not
    * O(n·m). */
  /** Join-key attribute names that smell like raw token / n-gram
    * columns — the Zipfian-key class (q_text_lm_score's bigram join)
    * where a plain shuffle equi-join puts a corpus fraction on one
    * reducer at 100×. A SHUFFLE join keyed on one of these is flagged
    * `hotkey_shuffle_join` and must be allow-listed with a written
    * skew justification (broadcast head / salt / bounded key
    * frequency); broadcast joins are exempt — they are the fix. */
  private val tokenKeyNames = Set(
    "w1", "w2", "w3", "tok", "token", "term", "word", "gram", "ngram",
    "bigram", "trigram", "shingle")

  def planFlags(p: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    def tokenKeyed(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Boolean =
      keys.exists(_.collectFirst {
        case a: AttributeReference
            if tokenKeyNames(a.name.toLowerCase) => a
      }.isDefined)
    // NOTE: always a.inputPlan, never a.executedPlan — on an adaptive
    // plan the latter triggers final-plan materialization, i.e. RUNS
    // the query (it cost a silent 8× on the whole verify pass before
    // this was caught). The static shape is what the gate audits.
    def singleRow(x: SparkPlan): Boolean = x match {
      case a: AdaptiveSparkPlanExec => singleRow(a.inputPlan)
      case qs: QueryStageExec => singleRow(qs.plan)
      case r: ReusedExchangeExec => singleRow(r.child)
      case agg: BaseAggregateExec => agg.groupingExpressions.isEmpty
      case j: BroadcastNestedLoopJoinExec =>
        singleRow(j.left) && singleRow(j.right)
      case c: CartesianProductExec => singleRow(c.left) && singleRow(c.right)
      case u if u.children.size == 1 => singleRow(u.children.head)
      case _ => false
    }
    def flatten(x: SparkPlan): Seq[SparkPlan] = {
      val kids = x match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case other => other.children
      }
      x +: kids.flatMap(flatten)
    }
    flatten(p).collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        "unpartitioned_window"
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        "unpartitioned_window"
      case j: BroadcastNestedLoopJoinExec
          if !singleRow(if (j.buildSide == BuildRight) j.right else j.left) =>
        "nested_loop_join"
      case c: CartesianProductExec
          if !singleRow(c.left) && !singleRow(c.right) =>
        "cartesian_product"
      case j: SortMergeJoinExec if tokenKeyed(j.leftKeys) =>
        "hotkey_shuffle_join"
      case j: ShuffledHashJoinExec if tokenKeyed(j.leftKeys) =>
        "hotkey_shuffle_join"
    }.distinct
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: only run/dump queries whose name starts with
    // this prefix (fast local iteration; the driver passes two args).
    val prefix = if (args.length > 2) args(2) else ""
    val spark = SparkEntry.session()
    new java.io.File(outDir).mkdirs()
    val flags = scala.collection.mutable.SortedMap.empty[String, Seq[String]]
    SparkEntry.queries.filter(_._1.startsWith(prefix)).foreach {
      case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          flags(name) = planFlags(df.queryExecution.executedPlan)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // Caches some operators build internally (e.g. shingled
        // corpora) must not accumulate across a 100+-query session.
        finally spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/plan_flags.json"),
      flags.map { case (k, fs) =>
        s""""$k": [${fs.map(f => s""""$f"""").mkString(", ")}]"""
      }.mkString("{", ",\n ", "}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(_._1.startsWith(prefix))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
