package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skewed-fixture proof for the salted-join operator: a Zipf-like
  * power-law key fixture (the q_text_lm_score class — one hot key
  * holding ~13% of a 6M-row probe side), joined plain vs
  * [[graft.operators.ScaleJoins.saltedJoin]] under AQE with
  * skew-join ON and broadcast disabled (the 100 TB stand-in: a dim
  * side too big to broadcast). Emits one JSON line with both wall
  * times and the hot-key distribution, consumed into BENCH_10X.json.
  *
  * Key generation is the inverse-CCDF power-law transform
  * k = min(K, u^(-1/(s-1))) with s = 1.2 over a deterministic
  * per-row hash uniform — no rand(), reproducible across runs and
  * retries. AQE's skew-join split does NOT fire here (the hot
  * partition is ~150 MB, under the 256 MB split threshold — exactly
  * the regime where byte-based skew handling leaves a row-count
  * straggler), which is the point: salting bounds the per-reducer
  * row count by construction, not by a byte heuristic.
  *
  * Reading the record: on local[32] the MIN wall times converge
  * (the straggler hides behind 31 concurrently-busy cores; cold
  * passes show the 2–4× gap), so the headline metric is
  * `max_reducer_rows_*` — on a many-executor cluster the wall clock
  * IS the max task, and the reducer bound is what salting buys.
  *
  * Usage: runMain graft.SkewBench <outJsonPath>
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/skew_bench.json"
    val spark = SparkEntry.session()
    val cpus = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // coalescing merges sub-advisory-size reducers — a small-bytes
    // artifact that would blind the max-reducer-rows metric (at
    // 100 TB these partitions exceed the advisory size and stay
    // split); skew-join splitting stays ON
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // the dim is 100k rows — broadcastable here, NOT at 100 TB;
    // disabling broadcast makes the local run exercise the same
    // shuffle join the full-scale job would
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import spark.implicits._

    val nRows = sys.env.getOrElse("SKEW_ROWS", "60000000").toLong
    val nKeys = 100000L
    // u in (0, 1]: 30 hash bits; k = u^-5 capped — P(k=1) ~ 13%
    val large = spark.range(nRows)
      .withColumn("u",
        (pmod(xxhash64(col("id")), lit(1 << 30)) + 1).cast("double")
          / lit((1 << 30).toDouble))
      .withColumn("key",
        least(lit(nKeys), ceil(pow(col("u"), lit(-5.0)))).cast("long"))
      .select(col("id"), col("key"),
        (col("id") % 97).cast("long").as("v"))
      .localCheckpoint(true) // freeze: both joins read identical rows
    val small = spark.range(1, nKeys + 1)
      .select(col("id").as("key"), (col("id") * 3).cast("long").as("w"))
      .localCheckpoint(true)

    val hot = large.groupBy("key").count()
      .orderBy(col("count").desc).limit(1).collect()(0)
    def timeIt(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def plain = large.join(small, "key")
      .select(col("key"), col("v") + col("w"))
    def salted = graft.operators.ScaleJoins
      .saltedJoin(large, small, "key", salts = cpus)
      .select(col("key"), col("v") + col("w"))
    // result equality first (the ScaleJoinsSpec contract, re-proven
    // on the pathological fixture): same row multiset
    val nPlain = plain.count()
    val nSalted = salted.count()
    require(nPlain == nSalted, s"salted != plain: $nSalted vs $nPlain")
    // alternate 3 passes, keep mins — same discipline as Bench
    val (ps, ss) = (Array.fill(3)(0.0), Array.fill(3)(0.0))
    for (i <- 0 until 3) { ps(i) = timeIt(plain); ss(i) = timeIt(salted) }
    // The scale-honest metric: MAX ROWS PER REDUCER. On local[32]
    // the straggler hides behind 31 concurrently-busy cores (total
    // work >> one reducer), but on a 1000-executor cluster the wall
    // clock IS the max task — the per-reducer bound is what salting
    // buys, so it goes in the record alongside the local wall times.
    def maxPart(df: DataFrame): Long = df
      .select(spark_partition_id().as("p"))
      .groupBy("p").agg(count(lit(1)).as("n"))
      .agg(max("n")).collect()(0).getLong(0)
    val (mpPlain, mpSalted) = (maxPart(plain), maxPart(salted))
    val json =
      f"""{"fixture":{"rows":$nRows,"keys":$nKeys,"zipf_exponent":1.2,""" +
        f""""hot_key":${hot.getLong(0)},"hot_rows":${hot.getLong(1)}},""" +
        f""""join_rows":$nPlain,""" +
        f""""plain_sec":${ps.min}%.3f,"salted_sec":${ss.min}%.3f,""" +
        f""""speedup":${ps.min / ss.min}%.3f,"salts":$cpus,""" +
        f""""max_reducer_rows_plain":$mpPlain,""" +
        f""""max_reducer_rows_salted":$mpSalted,""" +
        f""""reducer_bound_ratio":${mpPlain.toDouble / mpSalted}%.2f,""" +
        f""""plain_runs":[${ps.map(t => f"$t%.3f").mkString(",")}],""" +
        f""""salted_runs":[${ss.map(t => f"$t%.3f").mkString(",")}]}"""
    Files.write(Paths.get(out), (json + "\n").getBytes(StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
