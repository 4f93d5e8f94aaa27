package graft

import org.apache.spark.sql.functions._

/** Builds the DISTINCT-KEY, DISTINCT-CONTENT ~30× scale fixture for
  * the heavy-tail proof (BENCH_30X): every table except the
  * fixed-cardinality dims replicated ×30 with join keys renumbered
  * per copy (the [[Fixture10x]] discipline — a copy joins only
  * itself), PLUS a per-copy token mutation of `documents.text`
  * (every token suffixed `_c<copy>`) that the 10× fixture lacked.
  *
  * Why mutate the text: concat-replication leaves each copy's
  * documents TEXTUALLY IDENTICAL to the base, so every base near-dup
  * pair acquires 30² cross-copy twins — pair/dedup outputs then grow
  * quadratically and the record measures the fixture, not the
  * engine. With per-copy token namespaces, cross-copy Jaccard is 0:
  * each copy reproduces exactly the base pair structure, so pair
  * counts, cluster counts, n-gram model sizes and BPE vocab all grow
  * LINEARLY (×30) — the shape a 30× corpus actually has — while
  * per-copy semantics (within-copy similarity, token frequencies,
  * merge dynamics) stay the base's.
  *
  * Usage: runMain graft.Fixture30x <srcSfDir> <outDir> [copies]
  */
object Fixture30x {

  def main(args: Array[String]): Unit = {
    val (src, out) = (args(0), args(1))
    val copies = if (args.length > 2) args(2).toInt else 30
    val spark = SparkEntry.session()
    for (t <- Fixture10x.asIs)
      Tables(spark, src, t).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    for ((t, keys) <- Fixture10x.keyCols) {
      val df = Tables(spark, src, t)
      (0 until copies).map { c =>
        val renum = keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(c * Fixture10x.Offset)))
        // per-copy token namespace — copy 0 keeps the base text so
        // bounded-contract slices (doc_id < 300) see base content
        if (t == "documents" && c > 0)
          renum.withColumn("text",
            array_join(transform(split(col("text"), " "),
              x => concat(x, lit(s"_c$c"))), " "))
        else renum
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"""{"fixture":"$out","copies":$copies,"replicated":${Fixture10x.keyCols.size}}""")
    spark.stop()
  }
}
