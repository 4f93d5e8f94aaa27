package graft

import org.apache.spark.sql.functions._

/** Builds the standing 10× scale fixture: every table except the
  * fixed-cardinality dims (region, nation) concatenated ×10, with
  * every JOIN KEY renumbered per copy (`key + copy · 1e9`,
  * consistently across tables: a copy's lineitem rows reference the
  * same copy's orders/part/supplier rows). Key renumbering is what
  * makes the ratios meaningful: a naive id-duplicating concat turns
  * every equi-join many-to-many (10 matches per key → up to 100×
  * join output) and the record then measures the fixture, not the
  * engine — observed as 82×/69× "ratios" on TPC-H Q9/Q8 before this
  * was fixed. With renumbered keys a copy joins only itself, so a
  * scale-clean operator should land near 10×/32-way ≈ linear.
  * Non-key attributes (nationkey dims, linenumber, texts,
  * embeddings) stay as-is; bounded-contract slices (doc_id < 300,
  * vec_id < 200) keep exactly their base content because the copies
  * renumber far above the bounds — those operators are DESIGNED to
  * stay flat and the record proves it.
  *
  * Usage: runMain graft.Fixture10x <srcSfDir> <outDir>
  */
object Fixture10x {
  val Offset = 1000000000L

  /** per-table join-key columns to renumber (consistent across the
    * tables that share the domain) */
  val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))
  val asIs = Seq("region", "nation")

  def main(args: Array[String]): Unit = {
    val (src, out) = (args(0), args(1))
    val spark = SparkEntry.session()
    for (t <- asIs)
      Tables(spark, src, t).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    for ((t, keys) <- keyCols) {
      val df = Tables(spark, src, t)
      (0 until 10).map { c =>
        keys.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(c * Offset)))
      }.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    println(s"""{"fixture":"$out","replicated":${keyCols.size}}""")
    spark.stop()
  }
}
