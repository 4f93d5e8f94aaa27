package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{ApproxDedup, ConnectedComponents}

/** Scale probe for the ITERATIVE operators' round counts: runs both
  * connected-component algorithms on the base near-dup graph and on
  * a ×30 distinct-key replication of it, recording rounds + wall
  * seconds. The claim under test — the reason these operators
  * survive 100 TB — is that rounds are DATA-INDEPENDENT: label
  * propagation converges in diameter rounds and star contraction in
  * O(log² n), and a 30× corpus of the same near-dup structure (30
  * disjoint renumbered copies — exactly what the token-namespaced
  * Fixture30x documents produce) must consume EXACTLY the same
  * rounds, with wall growing only by per-round data volume.
  * (PageRank, BFS hops and BPE training have contract-FIXED round
  * counts — 3 / 3 / 32 — so only the convergence-driven pair needs
  * an empirical probe.)
  *
  * Output: one JSON line consumed by tools/make_bench_30x.py.
  * Usage: runMain graft.RoundsProbe [sfDir]
  */
object RoundsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.session()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val basePairs = ApproxDedup.ngramJaccardPairs(
      docs, n = 2, maxId = 300, threshold = 0.10)
      .select("a_id", "b_id").localCheckpoint(true)
    val baseNodes = docs.filter(col("doc_id") < 300).select("doc_id")
      .localCheckpoint(true)
    def xN(df: DataFrame, cols: Seq[String], n: Int): DataFrame =
      (0 until n).map { c =>
        cols.foldLeft(df)((d, k) =>
          d.withColumn(k, col(k) + lit(c * Fixture10x.Offset)))
      }.reduce(_ unionAll _).localCheckpoint(true)
    val pairs30 = xN(basePairs, Seq("a_id", "b_id"), 30)
    val nodes30 = xN(baseNodes, Seq("doc_id"), 30)
    def run(algo: String, nodes: DataFrame, pairs: DataFrame)
        : (Int, Double, Long) = {
      val fn: (DataFrame, DataFrame) => DataFrame =
        if (algo == "star") ConnectedComponents.starComponents(_, _)
        else ConnectedComponents.components(_, _)
      val t0 = System.nanoTime()
      val out = fn(
        nodes.select(col("doc_id").as("id")),
        pairs.select(col("a_id").as("src"), col("b_id").as("dst")))
      val n = out.count()
      val wall = (System.nanoTime() - t0) / 1e9
      (ConnectedComponents.lastRounds.get(), wall, n)
    }
    val results = for {
      algo <- Seq("propagation", "star")
      (tag, nodes, pairs) <- Seq(
        ("base", baseNodes, basePairs), ("x30", nodes30, pairs30))
    } yield {
      val (rounds, wall, n) = run(algo, nodes, pairs)
      s""""${algo}_$tag":{"rounds":$rounds,"wall_sec":${Bench.fmt(wall)},"labels":$n}"""
    }
    println(results.mkString("{", ",", "}"))
    spark.stop()
  }
}
