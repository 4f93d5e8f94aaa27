package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AnnSearch

/** ANN operating-curve artifact: recall@5 (and scored-candidate
  * volume, the cost axis) versus the index knobs — nProbe for
  * IVF/IVFADC/filtered-IVFADC, rerank for PQ — on the driver
  * embeddings fixture. The committed `ANN_CURVE.md` is the evidence
  * behind index-parameter choices at scale: at 100 TB you pick the
  * cheapest point on the measured curve that clears the recall
  * target, instead of guessing. AnnCurveSpec pins the curve's
  * defining property (recall non-decreasing in nProbe, exact at
  * full probe) so a kernel regression that bends the curve fails
  * the build.
  *
  * Usage: `sbt "runMain graft.AnnCurve [sfDir] [outFile]"`.
  */
object AnnCurve {

  /** Mean recall@k of `ann` against the exact `brute` top-k, plus
    * the number of scored candidate pairs (the work proxy). */
  def recallOf(brute: DataFrame, ann: DataFrame): Double = {
    val b = brute.select("a_id", "b_id")
    val k = brute.groupBy("a_id").count().agg(max("count")).head().getLong(0)
    val per = b.join(ann.select("a_id", "b_id"),
        Seq("a_id", "b_id"), "left_semi")
      .groupBy("a_id").agg(count(lit(1)).as("h"))
    val n = b.select("a_id").distinct().count()
    val hits = per.agg(sum("h")).head().getLong(0)
    hits.toDouble / (n * k)
  }

  /** One measured curve point. */
  case class Point(family: String, knob: String, value: Int,
                   recall: Double, candidates: Long)

  /** Measure every curve point on `e` (bounded tier: vec_id <
    * maxId, the q_ann_* contract). */
  def curve(spark: SparkSession, e: DataFrame, maxId: Long = 200)
      : Seq[Point] = {
    val nCells = 8
    val brute = AnnSearch.bruteTopK(e, k = 5, maxId = maxId)
      .localCheckpoint(true)
    val bruteFiltered = AnnSearch.bruteTopK(e, k = 5, maxId = maxId,
      candidateFilter = col("label") === 1).localCheckpoint(true)
    val sub = e.filter(col("vec_id") < maxId)
    def candIvf(nProbe: Int, filter: org.apache.spark.sql.Column) = {
      val cents = AnnSearch.trainQuantizer(sub, nCells, 0)
      AnnSearch.probeCells(sub, cents, nProbe)
        .join(AnnSearch.assignCells(sub.filter(filter), cents)
          .select(col("vec_id").as("b_id"), col("cell")), Seq("cell"))
        .filter(col("a_id") =!= col("b_id")).count()
    }
    val ivf = (1 to nCells).filter(p => p == 1 || p % 2 == 0).map { p =>
      Point("ivf", "nProbe", p,
        recallOf(brute, AnnSearch.ivfTopK(e, k = 5, maxId = maxId,
          nCentroids = nCells, nProbe = p, kmeansIters = 0)),
        candIvf(p, lit(true)))
    }
    val ivfpq = (1 to nCells).filter(p => p == 1 || p % 2 == 0).map { p =>
      Point("ivfpq", "nProbe", p,
        recallOf(brute, AnnSearch.ivfPqTopK(e, k = 5, maxId = maxId,
          nCentroids = nCells, nProbe = p)),
        candIvf(p, lit(true)))
    }
    val ivfpqF = (1 to nCells).filter(p => p == 1 || p % 2 == 0).map { p =>
      Point("ivfpq_filtered", "nProbe", p,
        recallOf(bruteFiltered,
          AnnSearch.ivfPqTopK(e, k = 5, maxId = maxId,
            nCentroids = nCells, nProbe = p,
            candidateFilter = col("label") === 1)),
        candIvf(p, col("label") === 1))
    }
    val pq = Seq(5, 15, 30, 45).map { r =>
      Point("pq", "rerank", r,
        recallOf(brute, AnnSearch.pqTopK(e, k = 5, maxId = maxId,
          rerank = r)),
        // PQ scans every code (ADC) but fetches only `rerank` full
        // vectors per query — that is its cost knob
        maxId * r)
    }
    ivf ++ ivfpq ++ ivfpqF ++ pq
  }

  def render(points: Seq[Point], sfDir: String): String = {
    // double leading pipe: the first is the stripMargin margin char
    val rows = points.map(p =>
      f"|| ${p.family}%-15s | ${p.knob}%-6s | ${p.value}%5d " +
        f"| ${p.recall}%.4f | ${p.candidates}%10d |")
    s"""# ANN operating curves — recall@5 vs index knobs
       |
       |Fixture: `$sfDir` embeddings, bounded tier vec_id < 200,
       |nCells = 8, k = 5. `candidates` = scored candidate pairs
       |(IVF families) or fetched re-rank vectors (PQ) — the cost
       |axis. Generated by `runMain graft.AnnCurve`; the curve's
       |shape (recall non-decreasing in nProbe, exact at full probe)
       |is pinned by AnnCurveSpec.
       |
       || family          | knob   | value | recall@5 | candidates |
       ||-----------------|--------|-------|----------|------------|
       ${rows.mkString("\n")}
       |
       |Reading: pick the cheapest knob value on the measured curve
       |that clears the deployment's recall target. The filtered
       |variant's recall is measured against the FILTERED brute-force
       |ground truth (top-5 qualifying neighbors per query).
       |""".stripMargin
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "ANN_CURVE.md"
    val spark = SparkEntry.session()
    val pts = curve(spark, Tables.embeddings(spark, sfDir))
    Files.write(Paths.get(out),
      render(pts, sfDir).getBytes(StandardCharsets.UTF_8))
    println(s"[anncurve] wrote ${pts.size} points to $out")
    spark.stop()
  }
}
