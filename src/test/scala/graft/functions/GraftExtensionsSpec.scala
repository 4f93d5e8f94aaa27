package graft.functions

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

class GraftExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("extensions class injects without error (builder-time path)") {
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("SparkEntry.session is the one session builder in main and " +
      "installs the extensions at build time") {
    val root = Paths.get("src/main/scala")
    val builders = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f).toString ->
        """SparkSession\.builder""".r.findAllIn(Files.readString(f)).size)
      .filter(_._2 > 0).toMap
    assert(builders == Map("graft/SparkEntry.scala" -> 1))
    // a fresh child session sees only build-time extensions, not
    // functions registered on the live parent
    assert(spark.newSession()
      .sql("SELECT simhash64(array(1L, 2L))").head().getLong(0) ==
      spark.range(1).select(HashExpressions.simhash64(
        array(lit(1L), lit(2L)))).head().getLong(0))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("SQL surface matches the Column API for all native functions") {
    GraftExtensions.registerFunctions(spark)
    val df = Seq((1L, Seq(7L, 8L, 9L), Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)))
      .toDF("id", "hashes", "va", "vb")
    df.createOrReplaceTempView("ext_probe")
    val sql = spark.sql(
      """SELECT simhash64(hashes) AS s,
        |       minhash_signature64(hashes, 4) AS m,
        |       dot_ff(va, vb) AS d
        |FROM ext_probe""".stripMargin).head()
    val api = df.select(
      HashExpressions.simhash64(col("hashes")).as("s"),
      HashExpressions.minhashSignature64(col("hashes"), 4).as("m"),
      HashExpressions.dotFF(col("va"), col("vb")).as("d")).head()
    assert(sql.getLong(0) == api.getLong(0))
    assert(sql.getSeq[Long](1) == api.getSeq[Long](1))
    assert(sql.getDouble(2) == api.getDouble(2))
    assert(sql.getDouble(2) == 1.0 * 3.0 + 2.0 * 4.0)

    val toks = Seq(Tuple1(Seq("a", "b", "c", "d", "e")))
      .toDF("toks")
    toks.createOrReplaceTempView("ext_toks")
    val sqlN = spark.sql(
      """SELECT ngram_hashes64(toks, 2) AS ng,
        |       strided_ngram_hashes64(toks, 2, 2) AS sg
        |FROM ext_toks""".stripMargin).head()
    val apiN = toks.select(
      HashExpressions.ngramHashes64(col("toks"), 2).as("ng"),
      HashExpressions.stridedNgramHashes64(col("toks"), 2, 2).as("sg"))
      .head()
    assert(sqlN.getSeq[Long](0) == apiN.getSeq[Long](0))
    assert(sqlN.getSeq[Long](1) == apiN.getSeq[Long](1))
    assert(sqlN.getSeq[Long](0).size == 4) // 4 sliding bigrams
    assert(sqlN.getSeq[Long](1).size == 2) // strides at 0 and 2

    val sqlR = spark.sql(
      """SELECT ngram_strings(toks, 2) AS g2,
        |       repetition_stats(toks) AS r
        |FROM ext_toks""".stripMargin).head()
    // all sliding bigrams, in order, space-joined
    assert(sqlR.getSeq[String](0) == Seq("a b", "b c", "c d", "d e"))
    val r = sqlR.getStruct(1)
    assert(r.getInt(0) == 4 && r.getInt(1) == 3) // 4 bigrams, 3 trigrams
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 0.25) // no repeats
    // repetition case: 'a b a b a b' -> top2 = 3/5, dup3 = 1 - 2/4
    val rep = Seq(Tuple1(Seq("a", "b", "a", "b", "a", "b"))).toDF("toks")
      .select(HashExpressions.repetitionStats(col("toks")).as("r")).head()
        .getStruct(0)
    assert(rep.getDouble(2) == 0.5 && rep.getDouble(3) == 0.6)
    // short-doc edges: 1 token -> all-zero; 2 tokens -> 1 bigram
    val short1 = Seq(Tuple1(Seq("x"))).toDF("toks")
      .select(HashExpressions.ngramStrings(col("toks"), 2).as("g"),
        HashExpressions.repetitionStats(col("toks")).as("r")).head()
    assert(short1.getSeq[String](0).isEmpty)
    assert(short1.getStruct(1).getDouble(3) == 0.0)

    val groups = Seq((1L, 10L, 1.0), (1L, 11L, 3.0), (1L, 12L, 2.0))
      .toDF("g", "tie", "score")
    groups.createOrReplaceTempView("ext_groups")
    val topSql = spark.sql(
      """SELECT top_k_structs(struct(tie), score, tie, 2) AS t
        |FROM ext_groups GROUP BY g""".stripMargin)
      .selectExpr("transform(t, x -> x.tie) AS ties").head()
    assert(topSql.getSeq[Long](0) == Seq(11L, 12L))
  }
}
