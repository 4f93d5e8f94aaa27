package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session; JVM exit cleans up
}

object SparkSpec {
  /** Four cores whatever `SPARK_GRAFT_CPUS` says, so partition-
    * sensitive specs see the same layout on every host. */
  lazy val session: SparkSession = {
    val s = SparkEntry.session(cores = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
