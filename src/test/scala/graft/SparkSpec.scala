package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (sbt forks one test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.builder(4)
      .config("spark.sql.warehouse.dir", // keep saveAsTable out of the repo
        java.nio.file.Files.createTempDirectory("graft_wh_").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN") // as Session.fromEnv
    s
  }
}
