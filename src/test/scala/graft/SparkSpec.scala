package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session — one JVM-wide SparkSession across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** A fresh directory under the process's scratch root, whose
    * shutdown hook deletes it with the root. */
  def tempDir(prefix: String): String = {
    val d = graft.sources.SnapshotFs.scratch(s"${prefix}_${java.util.UUID.randomUUID()}", "test")
    graft.sources.SnapshotFs.mkdirs(d)
    d
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
