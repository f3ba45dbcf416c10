package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — suites
  * run in the same forked JVM, getOrCreate dedups).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.get("local[4]")
  def sf001 = "/root/testdata/sf0.001"
  /** Root of the connector-config fixtures: `SPARK_GRAFT_REF_DIR` when
    * set, else the reconstructed copies under test resources
    * (`connectors/{sources,sinks}/...`).
    */
  def refDir: String = sys.env.getOrElse("SPARK_GRAFT_REF_DIR",
    new java.io.File(getClass.getResource("/connectors").toURI).getParent)
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
