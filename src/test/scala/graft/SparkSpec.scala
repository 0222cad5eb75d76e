package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one JVM-wide session; Spark's
  * getOrCreate makes cross-suite reuse safe and fast). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sqlc = spark.sqlContext
  def tempDir(prefix: String): Path = SparkSpec.tempDir(prefix)
}

object SparkSpec {
  /** One temp root per test JVM, deleted with everything under it when
    * the JVM exits, so a full run leaves nothing in java.io.tmpdir. */
  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-tests")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** A fresh directory under the per-JVM temp root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)

  lazy val session: SparkSession = Session.local(4,
    "spark.sql.warehouse.dir" -> tempDir("graft-warehouse").toString)
}
