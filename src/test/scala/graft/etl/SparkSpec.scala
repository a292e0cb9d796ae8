package graft.etl

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all ETL suites (one JVM-wide session). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Temp directories that live as long as the suite: each one is
  * deleted with all its content when the suite ends. */
trait TempDirs extends AnyFunSuite with BeforeAndAfterAll {
  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}

trait SparkSpec extends TempDirs {
  lazy val spark: SparkSession = TestSpark.spark
  def fixturePath: String =
    getClass.getResource("/k8s_logs.jsonl").getPath
}
