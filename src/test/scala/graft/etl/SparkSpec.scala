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

  /** Runs `body` under a fresh job group; returns its result and the
    * number of Spark jobs it started. The status tracker is fed through
    * the listener bus, so a marker job in a second group is awaited
    * first: once the marker is visible, every earlier job is too. */
  def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "job budget")
    val res = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$group-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    (res, sc.statusTracker.getJobIdsForGroup(group).length)
  }
}
