package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; Spark
  * sessions are expensive and getOrCreate reuses across suites). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String) = s"/root/testdata/$name"

  /** This suite's temp root: `afterAll` deletes it with everything in it. */
  lazy val tempRoot: Path =
    Files.createTempDirectory(s"graft-${getClass.getSimpleName}-")
  def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)
  def tempFile(prefix: String, suffix: String): Path =
    Files.createTempFile(tempRoot, prefix, suffix)

  override def afterAll(): Unit =
    try super.afterAll()
    finally org.apache.hadoop.fs.FileUtil.fullyDelete(tempRoot.toFile)

  /** Runs `body` with `listener` registered, and returns only once the
    * listener has seen every event `body` caused. */
  def withListener[T](listener: org.apache.spark.scheduler.SparkListener)(
      body: => T): T = {
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.sql.GraftBridge.drainListeners(spark)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.builder(Sessions.cpus)
      .appName("graft-test")
      // managed tables (BucketingSpec) land in /tmp, not the repo tree
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-test-warehouse-${System.getProperty("user.name")}")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
