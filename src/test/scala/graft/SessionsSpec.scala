package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Drift guard for `graft.Sessions`: the test session carries the
  * factory's settings, and no other source file builds a session. */
class SessionsSpec extends SparkSpec {

  test("the test session carries the factory's settings") {
    val cpus = Sessions.cpus
    assert(spark.sparkContext.master === s"local[$cpus]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === cpus.toString)
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") === (8 * cpus).toString)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") === "false")
  }

  test("no source file but Sessions.scala calls the Spark session builder") {
    val call = raw"SparkSession\s*\.\s*builder".r
    def scalaFiles(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val main = scalaFiles("src/main/scala")
    assert(main.exists(_.endsWith("graft/Sessions.scala")))
    val callers = (main ++ scalaFiles("src/test/scala")).filter(p =>
      call.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined)
    assert(callers.map(_.toString) === Seq("src/main/scala/graft/Sessions.scala"))
  }
}
