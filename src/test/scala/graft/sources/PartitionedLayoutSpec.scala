package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the scale contract of the partitioned layout: a filter on the
  * partition column becomes a planning-time PartitionFilter (pruned scan),
  * not a data filter over all files.
  */
class PartitionedLayoutSpec extends SparkSpec {

  test("partition-column filter prunes at planning time") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("graft-partlayout").toString
    val events = Tables.events(spark, sf("sf0.001"))
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
    PartitionedLayout.writePartitioned(events, dir, Seq("day"))

    val days = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName).sorted
    assert(days.length > 1, s"need multiple partitions, got ${days.toSeq}")
    val oneDay = days.head.stripPrefix("day=")

    val q = PartitionedLayout.readPartitioned(spark, dir)
      .filter($"day" === oneDay)
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day"),
      s"expected partition filter in scan:\n$scan")
    // pruned read returns exactly that day's rows
    val expected = events.filter($"day" === oneDay).count()
    assert(q.count() === expected && expected > 0)
    // and the scan's selected partition count is 1 of N
    val pruned = q.queryExecution.executedPlan.toString
    assert(!pruned.contains("PushedFilters: [IsNotNull(day)"),
      "partition column must not degrade to a data filter")
  }
}
