package graft.ml

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** p1 replay from the reference's OWN file formats (FIXTURES.md A1-A4):
  * headerless node CSV with quoted commas, space-delimited labeled and
  * unlabeled edge lists, tab-delimited SNAP ground truth with '#' comment
  * headers. Same two-cluster fixture as LinkPredictorSpec, but routed
  * through files + P1Files.run instead of in-memory frames.
  */
class P1FilesSpec extends SparkSpec {

  private val t1 = "quantum gravity entanglement duality holographic boundary"
  private val t2 = "supersymmetry breaking gauge mediation soft terms"

  private val cand = Seq((10, 12), (11, 13), (12, 14), (13, 15),
    (10, 11), (11, 12), (12, 13), (13, 14))
  private val gt = Seq((10, 12), (11, 13), (12, 14), (13, 15))

  /** Writes the four reference-format files; returns their directory. */
  private def writeFiles(): java.io.File = {
    val dir = tempDir("p1files").toFile
    dir.deleteOnExit()

    // A1: headerless CSV; title/authors carry quoted commas, one paper has
    // an empty journal+abstract (the na.fill path).
    val csv = (0 until 20).map { i =>
      val c = i % 2
      val words = if (c == 0) t1 else t2
      val title = "\"paper " + i + ", on " + words.split(" ").take(2).mkString(" ") + "\""
      val authors = "\"author" + (i % 3) + ",author" + (3 + i % 4) + "\""
      val journal = if (i == 19) "" else if (c == 0) "JHEP" else "PRL"
      val abs = if (i == 19) "" else "\"" + words + " study " + i + "\""
      s"p$i,${1993 + i % 10},$title,$authors,$journal,$abs"
    }.mkString("\n")
    Files.writeString(new java.io.File(dir, "nodes.csv").toPath, csv)

    // A2: space-delimited srcId dstId label
    val trainPos = (0 until 8).map(i => s"p$i p${i + 2} 1")
    val trainNeg = (0 until 8).map(i => s"p$i p${i + 1} 0")
    Files.writeString(new java.io.File(dir, "training.txt").toPath,
      (trainPos ++ trainNeg).mkString("\n"))

    // A3: space-delimited srcId dstId
    Files.writeString(new java.io.File(dir, "testing.txt").toPath,
      cand.map { case (a, b) => s"p$a p$b" }.mkString("\n"))

    // A4: tab-delimited with SNAP '#' comment headers
    Files.writeString(new java.io.File(dir, "gt.txt").toPath,
      ("# Directed graph" +: "# FromNodeId\tToNodeId" +:
        gt.map { case (a, b) => s"p$a\tp$b" }).mkString("\n"))
    dir
  }

  private def runOn(dir: java.io.File) = P1Files.run(spark,
    s"$dir/nodes.csv", s"$dir/training.txt", s"$dir/testing.txt",
    s"$dir/gt.txt", maxIter = 50)

  test("P1Files.run replays p1 from reference-format files") {
    val (scored, metrics) = runOn(writeFiles())
    val rows = scored.select(col("srcId"), col("label"), col("p1")).collect()
    assert(rows.length === cand.length)
    // ground-truth labels survived the file round-trip (incl. # filtering)
    assert(scored.filter(col("label") === 1).count() === gt.length)
    val bestF1 = metrics.agg(max(col("f1"))).head.getDouble(0)
    assert(bestF1 === 1.0) // same separable fixture as LinkPredictorSpec
  }

  test("P1Files.run featurizes a one-split training file at full width " +
      "and repeats bit for bit") {
    val dir = writeFiles()
    // every value of a row, doubles as their bits
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(
      _.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      })
    def once() = {
      val (scored, metrics) = runOn(dir)
      val out = (bits(scored.select("srcId", "dstId", "p1")
        .orderBy("srcId", "dstId")), bits(metrics))
      scored.unpersist()
      out
    }
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stageTasks.add(e.stageInfo.numTasks); ()
      }
    }
    val (scored1, metrics1) = withListener(listener)(once())
    val width = spark.sparkContext.defaultParallelism
    assert(stageTasks.contains(width),
      s"no stage ran $width tasks: ${stageTasks.toArray.mkString(",")}")
    val (scored2, metrics2) = once()
    assert(scored1.length === cand.length)
    assert(scored2 === scored1)
    assert(metrics1.nonEmpty)
    assert(metrics2 === metrics1)
  }
}
