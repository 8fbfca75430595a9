package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened for the driver's wall clock (CORRECTNESS_r01/r02 both came
  * back empty `{}` — consistent with the driver-side run never finishing
  * in an environment measured 5-20× slower than local):
  *  - oracle_sql.json is written FIRST, before any query runs, so a
  *    partial pass still yields per-query comparisons;
  *  - queries run oracle-checked-core-first (SparkEntry.queries is
  *    declared in run order);
  *  - each query runs under a job-group with a wall cap
  *    (SPARK_GRAFT_VERIFY_CAP seconds, default 120) so one pathological
  *    query cannot eat the whole budget;
  *  - per-query seconds go to stderr for post-mortem triage.
  */
object Verify {

  /** The oracle_sql.json entries: every static oracle plus each fitted
    * one, prepared from the session-memoized fits the query runs then
    * reuse (that identity is what makes the embedded literals exact). A
    * prepare that returns None leaves its query rows-only by design. A
    * prepare that throws gets an entry that raises in DuckDB, so the
    * compare counts a failure instead of a silent rows-only query. */
  def oracleEntries(spark: SparkSession, dir: String): Map[String, String] =
    SparkEntry.oracleSql ++ SparkEntry.fittedOracles.flatMap {
      case (name, prepare) =>
        try prepare(spark, dir).map(name -> _)
        catch { case e: Throwable =>
          val msg = e.toString.take(200)
          System.err.println(s"[verify] $name oracle prepare failed: $msg")
          val lit = msg.replace("'", "''")
          Some(name -> s"SELECT error('oracle prepare failed: $lit')")
        }
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only these queries (local iteration;
    // the driver always passes exactly two args and gets the full set)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors(), 32).toString)
    // 120 matches the documented contract above (the code briefly said 30,
    // which left the ~8 s gate queries a <4× margin in a slow driver env)
    val capSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_CAP", "120").toLong
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE sizes big shuffles from the data (see Bench's note)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracleEntries(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Untimed warmup (same rationale as Bench): table scans plus two cheap
    // representative queries compile the join/aggregate/window codegen
    // paths, so the first capped query doesn't absorb multi-second JIT
    // warmup — measured pushing q_top_orders past the 30 s cap on a cold
    // JVM under load.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    try graft.sources.Tables.events(spark, sfDir).count()
    catch { case _: Throwable => () }
    Seq("q_top_orders", "q_label_join").foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }

    // Daemon pool: a query that ignores job-group cancellation can never
    // block JVM exit.
    val pool = Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r); t.setDaemon(true); t
    }
    val all = SparkEntry.queries
    SparkEntry.orderedQueryNames
      .filter(n => only.isEmpty || only(n)).foreach { name =>
      val fn = all(name)
      val fut = pool.submit(new Callable[Unit] {
        def call(): Unit = {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          finally spark.sparkContext.clearJobGroup()
        }
      })
      val t0 = System.nanoTime()
      val outcome =
        try { fut.get(capSec, TimeUnit.SECONDS); "ok" }
        catch {
          case _: TimeoutException =>
            spark.sparkContext.cancelJobGroup(name)
            // Deliberately NOT fut.cancel: cancellation makes get() throw
            // immediately while the write thread may still be committing —
            // and the rm() below would race it, potentially leaving the
            // very partial dir it exists to remove. cancelJobGroup makes
            // the action throw inside call(); wait (bounded) to OBSERVE
            // the thread actually finish before cleaning up.
            try fut.get(30, TimeUnit.SECONDS)
            catch { case _: Throwable => () }
            "TIMEOUT"
          case e: Throwable =>
            val root = Option(e.getCause).getOrElse(e)
            System.err.println(s"[verify] $name failed: ${root.toString.take(300)}")
            "FAILED"
        }
      if (outcome != "ok") {
        // A cancelled/failed write can leave a partial parquet dir
        // (_temporary files) that the driver's DuckDB compare would read
        // as an empty result; only fully committed outputs may remain.
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // stdout AND stderr: a wall-killed driver run still leaves parseable
      // per-query evidence in whichever stream it captured.
      val line = f"[verify] $name%-28s $sec%8.2f s  [$outcome]"
      println(line)
      System.err.println(line)
      // no catalog.clearCache() here — it would drop the shared
      // materialized intermediates (see Bench); per-operator caches
      // unpersist themselves.
    }
    spark.stop()
  }
}
