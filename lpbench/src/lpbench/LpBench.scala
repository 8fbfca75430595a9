package lpbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutorService, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** One closed-loop benchmark run of one workload: a single client sends its
  * next operation only when the last one has finished.
  *
  *  1. set-up: session start plus a scan of every input table;
  *  2. cold pass: every operation once, in a fresh session;
  *  3. a fixed number of untimed warm-up passes, then a fixed number of
  *     measured warm passes, over the same operations in that session,
  *     each pass in a new seeded order;
  *  4. checks, outside every timed region: each result's row count and an
  *     order-insensitive fingerprint over all its columns.
  *
  * An operation's timed region is the call into the engine's public
  * function (`SparkEntry.queries(name)`, `P1Files.run`) plus a `noop` write
  * of its result, which materializes every output column (a `count()`
  * would let Catalyst prune unreferenced projections).
  *
  * Arguments are `--key value` pairs; the run's raw figures are written
  * as one JSON object to `--out`. run.py turns them into the metrics. */
object LpBench {

  /** an operation still running after this long counts as failed */
  private val OpCapS = 60L

  /** An operation's result: the frame to materialize, an extra check run
    * after the fingerprint, and a release run after every execution. */
  final case class Result(df: DataFrame, verify: () => Unit = () => (),
      release: () => Unit = () => ())

  final case class Op(name: String, rowsOnly: Boolean, build: SparkSession => Result)

  final case class Outcome(name: String, seconds: Double, cpuS: Double,
      error: Option[String], rec: Option[OpRec])

  /** a pass: timed wall, its operations, and its [start, end] epoch ms */
  final case class Pass(wall: Double, outs: Seq[Outcome], start: Long, end: Long)

  /** The workloads' operations: a fixed subset of each SparkEntry.runOrder
    * block, sized so that a run (set-up, cold pass, warm-up and measured
    * warm passes, checks) fits the benchmark's time budget; README.md gives
    * the choice.
    * `storage` is the whole storage and streaming block, run by hand. */
  val workloads: Map[String, Seq[String]] = Map(
    // relational core and events: planning, codegen and job launch dominate.
    // Three queries from other blocks keep every layer on a workload of
    // BENCHMARK.json: q_stream_dedup (streaming), q_sketch_overlap (a
    // Caches.pin frame) and q_similarity_join_p2 (the paper's p2, a native
    // similarity-join operator). Each takes under a second warm, except
    // q_stream_dedup at about 1.5 s.
    "floor" -> Seq("q_pricing_summary", "q_skew_join", "q_asof_join",
      "q_stream_dedup", "q_sketch_overlap", "q_similarity_join_p2"),
    // pairwise, embedding and graph: operator kernels, the shared posting
    // frame (n-gram Jaccard, incremental ingest), the shared near-dup pair
    // frame (pair degrees), micro-batch ingest
    "pairs" -> Seq("q_similarity_join_p2", "q_ngram_jaccard", "q_ingest_neardup",
      "q_cosine_topk", "q_pair_degrees"),
    "storage" -> Seq("q_skipping_prune", "q_zorder_prune", "q_compaction",
      "q_merge_state", "q_merge_partitioned", "q_evolved_read", "q_bucketed_join",
      "q_cdc_state", "q_stream_sessions", "q_stream_dedup"))

  /** the parquet tables each workload's set-up scans */
  private val inputs: Map[String, Seq[String]] = Map(
    "floor" -> Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents"),
    "pairs" -> Seq("documents", "embeddings"),
    "storage" -> Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events"))

  /** Queries whose oracle is fitted at run time (Verify prepares them);
    * every other query without a static oracle is rows-only by design. */
  private val fittedOracles = Set("q_bpe_tokens", "q_ivf_topk", "q_semantic_dedup",
    "q_similarity_join_p2", "q_pq_topk", "q_ivfpq_topk", "q_quality_classifier",
    "q_linkpred_ann_e2e", "q_linkpred_e2e")

  def queryOps(names: Seq[String], dataDir: String): Seq[Op] = {
    val all = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql.keySet ++ fittedOracles
    names.map { n =>
      val fn = all(n)
      Op(n, !oracle.contains(n), s => Result(fn(s, dataDir)))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a("workload")
    val warmPasses = a("passes").toInt
    val warmupPasses = a("warmup").toInt
    val trace = a("trace") == "1"
    val data = a("data")
    val cpus = Runtime.getRuntime.availableProcessors()

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"lpbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cpus * 8).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a("local"))
      .config("spark.sql.warehouse.dir", s"${a("local")}/warehouse")
    // the long call site must reach the innermost graft.* frame under
    // deep MLlib stacks for jobs to be billed to a module
    if (trace) builder.config("spark.callstack.depth", "400")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val contextS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val p1Candidates = a.get("p1_candidates").map(_.toLong)
    val ops: Seq[Op] = workload match {
      case w if workloads.contains(w) => queryOps(workloads(w), data)
      case "p1_files" => Seq(p1Op(data, p1Candidates.get))
      case other => sys.error(s"unknown workload $other")
    }
    // set-up: session plus a scan of every input, no operation of the
    // workload; the scans run concurrently
    val scans: Seq[() => Long] = if (workload == "p1_files") Seq(
      () => graft.sources.Tables.nodeInfoCsv(spark, s"$data/node_information.csv").count(),
      () => graft.sources.Tables.labeledEdges(spark, s"$data/training_set.txt").count(),
      () => graft.sources.Tables.edges(spark, s"$data/testing_set.txt").count(),
      () => graft.sources.Tables.snapEdges(spark, s"$data/Cit-HepTh.txt").count())
    else inputs(workload).map {
      case "events" => () => graft.sources.Tables.events(spark, data).count()
      case t => () => spark.read.parquet(s"$data/$t.parquet").count()
    }
    Await.result(Future.traverse(scans)(scan => Future(scan())), Duration.Inf)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    System.err.println(f"[lpbench] set-up: context ready at $contextS%.3f s, inputs scanned at $setupS%.3f s")

    val session = spark.newSession()
    val tracer = if (trace) Some(new Tracer(session, a("spans"))) else None
    tracer.foreach(_.attach())
    val expected = a.get("expect").map(readExpected)
    val rng = new scala.util.Random(a("seed").toLong)
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var pool = newPool()

    val failures = mutable.ArrayBuffer[String]()
    val observed = mutable.LinkedHashMap[String, (Long, String)]()
    var attempted = 0

    /** one timed operation, then its check */
    def runOp(op: Op, pass: Int, passSpan: Int, traced: Boolean, check: Boolean): Outcome = {
      val rec = if (traced) tracer.map(_.begin(op.name)) else None
      val opStart = System.currentTimeMillis()
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val fut = pool.submit(new Callable[(Result, Long, Long)] {
        def call() = {
          session.sparkContext.setJobGroup(op.name, op.name, interruptOnCancel = true)
          try {
            val b0 = System.currentTimeMillis()
            val res = op.build(session)
            val b1 = System.currentTimeMillis()
            res.df.write.format("noop").mode("overwrite").save()
            (res, b0, b1)
          } finally session.sparkContext.clearJobGroup()
        }
      })
      val result = try Right(fut.get(OpCapS, TimeUnit.SECONDS)) catch {
        case _: TimeoutException =>
          session.sparkContext.cancelJobGroup(op.name); fut.cancel(true)
          pool.shutdownNow(); pool = newPool()
          Left(s"timeout after $OpCapS s")
        case e: Throwable => Left(Option(e.getCause).getOrElse(e).toString.take(300))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val opEnd = System.currentTimeMillis()
      attempted += 1
      // close the trace record before the check, so no check work is billed
      for (t <- tracer; r <- rec) {
        result.foreach { case (res, b0, b1) =>
          r.buildSpan = (b0, b1); r.execSpan = (b1, opEnd)
          // the result frame's own analysis ran inside the build, unseen
          // by the execution listener
          res.df.queryExecution.tracker.phases.get("analysis").foreach { ps =>
            r.phases("analysis") += ps.durationMs.toDouble
            r.phaseSpans += (("analysis", ps.startTimeMs, ps.endTimeMs))
          }
        }
        t.end(r, passSpan, opStart, opEnd)
      }
      val outcome = result match {
        case Left(err) => Outcome(op.name, sec, cpuS, Some(err), rec)
        case Right((res, _, _)) =>
          val checked = try {
            if (!check) Right((-1L, "")) else {
              val (rows, fp) = fingerprint(res.df, op.rowsOnly)
              res.verify()
              Right((rows, fp))
            }
          } catch { case e: Throwable => Left(s"check failed: ${e.toString.take(300)}") }
          finally res.release()
          checked match {
            case Left(err) => Outcome(op.name, sec, cpuS, Some(err), rec)
            case Right((-1L, _)) => Outcome(op.name, sec, cpuS, None, rec)
            case Right((rows, fp)) =>
              rec.foreach(_.resultRows = rows)
              // against the recorded values, or (recording, p1_files) against
              // this run's first observation
              val want = expected match {
                case Some(e) => e.get(op.name).toRight("no recorded fingerprint")
                case None => Right(observed.getOrElse(op.name, (rows, fp)))
              }
              val err = want match {
                case Left(msg) => Some(msg)
                case Right((r, _)) if r != rows => Some(s"rows $rows, expected $r")
                case Right((_, f)) if f != fp => Some(s"fingerprint $fp, expected $f")
                case _ => None
              }
              if (!observed.contains(op.name)) observed(op.name) = (rows, fp)
              Outcome(op.name, sec, cpuS, err, rec)
          }
      }
      outcome.error.foreach { e =>
        failures += s"pass $pass ${op.name}: $e"
        System.err.println(s"[lpbench] FAILED pass $pass ${op.name}: $e")
      }
      outcome
    }

    /** one pass over the ops in this pass's seeded order */
    def runPass(pass: Int, traced: Boolean, check: Boolean): Pass = {
      val order = rng.shuffle(ops)
      val span = tracer.map(_.newSpanId()).getOrElse(0)
      val s = System.currentTimeMillis()
      val outs = order.map(op => runOp(op, pass, span, traced, check))
      val e = System.currentTimeMillis()
      if (traced) tracer.foreach(_.passSpan(span, pass, s, e))
      // the pass's wall time covers only the timed regions, not the checks
      val wall = outs.map(_.seconds).sum
      System.err.println(f"[lpbench] pass $pass%d: $wall%.3f s timed, ${(e - s) / 1000.0}%.3f s with checks")
      Pass(wall, outs, s, e)
    }

    val cold = runPass(0, traced = true, check = true)
    val pinnedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    val warm = mutable.ArrayBuffer[Pass]()
    // a fixed number of warm passes; the last one is checked
    // A traced run alternates untraced and traced warm passes, so the
    // tracing overhead compares passes at the same point of JIT warm-up.
    val untracedWarm = mutable.ArrayBuffer[Double]()
    def passNo = warmupPasses + warm.size + untracedWarm.size + 1
    def warmPass(check: Boolean): Unit = {
      tracer.foreach { t =>
        t.detach()
        untracedWarm += runPass(passNo, traced = false, check = false).wall
        t.attach()
      }
      warm += runPass(passNo, traced = true, check = check)
    }
    // untimed, unchecked warm-up passes: the JIT is still compiling the
    // engine's hot paths during the first passes after the cold one
    tracer.foreach(_.detach())
    (1 to warmupPasses).foreach(i => runPass(i, traced = false, check = false))
    tracer.foreach(_.attach())
    (1 until warmPasses).foreach(_ => warmPass(check = false))
    warmPass(check = true)
    tracer.foreach { t => t.detach(); t.close() }

    val bestF1 = if (workload == "p1_files") p1BestF1 else Double.NaN
    val mem = ManagementFactory.getMemoryMXBean
    // full GCs with pauses between them, so the ContextCleaner can release
    // what the first GC found unreachable before the heap is read
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val heapMb = mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val layers = if (!trace) Map.empty[String, Double] else Tracer.layers(
      cold.outs.flatMap(_.rec), warm.map(p => (p.outs.flatMap(_.rec), p.start, p.end)).toSeq, pinnedMb)
    val json = new StringBuilder("{")
    def num(k: String, v: Double) = json ++= s""""$k":${if (v.isNaN) "null" else v.toString},"""
    def nums(k: String, vs: Seq[Double]) = json ++= s""""$k":${vs.mkString("[", ",", "]")},"""
    num("setup_s", setupS)
    num("cold_pass_s", cold.wall)
    nums("warm_pass_s", warm.map(_.wall).toSeq)
    nums("warm_op_s", warm.flatMap(_.outs.map(_.seconds)).toSeq)
    nums("warm_cpu_s", warm.map(_.outs.map(_.cpuS).sum).toSeq)
    nums("untraced_warm_pass_s", untracedWarm.toSeq)
    num("retained_heap_mb", heapMb)
    num("best_f1", bestF1)
    num("pinned_mb", pinnedMb)
    def opTimes(p: Pass) = p.outs.map(o => s"${q(o.name)}:${o.seconds}").mkString("{", ",", "}")
    json ++= s""""op_s":${(cold +: warm.toSeq).map(opTimes).mkString("[", ",", "]")},"""
    json ++= s""""attempted":$attempted,"failed":${failures.size},"""
    json ++= s""""failures":${failures.map(q).mkString("[", ",", "]")},"""
    json ++= s""""observed":${observed.map { case (k, (r, f)) =>
      s"${q(k)}:[$r,${q(f)}]" }.mkString("{", ",", "}")},"""
    json ++= s""""layers":${layers.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")}"""
    json ++= "}"
    Files.writeString(Paths.get(a("out")), json.toString)
    pool.shutdownNow()
    spark.stop()
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""

  private def newPool(): ExecutorService = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "lpbench-client"); t.setDaemon(true); t
  }

  /** op name -> (rows, fingerprint) from a tab-separated file */
  private def readExpected(path: String): Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.split("\t")).collect {
      case Array(n, r, f) => n -> (r.toLong, f)
      case Array(n, r) => n -> (r.toLong, "")
    }.toMap

  /** Row count plus an order-insensitive fingerprint: the count and the sum
    * (as a 20-digit decimal, so it cannot overflow) of xxhash64 over every
    * column. Rows-only operations get the count alone. */
  def fingerprint(df: DataFrame, rowsOnly: Boolean): (Long, String) = {
    if (rowsOnly) return (df.count(), "")
    val cols = df.schema.fields.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (f.dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val row = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(20,0)"))).head()
    val rows = row.getLong(0)
    (rows, if (rows == 0) "0" else row.getDecimal(1).toPlainString)
  }

  @volatile private var p1BestF1 = Double.NaN

  /** The paper's p1 over reference-format files: fit on the training edges,
    * score the candidates, sweep F1. Checks: every candidate is scored and
    * the best F1 is the same on every pass. */
  def p1Op(dir: String, candidates: Long): Op =
    Op("p1_files", rowsOnly = false, s => {
      val (scored, metrics) = graft.ml.P1Files.run(s, s"$dir/node_information.csv",
        s"$dir/training_set.txt", s"$dir/testing_set.txt", s"$dir/Cit-HepTh.txt",
        maxIter = 100) // the reference's setting
      def verify(): Unit = {
        val n = scored.count()
        require(n == candidates, s"scored $n candidates, expected $candidates")
        val f1 = metrics.agg(max(col("f1"))).head().getDouble(0)
        require(p1BestF1.isNaN || p1BestF1 == f1, s"best F1 $f1 differs from $p1BestF1")
        p1BestF1 = f1
      }
      // P1Files.run leaves the scored frame cached
      Result(metrics, () => verify(), () => scored.unpersist())
    })
}
