package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, Scratch, SparkEntry}

/** One closed-loop client over a workload's query list: each query is
  * submitted only after the previous one finished.
  *
  * Usage (key=value arguments):
  * {{{
  * perfbench.Harness queries=q1,q2 data=<dir> out=<dir> seconds=10
  *   trace=0|1 cores=4 setups=3
  * }}}
  *
  * Set-up is repeated `setups` times (new session with GraftExtensions
  * injected, scratch tree emptied, one untimed warm-up pass); the first
  * warm-up also writes every result to `out/check/<query>` for the
  * DuckDB output check. Timed passes then run until `seconds` elapse.
  * With trace=1 untraced and traced passes alternate (two traced at
  * least), so the tracing overhead is measured in-run.
  * Everything is written to `out/result.json`.
  */
object Harness {
  private def now(): Double = System.nanoTime() / 1e9

  final case class Exec(query: String, pass: Int, wallS: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val names = opt("queries").split(",").toSeq
    val dataDir = opt("data")
    val outDir = opt("out")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val setups = opt("setups").toInt
    // Set-up empties the scratch tree, so it must be the benchmark's own.
    require(sys.env.contains("SPARK_GRAFT_SCRATCH"), "SPARK_GRAFT_SCRATCH must be set")
    val registry = SparkEntry.queries
    val fns = names.map(n => n -> registry(n))

    val execs = mutable.ArrayBuffer.empty[Exec]
    val records = mutable.ArrayBuffer.empty[QueryRecord]
    var tracer: Option[Tracer] = None

    def newSession(): SparkSession = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

    /** One execution: build (the query function), then the write, which
      * Catalyst plans and the scheduler executes. */
    def run(spark: SparkSession, name: String, fn: (SparkSession, String) => DataFrame,
            pass: Int, checkDir: Option[String]): Double = {
      val rec = tracer.map { t => val r = new QueryRecord(name, pass); t.begin(r); r }
      val sc = spark.sparkContext
      val t0 = now()
      var t1 = t0
      var buildEndMs = System.currentTimeMillis()
      val ok = try {
        sc.setLocalProperty(Tracer.SpanKey, "build")
        val df = fn(spark, dataDir)
        t1 = now()
        buildEndMs = System.currentTimeMillis()
        // The result's own analysis runs in the build span, outside any
        // action the QueryExecutionListener sees.
        for (r <- rec) {
          r.resultAnalysisS = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs / 1e3).getOrElse(0.0)
        }
        sc.setLocalProperty(Tracer.SpanKey, "write")
        checkDir match {
          case Some(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name")
          case None => df.write.format("noop").mode("overwrite").save()
        }
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name (pass $pass) failed: $e")
        false
      } finally sc.setLocalProperty(Tracer.SpanKey, null)
      val t2 = now()
      if (t1 == t0) t1 = t2
      val wall = t2 - t0
      execs += Exec(name, pass, wall, ok)
      for (t <- tracer; r <- rec) {
        r.buildEndMs = buildEndMs
        r.wallS = wall
        r.buildS = t1 - t0
        r.writeS = t2 - t1
        t.end(r)
        records += r
      }
      wall
    }

    def pass(spark: SparkSession, p: Int, checkDir: Option[String] = None): Double = {
      val t0 = now()
      for ((n, fn) <- fns) run(spark, n, fn, p, checkDir)
      now() - t0
    }

    // ---- set-up: the first one is timed from JVM start
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until setups) {
      val t0 = if (i == 0) now() - (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 else now()
      if (spark != null) spark.stop()
      emptyDir(Scratch.root)
      spark = newSession()
      spark.sparkContext.setLogLevel("WARN")
      pass(spark, -(i + 1), if (i == 0) Some(s"$outDir/check") else None)
      setupS += now() - t0
    }

    // ---- timed passes; with trace=1 untraced and traced passes alternate,
    // so that the JIT still warming up does not bias the overhead.
    val passS = mutable.ArrayBuffer.empty[Double]
    val tracedPassS = mutable.ArrayBuffer.empty[Double]
    val tStart = now()
    var p = 0
    def more = now() - tStart < seconds || passS.isEmpty || (trace && tracedPassS.size < 2)
    while (more) {
      p += 1
      passS += pass(spark, p)
      if (trace && more) {
        val t = new Tracer(spark, Scratch.root)
        t.start()
        tracer = Some(t)
        p += 1
        tracedPassS += pass(spark, p)
        t.stop()
        tracer = None
      }
    }
    spark.stop()

    val json = Json.obj(
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "pass_s" -> Json.arr(passS.map(Json.num)),
      "traced_pass_s" -> Json.arr(tracedPassS.map(Json.num)),
      "executions" -> Json.arr(execs.map(e => Json.obj(
        "query" -> Json.str(e.query), "pass" -> e.pass.toString,
        "wall_s" -> Json.num(e.wallS), "ok" -> e.ok.toString))),
      "records" -> Json.arr(records.map(recordJson)),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "oracle_sql" -> Json.obj(names.flatMap(n =>
        SparkEntry.oracleSql.get(n).map(s => n -> Json.str(s))): _*))
    Files.writeString(Paths.get(s"$outDir/result.json"), json)
  }

  private def recordJson(r: QueryRecord): String = Json.obj(
    "query" -> Json.str(r.query), "pass" -> r.pass.toString,
    "wall_s" -> Json.num(r.wallS), "build_s" -> Json.num(r.buildS),
    "plan_s" -> Json.num(r.planS), "execute_s" -> Json.num(r.executeS),
    "build_jobs" -> r.buildJobs.toString,
    "catalyst_analysis_s" -> Json.num(r.analysisS + r.resultAnalysisS),
    "catalyst_optimization_s" -> Json.num(r.optimizationS),
    "catalyst_planning_s" -> Json.num(r.planningS),
    "plan_exchanges" -> r.exchanges.toString, "plan_scans" -> r.scans.toString,
    "codegen_compiles" -> r.compiles.toString,
    "codegen_compile_failures" -> r.compileFailures.toString,
    "jobs" -> r.jobs.toString, "stages" -> r.stages.toString,
    "single_task_stages" -> r.singleTaskStages.toString, "tasks" -> r.tasks.toString,
    "driver_gap_s" -> Json.num(r.driverGapS),
    "task_s" -> Json.num(r.taskS), "cpu_s" -> Json.num(r.cpuS), "gc_s" -> Json.num(r.gcS),
    "shuffle_write_bytes" -> r.shuffleWrite.toString,
    "shuffle_read_bytes" -> r.shuffleRead.toString,
    "spill_bytes" -> r.spill.toString, "peak_mem_bytes" -> r.peakMem.toString,
    "stream_batches" -> r.batches.toString, "stream_trigger_s" -> Json.num(r.triggerS),
    "stream_commit_s" -> Json.num(r.commitS), "stream_state_rows" -> r.stateRows.toString,
    "stream_state_bytes" -> r.stateBytes.toString,
    "scratch_bytes" -> r.scratchBytes.toString, "scratch_files" -> r.scratchFiles.toString)

  /** VmHWM of this JVM, from /proc. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  private def emptyDir(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => if (f != p) Files.delete(f))
      finally s.close()
    }
    Files.createDirectories(p)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
