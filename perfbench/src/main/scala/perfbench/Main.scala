package perfbench

import graft.SparkEntry
import graft.ops.MultiDay
import graft.pxl.{PxlParser, PxlRunner}
import graft.queries.Pxl
import graft.streaming.MultiStream
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One planned call. A negative pass number marks a warm-up op. */
final case class Op(pass: Int, kind: String, name: String, arg: String)

/** One of the six authored dashboards in [[graft.queries.Pxl]]: its
  * source, the table it displays, and the gate query that runs it over
  * the `-45d` window (whose oracle SQL checks that window).
  */
final case class Dashboard(source: String, table: String, gate: String)

object PlanStats extends AdaptiveSparkPlanHelper {
  def exchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: Exchange => e }.size
}

/** The benchmark's JVM side. It runs the op list the Python front end drew
  * from the seed, in closed loop with one client, and writes one JSON
  * record of raw timings (and, with tracing, spans and Spark counters).
  * It computes no statistics: `run.py` does.
  *
  * Usage: perfbench.Main --plan F --data DIR --work DIR --out F
  *   --trace 0|1 --timeout S --hard-stop S --launch-us T
  */
object Main {
  val GateWindowDays = 45L

  val dashboards: Map[String, Dashboard] = Map(
    "service_stats" -> Dashboard(Pxl.ServiceStatsScript, "svc", "q66_pxl_service_stats"),
    "service_let" -> Dashboard(Pxl.ServiceLetScript, "let", "q67_pxl_service_let"),
    "namespaces" -> Dashboard(Pxl.NamespacesScript, "ns", "q68_pxl_namespaces"),
    "mysql_let" -> Dashboard(Pxl.MysqlLetScript, "mysql", "q69_pxl_mysql_let"),
    "pods" -> Dashboard(Pxl.PodsScript, "pods", "q71_pxl_pods"),
    "redis_let" -> Dashboard(Pxl.RedisLetScript, "redis", "q72_pxl_redis_let"))

  val CalendarOracle = "q604_mm_full_cal_decisions"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val ops = Files.readAllLines(Paths.get(opt("plan"))).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val f = l.split("\t", -1)
        Op(f(0).toInt, f(1), f(2), f(3))
      }
    val h = new Main(new File(opt("data")).getAbsolutePath,
      new File(opt("work")).getAbsolutePath, opt("trace") == "1",
      opt("timeout").toLong)
    val out = h.runAll(ops, opt("hard-stop").toDouble, opt("launch-us").toLong)
    def json(v: Any) = org.json4s.jackson.JsonMethods.compact(
      org.json4s.Extraction.decompose(v)(org.json4s.DefaultFormats))
    Files.writeString(Paths.get(opt("out")), json(out))
    if (h.tracing)
      Files.writeString(Paths.get(opt("out") + ".trace.json"),
        json(h.rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "start_us" -> s.startUs,
          "end_us" -> s.endUs)).toSeq))
    System.exit(0)
  }
}

final class Main(dataDir: String, work: String, val tracing: Boolean,
                 timeoutS: Long) {
  import Main._
  val rec = new Recorder
  private var spark: SparkSession = _
  private val now = graft.functions.PixieFunctions.tsNsLit("2024-02-01")

  /** Spark session and table registration: what the first op needs. */
  private def setUp(): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Tables.all.filter(t => new File(s"$dataDir/$t.parquet").exists)
      .foreach(t => graft.core.Tables(spark, dataDir, t))
    if (tracing) {
      spark.sparkContext.addSparkListener(rec.sparkListener)
      spark.streams.addListener(rec.streamListener)
    }
  }

  /** Set-up, the warm-up ops (pass -1: untimed, unchecked) and then the
    * measured passes, in closed loop with one client. Set-up time runs from
    * the process launch (`launchUs`, taken by the launcher) to the first op
    * ready. No measured op starts after `hardStop` seconds.
    */
  def runAll(ops: Seq[Op], hardStop: Double, launchUs: Long): Map[String, Any] = {
    setUp()
    val setupS = (Clock.nowUs - launchUs) / 1e6
    val records = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var measureStartUs = -1L
    for ((pass, items) <- ops.zipWithIndex.groupBy(_._1.pass).toSeq.sortBy(_._1)) {
      val warm = pass < 0
      if (!warm && measureStartUs < 0) measureStartUs = Clock.nowUs
      val passStart = Clock.nowUs
      val passId = rec.reserve()
      var done = 0
      for ((op, i) <- items
           if warm || (Clock.nowUs - measureStartUs) / 1e6 < hardStop) {
        records += runOp(i, op, warm, passId)
        done += 1
      }
      val passEnd = Clock.nowUs
      if (done > 0) {
        rec.span(passId, 0, "pass", if (warm) "warm-up" else s"pass $pass",
          passStart, passEnd)
        passes += Map("pass" -> pass, "warm" -> warm, "ops" -> done,
          "complete" -> (done == items.size), "wall_s" -> (passEnd - passStart) / 1e6)
      }
    }
    val measuredS = (Clock.nowUs - measureStartUs) / 1e6
    val rss = peakRssMb()
    spark.stop()
    Map("setup_s" -> setupS, "ops" -> records.toSeq,
      "passes" -> passes.toSeq, "measured_s" -> measuredS,
      "peak_rss_mb" -> rss, "traced" -> tracing,
      "cores" -> Runtime.getRuntime.availableProcessors)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ---- one op -----------------------------------------------------------

  /** Per-op state the phase wrappers fill in. */
  private final class OpState(val index: Int) {
    val total = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    val child = mutable.HashMap[String, Double]().withDefaultValue(0.0)
    val phaseSpans = mutable.ArrayBuffer[(String, Long, Long)]()
    var stack: List[String] = Nil
    var resolveCalls = 0
    var exchanges = 0
    var output: DataFrame = _
    /** Rebuilds the output in the mode its oracle checks, where that differs. */
    var exact: Option[() => DataFrame] = None
    var oracle: Option[String] = None
    var flags = Map.empty[String, Boolean]
    var artifactRoot: Option[String] = None
  }

  private def phase[T](st: OpState, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = st.stack.headOption
    st.stack = name :: st.stack
    sc.setLocalProperty(Recorder.PhaseKey, name)
    rec.curPhase = name
    val t0 = Clock.nowUs
    try body
    finally {
      val t1 = Clock.nowUs
      val d = (t1 - t0) / 1e6
      st.total(name) += d
      prev.foreach(p => st.child(p) += d)
      st.phaseSpans += ((name, t0, t1))
      st.stack = st.stack.tail
      val back = prev.getOrElse("none")
      sc.setLocalProperty(Recorder.PhaseKey, back)
      rec.curPhase = back
    }
  }

  /** Plan and run a result frame: optimize, physical plan, noop write. */
  private def finish(st: OpState, df: DataFrame): Unit = {
    phase(st, "optimize")(df.queryExecution.optimizedPlan)
    val plan = phase(st, "physical")(df.queryExecution.executedPlan)
    st.exchanges = PlanStats.exchanges(plan)
    phase(st, "action")(df.write.format("noop").mode("overwrite").save())
    st.output = df
  }

  private def body(st: OpState, op: Op): Unit = op.kind match {
    case "pxl" =>
      val d = dashboards(op.name)
      val days = op.arg.toLong
      val script = d.source.replace("start_time='-45d'", s"start_time='-${days}d'")
      require(script.contains(s"start_time='-${days}d'"), s"${op.name}: no window")
      phase(st, "parse")(PxlParser.parse(script))
      val env0 = phase(st, "env")(Pxl.env(spark, dataDir, now))
      val env = env0.copy(
        tables = n => phase(st, "synth")(env0.tables(n)),
        ctx = (df, p, o) => {
          st.resolveCalls += 1
          phase(st, "meta")(env0.ctx(df, p, o))
        },
        meta = (df, f, in, o) => {
          st.resolveCalls += 1
          phase(st, "meta")(env0.meta(df, f, in, o))
        })
      val df = phase(st, "eval")(PxlRunner.run(script, env)(d.table))
      finish(st, df)
      st.oracle = SparkEntry.oracleSql.get(d.gate)
      // timed in the default mode, where px.quantiles is a t-digest sketch;
      // the oracle checks the exact mapping, as Verify runs it
      if (script.contains("px.quantiles"))
        st.exact = Some(() => PxlRunner.run(script,
          Pxl.env(spark, dataDir, now, sketchQuantiles = false))(d.table))
    case "query" =>
      // the op names a gate query by its number prefix, e.g. "q07"
      val name = SparkEntry.queries.keys.find(_.startsWith(op.name + "_"))
        .getOrElse(throw new IllegalArgumentException(s"no query ${op.name}"))
      val df = phase(st, "build")(SparkEntry.queries(name)(spark, dataDir))
      finish(st, df)
      st.oracle = SparkEntry.oracleSql.get(name)
    case "calendar" =>
      val root = s"$work/artifacts/op${st.index}"
      st.artifactRoot = Some(root)
      val p = MultiDay.Paths4(root)
      val (replayNoOp, _, _, settled) =
        phase(st, "calendar")(MultiStream.runFullCalendarStreamed(spark, dataDir, p))
      st.flags = Map("replay_noop" -> replayNoOp, "files_settled" -> settled)
      val df = phase(st, "build")(MultiDay.allDecisions4(spark, p))
      finish(st, df)
      st.oracle = SparkEntry.oracleSql.get(CalendarOracle)
    case other => throw new IllegalArgumentException(s"op kind $other")
  }

  /** Run `f` on its own thread under job group `group`; on timeout cancel
    * the group and any running stream, and give up on the thread.
    */
  private def limited[T](group: String, op: Int, limitS: Long)(f: => T): Either[String, T] = {
    val sc = spark.sparkContext
    val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, s"perfbench-$group"); t.setDaemon(true); t
    }
    val fut = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        sc.setLocalProperty(Recorder.OpKey, op.toString)
        try f finally {
          sc.clearJobGroup()
          sc.setLocalProperty(Recorder.OpKey, null)
          sc.setLocalProperty(Recorder.PhaseKey, null)
        }
      }
    })
    try Right(fut.get(limitS, TimeUnit.SECONDS))
    catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        fut.cancel(true)
        Left(s"timeout after $limitS s")
      case e: java.util.concurrent.ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        Left(s"${c.getClass.getSimpleName}: ${String.valueOf(c.getMessage).take(300)}")
    } finally pool.shutdown()
  }

  private def runOp(i: Int, op: Op, warm: Boolean, passId: Int): Map[String, Any] = {
    val st = new OpState(i)
    rec.curOp = i
    rec.curPhase = "none"
    val t0 = Clock.nowUs
    val res = limited(s"op-$i", i, timeoutS)(body(st, op))
    val t1 = Clock.nowUs
    // deliver the op's listener events while it is still the current op
    if (tracing) Bus.drain(spark.sparkContext)
    rec.curOp = -1
    val opSpan = rec.span(rec.reserve(), passId, "op", s"${op.kind}:${op.name}", t0, t1)
    val phaseIds = st.phaseSpans.map { case (n, a, b) =>
      (rec.span(rec.reserve(), opSpan, "phase", n, a, b), n, a, b) }
    // Outside the timed window: dump the result for the oracle check.
    // Warm-up ops are not checked; of the dashboards, the gate window is.
    val checkDir = s"$work/checks/op$i"
    val check = !warm && (op.kind != "pxl" || op.arg.toLong == GateWindowDays)
    val checked = res.flatMap { _ =>
      if (!check) Right(())
      else if (st.output == null) Left("no output")
      else limited(s"check-$i", -1, timeoutS)(
        st.exact.fold(st.output)(_()).write.mode("overwrite").parquet(checkDir))
    }
    val artifactBytes = st.artifactRoot.map { r =>
      val b = treeBytes(new File(r)); deleteTree(new File(r)); b
    }
    spark.catalog.clearCache()
    val counts: Map[String, Any] = if (!tracing) Map.empty else {
      val jobs = rec.jobsOf(i)
      // each job hangs below the innermost span of its phase that was
      // open when it started, else below the op
      jobs.foreach { j =>
        val parent = phaseIds.filter { case (_, n, a, b) =>
          n == j.phase && a / 1000 <= j.startMs && j.startMs <= b / 1000 + 1 }
          .sortBy { case (_, _, a, b) => b - a }.headOption.map(_._1)
          .getOrElse(opSpan)
        rec.span(rec.reserve(), parent, "job", s"job ${j.id}",
          j.startMs * 1000, math.max(j.endMs, j.startMs) * 1000)
      }
      val beforeAction = Set("parse", "env", "eval", "synth", "meta")
      val batches = rec.batchesOf(i)
      def bsum(k: String) = batches.map(_(k)).sum / 1e3
      Map(
        "jobs" -> jobs.size,
        "job_ms" -> jobs.map(j => Seq(j.startMs, j.endMs)),
        "eval_jobs" -> jobs.count(j => beforeAction(j.phase)),
        "build_jobs" -> jobs.count(_.phase == "build"),
        "tasks" -> jobs.map(_.tasks).sum,
        "task_run_s" -> jobs.map(_.runMs).sum / 1e3,
        "task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
        "gc_s" -> jobs.map(_.gcMs).sum / 1e3,
        "task_wait_s" -> jobs.map(_.waitMs).sum / 1e3,
        "shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum,
        "shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum,
        "spill_bytes" -> jobs.map(_.spill).sum,
        "scan_bytes" -> jobs.map(_.scanBytes).sum,
        "scan_rows" -> jobs.map(_.scanRows).sum,
        "bytes_written" -> jobs.map(_.outBytes).sum,
        "files_written" -> rec.filesOf(i),
        "exchanges" -> st.exchanges,
        "resolve_calls" -> st.resolveCalls,
        "batches" -> batches.size,
        "batch_s" -> bsum("triggerExecution"),
        "planning_s" -> bsum("queryPlanning"),
        "commit_s" -> (bsum("walCommit") + bsum("commitOffsets")))
    }
    val selfS = st.total.map { case (n, d) => n -> (d - st.child(n)) }.toMap
    Map("index" -> i, "pass" -> op.pass, "warm" -> warm, "kind" -> op.kind,
      "name" -> op.name, "arg" -> op.arg, "start_us" -> t0, "end_us" -> t1,
      "wall_s" -> (t1 - t0) / 1e6, "ok" -> checked.isRight,
      "error" -> res.left.toOption.orElse(checked.left.toOption).getOrElse(""),
      "phase_self_s" -> selfS,
      "check_dir" -> (if (checked.isRight && check) checkDir else ""),
      "oracle_sql" -> st.oracle.getOrElse(""), "flags" -> st.flags,
      "artifact_bytes" -> artifactBytes.getOrElse(-1L), "counts" -> counts)
  }

  private def treeBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
