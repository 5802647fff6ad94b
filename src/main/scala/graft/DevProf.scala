package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dev-only profiling harness: args = [queryName, sfDir, reps].
  * Splits a gate query's cost into build (plan construction through the
  * runner) and exec (noop write), mirroring Bench's measurement.
  */
object DevProf {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // conf overrides for A/B runs: "k=v;;k=v" (e.g. the Tables.spread
    // experiment: "spark.graft.spreadMinBytes=-1" disables the spread)
    sys.env.get("SPARK_GRAFT_DEV_CONF").foreach(_.split(";;").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })
    graft.core.Tables.all.foreach(t => graft.core.Tables(spark, dir, t).count())
    // per-block job/stage/task counters — where a wall-second has no
    // matching task time, the cost is driver-side (planning, codegen)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val taskNs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          stages.incrementAndGet()
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (e.taskMetrics != null)
            taskNs.addAndGet(e.taskMetrics.executorRunTime * 1000000L)
        }
      })
    def t[A](tag: String)(f: => A): A = {
      val (j0, s0, k0, n0) = (jobs.get, stages.get, tasks.get, taskNs.get)
      val t0 = System.nanoTime(); val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(80) // let the listener bus drain before reading counters
      println(f"[prof] $tag%-12s $dt%.2f s  jobs=${jobs.get - j0} stages=${stages.get - s0} " +
        f"tasks=${tasks.get - k0} taskTime=${(taskNs.get - n0) / 1e9}%.2f s")
      r
    }
    if (name == "bpetrain") {
      // dump a merge table (Scala literal) trained on dir's documents —
      // used to (re)generate MlScalars.sentencePieceMerges
      val docs = graft.core.Tables(spark, dir, "documents")
      val merges = graft.ops.TextOps.bpeTrain(docs, "text", reps,
        wordPrefix = "▁")
      Files.writeString(Paths.get("/tmp/bpe_model.txt"),
        merges.map { case (a, b) => s""""$a" -> "$b"""" }
          .grouped(4).map(_.mkString(", ")).mkString("    ", ",\n    ", "\n"))
    } else {
      // `name` is a regex over query names (a bare name matches itself);
      // each match gets `reps` build/exec rounds in this one warm JVM.
      // SPARK_GRAFT_PROF_RE overrides (sbt's command parser eats | and
      // parens, so alternations must come in through the environment).
      val re = sys.env.getOrElse("SPARK_GRAFT_PROF_RE", name).r
      val matches = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => re.findFirstIn(n).isDefined }
      for ((qn, fn) <- matches; i <- 1 to reps) {
        val df = t(s"$qn build#$i") { fn(spark, dir) }
        t(s"$qn exec#$i") { df.write.format("noop").mode("overwrite").save() }
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
