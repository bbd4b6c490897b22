package perfbench

import graft.Pq2Json
import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, named by the program's modules.
  * Counters come from the untraced passes, where the program runs as it
  * is: listener and JVM totals, and around each `Pq2Json.run` call its
  * time to its first Spark job and its footer reads. Spans come from the
  * traced passes: the driver sink of the rebuilt conversion and the
  * construct / plan / execute split of each query. "Per op" values are a
  * pass's total divided by its ops (conversions or queries); every value
  * is the median over passes. */
object PerLayer {
  import Main.{PassRec, median}

  def apply(spark: SparkSession, wl: Workload, passes: Seq[PassRec], t: Tracer,
      counters: Counters, cpus: Int): Seq[(String, Double)] = {
    val traced = passes.filter(_.kind == "traced")
    val untraced = passes.filter(_.kind == "untraced")
    val nOps = wl.ops.length.toDouble
    def med(f: PassRec => Double): Double = median(untraced.map(f))
    def medTraced(f: PassRec => Double): Double = median(traced.map(f))
    def spanSum(r: PassRec, name: String): Double =
      t.named(name, r.from, r.to).map(t.durNs).sum.toDouble
    def spanJobs(r: PassRec, name: String): Double =
      t.named(name, r.from, r.to).map(_.jobs).sum.toDouble
    // per conversion: from the call to its first job (footer reads and
    // path resolution), and its footer reads
    def perCall(r: PassRec, f: Main.CallRec => Double): Double =
      if (r.calls.isEmpty) 0.0 else r.calls.map(f).sum / r.calls.length
    def toFirstJobMs(c: Main.CallRec): Double =
      (counters.firstJobMs(c.startMs, c.endMs).getOrElse(c.endMs) - c.startMs).toDouble
    val (renderNs, renderCpuNs, allocBytes) = renderProbe(spark, wl, counters)
    // the operator layer exists only where a workload runs queries
    val operators = if (!wl.ops.exists(_.isInstanceOf[QueryOp])) Nil else Seq(
      "operators.construct_s" -> medTraced(r => spanSum(r, "operators.construct") / 1e9),
      "operators.plan_s" -> medTraced(r => spanSum(r, "operators.plan") / 1e9),
      "operators.execute_s" -> medTraced(r => spanSum(r, "operators.execute") / 1e9),
      "operators.construct_jobs" -> medTraced(r => spanJobs(r, "operators.construct")),
      "operators.execute_jobs" -> medTraced(r => spanJobs(r, "operators.execute")))

    Seq(
      "sources.footer_ms" -> med(r => perCall(r, toFirstJobMs)),
      "sources.footer_calls" -> med(r => perCall(r, _.footerReads)),
      "read.infer_ms" -> med(r => r.spark("infer_ms") / nOps),
      "read.infer_jobs" -> med(r => r.spark("infer_jobs") / nOps),
      "functions.render_ns_per_row" -> renderNs,
      "functions.render_cpu_ns_per_row" -> renderCpuNs,
      "functions.alloc_bytes_per_row" -> allocBytes,
      "Pq2Json.sink_s" -> medTraced(r => spanSum(r, "Pq2Json.sink") / 1e9),
      "Pq2Json.jobs" -> med(r => if (r.calls.isEmpty) 0.0 else r.spark("jobs") / nOps),
      "Pq2Json.out_bytes_per_row" -> med(r => r.outBytes.toDouble / wl.rowsPerPass),
      "spark.tasks" -> med(_.spark("tasks").toDouble),
      "spark.task_cpu_s" -> med(_.spark("cpu_ns") / 1e9),
      "spark.task_run_s" -> med(_.spark("run_ms") / 1e3),
      "spark.core_busy" -> med(r => r.spark("run_ms") / 1e3 / (r.wallNs / 1e9 * cpus)),
      "spark.shuffle_write_mb" -> med(_.spark("shuffle_write") / 1048576.0),
      "jvm.jit_ms" -> med(_.jvm("jit_ms").toDouble),
      "jvm.gc_ms" -> med(_.jvm("gc_ms").toDouble),
      "jvm.alloc_mb" -> med(_.jvm("alloc") / 1048576.0),
      "trace.overhead_s" ->
        (median(traced.map(_.wallNs / 1e9)) - median(untraced.map(_.wallNs / 1e9)))) ++ operators
  }

  /** Renders each input, cached in memory first, through the workload's
    * render options into the noop sink: (wall ns, task CPU ns, bytes
    * allocated) per row, medians of five repetitions. */
  def renderProbe(spark: SparkSession, wl: Workload, counters: Counters): (Double, Double, Double) = {
    val frames = wl.renderInputs.map { case (path, argv) =>
      val a = Pq2Json.parseArgs(argv)
      val df = spark.read.parquet(path).cache()
      val rows = df.count()
      (df, Render.frame(df, a, a.opts), rows)
    }
    val rows = frames.map(_._3).sum.toDouble
    val reps = (1 to 6).map { _ =>
      val c0 = counters.cpuNs.get
      val a0 = Jvm.allocBytes
      val t0 = System.nanoTime()
      frames.foreach(_._2.write.format("noop").mode("overwrite").save())
      val wall = System.nanoTime() - t0
      counters.settle()
      (wall / rows, (counters.cpuNs.get - c0) / rows, (Jvm.allocBytes - a0) / rows)
    }.drop(1)
    frames.foreach(_._1.unpersist(blocking = true))
    (median(reps.map(_._1)), median(reps.map(_._2)), median(reps.map(_._3)))
  }
}
