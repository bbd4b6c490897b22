package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It drives the program through its public entry
  * points and writes what it measured to `<out>/result.json`; `run.py`
  * checks the outputs and prints the metrics.
  *
  *   Main --workload W --data DIR --out DIR --seconds S --trace 0|1 --cpus N
  */
object Main {
  /** One `Pq2Json.run` call as the program made it: start and end (epoch
    * ms) and the footer reads it made, in units of one footer read. */
  final case class CallRec(startMs: Long, endMs: Long, footerReads: Double)

  final case class PassRec(kind: String, wallNs: Long, opNs: Seq[(String, Long)],
      jvm: Map[String, Long], spark: Map[String, Long], from: Long, to: Long,
      outBytes: Long, calls: Seq[CallRec])

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def session(cpus: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.LogScopes.quietWindowExec()
    s
  }

  /** A fixed pure-CPU loop: host speed beside the metrics, not a metric. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42) println("") // uses acc, so the JIT cannot drop the loop
    (System.nanoTime() - t0) / 1e9
  }

  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f.sum, if (f.length > 7) f(7) else 0L)
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    // where the run's time goes, as context: JVM uptime (s) at each phase
    val phases = mutable.LinkedHashMap("jvm_start" ->
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
    def phase(name: String): Unit =
      phases(name) = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = new File(opt("data"))
    val out = new File(opt("out"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val localDir = new File(data, "spark-local").getPath
    val manifest = Manifest.read(data)
    val art = new File(out, "artifacts")
    art.mkdirs()

    // A set-up: a new session, the program's one-time process
    // initialisation, and the inputs made ready (`Workload.prepare`). The
    // first one in the JVM is cold; three more follow and their median is
    // reported.
    val wl = Workload(workload, data, manifest)
    var spark: SparkSession = null
    def setUp(): Double = {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, localDir)
      graft.sources.BrotliNative.usable
      wl.prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val coldSetupS = setUp()
    val setupS = (1 to 3).map(_ => setUp())
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(counters)

    val opRuns = mutable.LinkedHashMap.empty[String, Int]
    val digests = mutable.LinkedHashMap.empty[String, String]
    val digestMismatch = mutable.ArrayBuffer.empty[String]
    val traceMismatch = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    var passNo = 0

    def runPass(kind: String): PassRec = {
      val p = passNo
      passNo += 1
      wl.beforePass(p)
      val traced = kind == "traced"
      val artifacts = kind == "check"
      val j0 = Jvm.snapshot
      val c0 = counters.snapshot
      val from = tracer.now
      val t0 = System.nanoTime()
      val opNs = wl.ops.map { op =>
        val s = System.nanoTime()
        if (traced) op.traced(spark, p, tracer)
        else op.run(spark, p, if (artifacts) Some(new File(art, op.name)) else None)
        op.name -> (System.nanoTime() - s)
      }
      val wall = System.nanoTime() - t0
      val to = tracer.now
      counters.settle()
      val jvm = Jvm.delta(j0, Jvm.snapshot)
      val sparkCounts = Jvm.delta(c0, counters.snapshot)
      var bytes = 0L
      val calls = mutable.ArrayBuffer.empty[CallRec]
      wl.ops.foreach { op =>
        val d = op.finish(spark)
        op match {
          case c: ConvertOp =>
            bytes += c.outBytes
            if (!traced) calls += CallRec(c.startMs, c.endMs,
              if (c.footerBytes > 0) c.readBytes.toDouble / c.footerBytes else 0.0)
          case _ =>
        }
        opRuns(op.name) = opRuns.getOrElse(op.name, 0) + 1
        digests.get(op.name) match {
          case None => digests(op.name) = d
          case Some(d0) if d0 != d =>
            (if (traced) traceMismatch else digestMismatch) += s"${op.name} pass $p: $d vs $d0"
          case _ =>
        }
      }
      wl.afterPass(p)
      val r = PassRec(kind, wall, opNs, jvm, sparkCounts, from, to, bytes, calls.toSeq)
      passes += r
      r
    }

    // The check pass writes the outputs run.py checks; its digests are the
    // ones every later pass must reproduce.
    phase("setup")
    runPass("check")
    phase("check")
    val oracles = wl.ops.collect { case q: QueryOp => q.name -> graft.SparkEntry.oracleSql(q.name) }
    if (oracles.nonEmpty) Files.writeString(new File(art, "oracle.json").toPath,
      oracles.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}"))
    // Untimed warm-up, after the check pass, until a pass spends under 2%
    // of its time compiling, within a budget of a quarter of the measured
    // time. JIT rarely settles that far here; the budget keeps the whole
    // run short enough for many runs.
    val warmStart = System.nanoTime()
    var warm = 0
    var settled = false
    while (warm < 1 || (!settled && (System.nanoTime() - warmStart) / 1e9 < seconds / 4)) {
      val r = runPass("warm")
      settled = r.jvm("jit_ms") < 0.02 * r.wallNs / 1e6
      warm += 1
    }
    phase("warmup")
    val cal = Seq(calibrate(), calibrate(), calibrate())
    val (tot0, st0) = cpuTicks()

    // Measured passes: at least three, until `seconds` have passed. A
    // traced run alternates untraced and traced passes, so both kinds see
    // the same JIT and host state.
    val measureStart = System.nanoTime()
    var measured = 0
    while (measured < 3 || (System.nanoTime() - measureStart) / 1e9 < seconds) {
      if (trace) { runPass("untraced"); runPass("traced") } else runPass("measure")
      measured += 1
    }
    val (tot1, st1) = cpuTicks()
    val perLayer = if (trace) Some(PerLayer(spark, wl, passes.toSeq, tracer, counters, cpus)) else None
    phase("measure")
    val heapMb = Jvm.liveHeapMb()
    spark.stop()
    phase("stop")
    if (trace) Files.writeString(new File(out, "spans.json").toPath, tracer.toJson)

    val passJson = passes.map { r =>
      obj(Seq("kind" -> str(r.kind), "wall_s" -> num(r.wallNs / 1e9),
        "ops_ms" -> obj(r.opNs.map { case (k, v) => k -> num(v / 1e6) }),
        "out_bytes" -> r.outBytes.toString,
        "jvm" -> obj(r.jvm.toSeq.sorted.map { case (k, v) => k -> v.toString }),
        "spark" -> obj(r.spark.toSeq.sorted.map { case (k, v) => k -> v.toString })))
    }.mkString("[", ",", "]")
    val json = obj(Seq(
      "workload" -> str(workload),
      "cpus" -> cpus.toString,
      "setup_s" -> setupS.map(num).mkString("[", ",", "]"),
      "rows_per_pass" -> wl.rowsPerPass.toString,
      "op_rows" -> obj(wl.ops.map(o => o.name -> o.rows.toString)),
      "passes" -> passJson,
      "op_runs" -> obj(opRuns.map { case (k, v) => k -> v.toString }),
      "digest_mismatch" -> digestMismatch.map(str).mkString("[", ",", "]"),
      "trace_mismatch" -> traceMismatch.map(str).mkString("[", ",", "]"),
      "heap_live_mb" -> num(heapMb),
      "per_layer" -> perLayer.map(m => obj(m.map { case (k, v) => k -> num(v) })).getOrElse("null"),
      "context" -> obj(Seq(
        "cold_setup_s" -> num(coldSetupS),
        "phases_s" -> obj(phases.map { case (k, v) => k -> num(v) }),
        "cal_s" -> cal.map(num).mkString("[", ",", "]"),
        "steal_pct" -> num(if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0),
        "warmup_passes" -> warm.toString))))
    Files.writeString(new File(out, "result.json").toPath, json + "\n")
  }
}
