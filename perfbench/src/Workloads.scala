package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, PrintStream}
import java.nio.file.Files

import graft.{Pq2Json, SparkEntry}
import graft.functions.KustoRender
import graft.sources.{BrotliNative, ParquetMetadata}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a pass: one conversion or one query. `run` is the
  * timed part (with `tee`, in the check pass, it also keeps the output
  * there); `finish` runs after the pass's timing ends and returns a digest
  * of the output, which must be the same in every pass. */
trait Op {
  def name: String
  def rows: Long
  def run(spark: SparkSession, pass: Int, tee: Option[File]): Unit
  def traced(spark: SparkSession, pass: Int, t: Tracer): Unit
  def finish(spark: SparkSession): String
}

object Fs {
  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
    ()
  }
}

/** A `Pq2Json.run` call whose output goes to a counting, hashing sink in
  * place of stdout. Around each call of the program itself it also keeps
  * the call's start and end (epoch ms) and the bytes the calling thread
  * read through Hadoop, which are the call's footer reads; `footerBytes` is
  * what one footer read of the same input takes. */
final class ConvertOp(val name: String, val rows: Long, argv: Int => Array[String])
    extends Op {
  private var lastDigest = ""
  private var lastInput = ""
  var outBytes = 0L
  var startMs, endMs, readBytes = 0L
  var footerBytes = 0L

  private def convert(pass: Int, tee: Option[File])(
      body: (Pq2Json.Args, PrintStream) => Unit): Unit = {
    val d = new DigestStream(tee.map(f => new BufferedOutputStream(new FileOutputStream(f), 1 << 16)))
    val ps = new PrintStream(new BufferedOutputStream(d, 1 << 16), false, "UTF-8")
    body(Pq2Json.parseArgs(argv(pass)), ps)
    ps.flush()
    d.close()
    lastDigest = d.digest
    outBytes = d.bytes
  }

  def run(spark: SparkSession, pass: Int, tee: Option[File]): Unit =
    convert(pass, tee) { (a, ps) =>
      lastInput = a.input
      val b0 = Jvm.threadBytesRead
      startMs = System.currentTimeMillis()
      Pq2Json.run(spark, a, ps)
      endMs = System.currentTimeMillis()
      readBytes = Jvm.threadBytesRead - b0
    }

  def traced(spark: SparkSession, pass: Int, t: Tracer): Unit =
    convert(pass, None)((a, ps) => TracedPq2Json.run(spark, a, ps, t))

  /** Runs before the pass's inputs are removed, so the first call can
    * measure one footer read of the input the program just converted. */
  def finish(spark: SparkSession): String = {
    if (footerBytes == 0 && lastInput.nonEmpty) {
      val b0 = Jvm.threadBytesRead
      ParquetMetadata.primitivePaths(lastInput)
      footerBytes = Jvm.threadBytesRead - b0
    }
    lastDigest
  }
}

/** One `SparkEntry.queries` entry: construct, plan, write to the noop
  * sink. Cached frames a query leaves behind are dropped after each run,
  * so every pass does the same work. */
final class QueryOp(val name: String, val rows: Long, dir: String) extends Op {
  private val fn = SparkEntry.queries(name)

  /** With `tee` (the check pass) the result is written there as parquet
    * for the oracle comparison, in place of the noop sink. */
  def run(spark: SparkSession, pass: Int, tee: Option[File]): Unit = {
    val df = fn(spark, dir)
    df.queryExecution.executedPlan
    tee match {
      case Some(f) => df.coalesce(1).write.mode("overwrite").parquet(f.getPath)
      case None => df.write.format("noop").mode("overwrite").save()
    }
  }

  def traced(spark: SparkSession, pass: Int, t: Tracer): Unit = {
    val df = t.span("operators.construct")(fn(spark, dir))
    t.span("operators.plan")(df.queryExecution.executedPlan)
    t.span("operators.execute")(df.write.format("noop").mode("overwrite").save())
  }

  def finish(spark: SparkSession): String = {
    spark.catalog.clearCache()
    ""
  }
}

/** The conversion path of `Pq2Json.run` rebuilt from the same public
  * calls, with a span around each layer. Its output must be byte-identical
  * to `Pq2Json.run`'s; the run checks that. The u64 footer-disagreement
  * warning goes to stderr only and is left out, and so is `-d`, which no
  * workload uses. */
object TracedPq2Json {
  private def sampleFiles(f: File, depth: Int = 0): Seq[String] =
    if (f.isFile) Seq(f.getPath)
    else if (f.isDirectory && depth < 32) {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      val data = kids.filter(k => k.isFile && k.length > 0 &&
        !k.getName.startsWith("_") && !k.getName.startsWith("."))
      val (pq, other) = data.partition(_.getName.endsWith(".parquet"))
      val sample = pq.sortBy(_.getName).headOption
        .orElse(other.sortBy(_.getName).headOption)
      sample.map(_.getPath).toSeq ++
        kids.filter(_.isDirectory).sortBy(_.getName).flatMap(sampleFiles(_, depth + 1))
    } else Seq.empty

  def run(spark: SparkSession, a: Pq2Json.Args, out: PrintStream, t: Tracer): Unit =
    t.span("Pq2Json.run") {
      val u64Paths = t.span("sources.footer") {
        val files = sampleFiles(new File(a.input))
        if (!BrotliNative.usable)
          files.find { p =>
            scala.util.Try(ParquetMetadata.codecs(p).contains("BROTLI")).getOrElse(false)
          }.foreach(p => throw new IllegalArgumentException(s"unsupported compression codec BROTLI in $p"))
        files.flatMap { p =>
          scala.util.Try((ParquetMetadata.unsignedInt64Paths(p),
            ParquetMetadata.primitivePaths(p))).toOption.map(_._1)
        }.flatten.toSet
      }
      val opts = a.opts.copy(unsignedPaths = u64Paths)
      val df = t.span("read.infer")(spark.read.parquet(a.input))
      val rendered = t.span("functions.plan")(Render.frame(df, a, opts))
      t.span("Pq2Json.sink") {
        val it = rendered.toLocalIterator()
        while (it.hasNext) { out.print(it.next().getString(0)); out.print("\n") }
      }
    }
}

object Render {
  /** The render frame `Pq2Json.run` builds for a conversion. */
  def frame(df: DataFrame, a: Pq2Json.Args, opts: graft.functions.KustoRenderOptions): DataFrame =
    if (a.csv) KustoRender.toKustoCsv(df, a.columns, opts)
    else {
      val projected = a.columns match {
        case Some(cols) =>
          val present = df.columns.toSet
          df.select(cols.filter(present.contains).map(df.col): _*)
        case None => df
      }
      KustoRender.toKustoJson(projected, opts)
    }
}

/** The inputs the generator wrote, read from `manifest.tsv`. */
final case class Manifest(entries: Seq[Array[String]]) {
  def get(kind: String): Seq[Array[String]] = entries.filter(_(0) == kind)
}

object Manifest {
  def read(dir: File): Manifest = {
    val lines = Files.readAllLines(new File(dir, "manifest.tsv").toPath).toArray.toSeq
    Manifest(lines.map(_.toString).filter(_.nonEmpty).map(_.split("\t", -1)))
  }
}

/** A workload: the ops of each pass plus untimed work around passes. */
abstract class Workload {
  def ops: Seq[Op]
  /** Makes the inputs ready in a new session: reads each input's schema
    * the way the program reads its inputs. Part of every set-up. */
  def prepare(spark: SparkSession): Unit
  def beforePass(pass: Int): Unit = ()
  def afterPass(pass: Int): Unit = ()
  def rowsPerPass: Long = ops.map(_.rows).sum
  /** Inputs rendered by the render probe: (parquet path, conversion args). */
  def renderInputs: Seq[(String, Array[String])]
}

object Workload {
  def apply(name: String, data: File, m: Manifest): Workload = name match {
    case "convert_flat" =>
      val Array(_, path, rows) = m.get("flat").head
      new Workload {
        val ops = Seq(new ConvertOp("lineitem", rows.toLong, _ => Array(path)))
        def prepare(spark: SparkSession): Unit = spark.read.parquet(path).schema
        def renderInputs = Seq((path, Array(path)))
      }

    case "convert_small_files" =>
      // Each pass converts fresh copies of the templates, so every
      // conversion sees a path the process has not seen before.
      val tpls = m.get("small")
      def copyPath(pass: Int, i: Int) = new File(data, s"small_p$pass/f-$i.parquet").getPath
      def flags(mode: String, cols: String): Array[String] = mode match {
        case "csv" => Array("--csv", "--columns", cols)
        case "pruned" => Array("--prune", "-t", "ticks")
        case _ => Array.empty[String]
      }
      new Workload {
        val ops = tpls.zipWithIndex.map { case (Array(_, name, _, rows, mode, cols), i) =>
          new ConvertOp(name, rows.toLong, pass => flags(mode, cols) :+ copyPath(pass, i))
        }
        def renderInputs = tpls.map { t => (t(2), flags(t(4), t(5)) :+ t(2)) }
        def prepare(spark: SparkSession): Unit = spark.read.parquet(tpls.map(_(2)): _*).schema
        override def beforePass(pass: Int): Unit = {
          new File(data, s"small_p$pass").mkdirs()
          tpls.zipWithIndex.foreach { case (t, i) =>
            Files.copy(new File(t(2)).toPath, new File(copyPath(pass, i)).toPath)
          }
        }
        override def afterPass(pass: Int): Unit = Fs.rm(new File(data, s"small_p$pass"))
      }

    case "query_mix" =>
      val dir = m.get("tables").head(1)
      val tableRows = m.get("table").map(e => e(1) -> e(2).toLong).toMap
      // input rows of an op: the rows of every table its oracle reads
      val oracles = SparkEntry.oracleSql
      new Workload {
        val ops = QueryMix.queries.map { q =>
          val sql = oracles(q)
          val rows = tableRows.collect {
            case (t, n) if s"(?i)\\b$t\\b".r.findFirstIn(sql).isDefined => n
          }.sum
          new QueryOp(q, rows, dir)
        }
        def renderInputs = Seq((s"$dir/lineitem.parquet", Array(s"$dir/lineitem.parquet")))
        def prepare(spark: SparkSession): Unit =
          m.get("table").foreach(e => graft.Tables(spark, dir, e(1)).schema)
      }
  }
}

object QueryMix {
  /** A join on an aggregate, a Kusto scalar render, a driver-iterative
    * selection (four checkpointed rounds), a kNN join and an exact dedup.
    * The iterative and kNN queries are the cheapest of their families
    * here, which keeps a pass near 4 s so a run measures several passes
    * (README "Workloads"). None of them reads a cross-query stage memo, so
    * each pass does the same work. */
  val queries: Seq[String] = Seq(
    "q18_join_on_agg", "q55_render_decimal", "q141_kmeans_seed",
    "q37_knn_cosine", "q33_dedup_exact")
}
