package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan

import graft.{GraftCli, SparkEntry}

/** One benchmark invocation in one JVM: build the session the way
  * `GraftCli.main` does, run one untimed warm-up operation, then repeat the
  * workload's operation for the requested seconds, at least [[MinOps]]
  * times. With tracing on, it runs four operations instead — untraced,
  * traced, traced, untraced — and reports the per-layer table of the traced
  * ones; the difference of the traced and untraced medians is the tracing
  * overhead. Outputs are set aside after each operation and checked once the
  * operations are done, so neither the operations' times nor the peak RSS
  * include the check.
  *
  * {{{
  * Harness <workload> <seconds> <trace 0|1> <work dir> <cores> <input pixels> <input>
  * }}}
  *
  * `<input>` is the argv file of an L3 workload or the graph directory of
  * `graph_fixpoint`. Results go to stdout as `PERFBENCH <json>` lines; spans
  * of a traced run go to `<work dir>/spans.jsonl`.
  */
object Harness {

  /** Timed operations per untraced run, at least. */
  val MinOps = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, secondsS, traceS, workDir, coresS, inputPixelsS, input) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    val inputPixels = inputPixelsS.toLong
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // the settings GraftCli.main uses, with the core count pinned
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-cli")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def progress(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s $what")
    progress("session ready")

    try {
      val wl: Workload =
        if (workload == "graph_fixpoint") new GraphWorkload(spark, input, new File(workDir))
        else new L3Workload(spark, Files.readAllLines(Paths.get(input)).toArray(Array.empty[String]),
          new File(workDir))
      val failures = mutable.ArrayBuffer.empty[String]
      // operation index -> it ran without throwing; 0 is the warm-up
      val ran = mutable.ArrayBuffer.empty[Boolean]
      def run(op: => Unit): Unit = {
        wl.reset()
        val ok = try { op; true } catch {
          case e: Exception =>
            failures += s"${e.getClass.getSimpleName}: ${e.getMessage}"
            false
        }
        if (ok) wl.keep(ran.size)
        ran += ok
      }

      run(wl.warmUp())
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      progress("warm-up done")

      /** One timed operation; its wall seconds. The untimed clean-up before
        * it and the setting aside of its output after it are not timed.
        */
      def timedOp(op: => Unit): Double = {
        var t = 0.0
        run {
          val s = System.nanoTime()
          try op finally t = (System.nanoTime() - s) / 1e9
        }
        progress(f"operation ${ran.size - 1}: $t%.3f s, ran=${ran.last}")
        t
      }

      val out = mutable.LinkedHashMap.empty[String, Any]
      out("setup_s") = setupS
      if (!trace) {
        // the JIT keeps warming for a few operations: a fixed minimum count
        // keeps job_s at the same place on that curve in every run
        val times = mutable.ArrayBuffer.empty[Double]
        val t0 = System.nanoTime()
        while (times.size < MinOps || (System.nanoTime() - t0) / 1e9 < seconds)
          times += timedOp(wl.op(None))
        out("job_s") = times.toSeq
      } else {
        val spanFile = new PrintWriter(new File(workDir, "spans.jsonl"))
        val runId = s"$workload-${System.currentTimeMillis()}"
        val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
        var lastRec: Option[OpRecord] = None
        def tracedOp(tracer: Tracer): Unit = {
          tracer.begin()
          val spans = mutable.ArrayBuffer.empty[Span]
          val opId = s"op-${perOp.size}"
          val t0 = System.currentTimeMillis().toDouble
          wl.op(Some((name, s, e) => spans += Span(s"$opId-${spans.size}", name, s, e, opId)))
          val t1 = System.currentTimeMillis().toDouble
          val rec = tracer.end()
          spans += Span(opId, s"$workload operation", t0, t1, "")
          spans ++= PlanMetrics.spans(rec, opId)
          spans.foreach(sp => spanFile.println(Json(Map(
            "run_id" -> runId, "id" -> sp.id, "name" -> sp.name,
            "start_ms" -> sp.startMs, "end_ms" -> sp.endMs, "parent" -> sp.parent))))
          val m = mutable.Map.empty[String, Double] ++ PlanMetrics.of(rec)
          m("cli.parse_ms") = spans.find(_.name == "GraftCli.parse").fold(0.0)(s => s.endMs - s.startMs)
          spans.find(_.name == "GraftCli.run").foreach { s =>
            m("io.writeh5_self_ms") = s.endMs - s.startMs - PlanMetrics.sqlMs(rec)
            m("io.h5_bytes") = wl.outputBytes
          }
          m("sched.core_utilization") = m.getOrElse("sched.task_run_ms", 0.0) / (cores * (t1 - t0))
          m("sources.read_amplification") = m.getOrElse("sources.pixels_decoded", 0.0) / inputPixels
          perOp += m.toMap
          lastRec = Some(rec)
        }
        // untraced, traced, traced, untraced: the order cancels a linear
        // warming trend out of the tracing overhead
        val before = timedOp(wl.op(None))
        val tracer = new Tracer(spark)
        val traced = Seq.fill(2)(timedOp(tracedOp(tracer)))
        tracer.close()
        val after = timedOp(wl.op(None))
        spanFile.close()
        val keys = perOp.flatMap(_.keys).distinct.sorted
        val layer = mutable.LinkedHashMap.empty[String, Any]
        keys.foreach(k => layer(k) = median(perOp.map(_.getOrElse(k, 0.0)).toSeq))
        layer("sources.scan_ns_per_pixel") =
          lastRec.flatMap(PlanMetrics.firstScan).fold(0.0)(scanNsPerRow)
        layer("trace.job_s") = median(traced)
        layer("trace.overhead_ms") = (median(traced) - median(Seq(before, after))) * 1e3
        out("job_s") = Seq(before) ++ traced :+ after
        out("per_layer") = layer
      }
      // before the check, which reads every output back
      out("peak_rss_mb") = vmHwmMb()
      val bad = wl.check(ran.indices.filter(ran))
      failures ++= bad.flatMap(_._2.take(3))
      progress("outputs checked")
      out("attempted") = ran.size
      out("failed") = ran.count(!_) + bad.size
      out("failures") = failures.distinct.take(10).toSeq
      println("PERFBENCH " + Json(out.toMap))
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Scan-only probe: executes the scan node of a plan that ran — its
    * source, pruned columns and pushed filters — on its own, with no
    * operator above it; wall nanoseconds per row it returned.
    */
  def scanNsPerRow(scan: SparkPlan): Double = {
    val s = System.nanoTime()
    val rows =
      if (scan.supportsColumnar) scan.executeColumnar().map(_.numRows.toLong).fold(0L)(_ + _)
      else scan.execute().count()
    if (rows > 0) (System.nanoTime() - s).toDouble / rows else 0.0
  }

  /** `(name, startMs, endMs)` sink for the spans an operation opens. */
  type SpanSink = (String, Double, Double) => Unit

  def timed[T](name: String, sink: Option[SpanSink])(body: => T): T = {
    val s = System.currentTimeMillis().toDouble
    val r = body
    sink.foreach(_(name, s, System.currentTimeMillis().toDouble))
    r
  }

  /** What the harness repeats and checks. */
  trait Workload {
    /** The untimed first operation. */
    def warmUp(): Unit
    /** One timed operation; `sink` receives its spans when traced. */
    def op(sink: Option[SpanSink]): Unit
    /** Untimed clean-up before an operation. */
    def reset(): Unit = ()
    /** Untimed, after operation `i` ran: set its output aside for [[check]]. */
    def keep(i: Int): Unit = ()
    /** Mismatches of the set-aside outputs of operations `ops`, per
      * failing operation.
      */
    def check(ops: Seq[Int]): Seq[(Int, Seq[String])] = Nil
    /** Size of the last output, in bytes. */
    def outputBytes: Double = 0.0
  }

  /** argv -> `GraftCli.parse` -> `GraftCli.run` -> `.h5`, exactly what the
    * CLI does after building its session. The warm-up's `.h5`, and any later
    * one that differs from it, is moved to `<work dir>/kept` and compared
    * with the expected datasets in `<work dir>/expected` (see [[Oracle]]).
    */
  final class L3Workload(spark: SparkSession, argv: Array[String], workDir: File) extends Workload {
    private val cli = GraftCli.parse(argv)
    private val outPath = new File(cli.outDir, cli.l3Name)
    private val keptDir = new File(workDir, "kept")
    private var lastBytes = 0.0
    private def kept(i: Int) = new File(keptDir, s"op-$i.h5")
    // operations whose output equalled the warm-up's byte for byte
    private val sameAsFirst = mutable.Set.empty[Int]

    def warmUp(): Unit = op(None)
    def op(sink: Option[SpanSink]): Unit = {
      val parsed = timed("GraftCli.parse", sink)(GraftCli.parse(argv))
      timed("GraftCli.run", sink)(GraftCli.run(spark, parsed))
      lastBytes = outPath.length().toDouble
    }
    // the CLI refuses to overwrite its output
    override def reset(): Unit = Files.deleteIfExists(outPath.toPath)
    // Deleting an output right away, rather than keeping every one until
    // the check, also drops its pages before the kernel writes them back
    // during a later operation.
    override def keep(i: Int): Unit =
      if (outPath.isFile) {
        keptDir.mkdirs()
        if (i > 0 && kept(0).isFile && Files.mismatch(outPath.toPath, kept(0).toPath) == -1L) {
          Files.delete(outPath.toPath)
          sameAsFirst += i
        } else Files.move(outPath.toPath, kept(i).toPath)
      }
    override def check(ops: Seq[Int]): Seq[(Int, Seq[String])] = {
      val want = Oracle.load(new File(workDir, "expected"))
      val bad = ops.filterNot(sameAsFirst).map(i => i -> Oracle.check(kept(i).getPath, want)).toMap
      ops.map(i => i -> bad.getOrElse(if (sameAsFirst(i)) 0 else i, Nil).map(m => s"operation $i: $m"))
        .filter(_._2.nonEmpty)
    }
    override def outputBytes: Double = lastBytes
  }

  /** `q_pagerank` of `SparkEntry.queries` into a `noop` sink. The warm-up
    * writes the result and its oracle SQL (`SparkEntry.oracleSql`) to
    * `<work dir>/out` instead, for `run.py` to compare with DuckDB; the
    * timed operations run the same plan.
    */
  final class GraphWorkload(spark: SparkSession, dir: String, workDir: File) extends Workload {
    private val query = "q_pagerank"

    private def frame(sink: Option[SpanSink]): DataFrame =
      timed(s"SparkEntry.queries($query)", sink)(SparkEntry.queries(query)(spark, dir))

    def warmUp(): Unit = {
      val out = new File(workDir, "out")
      frame(None).write.parquet(new File(out, query).getPath)
      Files.write(new File(out, "oracle_sql.json").toPath,
        Json(Map(query -> SparkEntry.oracleSql(query))).getBytes("UTF-8"))
    }
    def op(sink: Option[SpanSink]): Unit = {
      val df = frame(sink)
      timed(s"$query noop", sink)(df.write.format("noop").mode("overwrite").save())
    }
  }
}

/** Minimal JSON encoder for the result lines (numbers, strings, maps, seqs). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
