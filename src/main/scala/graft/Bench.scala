package graft

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric","value","unit","queries","sf","steal_s","stolen"}`.
  *
  * Each query is forced through a `noop` sink so the FULL result is
  * computed (a bare `count()` lets Catalyst prune projections and
  * undercounts real work). One cheap warm-up query absorbs session/codegen
  * startup so per-query numbers reflect steady-state throughput.
  *
  * Each query runs `SPARK_GRAFT_BENCH_REPS` times (default 2); the FIRST
  * rep is a discarded warm-up (shuffle-file/page-cache/codegen warm — the
  * round-3 record shows a 60 s cold `q_corpus_clean` whose warm cost is
  * 2.6 s poisoning round-over-round totals) and the report is the MIN of
  * the remaining reps: this host shows heavy CPU steal under sustained
  * load (the same plan has measured 1.9 s and 65.7 s in back-to-back
  * runs), so a single pass times the hypervisor, not the plan. With
  * reps=1 the single timed pass is reported as-is. The total is the sum
  * of per-query mins.
  *
  * STEAL ACCOUNTING: hypervisor CPU steal is sampled from `/proc/stat`
  * (field 8 of the aggregate `cpu` line, USER_HZ ticks) around the whole
  * run and around each rep. The JSON line carries `steal_s` (whole-run
  * steal seconds) and `stolen` — the queries whose REPORTED (min) rep
  * was hit by > [[Bench.StolenRepThresholdS]] s of steal, i.e. numbers
  * that time the hypervisor, not the plan. A run whose `stolen` map is
  * non-empty should be re-run or read per PERF.md "CPU steal" (the
  * round-5 official artifact read 226.6 s vs 122.9 s honest for exactly
  * this reason, and only archaeology proved it).
  *
  * Besides `bench_out.json` (overwritten each run), every line is
  * APPENDED to `bench_history.jsonl`, so each round's per-query numbers
  * stay reproducible after later runs overwrite the snapshot.
  */
object Bench {

  /** Steal (s) during a query's reported rep above which the number is
    * flagged as hypervisor-corrupted in the `stolen` map.
    */
  val StolenRepThresholdS = 0.5

  /** Aggregate steal ticks from `/proc/stat` (USER_HZ = 100 on every
    * mainstream Linux; the value only feeds a threshold flag). 0 when
    * unreadable (non-Linux), which disables the accounting gracefully.
    */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        // "cpu  user nice system idle iowait irq softirq steal ..."
        src.getLines().next().trim.split("\\s+")
          .drop(1).lift(7).map(_.toLong).getOrElse(0L)
      } finally src.close()
    } catch { case _: Throwable => 0L }

  private val UserHz = 100.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(defaultCpus = 4)

    /** (elapsed s, steal s during the rep); elapsed -1 on failure. */
    def execOnce(name: String): (Double, Double) = {
      val s0 = stealTicks()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return (-1.0, 0.0)
      }
      ((System.nanoTime() - t0) / 1e9, (stealTicks() - s0) / UserHz)
    }

    // default 3 = one warm-up + min-of-2 timed: with only one timed rep a
    // single steal spike poisons that query's number (round-4 bench read
    // q_triangles at 46 s vs 4.7 s warm-isolated)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    def exec(name: String): (Double, Double) = {
      val times = (1 to reps).map(_ => execOnce(name))
      // rep 1 is warm-up (dropped when there are timed reps after it);
      // a failure in ANY rep still reports the -1 sentinel
      val timed = if (reps >= 2) times.drop(1) else times
      if (times.exists(_._1 < 0)) (-1.0, 0.0) else timed.minBy(_._1)
    }

    val stealRun0 = stealTicks()
    // warm-up: JVM/codegen/parquet-footer caches
    execOnce("q_grid_stats")

    // Between queries, drop any SQL-cached relations a query leaked: with
    // 246 catalog entries sharing one JVM, cache eviction pressure from
    // earlier queries otherwise skews later ones (the r6->r7 "regressions"
    // on q_pagerank/q_kcore/... were exactly this), and numbers stop being
    // comparable as the catalog grows.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = scala.collection.mutable.LinkedHashMap[String, (Double, Double)]()
    for (n <- names) {
      results(n) = exec(n)
      spark.catalog.clearCache()
    }
    // A partial sweep is a failed sweep: GATE_r07 shipped -1.000 sentinels
    // for 11 queries and the round total silently undercounted. Re-run any
    // query that failed (-1) or whose reported rep was steal-corrupted,
    // inside THIS run, before emitting the line — the driver and the gate
    // tool both treat sentinels as a hard error now.
    for (pass <- 1 to 2) {
      val retry = results.collect {
        case (n, (v, st)) if v < 0 || st > StolenRepThresholdS => n
      }.toSeq
      if (retry.nonEmpty) {
        System.err.println(
          s"[bench] retry pass $pass (${retry.size}): ${retry.mkString(",")}")
        for (n <- retry) {
          val (v1, _) = results(n)
          val (v2, st2) = exec(n)
          val better =
            if (v1 < 0) v2 >= 0
            else v2 >= 0 && (st2 <= StolenRepThresholdS || v2 < v1)
          if (better) results(n) = (v2, st2)
          spark.catalog.clearCache()
        }
      }
    }
    results.collect { case (n, (v, _)) if v < 0 => n } match {
      case bad if bad.nonEmpty =>
        System.err.println(s"[bench] UNMEASURED after retries: ${bad.mkString(",")}")
      case _ =>
    }
    val stealRunS = (stealTicks() - stealRun0) / UserHz
    // millisecond precision: full-double times balloon the line to ~6 KB
    // and the driver's BENCH_rNN.json keeps only a truncated stdout tail —
    // a compact line survives whole (timing noise is >> 1 ms anyway)
    def fmt(v: Double, p: String) = p.formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, (v, _)) =>
      "\"" + k + "\":" + fmt(v, "%.3f")
    }.mkString("{", ",", "}")
    // queries whose REPORTED rep was steal-corrupted: normally empty (adds
    // nothing to the line); in a steal burst it names the poisoned numbers
    val stolen = results.collect {
      case (k, (v, st)) if v >= 0 && st > StolenRepThresholdS =>
        "\"" + k + "\":" + fmt(st, "%.1f")
    }.mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""sf":"$sfDir","steal_s":${fmt(stealRunS, "%.1f")},"stolen":$stolen}"""
    println(line)
    // The harness keeps only a ~2000-char tail of stdout; at 355 queries the
    // full line above is ~8 KB, so two rounds running it was truncated before
    // parsing (BENCH_r08/r09 `parsed: null`). Emit a compact (<2000-byte)
    // summary as the FINAL stdout line — totals + steal + count + pointer to
    // the per-query map, which lives whole in `queries_file` and
    // bench_history.jsonl. The full line keeps printing first (old behavior,
    // old numbers); only the last-line framing changed.
    val nStolen = results.count { case (_, (v, st)) => v >= 0 && st > StolenRepThresholdS }
    val summary = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""sf":"$sfDir","steal_s":${fmt(stealRunS, "%.1f")},""" +
      s""""n_queries":${results.size},"n_stolen":$nStolen,""" +
      s""""queries_file":"${sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")}"}"""
    println(summary)
    // stdout is log-scraped (sbt [info] prefixes, Spark log interleaving) —
    // also land the JSON line in a file so the harness can parse it reliably
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $out failed: ${e.getMessage}") }
    // durable per-round record: BENCH_rNN.json keeps only a truncated tail
    // of stdout, and bench_out.json is overwritten by the next run
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_history.jsonl"), line + "\n",
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch { case e: Throwable =>
      System.err.println(s"[bench] append bench_history.jsonl failed: ${e.getMessage}") }
    spark.stop()
  }
}
