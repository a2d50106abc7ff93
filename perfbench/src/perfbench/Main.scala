package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{CacheScope, GraftSession}

/** The repository benchmark driver:
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * One process runs one workload on `local[nproc]` with one client thread:
  * set-up (process start to session started and inputs open), with the
  * untimed fixture build cut out of it, warm-up for `--seconds`, then a
  * closed loop of operations for `--seconds`. Every operation's output is
  * checked. The last stdout line is one JSON object
  * with the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`, which splits the time into an untraced and a traced half).
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1")
    require(Workload.names.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${Workload.names.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  def log(s: String): Unit = System.err.println(s"perfbench: $s")

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable => log(s"aborted: $e"); e.printStackTrace(); 2 }
    System.exit(code)
  }

  /** the timed operations of one phase: their durations and items */
  final class Tally {
    val nanos = ArrayBuffer.empty[Long]
    var items = 0L
    def seconds: Double = nanos.sum / 1e9
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** the highest percentile with at least ten samples above it, as
    * (percentile, value); the maximum when there are fewer than 11 samples */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n < 11) (100.0, s.last)
    else { val i = n - 11; (100.0 * (i + 1) / n, s(i)) }
  }

  def run(o: Opts): Int = {
    val base = Paths.get(".bench_build", "perfbench").toAbsolutePath
    // a fresh directory per process: a pid can repeat across sandboxes
    // that share one checkout
    val work = Files.createTempDirectory(Files.createDirectories(base), "work-")
    val cores = Runtime.getRuntime.availableProcessors()
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    // fixtures are kept per library build: each build encodes and checks
    // its own store
    val build = new String(Files.readAllBytes(base.resolve("classes").resolve(".stamp")), "UTF-8").trim
    val ctx = new Ctx(o.seed, work.resolve("store").toString,
      base.resolve("fixtures").resolve(build).toString)
    val w = Workload(o.workload, ctx)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    try {
      // set-up runs from process start; the fixture is built between
      // session start and input open and is not set-up time
      spark = GraftSession.local(cores.toString, "perfbench")
      val session = (System.currentTimeMillis() - jvmStart) / 1e3
      val tf = System.nanoTime()
      w.prepare(spark)
      log(f"fixture built in ${(System.nanoTime() - tf) / 1e9}%.2f s")
      val t0 = System.nanoTime()
      w.open(spark)
      val setup = session + (System.nanoTime() - t0) / 1e9
      log(f"set-up $setup%.3f s (process start to session $session%.3f s, then input open)")

      var attempted, failed = 0L
      var firstFailure: Option[String] = None
      def oneOp(i: Int, into: Tally): Unit = {
        attempted += 1
        var result: Option[w.R] = None
        try {
          val t = System.nanoTime()
          val r = Trace.span("driver.op", op = i)(w.op(spark, i))
          val dt = System.nanoTime() - t
          log(f"op $i: ${dt / 1e6}%.1f ms")
          result = Some(r)
          w.check(spark, i, r)
          if (into != null) { into.nanos += dt; into.items += w.items(r) }
        } catch {
          case NonFatal(e) =>
            failed += 1
            log(s"op $i failed: $e")
            if (firstFailure.isEmpty) {
              firstFailure = Some(s"op $i: $e")
              e.printStackTrace()
            }
        } finally {
          result.foreach(r => try w.cleanup(spark, r) catch { case NonFatal(e) => log(s"cleanup: $e") })
          CacheScope.release(blocking = true)
          spark.catalog.clearCache()
        }
      }
      var i = 0
      // closed loop: start another op while it is expected to end no more
      // than half an op past the window, and run at least two
      def loop(seconds: Double, into: Tally): Unit = {
        val end = System.nanoTime() + (seconds * 1e9).toLong
        var last = 0L
        var n = 0
        while (n < 2 || System.nanoTime() + last / 2 < end) {
          val t = System.nanoTime()
          oneOp(i, into); i += 1; n += 1
          last = System.nanoTime() - t
        }
      }
      // warm up for as long as the measurement lasts: the JIT keeps
      // compiling for several seconds after the first operation, and
      // operations measured during that stretch were 10-40% slower
      val tw = System.nanoTime()
      val warmEnd = tw + o.seconds * 1000000000L
      while (i < w.warmups || System.nanoTime() < warmEnd) { oneOp(i, null); i += 1 }
      log(f"warm-up $i op(s) in ${(System.nanoTime() - tw) / 1e9}%.2f s")

      val plain = new Tally
      val metrics =
        if (!o.trace) {
          loop(o.seconds, plain)
          if (plain.nanos.isEmpty) return noneSucceeded(firstFailure)
          endToEnd(w, plain, setup)
        } else {
          loop(o.seconds / 2.0, plain)
          val counters = new SparkCounters
          spark.sparkContext.addSparkListener(counters)
          counters.drain()
          counters.reset()
          ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
          ctx.accs = new LayerAccs(spark.sparkContext)
          Trace.reset(); Trace.on = true
          val traced = new Tally
          try loop(o.seconds / 2.0, traced)
          finally { Trace.on = false; counters.drain() }
          if (plain.nanos.isEmpty || traced.nanos.isEmpty) return noneSucceeded(firstFailure)
          perLayer(o, w, base, plain, traced, counters)
        }
      w.extra.foreach(l => log(l))
      log(f"failed_frac = ${failed.toDouble / attempted}%.4f ratio ($failed of $attempted operations)")
      val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, """ +
        s""""failed": $failed, "metrics": {${json.mkString(", ")}}}""")
      0
    } finally {
      if (spark != null) spark.stop()
      deleteTree(work)
    }
  }

  /** exit code 3: every timed operation failed; the first failure is
    * repeated so that it ends the log */
  private def noneSucceeded(first: Option[String]): Int = {
    log(s"no timed operation succeeded; first failure: ${first.getOrElse("none")}")
    3
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** the end-to-end metrics; each is also printed under its
    * workload-specific name */
  private def endToEnd(w: Workload, t: Tally, setup: Double): Seq[(String, Double, String)] = {
    val ms = t.nanos.toSeq.map(_ / 1e6)
    val perS = t.items / t.seconds
    val p50 = median(ms)
    val (pct, tl) = tail(ms)
    log(f"$perS%.3f ${w.itemName}/s over ${ms.size} timed ops in ${t.seconds}%.2f s")
    log(f"op latency p50 $p50%.2f ms, p$pct%.1f $tl%.2f ms (${ms.size} samples)")
    Seq(("setup_s", setup, "s"), ("items_per_s", perS, "1/s"), ("op_p50_ms", p50, "ms"))
  }

  /** the encoder metrics: only `video_ingest`, which BENCHMARK.json does
    * not list, reports them */
  val IngestMetrics = Seq(
    "sources.encode_ms" -> "ms", "sources.encode_gops" -> "count", "sources.ingest_ms" -> "ms")

  /** the sparse-read metrics: only `frame_fetch`, which BENCHMARK.json
    * does not list, reports them */
  val FetchMetrics = Seq(
    "sources.gather_plan_ms" -> "ms", "sources.gather_collect_ms" -> "ms",
    "spark.jobs_per_fetch" -> "count")

  /** the per-layer metrics BENCHMARK.json lists */
  val LayerMetrics = Seq(
    "sources.decode_ms" -> "ms",
    "sources.decode_frames" -> "count", "sources.decode_gops" -> "count",
    "sources.decode_useful_ratio" -> "ratio", "sources.sink_rows" -> "count",
    "operators.histogram_ms" -> "ms", "operators.ahash_ms" -> "ms",
    "operators.sharpness_ms" -> "ms", "operators.stride_rows_out" -> "count",
    "functions.lsh_ms" -> "ms", "functions.lsh_pairs" -> "count",
    "functions.lsh_true_pair_ratio" -> "ratio", "functions.cc_ms" -> "ms",
    "functions.cc_rounds" -> "count", "functions.substr_ms" -> "ms",
    "functions.windows_cut" -> "count", "functions.bm25_ms" -> "ms",
    "functions.bm25_rows" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.task_wait_ms" -> "ms", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_ms" -> "ms", "spark.task_failures" -> "count",
    "spark.op_task_ms.cc-round" -> "ms", "spark.op_task_ms.bm25-index" -> "ms",
    "spark.op_task_ms.final" -> "ms",
    "driver.heap_peak_mb" -> "MB", "trace.overhead_frac" -> "ratio")

  /** per-layer metrics of the traced half, per successful operation */
  private def perLayer(o: Opts, w: Workload, base: Path, plain: Tally, traced: Tally,
      sc: SparkCounters): Seq[(String, Double, String)] = {
    val ops = traced.nanos.size.toDouble
    val spans = Trace.all
    val table = Trace.layerTable(spans, traced.nanos.size)
    val spanMs = table.map { case (n, _, tot, _) => n -> tot }.toMap.withDefaultValue(0.0)
    val a = w.ctx.accs
    val c = w.ctx.counts
    val mb = 1024.0 * 1024.0
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / mb
    val plainP50 = median(plain.nanos.toSeq.map(_.toDouble))
    val tracedP50 = median(traced.nanos.toSeq.map(_.toDouble))
    val decoded = a.decodeFrames.value.toDouble
    val v = Map[String, Double](
      "sources.encode_ms" -> a.encodeNs.value / 1e6 / ops,
      "sources.encode_gops" -> a.encodeGops.value / ops,
      "sources.ingest_ms" -> spanMs("sources.ingest"),
      "sources.decode_ms" -> a.decodeNs.value / 1e6 / ops,
      "sources.decode_frames" -> decoded / ops,
      "sources.decode_gops" -> a.decodeGops.value / ops,
      "sources.decode_useful_ratio" -> (if (decoded > 0)
        (c("sources.frames_used") + a.strideRows.value) / decoded else 0.0),
      "sources.gather_plan_ms" -> spanMs("sources.gather_plan"),
      "sources.gather_collect_ms" -> spanMs("sources.gather_collect"),
      "sources.sink_rows" -> c("sources.sink_rows") / ops,
      "operators.histogram_ms" -> a.histNs.value / 1e6 / ops,
      "operators.ahash_ms" -> a.ahashNs.value / 1e6 / ops,
      "operators.sharpness_ms" -> a.sharpNs.value / 1e6 / ops,
      "operators.stride_rows_out" -> a.strideRows.value / ops,
      "functions.lsh_ms" -> spanMs("functions.lsh"),
      "functions.lsh_pairs" -> c("functions.lsh_pairs") / ops,
      "functions.lsh_true_pair_ratio" -> (if (c("functions.lsh_pairs") > 0)
        c("functions.lsh_true_pairs") / c("functions.lsh_pairs") else 0.0),
      "functions.cc_ms" -> spanMs("functions.cc"),
      "functions.cc_rounds" -> c("functions.cc_rounds") / ops,
      "functions.substr_ms" -> spanMs("functions.substr"),
      "functions.windows_cut" -> c("functions.windows_cut") / ops,
      "functions.bm25_ms" -> spanMs("functions.bm25"),
      "functions.bm25_rows" -> c("functions.bm25_rows") / ops,
      "spark.jobs" -> sc.jobs / ops, "spark.stages" -> sc.stages / ops,
      "spark.tasks" -> sc.tasks / ops, "spark.task_ms" -> sc.taskMs / ops,
      "spark.task_wait_ms" -> sc.waitMs / ops,
      "spark.shuffle_write_mb" -> sc.shuffleWriteBytes / mb / ops,
      "spark.spill_mb" -> sc.spillBytes / mb / ops, "spark.gc_ms" -> sc.gcMs / ops,
      "spark.task_failures" -> sc.taskFailures.toDouble,
      "spark.jobs_per_fetch" -> sc.jobs / ops,
      "spark.op_task_ms.cc-round" -> sc.opTaskMs("cc-round") / ops,
      "spark.op_task_ms.bm25-index" -> sc.opTaskMs("bm25-index") / ops,
      "spark.op_task_ms.final" -> sc.opTaskMs("final") / ops,
      "driver.heap_peak_mb" -> heapPeak,
      "trace.overhead_frac" -> (tracedP50 - plainP50) / plainP50)
    val other = sc.opTaskMs.keySet -- Set("cc-round", "bm25-index", "final")
    if (other.nonEmpty) log(s"task time under other labels: ${other.map(k => k -> sc.opTaskMs(k))}")

    val dir = base.resolve("trace")
    Files.createDirectories(dir)
    val stem = s"${o.workload}-seed${o.seed}"
    val rendered = Trace.renderTable(table)
    val reported = (o.workload match {
      case "video_ingest" => IngestMetrics
      case "frame_fetch"  => FetchMetrics
      case _              => Nil
    }) ++ LayerMetrics
    val layerLines = reported.map { case (k, u) => f"$k%-32s ${v(k)}%14.4f $u" }
    Files.write(dir.resolve(s"$stem-layers.txt"),
      (rendered + "\n\n" + layerLines.mkString("\n") + "\n").getBytes("UTF-8"))
    Trace.writeChrome(spans, dir.resolve(s"$stem-trace.json"))
    rendered.split("\n").foreach(l => log(l))
    log(s"layer table and Chrome trace written to $dir/$stem-{layers.txt,trace.json}")
    reported.map { case (k, u) => (k, v(k), u) }
  }
}
