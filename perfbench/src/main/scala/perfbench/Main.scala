package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Everything a workload needs: the session, the recorder for timed
  * operations, the trace, and the optional runtime counters.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val work: String, val trace: Trace, val counters: Option[Counters]) {

  val rng = new scala.util.Random(seed)
  val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** Time inside timed operations, failed ones included. */
  var busyNs = 0L
  /** Runtime counter deltas summed over the timed operations. */
  var sparkDelta = Counters.Snap(0, 0, 0, 0, 0)
  /** Metrics in the result, by name (end-to-end and per-layer). */
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Human-readable lines printed before the result. */
  val notes = mutable.ArrayBuffer.empty[String]

  /** Time one operation of `kind` ("<class>.<call>"); an exception
    * counts as a failed operation and yields None.
    */
  def timed[T](kind: String, opId: Int)(body: => T): Option[T] = {
    attempted += 1
    val before = counters.map { c => drain(); c.recording = true; c.snapshot }
    val t0 = System.nanoTime()
    try {
      val r = trace.op(opId)(trace.span(s"bench.$kind")(body))
      latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$kind#$opId", s"$kind: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        None
    } finally {
      busyNs += System.nanoTime() - t0
      for (c <- counters; b <- before) {
        drain()
        c.recording = false
        sparkDelta = sparkDelta + (c.snapshot - b)
      }
    }
  }

  /** Deliver every queued listener event before counters are read. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Operations that failed, by key; an operation counts once however
    * many of its checks fail.
    */
  private val failedOps = mutable.Set.empty[String]
  def failed: Int = failedOps.size

  /** Record a failure of operation `op` (already counted as attempted). */
  def fail(op: String, msg: String): Unit = {
    failedOps += op
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** Check the answer of the timed call `opId` of `kind`. */
  def check(kind: String, opId: Int)(ok: Boolean, msg: => String): Unit =
    if (!ok) fail(s"$kind#$opId", msg)

  /** One checked operation of its own, outside the timed calls (such
    * as an end-of-run read).
    */
  def checkOp(op: String)(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) fail(op, msg)
  }

  def allLatencies: Seq[Double] = latMs.values.flatten.toSeq

  /** Latencies of every kind in class `cls`. */
  def latencies(cls: String): Seq[Double] =
    latMs.collect { case (k, xs) if k.startsWith(cls + ".") => xs }.flatten.toSeq

  /** Run `body` and note its wall time in the report. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally notes += f"wall: $name ${(System.nanoTime() - t0) / 1e9}%.1f s"
  }

  def dir(name: String): String = {
    val p = Paths.get(work, name)
    Files.createDirectories(p)
    p.toString
  }
}

object Stats {
  /** Nearest-rank percentile (p in [0, 100]) of `xs`; 0 when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Peak resident set of this JVM (VmHWM) in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Entry point: runs one workload and writes its result JSON.
  *
  * Usage: perfbench.Main --workload <session|corpus|analytic> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <result.json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    Files.createDirectories(Paths.get(work))

    val t0 = System.nanoTime()
    val spark = graft.LocalSession.build()
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val counters = if (traced) {
      val c = new Counters
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val ctx = new Ctx(spark, seed, opts("seconds").toDouble, work, new Trace(traced), counters)
    ctx.metrics("session_start_s") = sessionStartS
    ctx.notes += f"wall: spark session $sessionStartS%.1f s"
    ctx.phase("workload") {
      workload match {
        case "session" => SessionWorkload.run(ctx)
        case "corpus" => CorpusWorkload.run(ctx)
        case "analytic" => AnalyticWorkload.run(ctx)
        case "selftest" => SelfTest.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    callMetrics(ctx)
    counters.foreach(c => sparkMetrics(ctx, c))
    ctx.metrics("peak_rss_mb") = Stats.peakRssMb
    if (traced) {
      ctx.trace.writeJsonl(s"$work/spans.jsonl")
      ctx.trace.selfSeconds.toSeq.sortBy(_._1).foreach { case (m, s) =>
        ctx.metrics(s"self.$m" + "_s") = s
      }
      spanMetrics(ctx)
    }
    writeResult(ctx, opts("out"))
    spark.stop()
  }

  /** Latency summaries over the timed calls. `call_ms` is the geometric
    * mean over call kinds of each kind's median, so every kind weighs
    * the same whatever its sample count; `p50_ms`/`p90_ms` pool all
    * calls.
    */
  private def callMetrics(ctx: Ctx): Unit = {
    val kinds = ctx.latMs.filter(_._2.nonEmpty)
    kinds.foreach { case (k, xs) => ctx.metrics(s"op.${k}_ms") = Stats.median(xs.toSeq) }
    val all = ctx.allLatencies
    if (kinds.nonEmpty)
      ctx.metrics("call_ms") = math.exp(kinds.values.map(xs => math.log(Stats.median(xs.toSeq))).sum / kinds.size)
    ctx.metrics("calls") = all.size.toDouble
    ctx.metrics("p50_ms") = Stats.median(all)
    ctx.metrics("p90_ms") = Stats.pct(all, 90)
  }

  /** Runtime counters over the timed calls, per call. */
  private def sparkMetrics(ctx: Ctx, c: Counters): Unit = {
    val d = ctx.sparkDelta
    val calls = math.max(1, ctx.allLatencies.size).toDouble
    ctx.metrics("spark.jobs_per_op") = d.jobs / calls
    ctx.metrics("spark.tasks_per_op") = d.tasks / calls
    ctx.metrics("spark.shuffle_write_mb") = d.shuffleWriteBytes / 1e6 / calls
    ctx.metrics("spark.spill_mb") = d.spillBytes / 1e6 / calls
    ctx.metrics("spark.task_skew") = c.worstSkew()
    ctx.metrics("spark.cpu_util") =
      d.taskRunNs.toDouble / (ctx.busyNs.toDouble * ctx.spark.sparkContext.defaultParallelism)
  }

  /** Median duration of every span name: `<name>_ms` over spans inside
    * timed calls, `<name>_s` over spans outside them (set-up).
    */
  private def spanMetrics(ctx: Ctx): Unit =
    ctx.trace.spans.filterNot(_.module == "bench").groupBy(s => (s.name, s.op >= 0))
      .foreach { case ((name, inCall), xs) =>
        val med = Stats.median(xs.map(_.ns.toDouble).toSeq)
        if (inCall) ctx.metrics.getOrElseUpdate(s"${name}_ms", med / 1e6)
        else ctx.metrics.getOrElseUpdate(s"${name}_s", med / 1e9)
      }

  private def writeResult(ctx: Ctx, path: String): Unit = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = ctx.metrics.map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString("{", ",", "}")
    def list(xs: Iterable[String]) = xs.map(Json.str).mkString("[", ",", "]")
    Files.writeString(Paths.get(path),
      s"""{"attempted":${ctx.attempted},"failed":${ctx.failed},"failures":${list(ctx.failures)},"metrics":$ms,"notes":${list(ctx.notes)}}""" + "\n")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
}
