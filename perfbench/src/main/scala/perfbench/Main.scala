package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** One timed op: a query row, a DAG tick, or a lake statement on one
  * table format. */
final case class OpRec(name: String, seconds: Double, ok: Boolean)

/** What a workload sees of the run. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val data: String,
                val work: String) {
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Extra per-layer figures a workload measures itself. */
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Input sizes the run worked on (rows, bytes). */
  val sizes: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Ops run untimed for their output check. */
  var checkedOps = 0
  def fail(what: String): Unit = synchronized {
    System.err.println(s"[perfbench] FAILED: $what")
    failures += what
  }
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  /** Time spent on output checks and bookkeeping inside a pass; the
    * pass's wall time excludes it. */
  var untimedNs = 0L
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }
}

trait Workload {
  /** Passes a timed window runs at least, whatever its length. */
  def minPasses: Int = 1
  /** Untimed warm-up ops; their outputs are checked. */
  def warm(c: Ctx): Unit
  /** One timed pass of the op mix; each op is reported through `op`. */
  def pass(c: Ctx, op: OpRec => Unit): Unit
  /** Untimed checks and sizes after the timed window. */
  def finish(c: Ctx): Unit = ()
}

/** `Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR`
  * runs one workload in this JVM and writes `<work>/result.json`. */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    // worker pools and Spark threads must not keep a failed run alive
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.exit(code)
  }

  def run(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val wl: Workload = wlName match {
      case "tpch_sf1" => new QueryRows
      case "bike_dag" => new BikeDag(seed)
      case "lake_dml" => new LakeDml(seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, repeated: session and warm-up query. The first round also
    // pays JVM class loading; the median is reported.
    val setups = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    var spark: SparkSession = null
    for (i <- 1 to SetupRepeats) {
      val t0 = if (i == 1) mainStart else System.nanoTime()
      spark = GraftSession.local(appName = s"perfbench-$wlName")
      val t1 = System.nanoTime()
      sentinelQuery(spark, data)
      val t2 = System.nanoTime()
      setups += (((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
      if (i < SetupRepeats) spark.stop()
    }
    val setupMedian = setups.sortBy(_._1).apply(setups.size / 2)

    val tracer = new Tracer(spark.sparkContext, enabled = false)
    val c = new Ctx(spark, tracer, data, work)
    val sentinelBefore = timed(sentinelQuery(spark, data))

    val warmS = timed(wl.warm(c))

    // Timed window: whole passes until the budget is spent. A traced run
    // then runs two more half-length windows on the same JVM, untraced and
    // traced; their ratio is the tracing overhead, with both windows past
    // the first passes' warm-up.
    def window(budget: Double): (Seq[OpRec], Seq[Double], Long, Long) = {
      val ops = mutable.ArrayBuffer.empty[OpRec]
      val passes = mutable.ArrayBuffer.empty[Double]
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      while (passes.size < wl.minPasses || (System.nanoTime() - t0) / 1e9 < budget) {
        val p0 = System.nanoTime()
        val u0 = c.untimedNs
        wl.pass(c, r => ops += r)
        passes += (System.nanoTime() - p0 - (c.untimedNs - u0)) / 1e9
      }
      (ops.toSeq, passes.toSeq, startMs, System.currentTimeMillis())
    }
    val untraced = window(if (trace) seconds / 2 else seconds)
    val traced =
      if (!trace) None
      else {
        val reference = window(seconds / 2)
        val ls = new Listeners(spark, tracer)
        ls.register()
        val gc0 = gcSeconds
        tracer.enabled = true
        val w = window(seconds / 2)
        tracer.enabled = false
        ls.unregister()
        Some((w, ls, gcSeconds - gc0, reference))
      }
    val sentinelAfter = timed(sentinelQuery(spark, data))

    val finishS = timed(wl.finish(c))

    val ops = untraced._1
    val allOps = ops ++ traced.toSeq.flatMap(t => t._1._1 ++ t._4._1)
    allOps.filterNot(_.ok).map(_.name).distinct.foreach(n => c.fail(s"op $n threw"))
    val attempted = allOps.size + c.checkedOps

    val lat = ops.filter(_.ok).map(_.seconds).sorted
    val (tailP, tailV) = tail(lat)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupMedian._1, "s"),
      "run_s" -> (median(untraced._2), "s"),
      "op_p50_s" -> (median(lat), "s"),
      "op_tail_s" -> (tailV, "s"),
      "op_geomean_s" -> (geomeanOfRowMedians(ops), "s"))

    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    layer("core.session_s") = (setupMedian._2, "s")
    layer("core.warmup_s") = (setupMedian._3, "s")
    // VmHWM varies by a third between runs, so it is not an end-to-end metric
    layer("bench.peak_rss_mb") = (peakRssMb, "MB")
    layer("bench.sentinel_s") = (math.max(sentinelBefore, sentinelAfter), "s")
    layer("bench.failed_ratio") =
      (if (attempted == 0) 0.0 else c.failures.size.toDouble / attempted, "ratio")
    c.layer.foreach { case (k, v) => layer(k) = (v, unitOf(k)) }
    val spanRows = mutable.ArrayBuffer.empty[String]
    traced.foreach { case ((_, tpasses, startMs, endMs), ls, gcS, reference) =>
      val spans = tracer.spans
      val self = Tracer.selfSeconds(spans)
      spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
        val total = ss.map(_.seconds).sum
        val selfS = ss.map(s => self(s.id)).sum
        if (!n.startsWith("op.")) {
          layer(s"${n}_s") = (total, "s")
          layer(s"${n}_jobs") = (ss.map(_.jobs.get).sum.toDouble, "count")
        }
        spanRows += f"$n%-40s n=${ss.size}%5d total=$total%9.4f s self=$selfS%9.4f s jobs=${ss.map(_.jobs.get).sum}%6d"
      }
      val wall = (endMs - startMs) / 1e3
      val st = ls.scheduler
      val cores = spark.sparkContext.defaultParallelism
      layer("spark.jobs") = (st.jobs.get.toDouble, "count")
      layer("spark.stages") = (st.stages.get.toDouble, "count")
      layer("spark.tasks") = (st.tasks.get.toDouble, "count")
      layer("spark.failed_tasks") = (st.failedTasks.get.toDouble, "count")
      layer("spark.slot_busy") = (st.taskRunMs.get / 1e3 / (wall * cores), "ratio")
      layer("spark.taskless_s") = (st.tasklessSeconds(startMs, endMs), "s")
      layer("spark.task_run_s") = (st.taskRunMs.get / 1e3, "s")
      layer("spark.task_cpu_s") = (st.taskCpuNs.get / 1e9, "s")
      layer("spark.shuffle_write_mb") = (st.shuffleWriteBytes.get / 1048576.0, "MB")
      layer("spark.shuffle_read_mb") = (st.shuffleReadBytes.get / 1048576.0, "MB")
      layer("spark.spill_mb") = (st.spillBytes.get / 1048576.0, "MB")
      layer("spark.straggler_ratio") = (st.stragglerRatio, "ratio")
      layer("catalyst.analysis_s") = (ls.catalyst.analysisMs.get / 1e3, "s")
      layer("catalyst.optimization_s") = (ls.catalyst.optimizationMs.get / 1e3, "s")
      layer("catalyst.planning_s") = (ls.catalyst.planningMs.get / 1e3, "s")
      layer("catalyst.executions") = (ls.catalyst.executions.get.toDouble, "count")
      layer("streaming.batches") = (ls.stream.batches.get.toDouble, "count")
      layer("streaming.add_batch_s") = (ls.stream.addBatchMs.get / 1e3, "s")
      layer("streaming.planning_s") = (ls.stream.planningMs.get / 1e3, "s")
      layer("streaming.wal_commit_s") = (ls.stream.walCommitMs.get / 1e3, "s")
      layer("jvm.gc_s") = (gcS, "s")
      layer("jvm.heap_peak_mb") = (heapPeakMb, "MB")
      val tracedRun = median(tpasses)
      layer("bench.traced_run_s") = (tracedRun, "s")
      layer("bench.trace_overhead") = (tracedRun / median(reference._2) - 1.0, "ratio")
      writeSpans(s"$work/spans.json", spans, self)
    }

    val details = mutable.LinkedHashMap[String, String](
      "workload" -> jstr(wlName),
      "seed" -> seed.toString,
      "op_tail_percentile" -> jstr(tailP),
      "timed_ops" -> ops.size.toString,
      "passes" -> untraced._2.size.toString,
      "pass_s" -> untraced._2.map(num).mkString("[", ",", "]"),
      "warm_s" -> warmS.toString,
      "finish_s" -> finishS.toString,
      "jvm_wall_s" -> ((System.nanoTime() - mainStart) / 1e9).toString,
      "setup_rounds_s" -> setups.map(_._1).mkString("[", ",", "]"),
      "sentinel_before_s" -> sentinelBefore.toString,
      "sentinel_after_s" -> sentinelAfter.toString,
      "sentinel_quiet_norm_s" -> graft.BenchReport.QuietNormSec.toString,
      "spark_graft_cpus" -> GraftSession.defaultCores.toString,
      "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_version" -> jstr(spark.version),
      "scala_version" -> jstr(scala.util.Properties.versionNumberString),
      "jdk_version" -> jstr(System.getProperty("java.version")),
      "op_medians_s" -> ops.filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, rs) => jstr(n) + ":" + num(median(rs.map(_.seconds))) }.mkString("{", ",", "}"),
      "sizes" -> c.sizes.map { case (k, v) => jstr(k) + ":" + num(v) }.mkString("{", ",", "}"),
      "failures" -> c.failures.map(jstr).mkString("[", ",", "]"),
      "span_summary" -> spanRows.map(jstr).mkString("[", ",", "]"))
    def metricsJson(m: mutable.LinkedHashMap[String, (Double, String)]): String =
      m.map { case (k, (v, u)) => s"${jstr(k)}:{\"value\":${num(v)},\"unit\":${jstr(u)}}" }
        .mkString("{", ",", "}")
    val out =
      s"""{"attempted":$attempted,"failed":${c.failures.size},"end_to_end":${
        metricsJson(e2e)},"per_layer":${metricsJson(layer)},"details":${
        details.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")}}"""
    Files.write(Paths.get(s"$work/result.json"), out.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** `graft.Bench`'s load sentinel: a 25-row group-by to a noop sink. */
  def sentinelQuery(spark: SparkSession, data: String): Unit =
    spark.read.parquet(s"$data/nation.parquet").groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()

  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least 10 samples above it; with 10
    * samples or fewer, the maximum. */
  def tail(sorted: Seq[Double]): (String, Double) = {
    val n = sorted.size
    if (n == 0) ("none", Double.NaN)
    else if (n <= 10) (s"max of $n", sorted.last)
    else {
      val k = n - 10
      (f"p${100.0 * k / n}%.1f of $n", sorted(k - 1))
    }
  }

  /** Geometric mean over op names of each name's median latency. */
  def geomeanOfRowMedians(ops: Seq[OpRec]): Double = {
    val meds = ops.filter(_.ok).groupBy(_.name).values.map(rs => median(rs.map(_.seconds)))
      .filter(_ > 0).toSeq
    if (meds.isEmpty) Double.NaN else math.exp(meds.map(math.log).sum / meds.size)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def unitOf(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_amp") || metric.endsWith("_ratio") ||
      metric.endsWith("_per_read")) "ratio"
    else if (metric.endsWith("_bytes")) "bytes"
    else "count"

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def writeSpans(path: String, spans: Seq[Span], self: Map[Int, Double]): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${jstr(s.name)},"start_s":${
        (s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9},"self_s":${self(s.id)},"jobs":${
        s.jobs.get},"stages":${s.stages.get},"tasks":${s.tasks.get}}"""
    }
    Files.write(Paths.get(path), lines.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
  }
}
