package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run; see perfbench/README.md. */
final case class Ctx(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: Path, out: Path)

/** What a run hands back to `run.py`: metrics with units, context
  * readings that gate nothing, the inputs of the output checks, and the
  * operations attempted and failed.
  */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, Any]
  val context = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = Seq("value" -> value, "unit" -> unit)

  /** Runs one operation: counts it, and records a throw as a failure. */
  def op(name: String)(body: => Unit): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    try body
    catch {
      case NonFatal(e) =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    (System.nanoTime() - t0) / 1e9
  }

  def render: String = Json.render(Seq(
    "metrics" -> metrics, "context" -> context, "checks" -> checks,
    "attempted" -> attempted, "failures" -> failures.toSeq))
}

/** One measured pass over a workload's fixed list of operations. */
final case class Pass(index: Int, wallS: Double, cpuS: Double,
    opSeconds: Seq[Double], rows: Long)

trait Workload {
  /** Fixtures and one-time artifacts, timed into `setup_s`. */
  def setup(spark: SparkSession): Unit
  /** A short run of the workload's own calls, once, after set-up. */
  def warmup(spark: SparkSession): Unit
  def pass(spark: SparkSession, tracer: Tracer, index: Int): Pass
  /** End-to-end readings that need work beyond the passes (memory, disk). */
  def endToEnd(spark: SparkSession, passes: Seq[Pass]): Unit
  def perLayer(spark: SparkSession, tracer: Tracer, traced: Pass): Unit
}

object Main {
  val SetupRounds = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", Paths.get(opts("data")), Paths.get(opts("out")))
    val report = new Report
    report.context("canary_before_ms") = Canary.ms()

    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    var spark: SparkSession = null
    var workload: Workload = null
    val setupSecs = (1 to SetupRounds).map { _ =>
      if (spark != null) spark.stop()
      // program artifacts (edge graphs, sink scratch) live under the
      // private java.io.tmpdir: clear it so each round builds them again
      Files.createDirectories(tmp)
      Fs.clear(tmp)
      Fs.clear(ctx.out)
      val t0 = System.nanoTime()
      spark = session(ctx)
      workload = Workloads(ctx, report)
      workload.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    report.context("setup_rounds_s") = setupSecs
    val w0 = System.nanoTime()
    workload.warmup(spark)
    report.context("warmup_s") = (System.nanoTime() - w0) / 1e9

    if (!ctx.trace) {
      val t0 = System.nanoTime()
      val off = new Tracer(spark.sparkContext, enabled = false)
      val passes = mutable.ArrayBuffer(workload.pass(spark, off, 0))
      while ((System.nanoTime() - t0) / 1e9 < ctx.seconds)
        passes += workload.pass(spark, off, passes.size)
      report.context("passes_wall_s") = passes.map(_.wallS).toSeq
      report.context("passes_cpu_s") = passes.map(_.cpuS).toSeq
      report.metric("setup_s", Stats.median(setupSecs), "s")
      report.metric("pass_s", Stats.median(passes.map(_.wallS).toSeq), "s")
      val ops = passes.flatMap(_.opSeconds).toSeq
      report.metric("op_p50_ms", Stats.quantile(ops, 0.5) * 1e3, "ms")
      report.metric("op_p90_ms", Stats.quantile(ops, 0.9) * 1e3, "ms")
      report.metric("op_geomean_ms", Stats.geomean(ops) * 1e3, "ms")
      report.context("ops_measured") = ops.size
      workload.endToEnd(spark, passes.toSeq)
    } else {
      // untraced, traced, untraced: the traced pass is compared with the
      // pass after it, so that warm-up left over from set-up favours the
      // untraced side rather than hiding the tracing cost
      val off = new Tracer(spark.sparkContext, enabled = false)
      val first = workload.pass(spark, off, 0)
      val tracer = new Tracer(spark.sparkContext, enabled = true)
      val gc0 = Proc.gcSeconds
      val traced = workload.pass(spark, tracer, 1)
      report.metric("process.cpu_s", traced.cpuS, "s")
      report.metric("gc_s", Proc.gcSeconds - gc0, "s")
      tracer.drain()
      tracer.detach()
      val untraced = workload.pass(spark, off, 2)
      report.metric("trace.overhead_ratio", traced.wallS / untraced.wallS, "ratio")
      report.context("passes_wall_s") = Seq(first.wallS, traced.wallS, untraced.wallS)
      workload.perLayer(spark, tracer, traced)
      tracer.writeSpans(ctx.out.resolve("spans.jsonl"))
      report.checks("spans") = ctx.out.resolve("spans.jsonl").toString
    }
    report.context("canary_after_ms") = Canary.ms()
    spark.stop()
    Files.write(ctx.out.resolve("result.json"), report.render.getBytes(StandardCharsets.UTF_8))
  }

  def session(ctx: Ctx): SparkSession = {
    val run = ctx.out.getParent
    val s = graft.Sessions.builder("perfbench", "4")
      .config("spark.local.dir", run.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // keep Spark's job history small, so the heap a run measures is the
      // program's, not an ever-growing record of earlier jobs
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "200")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  /** Collects until the heap in use stops shrinking: Spark's context
    * cleaner frees shuffle and broadcast state only after a collection
    * has cleared its weak references.
    */
  def settleHeap(): Unit = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var (last, next, rounds) = (used(), 0L, 1)
    while ({ Thread.sleep(100); next = used(); rounds += 1; next < last - (1L << 20) && rounds < 10 })
      last = next
  }

  /** Heap in use right after a full collection, sampled every `periodMs`
    * while `body` runs; returns the largest sample in MiB.
    */
  def peakHeapMb(periodMs: Long)(body: => Unit): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    @volatile var done = false
    var peak = 0L
    val sampler = new Thread(() => {
      while (!done) {
        System.gc()
        peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
        Thread.sleep(periodMs)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    try body
    finally {
      done = true
      sampler.join()
    }
    peak / (1024.0 * 1024.0)
  }
}

/** A fixed single-threaded CPU task; its time before and after a run
  * shows whether the machine was contended while the run measured.
  */
object Canary {
  def ms(): Double = {
    val reps = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      val rnd = new java.util.SplittableRandom(42)
      val a = Array.fill(400000)(rnd.nextLong())
      java.util.Arrays.sort(a)
      if (a(0) == 42L) print("")
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(reps)
  }
}

object Fs {
  def clear(dir: Path): Unit =
    if (Files.isDirectory(dir)) {
      val s = Files.list(dir)
      try s.forEach(p => deleteTree(p)) finally s.close()
    } else Files.createDirectories(dir)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }

  def parquetFiles(dir: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && n.endsWith(".parquet") && !n.startsWith(".")
      }.toSeq.sortBy(_.toString)
      finally s.close()
    }
  }
}
