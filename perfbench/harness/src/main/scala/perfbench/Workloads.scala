package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sink.{ColumnarSize, ColumnarSizeExpr, DriverParquet, ParquetFiles, ParquetStreamSink, SinkState}

object Workloads {
  def apply(ctx: Ctx, report: Report): Workload = ctx.workload match {
    case "sink_parity_bulk"       => new ParityBulk(ctx, report)
    case "query_mix"              => new QueryMix(ctx, report)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Times a pass: wall and process CPU around `body`, which returns the
    * per-operation seconds and the rows the pass wrote.
    */
  def timedPass(index: Int)(body: => (Seq[Double], Long)): Pass = {
    val c0 = Proc.cpuSeconds
    val t0 = System.nanoTime()
    val (ops, rows) = body
    Pass(index, (System.nanoTime() - t0) / 1e9, Proc.cpuSeconds - c0, ops, rows)
  }

  /** `peak_heap_mb`: the largest heap in use right after a forced full
    * GC while `body` runs, the lower reading of two runs, each started
    * from a settled heap. Now and then a sample lands on a brief spike
    * well above the usual peak, so one run alone is not steady; a spike
    * in both runs is rare. Both peaks are kept as context.
    */
  def memoryPass(report: Report)(body: => Unit): Unit = {
    val peaks = (1 to 2).map { _ =>
      Proc.settleHeap()
      Proc.peakHeapMb(50)(body)
    }
    report.context("peak_heap_runs_mb") = peaks
    report.metric("peak_heap_mb", peaks.min, "MB")
  }

  def jobStats(jobs: Seq[JobRec]): (Int, Int, Int, Double, Double, Long) = (
    jobs.size, jobs.map(_.stages).sum, jobs.map(_.tasks).sum,
    Tracer.unionSeconds(jobs.map(j => (j.startMs, j.endMs))),
    jobs.map(_.taskCpuNs).sum / 1e9, jobs.map(_.shuffleBytes).sum)
}

import Workloads._

/** The paper's workload: one open sharded parity sink takes `writeAll`
  * of a 600 k-row lineitem table `Copies` times, then `close()`. Each
  * copy is one of the input files (same rows, own key offset), in a
  * seed-chosen order.
  */
final class ParityBulk(ctx: Ctx, report: Report) extends Workload {
  private val ShardBytes = 64L << 20
  private val Copies = 2
  private val InputCopies = 8
  private val Prefix = "lineitem"
  private val Options = Map("compression" -> "snappy")
  private val order = new Random(ctx.seed).shuffle((0 until InputCopies).toList)

  private var inputs: IndexedSeq[DataFrame] = _
  private var schema: StructType = _
  private var rowsPerCopy = 0L
  private var estPerCopy = 0L
  private val checked = ArrayBuffer.empty[Any]

  private def fileOf(pass: Int, copy: Int): Int = order((pass * Copies + copy) % InputCopies)
  private def path(file: Int): String = ctx.data.resolve(s"sink/lineitem-$file.parquet").toString

  private def newSink(spark: SparkSession, dir: Path) =
    new ParquetStreamSink(spark, dir, schema, shardSizeBytes = Some(ShardBytes),
      filePrefix = Some(Prefix), options = Options)

  def setup(spark: SparkSession): Unit = {
    inputs = (0 until InputCopies).map(f => spark.read.parquet(path(f)))
    schema = inputs.head.schema
    val r = inputs.head.agg(count(lit(1)), sum(ColumnarSizeExpr.rowBytes(schema))).head()
    rowsPerCopy = r.getLong(0)
    estPerCopy = r.getLong(1)
  }

  /** The memory pass, then one unmeasured pass. After the memory pass
    * alone, whose writes run between forced collections, the first
    * timed pass ran up to 40 % slower than the next.
    */
  def warmup(spark: SparkSession): Unit = {
    val dir = ctx.out.resolve("parity-warmup")
    // just over one full buffer (about 226 k rows of 78 estimated
    // bytes): the peak is a full buffer being flushed
    val input = inputs(fileOf(0, 1)).where((col("l_orderkey") % 8) < 3)
    memoryPass(report) {
      val sink = newSink(spark, dir)
      try sink.writeAll(input) finally sink.close()
      Fs.deleteTree(dir)
    }
    val sink = newSink(spark, dir)
    try (0 until Copies).foreach(c => sink.writeAll(inputs(fileOf(0, c)))) finally sink.close()
    Fs.deleteTree(dir)
  }

  def pass(spark: SparkSession, tracer: Tracer, index: Int): Pass = {
    val dir = ctx.out.resolve(s"parity-pass$index")
    val files = (0 until Copies).map(fileOf(index, _))
    val sink = newSink(spark, dir)
    // op latencies are the writeAll calls only, the same mix in every
    // pass; close() counts in the pass time
    val p = timedPass(index) {
      val ops = files.map(f => report.op("writeAll") {
        tracer.span("sink.writeAll")(sink.writeAll(inputs(f)))
      })
      report.op("close")(tracer.span("sink.close")(sink.close()))
      (ops, Copies * rowsPerCopy)
    }
    checked += Seq("dir" -> dir.toString, "prefix" -> Prefix,
      "written" -> sink.writtenFiles.map(_.toString),
      "sources" -> files.map(path))
    report.checks("passes") = checked.toSeq
    p
  }

  def endToEnd(spark: SparkSession, passes: Seq[Pass]): Unit = {
    report.metric("write_rows_per_s", Stats.median(passes.map(p => p.rows / p.wallS)), "rows/s")
    val disk = passes.map(p => shards(p.index).map(Files.size).sum).sum
    report.metric("disk_bytes_per_est_byte", disk.toDouble / (passes.size * Copies * estPerCopy), "ratio")
  }

  private def shards(index: Int): Seq[Path] =
    Fs.parquetFiles(ctx.out.resolve(s"parity-pass$index"))

  def perLayer(spark: SparkSession, tracer: Tracer, traced: Pass): Unit = {
    val writes = tracer.named("sink.writeAll")
    val closes = tracer.named("sink.close")
    val wall = (writes ++ closes).map(_.seconds).sum
    val (jobs, _, _, inJobs, cpu, _) = jobStats(tracer.jobsUnder(writes ++ closes))
    report.metric("sink.writeAll_s", writes.map(_.seconds).sum, "s")
    report.metric("sink.close_s", closes.map(_.seconds).sum, "s")
    report.metric("sink.spark_jobs", jobs, "count")
    report.metric("sink.spark_job_s", inJobs, "s")
    report.metric("sink.task_cpu_s", cpu, "s")
    report.metric("sink.driver_s", wall - inJobs, "s")
    val files = shards(traced.index)
    report.metric("sink.flushes", files.map(f => ParquetFiles.rowGroupStats(f)._1).sum, "count")
    report.metric("sink.shards", files.size, "count")
    report.metric("sink.est_bytes", Copies * estPerCopy, "bytes")
    report.metric("sink.disk_bytes", files.map(Files.size).sum, "bytes")
    // largest shard's estimated bytes (the sink's own ColumnarSize
    // accounting, computed by its Catalyst twin) over the shard size
    val shardsDf = spark.read.parquet(files.map(_.toString): _*)
    val largest = shardsDf.groupBy(input_file_name())
      .agg(sum(ColumnarSizeExpr.rowBytes(shardsDf.schema)).as("b"))
      .agg(max("b")).head().getLong(0)
    report.metric("sink.shard_overshoot", largest.toDouble / ShardBytes, "ratio")

    val parts = tracer.span("replay")(replay(spark, traced.index))
    parts.foreach { case (k, v) => report.metric(k, v, "s") }
    report.metric("replay.residual_s", wall - parts.values.sum, "s")
  }

  /** Calls the sink's layers directly on the traced pass's rows, with the
    * sink's chunking (`writeAll`'s 65 536-row batches), flush points and
    * shard boundaries (its own `SinkState`), and times each layer.
    */
  private def replay(spark: SparkSession, index: Int): Map[String, Double] = {
    var ingest, size, encode, concat = 0L
    def time[A](add: Long => Unit)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally add(System.nanoTime() - t0)
    }
    val dir = ctx.out.resolve("parity-replay")
    Files.createDirectories(dir)
    val state = new SinkState(Some(ShardBytes), ParquetStreamSink.DefaultBufferSizeBytes)
    val buffer = ArrayBuffer.empty[Array[Row]]
    val staged = ArrayBuffer.empty[Path]
    var shardOpen = false
    var flushes = 0
    def finalizeShard(): Unit = if (shardOpen && staged.nonEmpty) {
      time(concat += _)(ParquetFiles.concat(staged.toSeq, dir.resolve(s"$Prefix-${state.shardIndex - 1}.parquet")))
      staged.clear()
    }
    def rotate(): Unit = { finalizeShard(); state.onRotate(); shardOpen = true }
    def flush(): Unit = if (state.bufferNonEmpty) {
      if (!shardOpen) rotate()
      val rows = buffer.toSeq.flatten
      flushes += 1
      val dest = dir.resolve(f"staged-$flushes%05d.parquet")
      time(encode += _)(DriverParquet.write(spark, dest, schema, rows, Options))
      staged += dest
      state.onFlush()
      buffer.clear()
    }
    (0 until Copies).foreach { c =>
      // writeAll's own cast-to-schema select, then its chunking
      val casted = inputs(fileOf(index, c))
        .select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
      val it = casted.toLocalIterator().asScala.grouped(65536)
      while (time(ingest += _)(it.hasNext)) {
        val chunk = time(ingest += _)(it.next().toArray)
        val est = time(size += _)(ColumnarSize.ofRows(chunk, schema))
        buffer += chunk
        state.addBatch(est)
        state.afterWrite() match {
          case SinkState.NoOp            => ()
          case SinkState.FlushOnly       => flush()
          case SinkState.RotateThenFlush => rotate(); flush()
        }
      }
    }
    flush()
    finalizeShard()
    Fs.deleteTree(dir)
    Map("ingest.toLocalIterator_s" -> ingest / 1e9, "size.ColumnarSize_s" -> size / 1e9,
      "encode.DriverParquet_s" -> encode / 1e9, "concat.ParquetFiles_s" -> concat / 1e9)
  }
}

/** Eight registry queries over the small query tables, in a
  * seed-permuted order: three sink round-trips (both sinks), two
  * relational queries, two connected-components consumers and the exact
  * pair self-join. Each query runs once untimed, then once timed, as
  * `graft.Bench` runs each query twice.
  */
final class QueryMix(ctx: Ctx, report: Report) extends Workload {
  import graft.queries.Pipeline

  val Names: Seq[String] =
    Seq("distributed", "identity", "sharded").map("roundtrip_" + _) ++
    Seq("local_supplier", "pricing_summary").map("q_" + _) ++
    Seq("dedup_clusters", "split_repair", "ngram_jaccard").map("x_" + _)
  private val ComponentsConsumers = Set("x_dedup_clusters", "x_split_repair")
  private val Families = Seq("parity" -> "roundtrip_", "relational" -> "q_", "pipeline" -> "x_")

  private val dir = ctx.data.resolve("mix").toString
  private lazy val registry = graft.SparkEntry.queries
  private val results = ctx.out.resolve("results")
  private val sinkScratch = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft-parity")

  def setup(spark: SparkSession): Unit = {
    Pipeline.ensureEdgeGraph(spark, dir)
    Pipeline.ensureSymEdges(spark, dir)
  }

  /** The artifact builds in `setup` already ran the pair pipelines. */
  def warmup(spark: SparkSession): Unit = ()

  /** Constructs one query's DataFrame and executes it with `collect()`,
    * which runs the whole plan like `graft.Bench`'s noop write and also
    * yields the rows the oracle check reads; returns (construct, execute)
    * seconds. With `keep`, the rows are written to the results directory
    * after the clock stops.
    */
  private def run(spark: SparkSession, q: String, tracer: Option[Tracer], keep: Boolean): (Double, Double) = {
    val t = tracer.getOrElse(new Tracer(spark.sparkContext, enabled = false))
    var df: DataFrame = null
    var rows: Array[Row] = null
    var c, e = 0.0
    t.span(s"query $q") {
      val t0 = System.nanoTime()
      df = t.span("construct")(registry(q)(spark, dir))
      val t1 = System.nanoTime()
      rows = t.span("execute")(df.collect())
      c = (t1 - t0) / 1e9
      e = (System.nanoTime() - t1) / 1e9
    }
    if (keep)
      spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
        .write.mode("overwrite").parquet(results.resolve(q).toString)
    graft.Sessions.isolateQueries(spark)
    (c, e)
  }

  def pass(spark: SparkSession, tracer: Tracer, index: Int): Pass = {
    val order = new Random(ctx.seed * 31 + index).shuffle(Names)
    val ops = ArrayBuffer.empty[Double]
    val perQuery = ArrayBuffer.empty[(String, Double)]
    val c0 = Proc.cpuSeconds
    var wall = 0.0
    order.foreach { q =>
      var secs = (0.0, 0.0)
      report.op(q) {
        run(spark, q, None, keep = false)
        secs = run(spark, q, Some(tracer), keep = index == 0)
      }
      ops += secs._1 + secs._2
      wall += secs._1 + secs._2
      perQuery += q -> (secs._1 + secs._2)
    }
    report.context(s"pass${index}_query_s") = perQuery.sortBy(_._1).toSeq
    if (index == 0) {
      report.checks("results") = results.toString
      report.checks("tables") = dir
      report.checks("oracle") = Names.map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, ""))
    }
    Pass(index, wall, Proc.cpuSeconds - c0, ops.toSeq, rows = 0L)
  }

  def endToEnd(spark: SparkSession, passes: Seq[Pass]): Unit = {
    val outputs = Files.list(sinkScratch).iterator.asScala.toSeq
      .filter(o => !o.getFileName.toString.startsWith(".")).sortBy(_.toString)
    val disk = outputs.flatMap(o => Fs.parquetFiles(o)).map(Files.size).sum
    val est = outputs.map { o =>
      val df = spark.read.parquet(o.toString)
      df.agg(sum(ColumnarSizeExpr.rowBytes(df.schema))).head().getLong(0)
    }.sum
    report.metric("disk_bytes_per_est_byte", disk.toDouble / est, "ratio")
    // Both sinks of the round-trips on the mix's largest table, apart
    // from the queries: a round-trip's few hundred milliseconds of
    // construct time are mostly its table read and job overhead, too
    // short to time the sinks steadily.
    val src = spark.read.parquet(s"$dir/lineitem.parquet")
    val rows = src.count()
    val out = Files.createDirectories(ctx.out.resolve("sinks"))
    def bothSinks(): Unit = {
      val sink = new ParquetStreamSink(spark, out.resolve("parity.parquet"), src.schema, overwrite = true)
      try sink.writeAll(src) finally sink.close()
      new graft.streaming.StreamingShardSink(out.resolve("stream"), src.schema,
        shardSizeBytes = 1L << 20, overwrite = true).addBatch(src)
    }
    bothSinks() // unmeasured: the first run on this table is the slowest
    val secs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      bothSinks()
      (System.nanoTime() - t0) / 1e9
    }
    report.context("sink_runs_s") = secs
    report.metric("write_rows_per_s", 2 * rows / Stats.median(secs), "rows/s")
    // the parity sink buffers the whole table until close(), so the peak
    // is that buffer being flushed; the stream sink's tasks hold less
    memoryPass(report) {
      val sink = new ParquetStreamSink(spark, out.resolve("parity.parquet"), src.schema, overwrite = true)
      try sink.writeAll(src) finally sink.close()
    }
    Fs.deleteTree(out)
  }

  def perLayer(spark: SparkSession, tracer: Tracer, traced: Pass): Unit = {
    val queries = tracer.allSpans.filter(_.name.startsWith("query "))
    def children(qs: Seq[Span], name: String): Seq[Span] = {
      val ids = qs.map(_.id).toSet
      tracer.allSpans.filter(s => ids.contains(s.parent) && s.name == name)
    }
    def layer(prefix: String, qs: Seq[Span], full: Boolean): Unit = {
      val (jobs, stages, _, _, cpu, shuffle) = jobStats(tracer.jobsUnder(qs))
      // in-job time is the union of job intervals within each query
      val inJobs = qs.map(q => jobStats(tracer.jobsUnder(Seq(q)))._4).sum
      val wall = qs.map(_.seconds).sum
      report.metric(s"$prefix.jobs", jobs, "count")
      report.metric(s"$prefix.in_jobs_s", inJobs, "s")
      report.metric(s"$prefix.gap_s", wall - inJobs, "s")
      if (full) {
        report.metric(s"$prefix.construct_s", children(qs, "construct").map(_.seconds).sum, "s")
        report.metric(s"$prefix.execute_s", children(qs, "execute").map(_.seconds).sum, "s")
        report.metric(s"$prefix.stages", stages, "count")
        report.metric(s"$prefix.task_cpu_s", cpu, "s")
        report.metric(s"$prefix.shuffle_bytes", shuffle.toDouble, "bytes")
      }
    }
    Families.foreach { case (family, prefix) =>
      layer(family, queries.filter(_.name.startsWith(s"query $prefix")), full = true)
    }
    layer("components", queries.filter(q => ComponentsConsumers.contains(q.name.stripPrefix("query "))), full = false)

    // The distributed sink inside roundtrip_distributed: each addBatch runs
    // a size-sample job (submitted by adaptive execution, so its call site
    // is not the sink's) and a write job; the query's table read is the
    // only other job. The rest of the construct is driver time.
    val distributed = children(queries.filter(_.name == "query roundtrip_distributed"), "construct")
    val all = tracer.jobsUnder(distributed)
    val sinkJobs = all.filterNot(_.callSite.contains("Tables.scala"))
    val (writeJobs, sampleJobs) = sinkJobs.partition(_.callSite.startsWith("save at StreamingShardSink"))
    val (jobs, _, tasks, _, cpu, _) = jobStats(sinkJobs)
    report.metric("stream.size_sample_s", jobStats(sampleJobs)._4, "s")
    report.metric("stream.write_job_s", jobStats(writeJobs)._4, "s")
    report.metric("stream.driver_s", distributed.map(_.seconds).sum - jobStats(all)._4, "s")
    report.metric("stream.jobs", jobs, "count")
    report.metric("stream.tasks", tasks, "count")
    report.metric("stream.task_cpu_s", cpu, "s")
    report.metric("stream.files", Fs.parquetFiles(sinkScratch.resolve("distributed")).size, "count")
  }
}
