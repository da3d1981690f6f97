package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.connector.read.SupportsReportStatistics
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.format.WhisperCodec
import graft.sources.whisper.WhisperIO

/**
 * Per-layer metrics of a traced run. Plan, exec and stream figures come
 * from the op's own execution (its spans, Spark's task metrics, the
 * streaming progress report). Listing, header and decode figures come from
 * probes: after the traced cycles, the benchmark repeats the op's
 * `WhisperIO` listing and header reads and a single-thread
 * `WhisperCodec.foreachPoint` decode of the op's byte range, each in a span
 * of its own, once per distinct op.
 */
object Layers {

  /** Every per-layer metric, with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "format.decode_ns_per_point" -> "ns", "format.header_parse_us" -> "us", "format.self_s" -> "s",
    "whisper.io.list_s" -> "s", "whisper.io.files_listed" -> "count", "whisper.io.header_s" -> "s",
    "whisper.io.header_reads" -> "count", "whisper.io.self_s" -> "s",
    "whisper.scan.plan_s" -> "s", "whisper.scan.partitions" -> "count", "whisper.scan.task_s" -> "s",
    "whisper.scan.task_cpu_s" -> "s", "whisper.scan.max_task_s" -> "s", "whisper.scan.bytes_read" -> "bytes",
    "whisper.scan.rows_out" -> "count", "whisper.scan.kept_ratio" -> "ratio", "whisper.scan.self_s" -> "s",
    "plans.sorts" -> "count", "plans.exchanges" -> "count",
    "whisper.stream.latest_offset_s" -> "s", "whisper.stream.planning_s" -> "s",
    "whisper.stream.add_batch_s" -> "s", "whisper.stream.commit_s" -> "s", "whisper.stream.rows" -> "count",
    "whisper.stream.self_s" -> "s",
    "operators.downsample_task_s" -> "s",
    "spark.sql.analysis_s" -> "s", "spark.sql.optimization_s" -> "s", "spark.sql.planning_s" -> "s",
    "spark.sql.self_s" -> "s",
    "spark.exec.jobs" -> "count", "spark.exec.stages" -> "count", "spark.exec.tasks" -> "count",
    "spark.exec.sched_delay_s" -> "s", "spark.exec.run_s" -> "s", "spark.exec.cpu_s" -> "s",
    "spark.exec.core_busy_ratio" -> "ratio", "spark.exec.shuffle_write_bytes" -> "bytes",
    "spark.exec.shuffle_read_bytes" -> "bytes", "spark.exec.shuffle_records" -> "count",
    "spark.exec.fetch_wait_s" -> "s", "spark.exec.spill_bytes" -> "bytes", "spark.exec.task_skew" -> "ratio",
    "spark.exec.self_s" -> "s",
    "jvm.gc_s" -> "s", "jvm.heap_after_gc_mb" -> "MB",
    "op.self_s" -> "s",
    "trace.overhead_ratio" -> "ratio", "trace.spans" -> "count",
    "dual.count_vs_noop_flagged" -> "count",
    "ref.numpy_frame_s" -> "s")

  val Names: Seq[String] = Units.map(_._1)
  private val unitOf = Units.toMap
  def unit(name: String): String = unitOf.getOrElse(name, "count")

  private def mean(xs: Iterable[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(xs.sum / xs.size)

  /** Per-op means of the layer metrics over the traced ops. */
  def perOp(ops: Seq[Main.OpRecord], listener: ExecListener, tracer: Tracer, cores: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    def put(name: String, xs: Iterable[Double]): Unit = mean(xs).foreach(out(name) = _)
    val execs = ops.flatMap(r => listener.get(r.id).map(r -> _))
    val spanS = tracer.durations

    // whisper.scan: plan side from the op's plan span, task side from the scan stages
    put("whisper.scan.plan_s", ops.flatMap(r => spanS.get((r.id, "whisper.scan", "plan"))))
    val scans = ops.flatMap(r => r.ctx.lastPlan.map(r -> scanFacts(_)))
    put("whisper.scan.partitions", scans.map(_._2._1))
    put("whisper.scan.task_s", execs.map(_._2.scanRunS))
    put("whisper.scan.task_cpu_s", execs.map(_._2.scanCpuS))
    put("whisper.scan.max_task_s", execs.map(_._2.scanMaxTaskS))
    // the scan reports no bytes to Spark's input metrics: planned slots x point size
    put("whisper.scan.bytes_read", scans.map(_._2._2 * WhisperCodec.PointSize))
    put("whisper.scan.rows_out", execs.map(_._2.scanRecords.toDouble))
    // rows the scan emitted over the ring slots it planned to read
    put("whisper.scan.kept_ratio", scans.flatMap { case (r, (_, slots)) =>
      listener.get(r.id).filter(_ => slots > 0).map(_.scanRecords / slots) })

    // plans: sorts and exchanges left in the physical plan of sorted ops
    val plans = ops.filter(_.op.sorted).flatMap(_.ctx.lastPlan)
    put("plans.sorts", plans.map(_.collect { case s: SortExec => s }.size.toDouble))
    put("plans.exchanges", plans.map(_.collect { case e: ShuffleExchangeExec => e }.size.toDouble))

    // whisper.stream: the micro-batch engine's own phase durations
    val progress = ops.map(_.ctx.streamProgress).filter(_.nonEmpty)
    def dur(keys: String*) = progress.map(ps =>
      ps.map(p => keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum).sum / 1e3)
    if (progress.nonEmpty) {
      put("whisper.stream.latest_offset_s", dur("latestOffset"))
      put("whisper.stream.planning_s", dur("queryPlanning"))
      put("whisper.stream.add_batch_s", dur("addBatch"))
      put("whisper.stream.commit_s", dur("walCommit", "commitOffsets"))
      put("whisper.stream.rows", progress.map(_.map(_.numInputRows).sum.toDouble))
    }

    // operators: task time of the stages after the scan in renders (the downsample)
    put("operators.downsample_task_s", execs.collect { case (r, e) if r.op.kind == "render" => e.runS - e.scanRunS })

    // spark.sql: Catalyst's phase tracker
    Seq("analysis", "optimization", "planning").foreach { ph =>
      put(s"spark.sql.${ph}_s", ops.flatMap(r => spanS.get((r.id, "spark.sql", ph))))
    }

    // spark.exec
    put("spark.exec.jobs", execs.map(_._2.jobs.toDouble))
    put("spark.exec.stages", execs.map(_._2.stages.toDouble))
    put("spark.exec.tasks", execs.map(_._2.tasks.toDouble))
    put("spark.exec.sched_delay_s", execs.map(_._2.schedDelayS))
    put("spark.exec.run_s", execs.map(_._2.runS))
    put("spark.exec.cpu_s", execs.map(_._2.cpuS))
    put("spark.exec.core_busy_ratio", execs.map { case (r, e) => e.runS / (cores * r.seconds) })
    put("spark.exec.shuffle_write_bytes", execs.map(_._2.shuffleWriteBytes.toDouble))
    put("spark.exec.shuffle_read_bytes", execs.map(_._2.shuffleReadBytes.toDouble))
    put("spark.exec.shuffle_records", execs.map(_._2.shuffleRecords.toDouble))
    put("spark.exec.fetch_wait_s", execs.map(_._2.fetchWaitS))
    put("spark.exec.spill_bytes", execs.map(_._2.spillBytes.toDouble))
    put("spark.exec.task_skew", execs.map(_._2.taskSkew))

    // jvm
    put("jvm.gc_s", ops.map(_.gcS))
    put("jvm.heap_after_gc_mb", ops.map(_.heapAfterGcMb))

    out ++= probes(ops, tracer)
    out.toMap
  }

  /** (partitions, ring slots) the plan's whisper scans read, from the
   * scans' own partition planning and row estimate. */
  private def scanFacts(p: SparkPlan): (Double, Double) = {
    val scans = p.collect { case b: BatchScanExec => b.scan }
    (scans.map(_.toBatch.planInputPartitions().length).sum.toDouble,
      scans.collect { case s: SupportsReportStatistics =>
        s.estimateStatistics().numRows().orElse(0L).toDouble }.sum)
  }

  /** Listing, header and decode probes, once per distinct op key. */
  private def probes(ops: Seq[Main.OpRecord], tracer: Tracer): Map[String, Double] = {
    val listS, listed, headerS, headerReads, parseUs, decodeNs = mutable.ArrayBuffer[Double]()
    var formatS = 0.0
    val distinct = ops.groupBy(_.op.key).values.map(_.head).toSeq
    distinct.foreach { r =>
      val op = r.op
      val entries = timed(tracer.span("whisper.io.probe", "list", r.id)(WhisperIO.expandStatuses(op.patterns)))
      listS += entries._2
      listed += entries._1.size
      val h = timed(tracer.span("whisper.io.probe", "header", r.id)(entries._1.foreach(e =>
        WhisperIO.readMetaHeaderOnly(e.path, op.gzip, e.len))))
      headerS += h._2
      headerReads += entries._1.size
      // file bytes are read before the format spans: they time decoding only
      val bytes = op.files.map(f => f -> Files.readAllBytes(Paths.get(f)))
      // at least ParseSamples parses per op, so a one-file op is not one cold call
      val reps = math.max(1, ParseSamples / math.max(1, bytes.size))
      val (metas, parseS) = timed(tracer.span("format", "header_parse", r.id)(
        (1 to reps).map(_ => bytes.map { case (f, b) => WhisperCodec.parseMeta(b, f, b.length) }).last))
      var slots = 0L
      val (_, decS) = timed(tracer.span("format", "decode", r.id) {
        bytes.zip(metas).foreach { case ((_, b), meta) =>
          meta.archives.filter(a => op.archives.forall(_.contains(a.index))).foreach { a =>
            WhisperCodec.foreachPoint(b, a.offset.toInt, a.points.toInt, 0L) { (_, ts, v) =>
              blackhole += ts ^ java.lang.Double.doubleToRawLongBits(v)
            }
            slots += a.points
          }
        }
      })
      formatS += parseS + decS
      parseUs += parseS * 1e6 / (reps * math.max(1, op.files.size))
      if (slots > 0) decodeNs += decS * 1e9 / slots
    }
    def m(xs: Iterable[Double]) = mean(xs).getOrElse(0.0)
    Map(
      "whisper.io.list_s" -> m(listS), "whisper.io.files_listed" -> m(listed),
      "whisper.io.header_s" -> m(headerS), "whisper.io.header_reads" -> m(headerReads),
      "format.header_parse_us" -> m(parseUs), "format.decode_ns_per_point" -> m(decodeNs),
      "format.self_s" -> formatS / math.max(1, distinct.size))
  }

  private val ParseSamples = 1000

  /** Sink for decoded points, so the JIT cannot drop the decode loop. */
  @volatile private var blackhole = 0L

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Self time per op of each layer inside the ops' span trees. */
  def self(tracer: Tracer, nOps: Int): Map[String, Double] =
    tracer.selfSeconds.collect {
      case (layer, s) if Names.contains(s"$layer.self_s") => s"$layer.self_s" -> s / math.max(1, nOps)
    }

  /** The `count()` vs `noop` dual: each distinct op once through
   * `.count()` and once into `noop`. A `count()` lets Catalyst prune
   * columns, so it under-prices ops whose cost is in the columns. */
  def countNoopDual(ops: Seq[Main.OpRecord], bound: Double,
      frame: String => org.apache.spark.sql.DataFrame): Seq[ListMap[String, Any]] =
    ops.map(_.op.key).distinct.sorted.map { key =>
      val df = frame(key)
      val c = timed(df.count())._2
      val n = timed(df.write.format("noop").mode("overwrite").save())._2
      val diff = math.abs(c - n) / n
      ListMap("key" -> key, "count_s" -> c, "noop_s" -> n, "flagged" -> (diff > bound))
    }
}
