package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.{GarbageCollectionNotificationInfo, GcInfo}
import org.apache.spark.sql.SparkSession


/**
 * Benchmark entry point: one workload, one seed, one closed-loop client thread
 * against a `local[nproc]` session.
 *
 * {{{
 * Main --workload ref_file|fleet --seed N --seconds S --trace 0|1 --run-dir DIR
 *      --benchmark BENCHMARK.json [--commit ID]
 * }}}
 *
 * A run starts the session, sets the fixtures up [[SetupReps]] times (the
 * median counts, plus any one-time set-up), warms up, then runs a fixed
 * number of whole cycles, sized to last about `S` seconds. With
 * `--trace 1` it runs half that many cycles untraced, then as many traced,
 * and reports the per-layer metrics of the traced cycles. Every op's output is checked. The last stdout line
 * is the result JSON; the full run record goes to `DIR/record.json`.
 */
object Main {
  val SetupReps = 3

  /** Serializes the result line, the run record and the spans. */
  val json: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, runDir: Path,
      commit: String, bound: Double)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("run-dir")).toAbsolutePath, m.getOrElse("commit", "unknown"),
      opBound(Paths.get(need("benchmark"))))
  }

  /** The `op_p50_s` bound declared in BENCHMARK.json: the share by which a
   * `count()` time may differ from its `noop` time before it is flagged. */
  def opBound(benchmark: Path): Double =
    json.readTree(benchmark.toFile).path("end_to_end").elements().asScala
      .find(_.path("name").asText() == "op_p50_s").map(_.path("bound"))
      .filter(_.isNumber).map(_.asDouble())
      .getOrElse(sys.error(s"$benchmark declares no bound for op_p50_s"))

  /** One executed op. */
  final case class OpRecord(id: String, op: Op, cycle: Int, seconds: Double, traced: Boolean,
      sunk: Boolean, error: Option[String], gcS: Double, heapAfterGcMb: Double, ctx: Ctx)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try run(a) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: ${errorLine(e)}")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  def errorLine(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).map(_.linesIterator.nextOption().getOrElse("")).getOrElse("")}"

  private def session(cores: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private def heapMb(info: GcInfo): Double =
    info.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1048576.0

  /** Heap in use right after the most recent collection. */
  private def heapAfterGcMb: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: com.sun.management.GarbageCollectorMXBean => Option(b.getLastGcInfo) }
      .flatten.maxByOption(_.getEndTime).map(heapMb).getOrElse(0.0)

  /** The largest heap in use right after a collection, over the
   * collections that end while `watching` is set: the peak live set. Unlike
   * the RSS, which G1 drives up to `-Xmx`, it grows with the program's own
   * on-heap use. */
  private object LiveHeap {
    @volatile var watching = false
    @volatile private var peak = 0.0
    def peakMb: Double = peak
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n: Notification, _: AnyRef) =>
          if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION)
            peak = math.max(peak, heapMb(GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData]).getGcInfo)), null, null)
      case _ =>
    }
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def run(a: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.runDir)
    val t0 = System.nanoTime()
    val spark = session(cores, a.runDir)
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = a.workload match {
      case "ref_file" => new RefFile(spark, a.seed)
      case "fleet"    => new Fleet(spark, a.seed)
      case other      => sys.error(s"unknown workload $other")
    }

    // fixtures: set up several times into fresh directories, keep the last
    var facts = Map.empty[String, Any]
    val setupTimes = (1 to SetupReps).map { i =>
      val dir = Files.createDirectories(a.runDir.resolve(s"fixture-$i"))
      val s0 = System.nanoTime()
      facts = w.setup(dir)
      (System.nanoTime() - s0) / 1e9
    }
    val once0 = System.nanoTime()
    facts ++= w.setupOnce()
    val onceS = (System.nanoTime() - once0) / 1e9

    val records = mutable.ArrayBuffer[OpRecord]()
    var tracer = new Tracer(false)
    var opSeq = 0
    def exec(op: Op, cycle: Int): OpRecord = {
      opSeq += 1
      val id = s"op$opSeq"
      val ctx = new Ctx(spark, tracer, id)
      val sc = spark.sparkContext
      sc.setLocalProperty(ExecListener.OpKey, id)
      val gc0 = gcSeconds
      val s0 = System.nanoTime()
      val outcome =
        try Right(tracer.span("op", op.kind, id)(op.run(ctx)))
        catch { case e: Throwable => Left(errorLine(e)) }
      val dt = (System.nanoTime() - s0) / 1e9
      sc.setLocalProperty(ExecListener.OpKey, null)
      val error = outcome match {
        case Left(e)              => Some(e)
        case Right(Checked(err))  => err
        case Right(NoopSink)      => None
      }
      OpRecord(id, op, cycle, dt, tracer.enabled, outcome == Right(NoopSink), error, gcSeconds - gc0,
        heapAfterGcMb, ctx)
    }

    // warm-up: whole cycles, untimed, counted in setup_s
    var cycle = 0
    val warm0 = System.nanoTime()
    val warmups = (1 to w.warmupCycles).flatMap { _ =>
      cycle += 1
      w.beforeCycle(cycle)
      w.cycle(cycle).map(exec(_, cycle))
    }
    val warmupS = (System.nanoTime() - warm0) / 1e9
    (1 until SetupReps).foreach(i => deleteTree(a.runDir.resolve(s"fixture-$i")))
    val setupS = sessionS + Stats.median(setupTimes).value + onceS + warmupS

    // Timed loop: whole cycles until the time is up. Its wall and CPU time
    // cover the flushes and the ops; building the next cycle's ops (and
    // their expectations) is left out.
    def loop(cycles: Int): (Double, Double) = {
      var wallS = 0.0; var cpuS = 0.0
      def timed[T](body: => T): T = {
        val w0 = System.nanoTime(); val c0 = cpuSeconds
        try body finally { wallS += (System.nanoTime() - w0) / 1e9; cpuS += cpuSeconds - c0 }
      }
      (1 to cycles).foreach { _ =>
        cycle += 1
        timed(w.beforeCycle(cycle))
        val ops = w.cycle(cycle)
        timed(ops.foreach(op => records += exec(op, cycle)))
      }
      (wallS, cpuS)
    }
    // a fixed cycle count per run length: the same op count on every run
    val cycles = math.max(1, math.round((if (a.trace) a.seconds / 2 else a.seconds) / w.cycleSeconds).toInt)
    LiveHeap.watching = true
    val (wall, cpu) = loop(cycles)
    LiveHeap.watching = false
    val rssMb = peakRssMb
    val untracedCount = records.size

    // traced: the same number of cycles again, every call into a layer spanned
    var tracedWall = 0.0
    if (a.trace) {
      tracer = new Tracer(true)
      tracedWall = loop(cycles)._1
    }
    listener.drain(spark)

    // Output checks, warm-up ops included. Noop-sink ops: the rows their
    // sink's stage consumed, from task metrics, and once per distinct op a
    // checksum. Ops that collected their output checked it themselves.
    def check(rs: Seq[OpRecord], badKeys: Map[String, String]): Seq[OpRecord] = rs.map { r =>
      val rows = if (r.sunk) Some(listener.get(r.id).map(_.delivered).getOrElse(-1L)) else None
      val rowError = rows.collect { case n if n != r.op.points => s"noop sink received $n rows, expected ${r.op.points}" }
      r.error.orElse(rowError).orElse(badKeys.get(r.op.key)) match {
        case e @ Some(_) => r.copy(error = e)
        case None        => r
      }
    }
    val allKeys = (warmups ++ records).filter(_.sunk).map(_.op.key)
    val badKeys = w.checksums(allKeys).collect { case (k, Some(e)) => k -> e }.toMap
    val finalRecords = check(records.toSeq, badKeys)
    val checkedWarmups = check(warmups, badKeys)
    val failed = (checkedWarmups ++ finalRecords).count(_.error.nonEmpty)
    val attempted = finalRecords.size + warmups.size

    // ---- end-to-end metrics (untraced cycles) ----
    val timed = finalRecords.take(untracedCount)
    val lat = timed.filter(_.op.headline).map(_.seconds).toSeq
    val points = timed.filter(_.error.isEmpty).map(_.op.points).sum
    val e2e = ListMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wall / cycles, "s"),
      "cpu_s" -> (cpu / cycles, "s"),
      "peak_rss_mb" -> (rssMb, "MB"),
      "peak_heap_mb" -> (LiveHeap.peakMb, "MB"),
      "points_per_s" -> (points / wall, "points/s"),
      "op_p50_s" -> (Stats.percentile(lat, 0.5).value, "s"))

    // p50 and p90 with their sample counts: the headline ops, then each kind
    val percentiles = (("headline" -> lat) +: timed.groupBy(_.op.kind).toSeq.sortBy(_._1)
      .map { case (k, rs) => k -> rs.map(_.seconds).toSeq }).flatMap { case (label, xs) =>
      Seq(0.5 -> "p50", 0.9 -> "p90").map { case (q, tag) =>
        val p = Stats.percentile(xs, q)
        s"${label}_${tag}_s" -> ListMap("value" -> p.value, "n" -> p.n)
      }
    }

    // ---- per-layer metrics (traced cycles) ----
    val layer = mutable.LinkedHashMap[String, Double]()
    var notApplicable = Seq.empty[String]
    var dual = Seq.empty[ListMap[String, Any]]
    if (a.trace) {
      val traced = finalRecords.drop(untracedCount).toSeq
      layer ++= Layers.perOp(traced, listener, tracer, cores)
      layer ++= Layers.self(tracer, traced.size)
      layer("trace.overhead_ratio") = tracedWall / wall
      layer("trace.spans") = tracer.count.toDouble
      w match {
        case r: RefFile => dual = Layers.countNoopDual(traced, a.bound, r.frameOf)
        case _          =>
      }
      layer("dual.count_vs_noop_flagged") = dual.count(_("flagged") == true).toDouble
      notApplicable = Layers.Names.filterNot(layer.contains)
      notApplicable.foreach(n => layer(n) = 0.0)
      tracer.write(a.runDir.resolve("spans.jsonl"))
    }

    val env = ListMap(
      "nproc" -> cores, "master" -> spark.sparkContext.master,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace, "commit" -> a.commit,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "fixture" -> facts)
    val byKey = timed.groupBy(_.op.key).map { case (k, rs) =>
      k -> ListMap("n" -> rs.size, "p50_s" -> Stats.median(rs.map(_.seconds).toSeq).value)
    }
    val record = ListMap(
      "workload" -> w.name, "env" -> env,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "op_fail_ratio" -> failed.toDouble / attempted,
      "setup" -> ListMap("session_s" -> sessionS, "fixture_s" -> setupTimes, "once_s" -> onceS, "warmup_s" -> warmupS,
        "warmup_ops" -> warmups.map(r => ListMap("kind" -> r.op.key, "s" -> r.seconds))),
      "cycles" -> cycles, "end_to_end" -> e2e.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "percentiles" -> ListMap(percentiles: _*), "keys" -> byKey,
      "failures" -> (checkedWarmups ++ finalRecords).filter(_.error.nonEmpty).take(20).map(r =>
        ListMap("op" -> r.id, "kind" -> r.op.kind, "key" -> r.op.key, "error" -> r.error.get)),
      "ops" -> finalRecords.map(r => ListMap("op" -> r.id, "cycle" -> r.cycle, "key" -> r.op.key,
        "s" -> r.seconds, "traced" -> r.traced)),
      "per_layer" -> layer, "not_applicable" -> notApplicable, "count_vs_noop" -> dual)
    json.writeValue(a.runDir.resolve("record.json").toFile, record)

    val metrics =
      if (a.trace) ListMap(Layers.Names.filter(layer.contains).map(k =>
        k -> ListMap("value" -> layer(k), "unit" -> Layers.unit(k))): _*)
      else e2e.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) }
    println(json.writeValueAsString(ListMap("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)))
    spark.stop()
    0
  }
}
