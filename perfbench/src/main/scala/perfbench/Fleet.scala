package perfbench

import java.io.RandomAccessFile
import java.nio.ByteBuffer
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicReference

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.format.{WhisperCodec, WhisperWriter}
import graft.format.WhisperWriter.{ArchiveSpec, FileSpec}
import graft.operators.TimeSeriesOps
import graft.sources.whisper.WhisperIO

/**
 * `fleet`: a Graphite-style tree of 10,000 small whisper files
 * (100 host directories x 100 metric files; three rotated, partly filled
 * tiers of 100 s x 288, 600 s x 144 and 3600 s x 168 slots, 7,252 bytes).
 *
 * The clock advances 10 s per cycle. Every file takes one point per
 * 100 s, at a seeded phase, so each cycle a carbon-style flush appends the
 * newest slot in place to one tenth of the files (header and length
 * unchanged). The flush log is the files' specs: after the flush each file
 * again equals a closed-form `WhisperWriter` spec (see [[Expect.flushed]]).
 * Each cycle then runs
 *  - one tail: a streaming catch-up over the whole tree, pinned to the
 *    window since the previous tail (`streamStartTimestamp`,
 *    `streamNowOverride`), which must deliver exactly the points flushed;
 *  - six renders of 1, 8, 100 (one host), 100 (one metric on every host)
 *    and twice 1,000 (a glob) seeded series, each over its own relative
 *    window (1 h, 6 h, 1 d or 7 d) on the finest archive that covers it,
 *    downsampled with `TimeSeriesOps.downsample` and collected.
 * The tree shape, the flush rate and the render mix (series counts and
 * windows) are chosen, not taken from a recorded workload: they make
 * per-file costs (listing, headers, planning, scheduling) dominate.
 */
final class Fleet(spark: SparkSession, seed: Long) extends Workload {
  import Fleet._

  val name = "fleet"
  private var root: Path = _
  private var runDir: Path = _
  private val specs = new Array[FileSpec](FileCount)
  private val phase = new Array[Int](FileCount)

  def now(c: Int): Long = T0 + Step * c

  def fileName(i: Int): String = f"h${i / Metrics}%03d/m${i % Metrics}%02d.wsp"
  def filePath(i: Int): Path = root.resolve(fileName(i))

  def setup(dir: Path): Map[String, Any] = {
    runDir = dir
    root = dir.resolve("fleet")
    val rng = new Random(seed)
    // balanced phases: exactly one tenth of the files per phase
    val phases = rng.shuffle((0 until FileCount).map(_ % Period).toVector)
    (0 until FileCount).foreach { i =>
      phase(i) = phases(i)
      def tier(spp: Long, points: Long, minFill: Long, last: Long) =
        ArchiveSpec(spp, points, minFill + rng.nextInt((points - minFill + 1).toInt), last,
          rng.nextInt(points.toInt).toLong)
      specs(i) = FileSpec(archives = Seq(
        tier(100L, 288L, 100L, T0 - Step * ((Period - phase(i)) % Period)),
        tier(600L, 144L, 40L, T0 - T0 % 600),
        tier(3600L, 168L, 24L, T0 - T0 % 3600)))
    }
    // the specs are drawn in order above; the files are written in parallel
    val bytes = java.util.stream.IntStream.range(0, FileCount).parallel()
      .mapToLong(i => WhisperWriter.writeFile(filePath(i), specs(i))).sum()
    val listed = WhisperIO.expandStatuses(Seq(root.toString))
    require(listed.size == FileCount, s"fleet tree lists ${listed.size} files")
    require(listed.forall(_.len == FileBytes), "fleet file with unexpected length")
    Map("bytes" -> bytes, "files" -> FileCount, "slots" -> FileCount.toLong * (288 + 144 + 168))
  }

  /** Carbon-style flush for cycle c: files whose phase comes up take the
   * point at now(c), written in place into archive 0's next ring slot. */
  override def beforeCycle(c: Int): Unit = if (c > 0) {
    (0 until FileCount).foreach { i =>
      if (c % Period == phase(i)) {
        val next = append(filePath(i), HeaderBytes, specs(i).archives.head)
        require(next.lastTimestamp == now(c), s"flush clock drift on ${fileName(i)}")
        specs(i) = specs(i).copy(archives = next +: specs(i).archives.tail)
      }
    }
  }

  def cycle(c: Int): Seq[Op] = {
    val rng = new Random(seed * 1000003L + c)
    val host = rng.nextInt(Hosts)
    val metric = rng.nextInt(Metrics)
    val digit = rng.nextInt(10)
    def glob1000(d: Int) = Glob(s"h*/m$d?.wsp", for (h <- 0 until Hosts; m <- 0 until 10) yield h * Metrics + d * 10 + m)
    val series = Seq(
      "list1" -> explicit(rng.shuffle((0 until FileCount).toVector).take(1)),
      "list8" -> explicit(rng.shuffle((0 until FileCount).toVector).take(8)),
      "host" -> Glob(f"h$host%03d/*.wsp", (0 until Metrics).map(host * Metrics + _)),
      "metric" -> Glob(f"h*/m$metric%02d.wsp", (0 until Hosts).map(_ * Metrics + metric)),
      "glob1000" -> glob1000(digit),
      "glob1000" -> glob1000((digit + 1 + rng.nextInt(9)) % 10))
    // each render slot has its own window, so every cycle has the same mix
    val renders = series.zip(RenderWindows).map { case ((kind, g), w) => render(c, Windows(w), kind, g) }
    rng.shuffle(tail(c) +: renders)
  }

  val warmupCycles = 1
  val cycleSeconds = 8.0

  private def explicit(files: Seq[Int]): Glob = Glob("", files)

  private def render(c: Int, w: (Long, Long, Int), kind: String, g: Glob): Op = {
    val (window, bucket, archive) = w
    val hi = now(c)
    val lo = hi - window
    val patterns =
      if (g.pattern.nonEmpty) Seq(root.resolve(g.pattern).toString) else g.files.map(filePath(_).toString)
    // expectations are taken now, against the files as this cycle leaves them
    val want: Map[(String, Long), (Long, Double)] = g.files.flatMap { i =>
      Expect.buckets(specs(i).archives(archive), lo, hi, bucket).map { case (b, v) => (fileName(i), b) -> v }
    }.toMap
    val points = want.valuesIterator.map(_._1).sum
    Op("render", s"render/$kind", headline = true, points,
      sorted = true, files = g.files.map(filePath(_).toString), patterns = patterns,
      archives = Some(Set(archive)), gzip = false,
      run = ctx => {
        val df = ctx.load {
          val scan = spark.read.format("whisper").load(patterns: _*)
            .filter(col("archive") === archive &&
              col("timestamp") > timestamp_seconds(lit(lo)) && col("timestamp") <= timestamp_seconds(lit(hi)))
          TimeSeriesOps.downsample(scan, s"$bucket seconds", "average", keys = Seq("file"))
            .orderBy("file", "bucket_start")
        }
        ctx.plan(df)
        val rows = ctx.run(df.collect())
        Checked(checkRender(rows, want))
      })
  }

  private def checkRender(rows: Array[org.apache.spark.sql.Row],
      want: Map[(String, Long), (Long, Double)]): Option[String] = {
    val got = rows.map { r =>
      (relative(r.getString(0)), r.getTimestamp(1).getTime / 1000L) -> (r.getLong(3), r.getDouble(2))
    }.toMap
    if (got.size != rows.length) Some(s"render returned duplicate buckets (${rows.length} rows)")
    else if (got.keySet != want.keySet)
      Some(s"render buckets differ: ${got.size} returned, ${want.size} expected, " +
        s"e.g. ${(got.keySet diff want.keySet).take(2)} / ${(want.keySet diff got.keySet).take(2)}")
    else got.collectFirst {
      case (k, (n, v)) if n != want(k)._1 || math.abs(v - want(k)._2) > 1e-9 * math.max(1.0, math.abs(v)) =>
        s"render bucket $k: got ($n, $v), expected ${want(k)}"
    }
  }

  private def relative(file: String): String = file.split('/').takeRight(2).mkString("/")

  private def tail(c: Int): Op = {
    val lo = now(c) - Step
    val hi = now(c)
    val want = (0 until FileCount).foldLeft(Expect.Zero)((s, i) => s + Expect.file(specs(i), lo = lo, hi = hi))
    val wantFiles = (0 until FileCount).count(i => Expect.file(specs(i), lo = lo, hi = hi).rows > 0)
    val ckpt = runDir.resolve(s"checkpoints/tail-$c")
    Op("tail", "tail", headline = false, want.rows, sorted = false,
      files = (0 until FileCount).map(filePath(_).toString), patterns = Seq(root.toString),
      archives = Some(Set(0)), gzip = false,
      run = ctx => {
        val got = new AtomicReference[(Expect.Sums, Long)]((Expect.Zero, 0L))
        val sink: (DataFrame, Long) => Unit = (batch, _) => {
          val r = batch.agg(
            count(lit(1)),
            coalesce(sum(col("timestamp").cast("long")), lit(0L)),
            coalesce(sum((col("value") * 1000.0).cast("long")), lit(0L)),
            countDistinct(col("file"))).head()
          got.updateAndGet { case (s, f) =>
            (s + Expect.Sums(r.getLong(0), r.getLong(1), r.getLong(2)), f + r.getLong(3)) }
        }
        val stream = ctx.load(spark.readStream.format("whisper")
          .option("streamStartTimestamp", lo)
          .option("streamNowOverride", hi)
          .load(root.toString))
        val q = ctx.run {
          val q = stream.writeStream.trigger(Trigger.AvailableNow())
            .option("checkpointLocation", ckpt.toString)
            .foreachBatch(sink).start()
          if (!q.awaitTermination(120000L)) { q.stop(); sys.error("tail did not finish in 120 s") }
          q
        }
        q.exception.foreach(e => throw e)
        ctx.streamed(q.recentProgress.toSeq)
        val (sums, files) = got.get
        Checked(
          if (sums != want) Some(s"tail delivered $sums, expected $want")
          else if (files != wantFiles) Some(s"tail touched $files files, expected $wantFiles")
          else None)
      })
  }

  def checksums(keys: Seq[String]): Seq[(String, Option[String])] = Nil
}

object Fleet {
  /** Append the next point to the archive `a` whose slots start at byte
   * `offset` of the file, in place, as carbon does: one `spp` after the
   * newest point, into the next ring slot. Returns the archive's new spec. */
  def append(path: Path, offset: Long, a: ArchiveSpec): ArchiveSpec = {
    val pos = Expect.nextPosition(a)
    val next = Expect.flushed(a, 1)
    val buf = ByteBuffer.allocate(WhisperCodec.PointSize)
    buf.putInt(next.lastTimestamp.toInt).putDouble(a.value(pos))
    val f = new RandomAccessFile(path.toFile, "rw")
    try {
      f.seek(offset + pos * WhisperCodec.PointSize)
      f.write(buf.array())
    } finally f.close()
    next
  }

  /** A render's series: a glob under the tree, or an explicit path list
   * when `pattern` is empty, and the files either one selects. */
  final case class Glob(pattern: String, files: Seq[Int])

  val Hosts = 100
  val Metrics = 100
  val FileCount : Int = Hosts * Metrics
  /** Aligned to an hour, so every tier's last slot sits exactly on it. */
  val T0 = 1700002800L
  val Step = 10L
  val Period = 10
  val HeaderBytes: Long = WhisperCodec.FileMetaSize + 3L * WhisperCodec.ArchiveMetaSize
  val FileBytes: Long = HeaderBytes + WhisperCodec.PointSize * (288L + 144L + 168L)
  /** (window, bucket, archive): graphite-web serves a window from the
   * finest archive whose retention covers it. */
  val Windows: Seq[(Long, Long, Int)] =
    Seq((3600L, 300L, 0), (21600L, 900L, 0), (86400L, 3600L, 1), (604800L, 21600L, 2))
  /** Window of each render slot: list1 1 h, list8 6 h, host 1 d, metric
   * 7 d, the two 1,000-series globs 6 h and 1 d. */
  val RenderWindows: Seq[Int] = Seq(0, 1, 2, 3, 1, 2)
}
