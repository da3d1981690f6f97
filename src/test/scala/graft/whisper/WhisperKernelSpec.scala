package graft.sources.whisper

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.format.{WhisperCodec, WhisperWriter}
import graft.format.WhisperWriter.{ArchiveSpec, FileSpec}

/**
 * The decode kernel against a naive decode: for every partition, option
 * set and pushed predicate, the columnar reader (the only reader) must
 * emit the SAME ROW SEQUENCE (emission order, not just the multiset) as
 * `WhisperCodec.decodePoints` + filter + a stable sort by timestamp. The
 * fixtures cover rotated rings and rings with zero gaps, out-of-era residue
 * with several descents (the sort fallback), equal-timestamp ties (also
 * across the rotation seam), truncation in the middle of a point, plain and
 * gzip files, and byte-range chunks. Lives in the whisper package for the
 * reader's partition types; no Spark session.
 */
class WhisperKernelSpec extends AnyFunSuite {

  private val dir: Path = Files.createTempDirectory("whisper-kernel")
  private val Spp = 10L
  private val Points = 600L
  private val HeaderSize = WhisperCodec.FileMetaSize + WhisperCodec.ArchiveMetaSize

  private def bytesOf(spec: FileSpec): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    WhisperWriter.write(bos, spec)
    bos.toByteArray
  }

  private def ring(filled: Long, rotation: Long): Array[Byte] =
    bytesOf(FileSpec(archives = Seq(ArchiveSpec(Spp, Points, filled, 1600000000L, rotation))))

  private def tsAt(b: Array[Byte], slot: Int): Long =
    java.nio.ByteBuffer.wrap(b).getInt(HeaderSize + slot * WhisperCodec.PointSize).toLong & 0xffffffffL

  private def patchTs(b: Array[Byte], slot: Int, ts: Long): Array[Byte] = {
    java.nio.ByteBuffer.wrap(b).putInt(HeaderSize + slot * WhisperCodec.PointSize, ts.toInt)
    b
  }

  /** name -> file bytes (possibly truncated); each also gets a gzip twin. */
  private lazy val fixtures: Seq[(String, Array[Byte])] = {
    val rotated = ring(filled = 450, rotation = 400) // wraps, zeros in the middle
    val gaps = {
      val b = ring(filled = Points, rotation = 250)
      Seq(3, 4, 5, 300, 301, 599).foldLeft(b)((acc, s) => patchTs(acc, s, 0L))
    }
    val residue = {
      // stale older eras scattered through a dense ring: several descents
      val b = ring(filled = Points, rotation = 100)
      Seq(20, 200, 420).foldLeft(b)((acc, s) => patchTs(acc, s, tsAt(acc, s) - 2 * Spp * Points))
    }
    val ties = {
      // one descent at slot 100; the newest run's head (slot 0) ties the
      // oldest run's last two slots, and slot 1; plus a tie inside the run
      val b = ring(filled = Points, rotation = 100)
      val t0 = tsAt(b, 0)
      Seq(1, Points.toInt - 2, Points.toInt - 1).foreach(s => patchTs(b, s, t0))
      patchTs(b, 301, tsAt(b, 300))
    }
    val truncated = ring(filled = 500, rotation = 350).take(HeaderSize + 377 * WhisperCodec.PointSize + 5)
    Seq("rotated" -> rotated, "gaps" -> gaps, "residue" -> residue, "ties" -> ties, "truncated" -> truncated)
  }

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(b)
    gz.close()
    bos.toByteArray
  }

  /** (name, path, plain bytes, gzip?) for every fixture and its gzip twin. */
  private lazy val files: Seq[(String, String, Array[Byte], Boolean)] =
    fixtures.flatMap { case (name, b) =>
      val plain = dir.resolve(s"$name.wsp")
      val gz = dir.resolve(s"$name.wsp.gz")
      Files.write(plain, b)
      Files.write(gz, gzip(b))
      Seq((name, plain.toString, b, false), (s"$name.gz", gz.toString, b, true))
    }

  /** The whole archive, and (plain files) three byte-range chunks. */
  private def partitions(path: String, gz: Boolean): Seq[WhisperInputPartition] = {
    def part(start: Long, count: Long) =
      WhisperInputPartition(path, gz, 0, HeaderSize.toLong, Spp, Points, start, count)
    part(0, Points) +: (if (gz) Nil else Seq(part(0, 150), part(150, 250), part(400, 200)))
  }

  private def options(drop: Boolean, sort: Boolean, dt: Boolean, dtype: String): WhisperOptions =
    WhisperOptions(new CaseInsensitiveStringMap(Map(
      "dropTimeZero" -> drop.toString, "timeSort" -> sort.toString,
      "toDatetime" -> dt.toString, "dtype" -> dtype).asJava))

  private val allOptions: Seq[WhisperOptions] =
    for {
      drop <- Seq(true, false); sort <- Seq(true, false)
      dt <- Seq(true, false); dtype <- Seq("double", "float")
    } yield options(drop, sort, dt, dtype)

  /** (file, archive, position, timestamp as emitted, value bits as emitted) */
  private type Row = (String, Int, Long, Long, Long)

  private def expectedRow(path: String, o: WhisperOptions, p: WhisperCodec.Point): Row = (
    path, 0, p.position,
    if (o.toDatetime) p.timestamp * 1000000L else p.timestamp.toInt.toLong,
    if (o.dtype == "float") java.lang.Float.floatToIntBits(p.value.toFloat).toLong
    else java.lang.Double.doubleToLongBits(p.value))

  private def naive(bytes: Array[Byte], u: WhisperInputPartition, o: WhisperOptions, preds: Seq[WPred]): Seq[Row] = {
    val start = HeaderSize + u.posStart * WhisperCodec.PointSize
    val avail = math.max(0L, math.min(u.posCount, (bytes.length - start) / WhisperCodec.PointSize))
    val points = if (avail == 0) Nil else WhisperCodec.decodePoints(bytes, start.toInt, avail.toInt, u.posStart).toSeq
    val kept = points.filter { p =>
      (!o.dropTimeZero || p.timestamp != 0L) &&
      preds.forall(_.eval(u.filePath, u.archiveIndex, p.position, p.timestamp, p.value))
    }
    (if (o.timeSort) kept.sortBy(_.timestamp) else kept).map(expectedRow(u.filePath, o, _))
  }

  private def columnar(u: WhisperInputPartition, o: WhisperOptions, preds: Seq[WPred], enforce: Boolean = false): Seq[Row] = {
    val r = new WhisperColumnarReader(u, o, preds, o.schema, enforce)
    val out = Seq.newBuilder[Row]
    try {
      while (r.next()) {
        val b = r.get()
        (0 until b.numRows()).foreach { i =>
          out += ((
            b.column(0).getUTF8String(i).toString, b.column(1).getInt(i), b.column(2).getLong(i),
            if (o.toDatetime) b.column(3).getLong(i) else b.column(3).getInt(i).toLong,
            if (o.dtype == "float") java.lang.Float.floatToIntBits(b.column(4).getFloat(i)).toLong
            else java.lang.Double.doubleToLongBits(b.column(4).getDouble(i))))
        }
      }
    } finally r.close()
    out.result()
  }

  /** Every operator on timestamp and position, IN on both, and the
   * per-partition archive and file predicates, with cuts drawn from the data. */
  private def predicateSets(bytes: Array[Byte], path: String): Seq[Seq[WPred]] = {
    val filled = (0 until Points.toInt)
      .filter(s => HeaderSize + (s + 1) * WhisperCodec.PointSize <= bytes.length)
      .map(s => s -> tsAt(bytes, s)).filter(_._2 != 0L)
    val (pos, ts) = filled(filled.size / 3)
    val (pos2, ts2) = filled(2 * filled.size / 3)
    val ops = Seq("=", "!=", ">", ">=", "<", "<=")
    Seq(Seq.empty[WPred]) ++
      ops.map(op => Seq(NumCmp("timestamp", op, ts))) ++
      ops.map(op => Seq(NumCmp("position", op, pos.toLong))) ++
      Seq(
        Seq(NumIn("timestamp", Set(ts, ts2, 7L))),
        Seq(NumIn("position", Set(pos.toLong, pos2.toLong, Points + 5))),
        Seq(NumCmp("timestamp", ">", ts), NumCmp("timestamp", "<=", ts2)), // a streaming window
        Seq(NumCmp("archive", "=", 0L), NumCmp("position", ">=", pos.toLong)),
        Seq(NumCmp("archive", "!=", 0L)),
        Seq(FileCmp("=", path)),
        Seq(FileIn(Set("/elsewhere.wsp"))))
  }

  test("the columnar reader emits the naive decode's row sequence") {
    for {
      (name, path, bytes, gz) <- files
      preds <- predicateSets(bytes, path)
      u <- partitions(path, gz)
      o <- allOptions
    } {
      val want = naive(bytes, u, o, preds)
      val ctx = s"$name [${u.posStart}, +${u.posCount}) $o preds=$preds"
      assert(columnar(u, o, preds) == want, ctx)
    }
  }

  test("no fixture is already in time order") {
    // so the equivalence above cannot pass by emitting slots as read
    val o = options(drop = true, sort = true, dt = false, dtype = "double")
    Seq("rotated", "ties", "residue", "truncated", "gaps").foreach { name =>
      val (_, path, bytes, _) = files.find(_._1 == name).get
      val u = partitions(path, gz = false).head
      val physical = naive(bytes, u, options(drop = true, sort = false, dt = false, dtype = "double"), Nil)
      assert(naive(bytes, u, o, Nil) != physical, s"$name is already in time order")
    }
  }

  test("window enforcement throws an IllegalStateException naming the planned window") {
    val (_, path, bytes, _) = files.find(_._1 == "residue").get
    val o = options(drop = true, sort = true, dt = true, dtype = "double")
    // slots [0, 100) hold the newest run, ts0 + s * Spp, but slot 20 is two eras back
    val ts0 = tsAt(bytes, 0)
    val u = WhisperInputPartition(path, gzip = false, 0, HeaderSize.toLong, Spp, Points, 0L, 100L,
      winLo = ts0, winHi = ts0 + 100 * Spp)
    val stale = tsAt(bytes, 20)
    val msg =
      s"whisper ring violates the dense-rotation invariant: slot 20 ts $stale outside the " +
        s"planned chunk window [${u.winLo}, ${u.winHi}) in $path " +
        "archive 0. The archive holds out-of-era residue (sparsely " +
        "written ring), so its chunks cannot be emitted pre-ordered for the global-sort " +
        "elision. Retry with option orderedSplit=false to scan it as one ordered partition."
    val e = intercept[IllegalStateException](columnar(u, o, Nil, enforce = true))
    assert(e.getMessage == msg)
    // the same window without the stale slot holds: rows as the naive decode
    val v = u.copy(posStart = 21L, posCount = 79L, winLo = ts0 + 21 * Spp)
    assert(columnar(v, o, Nil, enforce = true) == naive(bytes, v, o, Nil))
  }

  test("allocation guard: one decode of a ~1M-slot archive allocates under 2x its bytes") {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    assume(mx.isThreadAllocatedMemorySupported && mx.isThreadAllocatedMemoryEnabled)
    val points = 1L << 20
    val path = dir.resolve("big.wsp")
    WhisperWriter.writeFile(path, FileSpec(archives = Seq(
      ArchiveSpec(60L, points, filled = points - 1000, lastTimestamp = 1600000000L, rotation = 400000L))))
    val archiveBytes = points * WhisperCodec.PointSize
    val u = WhisperInputPartition(path.toString, gzip = false, 0, HeaderSize.toLong, 60L, points, 0L, points)
    val o = options(drop = true, sort = true, dt = true, dtype = "double")
    def decode(): Long = {
      val r = new WhisperColumnarReader(u, o, Nil, o.schema)
      var rows = 0L
      try while (r.next()) rows += r.get().numRows()
      finally r.close()
      rows
    }
    assert(decode() == points - 1000) // warm: class loading, file system set-up
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    assert(decode() == points - 1000)
    val allocated = mx.getThreadAllocatedBytes(tid) - before
    assert(allocated < 2 * archiveBytes,
      s"decode allocated $allocated B for a $archiveBytes B archive (bound ${2 * archiveBytes} B)")
  }
}
