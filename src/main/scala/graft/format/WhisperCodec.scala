package graft.format

import java.io.{DataInputStream, EOFException, InputStream}
import java.nio.ByteBuffer

/**
 * Pure-JVM codec for the Graphite WhisperDB binary format.
 *
 * Layout (all fields big-endian; see reference `whisper_pandas.py:20-31` and
 * https://graphite.readthedocs.io/en/latest/whisper.html#database-format):
 *
 * {{{
 * FileMeta    : aggregation_type u32 | max_retention u32 | x_files_factor f32 | archive_count u32   (16 B)
 * ArchiveMeta : offset u32 | seconds_per_point u32 | points u32                                     (12 B x N, at byte 16)
 * Point       : timestamp u32 (unix seconds; 0 = unfilled slot) | value f64                         (12 B x points)
 * }}}
 *
 * Unsigned u32 fields are widened to `Long` on the JVM. The JVM's `ByteBuffer`
 * default byte order is big-endian, which matches the on-disk format directly.
 *
 * No Spark dependency here: this codec is shared by the DataSource V2 connector
 * (executor-side point decode) and by driver-side metadata introspection.
 */
object WhisperCodec {

  val FileMetaSize: Int = 16
  val ArchiveMetaSize: Int = 12
  val PointSize: Int = 12

  /** Aggregation-type enum decoded into a method name (reference `whisper_pandas.py:33-42`).
   * Purely metadata: names the downsampling method Graphite used at write time. */
  val AggregationMethods: Map[Int, String] = Map(
    1 -> "average",
    2 -> "sum",
    3 -> "last",
    4 -> "max",
    5 -> "min",
    6 -> "avg_zero",
    7 -> "absmax",
    8 -> "absmin"
  )

  val AggregationTypes: Map[String, Int] = AggregationMethods.map(_.swap)

  private def u32(b: ByteBuffer): Long = b.getInt().toLong & 0xffffffffL

  /** Per-archive metadata (reference `whisper_pandas.py:45-85`). */
  final case class ArchiveMeta(
      index: Int,
      offset: Long,
      secondsPerPoint: Long,
      points: Long
  ) {
    /** retention = seconds_per_point * points (`whisper_pandas.py:67-69`). */
    def retention: Long = secondsPerPoint * points
    /** archive byte size = 12 * points (`whisper_pandas.py:71-73`). */
    def size: Long = PointSize.toLong * points
  }

  /** File-level metadata (reference `whisper_pandas.py:88-168`). */
  final case class FileMeta(
      path: String,
      aggregationType: Int,
      maxRetention: Long,
      xFilesFactor: Float,
      archives: Seq[ArchiveMeta],
      fileSizeActual: Long
  ) {
    def aggregationMethod: String =
      AggregationMethods.getOrElse(aggregationType, s"unknown($aggregationType)")
    /** header size = 16 + 12 * archive_count (`whisper_pandas.py:125-130`). */
    def headerSize: Long = FileMetaSize.toLong + ArchiveMetaSize.toLong * archives.size
    /** expected file size = header + sum of archive sizes (`whisper_pandas.py:132-135`). */
    def fileSizeExpected: Long = headerSize + archives.map(_.size).sum
    /** corruption check (`whisper_pandas.py:142-145`). */
    def fileSizeMismatch: Boolean = fileSizeExpected != fileSizeActual
  }

  /**
   * Parse file + archive headers from the first `16 + 12*archiveCount` bytes.
   * `buf` must hold at least the full header region; extra bytes are ignored.
   * Mirrors `WhisperFileMeta.from_buffer` (`whisper_pandas.py:98-123`).
   */
  def parseMeta(buf: Array[Byte], path: String, fileSizeActual: Long): FileMeta = {
    require(buf.length >= FileMetaSize, s"whisper header truncated: ${buf.length} < $FileMetaSize bytes ($path)")
    val bb = ByteBuffer.wrap(buf) // big-endian by default
    val aggregationType = u32(bb).toInt
    val maxRetention = u32(bb)
    val xFilesFactor = bb.getFloat()
    val archiveCount = u32(bb)
    require(archiveCount <= Int.MaxValue, s"absurd archive_count $archiveCount ($path)")
    val n = archiveCount.toInt
    require(
      buf.length >= FileMetaSize + ArchiveMetaSize * n,
      s"whisper archive headers truncated: ${buf.length} < ${FileMetaSize + ArchiveMetaSize * n} bytes ($path)"
    )
    val archives = (0 until n).map { i =>
      ArchiveMeta(i, u32(bb), u32(bb), u32(bb))
    }
    FileMeta(path, aggregationType, maxRetention, xFilesFactor, archives, fileSizeActual)
  }

  /** Read exactly `len` bytes from `in` unless EOF arrives first; returns bytes read. */
  def readFully(in: InputStream, buf: Array[Byte], len: Int): Int = {
    var off = 0
    var n = 0
    while (off < len && n >= 0) {
      n = in.read(buf, off, len - off)
      if (n > 0) off += n
    }
    off
  }

  /** Header-only read from a stream (never materializes point data). */
  def readMeta(in: InputStream, path: String, fileSizeActual: Long): FileMeta = {
    val head = new Array[Byte](FileMetaSize)
    val got = readFully(in, head, FileMetaSize)
    require(got == FileMetaSize, s"whisper file too short for header: $got bytes ($path)")
    val bb = ByteBuffer.wrap(head)
    bb.position(12)
    val archiveCountRaw = u32(bb)
    // corrupt / non-whisper bytes must fail with a clear message, not a
    // negative-size or multi-GB array allocation during scan planning
    require(
      archiveCountRaw >= 0 && archiveCountRaw <= (1L << 20),
      s"implausible whisper archive_count $archiveCountRaw ($path)"
    )
    val archiveCount = archiveCountRaw.toInt
    val rest = new Array[Byte](ArchiveMetaSize * archiveCount)
    val got2 = readFully(in, rest, rest.length)
    require(got2 == rest.length, s"whisper archive headers truncated ($path)")
    parseMeta(head ++ rest, path, fileSizeActual)
  }

  /** One decoded ring-buffer slot. `timestamp == 0` marks a never-filled slot
   * (`whisper_pandas.py:202`). */
  final case class Point(position: Long, timestamp: Long, value: Double)

  /**
   * Decode `count` 12-byte points from `buf` starting at `bufOffset`, assigning
   * ring positions `posStart until posStart+count`. The boxed convenience
   * form, for tests and the benchmark harness: a `Function3` is not
   * specialised, so every call boxes its two longs and its double. The scan
   * does not call it; it decodes with the primitive kernel in
   * `graft.sources.whisper.WhisperDecode`.
   */
  def foreachPoint(
      buf: Array[Byte],
      bufOffset: Int,
      count: Int,
      posStart: Long
  )(f: (Long, Long, Double) => Unit): Unit = {
    val bb = ByteBuffer.wrap(buf, bufOffset, count * PointSize)
    var i = 0
    while (i < count) {
      val ts = u32(bb)
      val v = bb.getDouble()
      f(posStart + i, ts, v)
      i += 1
    }
  }

  /** Materialize points (test/driver convenience). */
  def decodePoints(buf: Array[Byte], bufOffset: Int, count: Int, posStart: Long): Array[Point] = {
    val out = new Array[Point](count)
    var i = 0
    foreachPoint(buf, bufOffset, count, posStart) { (p, t, v) =>
      out(i) = Point(p, t, v)
      i += 1
    }
    out
  }

  /**
   * Stream-decode an archive region of exactly `points` slots from `in`
   * (positioned at the archive offset), tolerating EOF (truncated files must
   * degrade cleanly, `test_whisper_pandas.py:100-103`). Returns number decoded.
   */
  def streamPoints(in: DataInputStream, points: Long)(f: (Long, Long, Double) => Unit): Long = {
    var i = 0L
    try {
      while (i < points) {
        val ts = in.readInt().toLong & 0xffffffffL
        val v = in.readDouble()
        f(i, ts, v)
        i += 1
      }
    } catch {
      case _: EOFException => // truncated region: stop at EOF, no crash
    }
    i
  }
}
