package graft.sources.whisper

import java.nio.ByteBuffer
import java.util.zip.GZIPInputStream

import org.apache.hadoop.fs.{Path => HPath}

import graft.format.WhisperCodec
import graft.format.WhisperCodec.PointSize

/** The one decode path both readers share, for one (file, archive[, chunk]):
 * a ranged read (or a streamed gzip inflate), one primitive pass over the
 * 12-byte big-endian records (`whisper_pandas.py:31,178-184`) that applies
 * dropTimeZero (`:214-215`) and the pushed predicates and keeps slot
 * indices, then the emission order: chronological by ring rotation (vs the
 * reference's full sort, `:231-232`). Truncated files stop cleanly at EOF
 * (`test_whisper_pandas.py:100-103`). Plain files never copy a row out of
 * the read buffer: the reader fills its columns straight from it. */
private[whisper] object WhisperDecode {

  /** One partition's kept rows in emission order. Row id `r` names the
   * big-endian record at byte `(r & mask) * stride` of `blocks(r >>> shift)`:
   * u32 timestamp at +0, f64 value at +4. Plain files: one block, the read
   * buffer itself (stride 12); the row id is the slot, so the position is
   * `posStart + r`. Gzip: kept records copied into blocks of 2^20 rows, the
   * u32 position appended at +12 (stride 16). `rows` lists the kept row ids
   * in physical order, with `descents` timestamp descents, the last at
   * `rows(lastDescent)`; 0 descents emits them as they are. */
  final class Decoded(
      blocks: Array[ByteBuffer],
      shift: Int,
      stride: Int,
      posStart: Long,
      rows: Array[Int],
      val nRows: Int,
      descents: Int,
      lastDescent: Int) {
    private val mask = (1 << shift) - 1
    private val order = if (descents == 0) rows else timeOrder()

    private def tsOf(r: Int): Long = blocks(r >>> shift).getInt((r & mask) * stride) & 0xffffffffL

    def timestamp(k: Int): Long = tsOf(order(k))
    def value(k: Int): Double = { val r = order(k); blocks(r >>> shift).getDouble((r & mask) * stride + 4) }
    def position(k: Int): Long = {
      val r = order(k)
      if (stride == PointSize) posStart + r else blocks(r >>> shift).getInt((r & mask) * stride + 12) & 0xffffffffL
    }

    /** The stable timestamp order (ties keep physical order). A well-formed
     * ring's kept rows are at most 2 ascending runs, so the order is `rows`
     * rotated at its single descent; more descents, or runs that overlap in
     * time, fall back to a sort. */
    private def timeOrder(): Array[Int] = {
      val dropAt = lastDescent
      if (descents == 1 && tsOf(rows(nRows - 1)) <= tsOf(rows(0))) {
        // Runs A = [0, dropAt) and B = [dropAt, n) both ascend and B ends no
        // later than A starts, at t: B's rows below t, A's rows at t, B's
        // rows at t, then the rest of A. Without a tie at the seam (the
        // usual case) that is the plain rotation B ++ A.
        val t = tsOf(rows(0))
        var aEq = 0
        while (aEq < dropAt && tsOf(rows(aEq)) == t) aEq += 1
        var bLt = nRows
        while (bLt > dropAt && tsOf(rows(bLt - 1)) == t) bLt -= 1
        val out = new Array[Int](nRows)
        System.arraycopy(rows, dropAt, out, 0, bLt - dropAt)
        System.arraycopy(rows, 0, out, bLt - dropAt, aEq)
        System.arraycopy(rows, bLt, out, bLt - dropAt + aEq, nRows - bLt)
        System.arraycopy(rows, aEq, out, nRows - dropAt + aEq, dropAt - aEq)
        out
      } else {
        // (ts << 31) | row: ts < 2^32 and row < 2^31, so one primitive sort
        // orders by time and breaks ties by physical order
        val keys = new Array[Long](nRows)
        var i = 0
        while (i < nRows) { keys(i) = (tsOf(rows(i)) << 31) | rows(i); i += 1 }
        java.util.Arrays.sort(keys)
        val out = new Array[Int](nRows)
        i = 0
        while (i < nRows) { out(i) = (keys(i) & Int.MaxValue).toInt; i += 1 }
        out
      }
    }
  }

  private val Empty = new Decoded(Array.empty, 31, PointSize, 0L, Array.empty, 0, 0, 0)

  /** dropTimeZero, the per-point pushed predicates (position/timestamp)
   * and the chunk-window check, applied in one pass over raw records. With
   * timeSort the same pass counts the timestamp descents among the kept
   * rows (a row older than the one kept before it), which is all the
   * emission order needs to know. */
  private final class Kernel(
      part: WhisperInputPartition,
      options: WhisperOptions,
      preds: Seq[WPred],
      enforceWindows: Boolean) {
    private val pointPreds = preds.collect { case p: NumPred if !p.onArchive => p }.toArray
    private var lastTs = -1L
    private var descents = 0
    private var lastDescent = 0
    /** Rows kept by all calls so far. */
    var total = 0L

    /** Scans the `count` records of `bb` (slot `s` at byte `12 * s`, ring
     * position `posBase + s`) and writes the slots it keeps to `kept`, in
     * physical order; returns how many. Reads only the timestamps. */
    def keep(bb: ByteBuffer, count: Int, posBase: Long, kept: Array[Int]): Int = {
      val dropTimeZero = options.dropTimeZero
      val timeSort = options.timeSort
      var n = 0
      var s = 0
      while (s < count) {
        val ts = bb.getInt(s * PointSize) & 0xffffffffL
        if (ts != 0L || !dropTimeZero) {
          var i = 0
          while (i < pointPreds.length && pointPreds(i).keeps(posBase + s, ts)) i += 1
          if (i == pointPreds.length) {
            if (enforceWindows) checkWindow(part, posBase + s, ts)
            if (timeSort && ts < lastTs) { descents += 1; lastDescent = (total + n).toInt }
            lastTs = ts
            kept(n) = s
            n += 1
          }
        }
        s += 1
      }
      total += n
      n
    }

    /** All kept rows, stored as [[Decoded]] describes. */
    def decoded(blocks: Array[ByteBuffer], shift: Int, stride: Int, rows: Array[Int]): Decoded =
      new Decoded(blocks, shift, stride, part.posStart, rows, total.toInt, descents, lastDescent)
  }

  def load(
      part: WhisperInputPartition,
      options: WhisperOptions,
      preds: Seq[WPred],
      enforceWindows: Boolean = false): Decoded = {
    // archive and file predicates hold for the whole partition (the planner
    // has already pruned on them): decided here once, never per point
    if (!WhisperPlanning.partitionSurvives(preds, part.filePath, part.archiveIndex)) return Empty
    val p = new HPath(part.filePath)
    val fs = p.getFileSystem(WhisperIO.hadoopConf())
    val raw =
      try fs.open(p)
      catch {
        // Under manifestListing the plan's file list can outlive the store's
        // (a file deleted after the manifest was written): scan it as EMPTY —
        // exactly the rows a post-deletion walk-based plan would produce —
        // instead of failing a 100 TB query over one vanished metric. The
        // walk-based plan keeps failing loudly (its file list was just
        // observed, so FileNotFound there means something is truly wrong).
        case _: java.io.FileNotFoundException if options.manifestListing => return Empty
      }
    val kernel = new Kernel(part, options, preds, enforceWindows)
    try {
      if (part.gzip) loadGzipStreaming(raw, part, kernel)
      else loadRanged(raw, part, kernel)
    } finally raw.close()
  }

  /** The ordered-chunk claim, verified: when the sort elision removed a
   * global sort on the strength of this chunk's planned window, every kept
   * row must actually fall inside it. A violation means the ring carries
   * stale out-of-era residue (sparse writes across a wrap) — the archive is
   * not a rotated sorted array and its chunks cannot be ordered by
   * concatenation, so fail loudly rather than emit misordered rows. */
  private def checkWindow(part: WhisperInputPartition, pos: Long, ts: Long): Unit =
    if (ts < part.winLo || ts >= part.winHi)
      throw new IllegalStateException(
        s"whisper ring violates the dense-rotation invariant: slot $pos ts $ts outside the " +
          s"planned chunk window [${part.winLo}, ${part.winHi}) in ${part.filePath} " +
          s"archive ${part.archiveIndex}. The archive holds out-of-era residue (sparsely " +
          "written ring), so its chunks cannot be emitted pre-ordered for the global-sort " +
          "elision. Retry with option orderedSplit=false to scan it as one ordered partition.")

  /** Plain files: one ranged read per split. The planner caps splits at
   * maxPointsPerSplit / Int.MaxValue bytes, so the buffer always fits. */
  private def loadRanged(
      raw: org.apache.hadoop.fs.FSDataInputStream,
      part: WhisperInputPartition,
      kernel: Kernel): Decoded = {
    val byteStart = part.archiveOffset + part.posStart * PointSize
    val byteLen = part.posCount * PointSize
    require(byteLen <= Int.MaxValue, s"split too large: $byteLen bytes; lower maxPointsPerSplit")
    val buf = new Array[Byte](byteLen.toInt)
    var got = 0
    try {
      raw.seek(byteStart)
      got = WhisperCodec.readFully(raw, buf, buf.length)
    } catch {
      case _: java.io.EOFException => // truncated: keep what we read
    }
    val bb = ByteBuffer.wrap(buf)
    val kept = new Array[Int](got / PointSize)
    kernel.keep(bb, kept.length, part.posStart, kept)
    kernel.decoded(Array(bb), 31, PointSize, kept)
  }

  private val GzShift = 20 // gzip blocks: 2^GzShift rows of GzStride bytes, 16 MiB
  private val GzStride = 16

  /** Gzip archives are non-splittable (one partition spans the whole
   * archive) and therefore must NOT be buffered whole: a >2 GiB decompressed
   * region would exceed the JVM array limit. The kernel runs over each
   * bounded inflated chunk and only kept records are copied out, into
   * growable blocks — memory scales with the rows KEPT, not the archive's
   * decompressed size. Only a kept-row count beyond the array limit is a
   * hard error (and says so explicitly). */
  private def loadGzipStreaming(
      raw: org.apache.hadoop.fs.FSDataInputStream,
      part: WhisperInputPartition,
      kernel: Kernel): Decoded = {
    val gin = new GZIPInputStream(raw, 1 << 16)
    var toSkip = part.archiveOffset + part.posStart * PointSize
    while (toSkip > 0) {
      val s = gin.skip(toSkip)
      if (s <= 0) toSkip = 0 else toSkip -= s
    }
    val chunkPts = math.min(part.posCount, 1L << 20).toInt // <= 12 MiB buffer
    val buf = new Array[Byte](chunkPts * PointSize)
    val bb = ByteBuffer.wrap(buf)
    val kept = new Array[Int](chunkPts)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[ByteBuffer]
    var cur = ByteBuffer.allocate(4096 * GzStride)
    var used = 0 // rows in `cur`; full blocks hold exactly 2^GzShift
    var posBase = part.posStart
    var remaining = part.posCount
    var eof = false
    while (remaining > 0 && !eof) {
      val wantPts = math.min(remaining, chunkPts.toLong).toInt
      val want = wantPts * PointSize
      val got =
        try WhisperCodec.readFully(gin, buf, want)
        catch { case _: java.io.EOFException => 0 } // truncated: keep what we read
      val n = got / PointSize
      val k = kernel.keep(bb, n, posBase, kept)
      if (kernel.total > Int.MaxValue - 8)
        throw new IllegalStateException(
          s"gzip archive too large: >${Int.MaxValue - 8} rows survive filtering in " +
            s"${part.filePath} archive ${part.archiveIndex}; gzip is non-splittable — " +
            "re-compress as plain .wsp to enable ranged splits")
      var j = 0
      while (j < k) {
        if (used * GzStride == cur.capacity) {
          if (used < (1 << GzShift)) cur = ByteBuffer.wrap(java.util.Arrays.copyOf(cur.array, 2 * used * GzStride))
          else { blocks += cur; cur = ByteBuffer.allocate(4096 * GzStride); used = 0 }
        }
        val at = used * GzStride
        System.arraycopy(buf, kept(j) * PointSize, cur.array, at, PointSize)
        cur.putInt(at + PointSize, (posBase + kept(j)).toInt)
        used += 1
        j += 1
      }
      posBase += n
      remaining -= n
      if (got < want) eof = true
    }
    blocks += cur
    kernel.decoded(blocks.toArray, GzShift, GzStride, Array.range(0, kernel.total.toInt))
  }
}
