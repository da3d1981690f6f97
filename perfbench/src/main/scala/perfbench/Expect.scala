package perfbench

import graft.format.WhisperWriter.{ArchiveSpec, FileSpec}

/**
 * Closed-form expectations for whisper reads. A fixture written by
 * `WhisperWriter` is fully described by its `ArchiveSpec`s: logical slot k
 * (0 = oldest filled) has timestamp `last - (filled - 1 - k) * spp` and sits
 * at ring position `(rotation + k) % points`, whose value is
 * `spec.value(position)`; every other slot holds timestamp 0 and value 0.
 * From that the expected row count and checksum of any read follow without
 * touching the file.
 */
object Expect {

  /** Order-independent checksum of a delivered point set: row count,
   * sum of timestamps (epoch seconds) and sum of `trunc(value * 1000)`. */
  final case class Sums(rows: Long, sumTs: Long, sumMilli: Long) {
    def +(o: Sums): Sums = Sums(rows + o.rows, sumTs + o.sumTs, sumMilli + o.sumMilli)
  }
  val Zero: Sums = Sums(0L, 0L, 0L)

  /** A value as the scan delivers it for `dtype`, widened back to double. */
  def delivered(v: Double, dtype: String): Double =
    if (dtype == "float") v.toFloat.toDouble else v

  def milli(v: Double): Long = (v * 1000.0).toLong

  private def ceilDiv(a: Long, b: Long): Long = -Math.floorDiv(-a, b)

  /** Range of logical slots k whose timestamp t satisfies lo < t <= hi. */
  def slotRange(a: ArchiveSpec, lo: Long, hi: Long): (Long, Long) = {
    val f = a.filled
    val kLo = if (lo == Long.MinValue) 0L else math.max(0L, f - ceilDiv(a.lastTimestamp - lo, a.secondsPerPoint))
    val kHi = if (hi == Long.MaxValue) f - 1 else f - 1 - math.max(0L, ceilDiv(a.lastTimestamp - hi, a.secondsPerPoint))
    (kLo, math.min(kHi, f - 1))
  }

  /** Points of one archive delivered by a read with the given knobs and an
   * optional `lo < timestamp <= hi` window. */
  def archive(a: ArchiveSpec, dtype: String = "double", dropTimeZero: Boolean = true,
      lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Sums = {
    val (kLo, kHi) = slotRange(a, lo, hi)
    var rows = 0L; var sumTs = 0L; var sumMilli = 0L
    var k = kLo
    while (k <= kHi) {
      val pos = (a.rotation + k) % a.points
      rows += 1
      sumTs += a.lastTimestamp - (a.filled - 1 - k) * a.secondsPerPoint
      sumMilli += milli(delivered(a.value(pos), dtype))
      k += 1
    }
    // never-filled slots: timestamp 0, value 0.0
    if (!dropTimeZero && lo < 0L && hi >= 0L) rows += a.points - a.filled
    Sums(rows, sumTs, sumMilli)
  }

  /** Whole-file read, optionally limited to some archives. */
  def file(spec: FileSpec, archives: Option[Set[Int]] = None, dtype: String = "double",
      dropTimeZero: Boolean = true, lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Sums =
    spec.archives.zipWithIndex.collect {
      case (a, i) if archives.forall(_.contains(i)) => archive(a, dtype, dropTimeZero, lo, hi)
    }.foldLeft(Zero)(_ + _)

  /** Slots a read of these archives decodes (filled or not). */
  def slots(spec: FileSpec, archives: Option[Set[Int]] = None): Long =
    spec.archives.zipWithIndex.collect { case (a, i) if archives.forall(_.contains(i)) => a.points }.sum

  /** The archive after `m` in-place writes of its next slot, one `spp`
   * apart, the way carbon appends to a ring: empty slots fill first, then
   * the oldest point is overwritten. The result is again a closed-form spec,
   * so a flushed file equals a freshly written one. */
  def flushed(a: ArchiveSpec, m: Long): ArchiveSpec = {
    val total = a.filled + m
    val last = a.lastTimestamp + m * a.secondsPerPoint
    if (total <= a.points) a.copy(filled = total, lastTimestamp = last)
    else a.copy(filled = a.points, lastTimestamp = last,
      rotation = (a.rotation + (total - a.points)) % a.points)
  }

  /** Ring position the next append to `a` writes. */
  def nextPosition(a: ArchiveSpec): Long =
    if (a.filled < a.points) (a.rotation + a.filled) % a.points else a.rotation

  /** Buckets of a tumbling-window average over one archive's points in
   * `lo < t <= hi`: bucket start -> (points, mean value). Buckets are
   * epoch-aligned, as Spark's `window()` places them. */
  def buckets(a: ArchiveSpec, lo: Long, hi: Long, bucketSeconds: Long): Map[Long, (Long, Double)] = {
    val (kLo, kHi) = slotRange(a, lo, hi)
    val acc = scala.collection.mutable.LinkedHashMap[Long, (Long, Double)]()
    var k = kLo
    while (k <= kHi) {
      val ts = a.lastTimestamp - (a.filled - 1 - k) * a.secondsPerPoint
      val b = ts - Math.floorMod(ts, bucketSeconds)
      val (n, s) = acc.getOrElse(b, (0L, 0.0))
      acc(b) = (n + 1, s + a.value((a.rotation + k) % a.points))
      k += 1
    }
    acc.iterator.map { case (b, (n, s)) => b -> (n, s / n) }.toMap
  }

  /** The reference-shape file `graft.operators.WhisperWorkload.writeRefScale`
   * synthesizes: 3 archives, 6,898,801 slots, 3,925,070 filled. */
  val RefSpec: FileSpec = {
    val t0 = 1700000000L
    FileSpec(archives = Seq(
      ArchiveSpec(10L, 1555200L, 1555200L, t0 - t0 % 10, 123457L),
      ArchiveSpec(60L, 5256000L, 2331015L, t0 - t0 % 60, 987654L),
      ArchiveSpec(3600L, 87601L, 38855L, t0 - t0 % 3600, 7701L)))
  }
}
