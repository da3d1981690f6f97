package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.format.{WhisperCodec, WhisperWriter}
import graft.format.WhisperWriter.{ArchiveSpec, FileSpec}
import graft.operators.WhisperWorkload

/** The closed-form expectations against a direct `WhisperCodec` decode of
 * fixtures written by `WhisperWriter`. */
class ExpectSpec extends AnyFunSuite {

  private val dir = Files.createTempDirectory("perfbench-expect")

  /** A point as decoded: (archive, timestamp, value). */
  private def decode(p: Path): Seq[(Int, Long, Double)] = {
    val bytes = Files.readAllBytes(p)
    val meta = WhisperCodec.parseMeta(bytes, p.toString, bytes.length)
    meta.archives.flatMap { a =>
      val out = Seq.newBuilder[(Int, Long, Double)]
      WhisperCodec.foreachPoint(bytes, a.offset.toInt, a.points.toInt, 0L)((_, ts, v) => out += ((a.index, ts, v)))
      out.result()
    }
  }

  /** Sums of decoded points, filtered the way the scan filters them. */
  private def sums(points: Seq[(Int, Long, Double)], archives: Option[Set[Int]] = None, dtype: String = "double",
      dropTimeZero: Boolean = true, lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Expect.Sums =
    points.filter { case (a, ts, _) =>
      archives.forall(_.contains(a)) && !(dropTimeZero && ts == 0) && ts > lo && ts <= hi
    }.foldLeft(Expect.Zero) { case (s, (_, ts, v)) =>
      s + Expect.Sums(1, ts, Expect.milli(Expect.delivered(v, dtype)))
    }

  private val specs = Seq(
    FileSpec(archives = Seq(
      ArchiveSpec(10, 500, 500, 1700000000L, 123),
      ArchiveSpec(60, 400, 170, 1699999980L, 399),
      ArchiveSpec(3600, 50, 0, 1699999200L, 0))),
    FileSpec(archives = Seq(
      ArchiveSpec(100, 288, 101, 1700002790L, 287),
      ArchiveSpec(600, 144, 144, 1700002800L, 0),
      ArchiveSpec(3600, 168, 24, 1700002800L, 100))))

  private def write(name: String, spec: FileSpec): Path = {
    val p = dir.resolve(name)
    WhisperWriter.writeFile(p, spec)
    p
  }

  test("file sums match a decode for every archive subset, dtype and drop_time_zero") {
    specs.zipWithIndex.foreach { case (spec, i) =>
      val pts = decode(write(s"f$i.wsp", spec))
      for {
        archives <- Seq(None, Some(Set(0)), Some(Set(1)), Some(Set(1, 2)))
        dtype <- Seq("double", "float")
        drop <- Seq(true, false)
      } assert(Expect.file(spec, archives, dtype, drop) == sums(pts, archives, dtype, drop),
        s"spec $i archives=$archives dtype=$dtype dropTimeZero=$drop")
      assert(Expect.slots(spec) == pts.size)
    }
  }

  test("window sums match a decode, including windows cut mid-slot and empty ones") {
    specs.zipWithIndex.foreach { case (spec, i) =>
      val pts = decode(write(s"w$i.wsp", spec))
      val last = spec.archives.map(_.lastTimestamp).max
      for ((lo, hi) <- Seq((last - 3600, last), (last - 3605, last - 7), (last - 86400 * 30, last - 1000),
          (last, last + 100), (last + 10, last + 20), (0L, 5L)))
        assert(Expect.file(spec, lo = lo, hi = hi) == sums(pts, lo = lo, hi = hi), s"spec $i window ($lo, $hi]")
    }
  }

  test("appending in place yields exactly the bytes of the flushed spec") {
    val spec = specs(1)
    val p = write("append.wsp", spec)
    val offset = WhisperCodec.FileMetaSize + WhisperCodec.ArchiveMetaSize * spec.archives.size
    var a = spec.archives.head
    (1 to 400).foreach(_ => a = Fleet.append(p, offset, a)) // fills the ring, then wraps it
    assert(a == Expect.flushed(spec.archives.head, 400))
    val fresh = write("fresh.wsp", spec.copy(archives = a +: spec.archives.tail))
    assert(java.util.Arrays.equals(Files.readAllBytes(p), Files.readAllBytes(fresh)))
  }

  test("tumbling-window buckets match a decode") {
    val spec = specs(1)
    val pts = decode(write("b.wsp", spec)).filter(_._1 == 0)
    val hi = spec.archives.head.lastTimestamp
    val lo = hi - 21600
    val want = pts.filter { case (_, ts, _) => ts != 0 && ts > lo && ts <= hi }
      .groupBy { case (_, ts, _) => ts - ts % 900 }
      .map { case (b, xs) => b -> (xs.size.toLong, xs.map(_._3).sum / xs.size) }
    val got = Expect.buckets(spec.archives.head, lo, hi, 900)
    assert(got.keySet == want.keySet)
    got.foreach { case (b, (n, v)) =>
      assert(n == want(b)._1)
      assert(math.abs(v - want(b)._2) < 1e-9)
    }
  }

  test("the reference spec is the file WhisperWorkload writes") {
    val p = dir.resolve("ref.wsp")
    WhisperWorkload.writeRefScale(p)
    assert(Files.size(p) == WhisperWorkload.RefScaleBytes)
    val pts = decode(p)
    assert(Expect.file(Expect.RefSpec).rows == WhisperWorkload.RefScaleRows)
    assert(Expect.file(Expect.RefSpec) == sums(pts))
    assert(Expect.file(Expect.RefSpec, Some(Set(2)), "float", dropTimeZero = false) ==
      sums(pts, Some(Set(2)), "float", dropTimeZero = false))
    Files.delete(p)
  }
}
