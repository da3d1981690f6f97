package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.WhisperFile
import graft.operators.WhisperWorkload
import graft.sources.whisper.WhisperIO

/**
 * `ref_file`: repeated `to_frame` reads of the reference-shape file
 * (`WhisperWorkload.refScaleFixture()`: 3 archives, 6,898,801 slots,
 * 3,925,070 filled), the workload of the reference notebook.
 *
 * A cycle is [[Passes]] passes of the reference notebook's workload flow
 * (SURVEY.md section 3: `WhisperFile.read`, then `archives[i].to_frame()`
 * for each of the three archives, then tag and concat;
 * whisper_pandas.ipynb:1199-1205), written with the port's API:
 *  - 3 single-archive `archive(i).toFrame(...)` reads, one per archive,
 *    with the four knobs varied (see [[Knobs.Design]]); those with the
 *    default knobs add `.orderBy("timestamp")`, which the sort-elision
 *    rule removes,
 *  - 1 whole-file `WhisperFile.read(p).toFrame()`: the concat, which the
 *    port reads as one DataFrame (SURVEY.md section 2.4, W3).
 * Each cycle adds one read of the `.wsp.gz` twin and one whole-file
 * `.orderBy("archive", "timestamp")`, which is not elided. The notebook
 * has neither; their share is chosen, not taken from a recorded workload.
 * The seed picks the order of the ops. `op_p50_s` is the
 * median of the whole-file reads, the op the reference's speed claim is
 * about. Every op writes all its columns to the `noop` sink.
 */
final class RefFile(spark: SparkSession, seed: Long) extends Workload {
  import RefFile._

  val name = "ref_file"
  private var wsp: Path = _
  private var gz: Path = _

  def setup(dir: Path): Map[String, Any] = {
    // the fixture helpers write under java.io.tmpdir
    System.setProperty("java.io.tmpdir", dir.toString)
    wsp = WhisperWorkload.refScaleFixture()
    val bytes = Files.size(wsp)
    require(bytes == WhisperWorkload.RefScaleBytes, s"reference fixture is $bytes bytes")
    val meta = WhisperIO.readMetaHeaderOnly(wsp.toString, gzip = false)
    val shape = meta.archives.map(a => (a.secondsPerPoint, a.points))
    require(shape == Expect.RefSpec.archives.map(a => (a.secondsPerPoint, a.points)),
      s"reference fixture header $shape does not match its spec")
    val rows = spark.read.format("whisper").load(wsp.toString).count()
    require(rows == WhisperWorkload.RefScaleRows, s"reference fixture holds $rows points")
    Map("bytes" -> bytes, "files" -> 1, "slots" -> Expect.slots(Expect.RefSpec), "filled" -> rows)
  }

  /** The `.wsp.gz` twin, compressed from the last fixture. */
  override def setupOnce(): Map[String, Any] = {
    gz = WhisperWorkload.refScaleGzFixture()
    Map("gz_bytes" -> Files.size(gz))
  }

  def cycle(c: Int): Seq[Op] = {
    // The warm-up runs one fixed order on every seed: which knobs the
    // reader's code meets first decides how the JIT compiles it.
    val rng = new Random(if (c <= warmupCycles) 0L else seed * 1000003L + c)
    val archives = Seq(0, 1, 2).flatMap(i => rng.shuffle(Knobs.Design).map(archive(i, _)))
    rng.shuffle(archives ++ Seq.fill(Passes)(whole) :+ gzip :+ sorted)
  }

  val warmupCycles = 1
  val cycleSeconds = 10.0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Every distinct op built so far, by key. */
  private val specs = scala.collection.mutable.Map[String, Spec]()

  private val expected = scala.collection.mutable.Map[(Option[Set[Int]], String, Boolean), Expect.Sums]()
  private def expect(s: Spec): Expect.Sums =
    expected.getOrElseUpdate((s.archives, s.knobs.dtype, s.knobs.dropTimeZero),
      Expect.file(Expect.RefSpec, s.archives, s.knobs.dtype, s.knobs.dropTimeZero))

  /** The op's DataFrame, built through the public `WhisperFile` API. */
  def frame(s: Spec): DataFrame = {
    val file = WhisperFile.read(spark, (if (s.gzipped) gz else wsp).toString)
    val k = s.knobs
    val df = s.archive match {
      case None    => file.toFrame(k.dtype, k.toDatetime, k.dropTimeZero, k.timeSort)
      case Some(i) => file.archive(i).toFrame(k.dtype, k.toDatetime, k.dropTimeZero, k.timeSort)
    }
    if (s.orderBy.isEmpty) df else df.orderBy(s.orderBy.map(col): _*)
  }

  def frameOf(key: String): DataFrame = frame(specs(key))

  private def op(s: Spec): Op = {
    specs(s.key) = s
    Op(s.kind, s.key, headline = s.kind == "whole", points = expect(s).rows, sorted = s.orderBy.nonEmpty, files = Seq(wsp.toString),
      patterns = Seq((if (s.gzipped) gz else wsp).toString), archives = s.archives, gzip = s.gzipped,
      run = ctx => {
        val df = ctx.load(frame(s))
        ctx.plan(df)
        ctx.run(noop(df))
        NoopSink
      })
  }

  private def whole: Op = op(Spec("whole", None, Knobs.Default, Nil, gzipped = false))
  private def gzip: Op = op(Spec("gz", None, Knobs.Default, Nil, gzipped = true))
  private def sorted: Op = op(Spec("sorted", None, Knobs.Default, Seq("archive", "timestamp"), gzipped = false))
  /** Reads with the default knobs add `.orderBy("timestamp")`, the
   * notebook's time-aligned overlay (SURVEY.md section 2.4, W6). */
  private def archive(i: Int, k: Knobs): Op =
    op(Spec("archive", Some(i), k, if (k == Knobs.Default) Seq("timestamp") else Nil, gzipped = false))

  def checksums(keys: Seq[String]): Seq[(String, Option[String])] =
    keys.distinct.sorted.map { key =>
      key -> RefFile.compare(RefFile.sums(frameOf(key)), expect(specs(key)))
    }
}

object RefFile {
  /** Notebook passes per cycle: one per row of [[Knobs.Design]]. */
  def Passes: Int = Knobs.Design.size

  /** The reference `to_frame` knobs (`dtype`, `to_datetime`,
   * `drop_time_zero`, `time_sort`). */
  final case class Knobs(dtype: String, toDatetime: Boolean, dropTimeZero: Boolean, timeSort: Boolean) {
    override def toString: String = s"$dtype,$toDatetime,$dropTimeZero,$timeSort"
  }
  object Knobs {
    val Default: Knobs = Knobs("double", toDatetime = true, dropTimeZero = true, timeSort = true)

    /** The knob settings each archive is read with once per cycle; each
     * knob is on in two of the four. A fixed set, in
     * seeded order, makes
     * every seed do the same work, so the spread between seeds measures
     * the program and not the draw (`dropTimeZero` alone doubles the rows
     * of archive 1). */
    val Design: Seq[Knobs] = Seq(
      Default,
      Knobs("double", toDatetime = false, dropTimeZero = false, timeSort = false),
      Knobs("float", toDatetime = true, dropTimeZero = false, timeSort = true),
      Knobs("float", toDatetime = false, dropTimeZero = true, timeSort = false))
  }

  /** One distinct op: which archive (None = whole file), the knobs, the
   * sort columns and whether it reads the gzip twin. */
  final case class Spec(kind: String, archive: Option[Int], knobs: Knobs, orderBy: Seq[String], gzipped: Boolean) {
    def archives: Option[Set[Int]] = archive.map(Set(_))
    def key: String = archive.fold(kind)(i => s"$kind$i/$knobs") + orderBy.map("/by:" + _).mkString
  }

  /** Checksum of a delivered frame, the Spark side of [[Expect.Sums]]. */
  def sums(df: DataFrame): Expect.Sums = {
    val r = df.agg(
      count(lit(1)),
      coalesce(sum(col("timestamp").cast("long")), lit(0L)),
      coalesce(sum((col("value").cast("double") * 1000.0).cast("long")), lit(0L))).head()
    Expect.Sums(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def compare(got: Expect.Sums, want: Expect.Sums): Option[String] =
    if (got == want) None else Some(s"checksum mismatch: got $got, expected $want")
}
