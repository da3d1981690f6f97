package graft.sources.whisper

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.connector.expressions.{Expressions => ExpressionsV2, SortDirection => SortDirectionV2, SortOrder => SortOrderV2}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.format.WhisperCodec

/**
 * Scan pipeline for the whisper source.
 *
 * Scale design (the reference reads whole files eagerly on one node,
 * `whisper_pandas.py:263-269`; we do not):
 *  - planning reads ONLY headers (16 + 12*N bytes per file);
 *  - one scan unit per (file, archive); archives larger than
 *    `maxPointsPerSplit` are split into byte-range chunks so a huge archive
 *    (u32 points admits ~51 GB) does not serialize through one straggler
 *    task — with `timeSort=true` the chunks are rotation-ordered with
 *    checked time windows (see [[RingProbe]]); past `binThreshold` units,
 *    SMALL units are bin-packed into shared partitions (see
 *    [[WhisperMultiPartition]]) so a million-file tree schedules
 *    O(bytes/split) tasks, not O(files);
 *  - filters on archive/file prune partitions at plan time; filters on
 *    timestamp/position/value are evaluated during decode, before rows are
 *    materialized (`SupportsPushDownFilters`);
 *  - column pruning (`SupportsPushDownRequiredColumns`) means a
 *    value-only or metadata-only query never materializes the other columns;
 *  - `timeSort=true` restores chronological order WITHOUT a shuffle: a
 *    well-formed ring buffer is at most 2 ascending runs
 *    (`whisper_pandas.py:231-232` does a full pandas sort instead), so the
 *    reader emits the rotation; a full per-partition sort is only a fallback;
 *  - one reader, [[WhisperColumnarReader]], serves batch scans and the
 *    streaming tail: one primitive pass of the decode kernel
 *    ([[WhisperDecode]]) over the read buffer, column vectors filled
 *    straight from it; Spark's ColumnarToRow + whole-stage codegen consume
 *    the batches.
 */
final case class WhisperInputPartition(
    filePath: String,
    gzip: Boolean,
    archiveIndex: Int,
    archiveOffset: Long,
    secondsPerPoint: Long,
    points: Long,
    posStart: Long,
    posCount: Long,
    // Planned timestamp window [winLo, winHi) of a rotation-ordered chunk
    // (see [[RingProbe]]); (MinValue, MaxValue) = unchunked / no claim. The
    // windows make cross-chunk ordering a CHECKED invariant: when the sort
    // elision engages a multi-chunk scan, readers verify every kept row falls
    // in its chunk's window, so elided output is never silently misordered.
    winLo: Long = Long.MinValue,
    winHi: Long = Long.MaxValue
) extends InputPartition

/** Several small scan units served by ONE task, reading them sequentially.
 * A graphite tree is millions of small .wsp files; one task per
 * (file, archive) would be scheduler overhead, not I/O (scale_check8d:
 * 2000 files = 2000 tasks of ~2 ms each). Units are bin-packed by the
 * planner up to `maxPointsPerSplit` points per bin with a per-unit open
 * cost, mirroring Spark's own FilePartition packing of small files. */
final case class WhisperMultiPartition(units: Array[WhisperInputPartition]) extends InputPartition

/** Serializable subset of pushed-down predicates, evaluated exactly in the
 * reader (so Spark can drop its own copy of these filters). */
sealed trait WPred extends Serializable {
  def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean
}
/** A pushed comparison on one numeric column. The column is resolved once,
 * at construction, so the per-point test (`keeps`) matches no strings. */
sealed abstract class NumPred(col: String) extends WPred {
  private val colId = Seq("archive", "position").indexOf(col) // -1: timestamp
  /** An archive predicate: decided once per partition, never per point. */
  def onArchive: Boolean = colId == 0
  protected def test(x: Long): Boolean
  /** The per-point form, for position and timestamp predicates. */
  final def keeps(pos: Long, ts: Long): Boolean = test(if (colId == 1) pos else ts)
  final def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean =
    if (colId == 0) test(archive.toLong) else keeps(pos, ts)
}
final case class NumCmp(col: String, op: String, v: Long) extends NumPred(col) {
  private val opId = Seq("=", "!=", ">", ">=", "<", "<=").indexOf(op)
  require(opId >= 0, s"unsupported comparison: $op")
  protected def test(x: Long): Boolean = (opId: @scala.annotation.switch) match {
    case 0 => x == v
    case 1 => x != v
    case 2 => x > v
    case 3 => x >= v
    case 4 => x < v
    case _ => x <= v
  }
}
final case class NumIn(col: String, vs: Set[Long]) extends NumPred(col) {
  private val sorted = vs.toArray.sorted
  protected def test(x: Long): Boolean = java.util.Arrays.binarySearch(sorted, x) >= 0
}
/** Trivially-true marker for filters we accept without reader-side work
 * (IsNotNull on an all-non-nullable schema); stripped before the decode loop. */
case object TruePred extends WPred {
  def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean = true
}
final case class FileCmp(op: String, v: String) extends WPred {
  def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean = op match {
    case "="  => file == v
    case "!=" => file != v
  }
}
final case class FileIn(vs: Set[String]) extends WPred {
  def eval(file: String, archive: Int, pos: Long, ts: Long, value: Double): Boolean = vs.contains(file)
}

object WPred {
  /** Convert timestamp-typed filter values to whole epoch seconds; None when
   * the value has sub-second precision (then we refuse the pushdown and Spark
   * evaluates the original filter itself — never wrong, only slower). */
  private def epochSeconds(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      val inst = t.toInstant
      if (inst.getNano == 0) Some(inst.getEpochSecond) else None
    case i: java.time.Instant =>
      if (i.getNano == 0) Some(i.getEpochSecond) else None
    case _ => num(v)
  }

  private def num(v: Any): Option[Long] = v match {
    case i: Int    => Some(i.toLong)
    case l: Long   => Some(l)
    case s: Short  => Some(s.toLong)
    case b: Byte   => Some(b.toLong)
    case _         => None
  }

  private def cmp(col: String, op: String, v: Any): Option[WPred] = col match {
    case "archive" | "position" => num(v).map(NumCmp(col, op, _))
    case "timestamp"            => epochSeconds(v).map(NumCmp(col, op, _))
    // "value" filters are NOT pushed: Spark SQL's NaN ordering/equality
    // semantics differ from Java double comparisons, and a claimed-but-wrong
    // pushdown silently drops rows. Spark evaluates them itself.
    case "file" =>
      v match {
        case s: String if op == "=" || op == "!=" => Some(FileCmp(op, s))
        case u: UTF8String if op == "=" || op == "!=" => Some(FileCmp(op, u.toString))
        case _ => None
      }
    case _ => None
  }

  /** Translate a V1 source filter; None = not supported, stays with Spark. */
  def translate(f: Filter): Option[WPred] = f match {
    case EqualTo(c, v)            => cmp(c, "=", v)
    case GreaterThan(c, v)        => cmp(c, ">", v)
    case GreaterThanOrEqual(c, v) => cmp(c, ">=", v)
    case LessThan(c, v)           => cmp(c, "<", v)
    case LessThanOrEqual(c, v)    => cmp(c, "<=", v)
    case Not(EqualTo(c, v))       => cmp(c, "!=", v)
    case In(c, vs) =>
      c match {
        case "archive" | "position" | "timestamp" =>
          val longs = vs.toSeq.map(v => if (c == "timestamp") epochSeconds(v) else num(v))
          if (longs.forall(_.isDefined)) Some(NumIn(c, longs.flatten.toSet)) else None
        case "file" =>
          val strs = vs.toSeq.collect { case s: String => s; case u: UTF8String => u.toString }
          if (strs.length == vs.length) Some(FileIn(strs.toSet)) else None
        case _ => None
      }
    // All five columns are non-nullable: IsNotNull is trivially true —
    // accepted (so Spark drops it) but contributes no per-point work.
    case IsNotNull("file" | "archive" | "position" | "timestamp" | "value") =>
      Some(TruePred)
    case _ => None
  }
}

class WhisperScanBuilder(paths: Seq[WhisperIO.FileEntry], rawPatterns: Seq[String], options: WhisperOptions)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var preds: Seq[WPred] = Seq.empty
  private var requiredSchema: StructType = options.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val translated = filters.map(f => f -> WPred.translate(f))
    pushed = translated.collect { case (f, Some(_)) => f }
    preds = translated.collect { case (_, Some(p)) if p != TruePred => p }.toSeq
    translated.collect { case (f, None) => f }
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    // Keep our column order but only the requested fields (empty = count(*)).
    val names = required.fieldNames.toSet
    requiredSchema = StructType(options.schema.fields.filter(f => names.contains(f.name)))
  }

  override def build(): Scan = new WhisperScan(paths, rawPatterns, options, preds, pushed, requiredSchema)
}

class WhisperScan(
    paths: Seq[WhisperIO.FileEntry],
    rawPatterns: Seq[String],
    options: WhisperOptions,
    preds: Seq[WPred],
    pushedV1: Array[Filter],
    requiredSchema: StructType,
    enforceWindows: Boolean = false,
    // Partitions carried over from an already-validated plan (the
    // window-enforcing copy, see [[withWindowEnforcement]]): the enforcing
    // scan must execute EXACTLY the chunks the sort-elision rule validated —
    // replanning from the file at execution time would re-run the ring
    // probe, and a concurrently-rewritten archive (normal for live graphite
    // trees) could make the fresh probe decline into physicalChunks with
    // vacuous (MinValue, MaxValue) windows AFTER the global sort was
    // already elided — silently misordered output (ADVICE r10). It also
    // halves probe I/O per planned query.
    prePlanned: Option[Array[InputPartition]] = None
) extends Scan
    with Batch
    with SupportsReportStatistics
    with SupportsReportOrdering {

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  /** Every plan over this scan is columnar, the streaming tail's and an
   * empty scan's included: there is no row reader. */
  override def columnarSupportMode(): Scan.ColumnarSupportMode = Scan.ColumnarSupportMode.SUPPORTED

  /** Streaming tail: timestamp-watermark offsets (see [[WhisperMicroBatchStream]]). */
  override def toMicroBatchStream(checkpointLocation: String) =
    new WhisperMicroBatchStream(rawPatterns, options, preds, requiredSchema, options.streamStartTimestamp)

  override def description(): String =
    s"WhisperScan(files=${paths.size}, pushed=[${pushedV1.mkString(", ")}], cols=${requiredSchema.fieldNames.mkString(",")})"

  /** Header reads are tiny but latency-bound; plan many files concurrently
   * through a dedicated pool sized by `planningParallelism` (measured to
   * hide 10-50 ms object-store-class GETs, LatencyPlanningSpec /
   * BENCH_NOTES r12). With a `headerManifest`, current entries skip the
   * header read entirely (length-keyed staleness; see [[WhisperManifest]]). */
  private lazy val unitPartitions: Array[WhisperInputPartition] =
    WhisperPlanning.plan(paths, options, preds,
      metaFor = WhisperPlanning.manifestAwareMetaFor(options, paths))
      .map(_.asInstanceOf[WhisperInputPartition])

  private lazy val plannedPartitions: Array[InputPartition] =
    prePlanned.getOrElse(WhisperPlanning.binPack(unitPartitions, options))

  override def planInputPartitions(): Array[InputPartition] = plannedPartitions

  /** Size/row estimates from headers alone — lets Catalyst/AQE pick broadcast
   * vs shuffle without touching point data. */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(unitPartitions.map(_.posCount * graft.format.WhisperCodec.PointSize).sum)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(unitPartitions.map(_.posCount).sum)
  }

  /** With timeSort on, every partition (one archive, or one rotation-ordered
   * chunk of an oversized archive) is emitted in ascending timestamp order —
   * declared so per-partition consumers skip their own sort. NOT declarable
   * once bin-packing merges several archives into one partition: the units
   * are emitted sequentially and their time ranges overlap across files. */
  override def outputOrdering(): Array[SortOrderV2] =
    if (options.timeSort && requiredSchema.fieldNames.contains("timestamp") &&
        plannedPartitions.forall(_.isInstanceOf[WhisperInputPartition]))
      Array(ExpressionsV2.sort(ExpressionsV2.column("timestamp"), SortDirectionV2.ASCENDING))
    else Array.empty

  /** Is the CONCATENATION of the planned partitions, in partition-index
   * order, globally ascending by timestamp? True for a single sorted
   * partition (the pre-r10 elision case), and for one archive's
   * rotation-ordered chunks whose planned windows tile disjointly
   * ([[RingProbe]]) — there, partition i's rows all precede partition i+1's,
   * so dropping a global `Sort ts ASC` (+ its range exchange) above this
   * scan preserves semantics. [[graft.plans.WhisperSortElision]] consumes
   * this together with [[withWindowEnforcement]] so the multi-chunk claim
   * is runtime-checked, never trusted. */
  def globallyOrderedPartitions: Boolean = {
    if (!options.timeSort || !requiredSchema.fieldNames.contains("timestamp")) false
    else {
      val ps = plannedPartitions
      if (ps.length == 1 && ps.head.isInstanceOf[WhisperInputPartition]) true
      else if (!options.dropTimeZero) false // kept ts=0 rows sort to each chunk's head
      else
        ps.forall(_.isInstanceOf[WhisperInputPartition]) && {
          val us = ps.map(_.asInstanceOf[WhisperInputPartition])
          us.forall(u =>
            u.filePath == us.head.filePath && u.archiveIndex == us.head.archiveIndex &&
              u.winLo != Long.MinValue && u.winHi != Long.MaxValue && u.winLo < u.winHi) &&
            us.iterator.sliding(2).forall(p => p.length < 2 || p(0).winHi == p(1).winLo)
        }
    }
  }

  /** Copy of this scan whose readers verify each kept row against its
   * chunk's planned window — swapped in by the sort-elision rule before it
   * removes a global sort over a multi-chunk scan. The copy CARRIES this
   * scan's planned partitions (see `prePlanned`): the chunks the rule
   * validated are the chunks that execute, with no second ring probe. */
  def withWindowEnforcement: WhisperScan =
    new WhisperScan(paths, rawPatterns, options, preds, pushedV1, requiredSchema,
      enforceWindows = true, prePlanned = Some(plannedPartitions))

  override def createReaderFactory(): PartitionReaderFactory =
    new WhisperReaderFactory(options, preds, requiredSchema, enforceWindows)
}

/** Shared partition planning for the batch scan and each streaming
 * micro-batch: header-only reads, plan-time archive/file pruning, and
 * byte-range splits. */
private[whisper] object WhisperPlanning {

  /** Plan-time pruning: archive/file predicates decide whole partitions. */
  def partitionSurvives(preds: Seq[WPred], file: String, archive: Int): Boolean =
    preds.forall {
      case p: NumPred                      => !p.onArchive || p.eval(file, archive, 0, 0, 0)
      case p @ (FileCmp(_, _) | FileIn(_)) => p.eval(file, archive, 0, 0, 0)
      case _                               => true
    }

  /** Default header source for batch planning: the manifest when the
   * `headerManifest` option names one AND its entry's length matches the
   * walk's (stale/absent entries fall back to a fresh ranged read) AND the
   * per-plan content spot check passes — length staleness alone cannot see
   * a same-length re-layout (ADVICE r12; [[WhisperManifest.spotCheck]]), so
   * up to `manifestSpotCheck` served headers are re-read and compared, and
   * any divergence discards the manifest for the whole plan (every header
   * read fresh — correct, just slower). Otherwise a header read that reuses
   * the walk's length, skipping the per-file getFileStatus round trip.
   *
   * `candidates` is the walk's entry list the spot check samples from (the
   * caller's pre-predicate set is fine; only manifest-SERVED entries are
   * sampled). */
  def manifestAwareMetaFor(
      options: WhisperOptions,
      candidates: Seq[WhisperIO.FileEntry]): (WhisperIO.FileEntry, Boolean) => graft.format.WhisperCodec.FileMeta = {
    if (options.headerManifest.isEmpty)
      (e, gz) => WhisperIO.readMetaHeaderOnly(e.path, gz, e.len)
    else {
      // EAGER, on the calling (driver) thread — deliberately NOT a lazy val
      // inside the closure. The r12 lazy form deadlocked the planning pool
      // (caught by this round's baseline run): the first ForkJoin worker to
      // touch the lazy held its monitor through loadRaw's stream close,
      // where Hadoop's IOStatisticsSnapshot.aggregate runs a PARALLEL java
      // stream — nested ForkJoin work scheduled on the same pool whose
      // every other worker was blocked on that very monitor, and the
      // holder's helpJoin could only steal more blocked-on-the-monitor map
      // tasks. Monitor-guarded I/O inside pool workers is the same pitfall
      // family as CHM.computeIfAbsent I/O (three r12 incidents). Eager costs
      // two memoized manifest stats per plan (load's version check + the
      // verdict's), paid even by a plan whose file predicates then prune
      // everything — correctness over that sliver of laziness. The spot
      // check itself runs ONCE PER MANIFEST VERSION per JVM (ADVICE r13:
      // re-running the deterministic-per-version check on every plan — and
      // on every streaming trigger — paid k header GETs for nothing), so a
      // steady-state plan over an unchanged manifest costs metadata stats
      // only, zero header GETs.
      val manifest = WhisperManifest.load(options.effectiveManifest)
      val trusted = WhisperManifest.spotCheckCached(
        options.effectiveManifest, manifest, candidates,
        options.manifestSpotCheck, options.planningParallelism, options.gzipFor)
      (e, gz) =>
        manifest.get(e.path) match {
          case Some(entry) if entry.len == e.len && trusted => entry.meta
          case _ =>
            try WhisperIO.readMetaHeaderOnly(e.path, gz, e.len)
            catch {
              // manifestListing: a reconcile-added or manifest-listed file
              // deleted between listing and header read plans as EMPTY (no
              // archives -> no partitions), mirroring the decode-side
              // tolerance; walk-based plans keep failing loudly
              case _: java.io.FileNotFoundException if options.manifestListing =>
                graft.format.WhisperCodec.FileMeta(e.path, 0, 0L, 0f, Seq.empty, 0L)
            }
        }
    }
  }

  /** `probeOrdered=false` (the streaming tail) skips the per-archive
   * rotation probe: micro-batches prune by pushed time-window predicates and
   * never consume cross-chunk ordering, so oversized `timeSort` archives
   * stay one partition there exactly as before r10.
   *
   * `metaFor` lets a caller supply cached header metadata: whisper headers
   * (archive count/offsets/spp/points) are CREATE-TIME CONSTANTS of the
   * fixed-size preallocated format — point writes mutate slots in place and
   * never touch the header — so the streaming tail caches them per stream
   * and pays the per-file header read once, not once per trigger. */
  def plan(
      paths: Seq[WhisperIO.FileEntry],
      options: WhisperOptions,
      preds: Seq[WPred],
      probeOrdered: Boolean = true,
      metaFor: (WhisperIO.FileEntry, Boolean) => graft.format.WhisperCodec.FileMeta =
        (e, gz) => WhisperIO.readMetaHeaderOnly(e.path, gz, e.len)): Array[InputPartition] = {
    // File-only predicates decide BEFORE the header read: a pushed
    // `file = '...'` / `file IN (...)` must not cost one header I/O per
    // tree entry when it keeps a handful — at 1M files a single-metric
    // query otherwise reads a million headers to plan one partition
    // (and a file excluded this way is never opened at all, so plan time
    // no longer depends on the READABILITY of irrelevant files). Archive
    // predicates still prune per archive after the read, as before.
    val liveEntries = paths.filter { e =>
      preds.forall {
        case f @ (FileCmp(_, _) | FileIn(_)) => f.eval(e.path, -1, 0L, 0L, 0.0)
        case _                               => true
      }
    }
    val perFile = WhisperIO.parMap(liveEntries, options.planningParallelism) { entry =>
      val path = entry.path
      val gz = options.gzipFor(path)
      val meta = metaFor(entry, gz)
      meta.archives.filter(a => partitionSurvives(preds, path, a.index)).flatMap { a =>
        // an archive too big for one in-memory buffer MUST split even with
        // timeSort on (ordering then holds per chunk, not per archive);
        // gzip is non-splittable: one stream per file/archive regardless.
        val mustSplit = !gz && a.points * WhisperCodec.PointSize > Int.MaxValue.toLong
        val wantSplit = !gz && a.points > options.maxPointsPerSplit
        val step = math.min(options.maxPointsPerSplit, (Int.MaxValue.toLong / WhisperCodec.PointSize) - 1)
        def whole =
          Seq(WhisperInputPartition(path, gz, a.index, a.offset, a.secondsPerPoint, a.points, 0L, a.points))
        def physicalChunks =
          (0L until a.points by step).map { start =>
            val cnt = math.min(step, a.points - start)
            WhisperInputPartition(path, gz, a.index, a.offset, a.secondsPerPoint, a.points, start, cnt)
          }
        if (gz || (!wantSplit && !mustSplit)) whole
        else if (!options.timeSort) physicalChunks
        else if (options.orderedSplit && probeOrdered) {
          // timeSort: chunk the ring's two sorted runs oldest-first so the
          // archive parallelizes WITHOUT losing its per-archive order — a
          // max-retention archive (u32 points admits ~51 GB) must not become
          // one straggler task on an otherwise idle cluster. Probe failure
          // (all-zero, truncated-beyond-probing, non-dense ring detected on
          // the probe path) keeps the pre-r10 single-partition shape unless
          // the 2 GiB buffer limit forces a split.
          RingProbe.probe(path, a.offset, a.secondsPerPoint, a.points) match {
            case Some(rp) => RingProbe.orderedChunks(path, a.index, a.offset, a.secondsPerPoint, a.points, rp, step)
            case None     => if (mustSplit) physicalChunks else whole
          }
        } else if (mustSplit) physicalChunks
        else whole
      }
    }
    perFile.flatten.toArray
  }

  /** Bin-pack small units into shared partitions once the unit count
   * exceeds `binThreshold` (the many-small-files regime): first-fit over a
   * path-sorted unit list (file locality per bin), capacity
   * `maxPointsPerSplit` points per bin, each unit charged
   * max(posCount, openCost) where openCost = maxPointsPerSplit/256 —
   * the same open-cost idea Spark's FilePartition packing uses so tiny
   * files cannot over-pack a bin. Below the threshold units pass through
   * 1:1 and the scan keeps its per-archive ordering declaration. */
  def binPack(units: Array[WhisperInputPartition], options: WhisperOptions): Array[InputPartition] = {
    if (units.length <= options.binThreshold) units.toArray[InputPartition]
    else {
      val openCost = math.max(1L, options.maxPointsPerSplit / 256)
      // Capacity mirrors Spark's FilePartition sizing: never bigger than
      // maxPointsPerSplit, but small enough that the cluster's parallelism
      // is fed (totalCost/parallelism) — 200 small files must not collapse
      // into one task on a 32-core box while a million files still bound
      // the partition count at O(totalBytes / maxSplit).
      val parallelism =
        org.apache.spark.sql.SparkSession.getActiveSession.fold(8)(_.sparkContext.defaultParallelism)
      val totalCost = units.map(u => math.max(u.posCount, openCost)).sum
      val capacity = math.max(
        2L * openCost,
        math.min(options.maxPointsPerSplit, totalCost / math.max(1, parallelism) + 1))
      val sorted = units.sortBy(u => (u.filePath, u.archiveIndex, u.posStart))
      val bins = scala.collection.mutable.ArrayBuffer.empty[Array[WhisperInputPartition]]
      val cur = scala.collection.mutable.ArrayBuffer.empty[WhisperInputPartition]
      var curPts = 0L
      for (u <- sorted) {
        val cost = math.max(u.posCount, openCost)
        if (cur.nonEmpty && curPts + cost > capacity) {
          bins += cur.toArray; cur.clear(); curPts = 0L
        }
        cur += u; curPts += cost
      }
      if (cur.nonEmpty) bins += cur.toArray
      bins.map { b =>
        if (b.length == 1) b.head: InputPartition else WhisperMultiPartition(b)
      }.toArray
    }
  }
}

/**
 * Plan-time ring-rotation probe for oversized `timeSort` archives.
 *
 * A healthy whisper ring written at every interval is a rotated sorted
 * array: physical slots `[w, N)` hold the oldest ascending run, `[0, w)` the
 * newest (`whisper_pandas.py:231-232` recovers order with a full sort; the
 * single-partition reader with a ring rotation; this probe lets MULTIPLE
 * partitions share one archive and still tile disjoint ascending time
 * windows). The format fixes each slot's timestamp up to an era:
 * `ts(i) = anchor + (i - anchorIdx)*spp  (mod spp*N)`, so ONE nonzero anchor
 * plus a binary search for the era drop `w` yields, arithmetically, a
 * planned window `[predTs(s), predTs(e))` per chunk — no boundary reads.
 *
 * Cost: O(log N) ranged block reads of 48 KB each (budgeted at
 * [[MaxReads]]); EOF reads as zeros so truncated files probe like
 * partially-filled rings. The probe DECLINES (returns None) on: all-zero
 * archives, read-budget exhaustion (giant zero regions), or any probed
 * nonzero point off the anchor's interval grid / outside eras {0, -1} — a
 * sparsely-written ring carrying stale multi-era residue is not a rotated
 * sorted array, and chunking it ordered would be wrong. Because the probe
 * only samples, the claim is additionally CHECKED at read time when the
 * sort elision consumes it ([[WhisperScan.withWindowEnforcement]]).
 */
private[whisper] object RingProbe {

  final case class Probe(w: Long, anchorIdx: Long, anchorTs: Long)

  private val BlockPts = 4096
  private val MaxReads = 64
  private object GiveUp extends Exception with scala.util.control.NoStackTrace

  def probe(path: String, archiveOffset: Long, spp: Long, points: Long): Option[Probe] = {
    if (spp <= 0 || points <= 1 || spp > Long.MaxValue / points) return None
    val p = new HPath(path)
    try {
      val fs = p.getFileSystem(WhisperIO.hadoopConf())
      val in = fs.open(p)
      try probeImpl(in, archiveOffset, spp, points)
      finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  private def probeImpl(
      in: org.apache.hadoop.fs.FSDataInputStream,
      off: Long,
      spp: Long,
      n: Long): Option[Probe] = {
    val sppN = spp * n
    var reads = 0

    // timestamps of slots [start, start+cnt); EOF-as-zeros
    def readTs(start: Long, cnt: Int): Array[Long] = {
      if (reads >= MaxReads) throw GiveUp
      reads += 1
      val buf = new Array[Byte](cnt * WhisperCodec.PointSize)
      var got = 0
      try {
        in.seek(off + start * WhisperCodec.PointSize)
        got = WhisperCodec.readFully(in, buf, buf.length)
      } catch { case _: java.io.EOFException => }
      val bb = java.nio.ByteBuffer.wrap(buf)
      val out = new Array[Long](cnt)
      var i = 0
      val full = got / WhisperCodec.PointSize
      while (i < full) { out(i) = bb.getInt(i * WhisperCodec.PointSize).toLong & 0xffffffffL; i += 1 }
      out
    }

    // first nonzero (idx, ts) in [from, until)
    def forward(from: Long, until: Long): Option[(Long, Long)] = {
      var s = from
      while (s < until) {
        val cnt = math.min(BlockPts.toLong, until - s).toInt
        val ts = readTs(s, cnt)
        var i = 0
        while (i < cnt) { if (ts(i) != 0L) return Some((s + i, ts(i))); i += 1 }
        s += cnt
      }
      None
    }

    // last nonzero (idx, ts) in [downTo, from)
    def backward(from: Long, downTo: Long): Option[(Long, Long)] = {
      var e = from
      while (e > downTo) {
        val s = math.max(downTo, e - BlockPts)
        val cnt = (e - s).toInt
        val ts = readTs(s, cnt)
        var i = cnt - 1
        while (i >= 0) { if (ts(i) != 0L) return Some((s + i, ts(i))); i -= 1 }
        e = s
      }
      None
    }

    try {
      val (faIdx, faTs) = forward(0L, n).getOrElse(return None)
      def predTs(i: Long): Long = faTs + (i - faIdx) * spp
      // every probed nonzero must sit EXACTLY in era 0 (>= anchor) or era -1
      // (< anchor) of the anchor's grid; anything else is a non-dense ring
      def eraOk(i: Long, ts: Long): Boolean =
        ts == predTs(i) || ts == predTs(i) - sppN
      backward(n, faIdx + 1) match {
        case None => Some(Probe(0L, faIdx, faTs)) // a lone anchor run head
        case Some((lzIdx, lzTs)) =>
          if (lzTs >= faTs) {
            // unrotated (possibly leading zeros); tail must be era 0
            if (lzTs == predTs(lzIdx)) Some(Probe(0L, faIdx, faTs)) else None
          } else {
            if (lzTs != predTs(lzIdx) - sppN) return None
            // smallest i in (faIdx, lzIdx] whose first forward nonzero is
            // pre-anchor (era -1): the rotation point (or the head of the
            // zero gap in front of it — an equivalent cut, the gap rows
            // do not exist)
            var lo = faIdx
            var hi = lzIdx
            while (hi - lo > 1) {
              val mid = (lo + hi) >>> 1
              forward(mid, lzIdx + 1) match {
                case Some((i2, t2)) =>
                  if (!eraOk(i2, t2)) return None
                  if (t2 < faTs) hi = mid
                  else lo = i2 // zeros in [mid, i2) then an era-0 value
                case None => return None // cannot happen: lz is in range
              }
            }
            Some(Probe(hi, faIdx, faTs))
          }
      }
    } catch { case GiveUp => None }
  }

  /** One archive's chunks in GLOBAL ascending-time order — the older run
   * `[w, N)` (era -1) first, then `[0, w)` (era 0) — each cut at `step`
   * points and stamped with its arithmetic window `[predTs(s), predTs(e))`
   * (shifted one era down for the older run). Windows tile: run -1's last
   * bound equals `predTs(0)`, run 0's first. */
  def orderedChunks(
      path: String,
      archiveIndex: Int,
      archiveOffset: Long,
      spp: Long,
      points: Long,
      rp: Probe,
      step: Long): Seq[WhisperInputPartition] = {
    val sppN = spp * points
    def predTs(i: Long): Long = rp.anchorTs + (i - rp.anchorIdx) * spp
    def cut(from: Long, until: Long, eraShift: Long): Seq[WhisperInputPartition] =
      (from until until by step).map { s =>
        val e = math.min(s + step, until)
        WhisperInputPartition(path, gzip = false, archiveIndex, archiveOffset, spp, points,
          posStart = s, posCount = e - s,
          winLo = predTs(s) + eraShift, winHi = predTs(e) + eraShift)
      }
    if (rp.w == 0) cut(0L, points, 0L)
    else cut(rp.w, points, -sppN) ++ cut(0L, rp.w, 0L)
  }
}

class WhisperReaderFactory(
    options: WhisperOptions,
    preds: Seq[WPred],
    requiredSchema: StructType,
    enforceWindows: Boolean = false)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): Nothing =
    throw new UnsupportedOperationException(
      "WhisperReaderFactory.createReader cannot be reached: whisper scans are always columnar")

  /** Columnar reads: decode straight into column vectors — no per-row
   * InternalRow materialization; Spark's ColumnarToRow + whole-stage codegen
   * consume the batch in a tight loop (same fast path as parquet). */
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  /** A streaming partition reads its units with its micro-batch window
   * (exclusive lo, inclusive hi) added to the pushed predicates, so the
   * window prunes during decode. */
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    partition match {
      case m: WhisperMultiPartition =>
        new WhisperSequentialReader(
          m.units, new WhisperColumnarReader(_, options, preds, requiredSchema, enforceWindows))
      case p: WhisperInputPartition =>
        new WhisperColumnarReader(p, options, preds, requiredSchema, enforceWindows)
      case s: WhisperStreamPartition =>
        val window = preds ++ Seq(NumCmp("timestamp", ">", s.lo), NumCmp("timestamp", "<=", s.hi))
        new WhisperSequentialReader(s.units, new WhisperColumnarReader(_, options, window, requiredSchema))
    }
}

/** Drains one inner reader per unit, in order; a unit's reader is built
 * lazily so at most one unit's decode buffer is live at a time. */
class WhisperSequentialReader(
    units: Array[WhisperInputPartition],
    mk: WhisperInputPartition => PartitionReader[ColumnarBatch]
) extends PartitionReader[ColumnarBatch] {
  private val it = units.iterator
  private var cur: PartitionReader[ColumnarBatch] = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!it.hasNext) return false
        cur = mk(it.next())
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = cur.get()

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}

/** Columnar reader: emits ColumnarBatches of up to 4096 rows, each
 * column filled by one primitive loop straight from the decode kernel's
 * buffer. `file` and `archive` are constant over a partition: set once. */
class WhisperColumnarReader(
    part: WhisperInputPartition,
    options: WhisperOptions,
    preds: Seq[WPred],
    requiredSchema: StructType,
    enforceWindows: Boolean = false
) extends PartitionReader[ColumnarBatch] {
  import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
  import org.apache.spark.sql.vectorized.ColumnVector

  private val d = WhisperDecode.load(part, options, preds, enforceWindows)
  // a small archive's vectors are only its size
  private val batchRows = math.max(1, math.min(4096, d.nRows))
  private var offset = 0
  private val vectors: Array[ColumnVector] = requiredSchema.fields.map { f =>
    lazy val c = new ConstantColumnVector(batchRows, f.dataType)
    f.name match {
      case "file"    => c.setUtf8String(UTF8String.fromString(part.filePath)); c
      case "archive" => c.setInt(part.archiveIndex); c
      case _         => new OnHeapColumnVector(batchRows, f.dataType)
    }
  }
  private val batch = new ColumnarBatch(vectors)

  override def next(): Boolean = {
    if (offset >= d.nRows) return false
    val n = math.min(batchRows, d.nRows - offset)
    var f = 0
    while (f < vectors.length) {
      vectors(f) match {
        case v: OnHeapColumnVector =>
          v.reset()
          var i = 0
          requiredSchema.fields(f).name match {
            case "position" =>
              while (i < n) { v.putLong(i, d.position(offset + i)); i += 1 }
            case "timestamp" =>
              if (options.toDatetime) while (i < n) { v.putLong(i, d.timestamp(offset + i) * 1000000L); i += 1 }
              else while (i < n) { v.putInt(i, d.timestamp(offset + i).toInt); i += 1 }
            case "value" =>
              if (options.dtype == "float") while (i < n) { v.putFloat(i, d.value(offset + i).toFloat); i += 1 }
              else while (i < n) { v.putDouble(i, d.value(offset + i)); i += 1 }
          }
        case _ => // constant
      }
      f += 1
    }
    batch.setNumRows(n)
    offset += n
    true
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = batch.close()
}
