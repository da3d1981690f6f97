package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.format.WhisperWriter
import graft.format.WhisperWriter.{ArchiveSpec, FileSpec}
import graft.sources.whisper.{WhisperIO, WhisperManifest}

/**
 * The remote-storage planning envelope (VERDICT r11 #1), asserted on the
 * [[SlowFs]] shim: request COUNTS are the deterministic contract (a header
 * read is a GET; the manifest and the known-length path must remove GETs,
 * not just overlap them), wall-clock bounds witness the latency HIDING of
 * the dedicated planning pool. All bounds are generous multiples of the
 * arithmetic floor so a loaded box cannot flake them.
 */
class LatencyPlanningSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("latency-planning-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.slowfs.impl", classOf[SlowFs].getName)
    .getOrCreate()

  override def afterAll(): Unit = {
    SlowFs.reset(0)
    try spark.stop() finally super.afterAll()
  }

  private def mkTree(nDirs: Int, filesPerDir: Int): JPath = {
    val tree = Files.createTempDirectory("slow-tree")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    for (d <- 0 until nDirs) {
      val sub = tree.resolve(s"svc$d")
      Files.createDirectories(sub)
      for (f <- 0 until filesPerDir) WhisperWriter.writeFile(sub.resolve(s"m$f.wsp"), spec)
    }
    tree
  }

  private def slow(p: JPath): String = "slowfs:" + p.toAbsolutePath

  test("planning on high-latency storage: one open per file, zero extra stats, latency hidden") {
    val tree = mkTree(nDirs = 8, filesPerDir = 8) // 64 files
    // session startup + first-use JIT/classloading of the source and the
    // parallel-collections machinery must not land inside the timer (they
    // cost ~3 s once per JVM and are invariant in file count — measured
    // r12); a zero-latency warm read pays them
    SlowFs.reset(0)
    spark.read.format("whisper").load(slow(tree) + "/svc0").rdd.getNumPartitions
    SlowFs.reset(20) // object-store-class GET
    val t0 = System.nanoTime()
    val df = spark.read.format("whisper").load(slow(tree) + "/*")
    val parts = df.rdd.getNumPartitions
    val wall = (System.nanoTime() - t0) / 1e9
    assert(parts >= 1)
    // exactly one open per file (the ranged header read); the walk's length
    // rides into readMetaHeaderOnly, so no EXPLICIT per-file getFileStatus.
    // RawLocal's internal delegation (listStatus stats each child, open
    // stats its target) is suppressed by the shim since r13 — real stores
    // bill one round trip per listing page and one per GET — so the stat
    // counter now sees only OUR explicit calls (glob resolution's handful);
    // an explicit per-file stat regression lands at +64
    assert(SlowFs.opens.get() == 64, s"expected 64 header opens, got ${SlowFs.opens.get()}")
    assert(SlowFs.stats.get() < 64,
      s"explicit per-file getFileStatus crept back: ${SlowFs.stats.get()} stats for 64 opens")
    // serial floor would be 64 opens x 20 ms = 1.28 s + walk (9 lists x 20 ms);
    // the 64-way pool must land far under it even on a loaded box
    assert(wall < 1.0, s"latency not hidden: ${wall}s for 64 files at 20 ms")
  }

  test("planningParallelism=1 degrades to the serial floor (the knob is real)") {
    val tree = mkTree(nDirs = 4, filesPerDir = 8) // 32 files
    SlowFs.reset(20)
    val t0 = System.nanoTime()
    spark.read.format("whisper")
      .option("planningParallelism", "1")
      .load(slow(tree) + "/*").rdd.getNumPartitions
    val wall = (System.nanoTime() - t0) / 1e9
    // 32 opens + 5 lists at 20 ms serial = ~0.74 s arithmetic floor
    assert(wall > 0.7, s"serial planning finished in ${wall}s — the parallelism knob is not wired")
  }

  test("header manifest eliminates header opens at plan time; stale entries fall back") {
    val tree = mkTree(nDirs = 4, filesPerDir = 8) // 32 files
    val manifest = Files.createTempDirectory("slow-manifest").resolve("m.jsonl.gz").toString
    SlowFs.reset(0)
    assert(WhisperManifest.write(Seq(slow(tree) + "/*"), manifest) == 32L)

    SlowFs.reset(25)
    val t0 = System.nanoTime()
    // manifestSpotCheck=0: the pure zero-opens contract (r12). The default
    // spot check trades <= 8 of those saved opens for same-length re-layout
    // detection — pinned separately below.
    val df = spark.read.format("whisper")
      .option("headerManifest", manifest)
      .option("manifestSpotCheck", "0")
      .load(slow(tree) + "/*")
    df.rdd.getNumPartitions
    val wall = (System.nanoTime() - t0) / 1e9
    assert(SlowFs.opens.get() == 0,
      s"manifest-backed planning still opened ${SlowFs.opens.get()} headers")
    assert(wall < 1.0, s"manifest planning took ${wall}s — more than a walk's worth")
    // default spot check: a bounded handful of verification opens, not a sweep
    SlowFs.reset(25)
    spark.read.format("whisper")
      .option("headerManifest", manifest)
      .load(slow(tree) + "/*").rdd.getNumPartitions
    assert(SlowFs.opens.get() >= 1 && SlowFs.opens.get() <= 8,
      s"default spot check should open 1..8 headers, opened ${SlowFs.opens.get()}")
    // the data itself still decodes correctly through the manifest-built plan
    SlowFs.reset(0)
    assert(df.count() == 32L * 30)

    // staleness: rewrite ONE file with a different layout (length changes);
    // the stale entry must be re-read fresh — and the plan must see 2 archives
    WhisperWriter.writeFile(
      java.nio.file.Paths.get(tree.toString, "svc0", "m0.wsp"),
      FileSpec(archives = Seq(
        ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0),
        ArchiveSpec(60, 120, filled = 10, lastTimestamp = 1600000000L, rotation = 0))))
    SlowFs.reset(0)
    val df2 = spark.read.format("whisper")
      .option("headerManifest", manifest)
      .load(slow(tree) + "/*")
    df2.rdd.getNumPartitions
    assert(SlowFs.opens.get() >= 1, "stale manifest entry was trusted — no fresh header read")
    val archives0 = df2.filter(org.apache.spark.sql.functions.col("file").endsWith("svc0/m0.wsp"))
      .select("archive").distinct().count()
    assert(archives0 == 2L, s"resized file planned with stale archive list ($archives0 archives)")
  }

  test("same-length re-layout: spot check discards the manifest; spotCheck=0 documents the hole (ADVICE r12)") {
    val tree = mkTree(nDirs = 2, filesPerDir = 8) // 16 files
    val manifest = Files.createTempDirectory("slow-manifest-rl").resolve("m.jsonl.gz").toString
    SlowFs.reset(0)
    assert(WhisperManifest.write(Seq(slow(tree) + "/*"), manifest) == 16L)
    // systematic re-layout preserving LENGTH: same archive count, same point
    // count, different secondsPerPoint — the exact hole length staleness
    // cannot see (header 16+12, data 12*60, byte-identical sizes)
    for (d <- 0 until 2; f <- 0 until 8)
      WhisperWriter.writeFile(
        java.nio.file.Paths.get(tree.toString, s"svc$d", s"m$f.wsp"),
        FileSpec(archives = Seq(
          ArchiveSpec(20, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0))))
    // default spot check: divergence detected -> manifest discarded -> every
    // header read fresh (16 opens) on top of the <= 8 sample reads
    SlowFs.reset(0)
    spark.read.format("whisper")
      .option("headerManifest", manifest)
      .load(slow(tree) + "/*").rdd.getNumPartitions
    assert(SlowFs.opens.get() >= 17 && SlowFs.opens.get() <= 24,
      s"re-layout under unchanged length must force a full fresh sweep " +
        s"(16 fresh + 1..8 sample opens), opened ${SlowFs.opens.get()}")
    // spotCheck=0 serves the stale headers blindly — the documented residual
    // hole, pinned so the trade is visible, not accidental
    SlowFs.reset(0)
    spark.read.format("whisper")
      .option("headerManifest", manifest)
      .option("manifestSpotCheck", "0")
      .load(slow(tree) + "/*").rdd.getNumPartitions
    assert(SlowFs.opens.get() == 0)
  }

  test("spot-check verdict memoizes per manifest VERSION: repeat plans pay zero header GETs (ADVICE r13)") {
    val tree = mkTree(nDirs = 2, filesPerDir = 8) // 16 files
    val manifest = Files.createTempDirectory("slow-manifest-v").resolve("m.jsonl.gz").toString
    SlowFs.reset(0)
    assert(WhisperManifest.write(Seq(slow(tree) + "/*"), manifest) == 16L)
    // first plan of this manifest version: the content check runs, exactly
    // min(k=8, served=16) = 8 sample opens (guaranteed size, ADVICE r13)
    SlowFs.reset(0)
    spark.read.format("whisper").option("headerManifest", manifest)
      .load(slow(tree) + "/*").rdd.getNumPartitions
    assert(SlowFs.opens.get() == 8,
      s"first plan of a manifest version should open exactly 8 sample headers, got ${SlowFs.opens.get()}")
    // every later plan over the UNCHANGED version: verdict memoized — zero
    // header GETs (metadata stats only); this is what stops a manifest-backed
    // STREAM from paying k GETs per trigger
    SlowFs.reset(0)
    spark.read.format("whisper").option("headerManifest", manifest)
      .load(slow(tree) + "/*").rdd.getNumPartitions
    assert(SlowFs.opens.get() == 0,
      s"repeat plan re-ran the spot check: ${SlowFs.opens.get()} opens")
    // a REFRESHED manifest (new version) re-verifies with a rotated sample
    WhisperWriter.writeFile(
      java.nio.file.Paths.get(tree.toString, "svc0", "extra.wsp"),
      FileSpec(archives = Seq(
        ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0))))
    SlowFs.reset(0)
    WhisperManifest.write(Seq(slow(tree) + "/*"), manifest)
    SlowFs.reset(0)
    spark.read.format("whisper").option("headerManifest", manifest)
      .load(slow(tree) + "/*").rdd.getNumPartitions
    assert(SlowFs.opens.get() == 8,
      s"new manifest version must re-run the spot check, got ${SlowFs.opens.get()} opens")
  }

  test("manifest-backed stream: steady-state triggers pay ZERO header GETs at DEFAULT options (ADVICE r13)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.{WhisperMicroBatchStream, WhisperOffset, WhisperOptions}
    // the r13 regression this pins against: manifestAwareMetaFor ran the
    // spot check at construction, and the stream constructs it EVERY
    // trigger — so steady state paid up to 8 header GETs per trigger
    // unless the user set manifestSpotCheck=0
    val tree = mkTree(nDirs = 4, filesPerDir = 6) // 24 files
    val manifest = Files.createTempDirectory("slow-manifest-ss").resolve("m.jsonl.gz").toString
    SlowFs.reset(0)
    assert(WhisperManifest.write(Seq(slow(tree)), manifest) == 24L)
    val m = new java.util.HashMap[String, String]()
    m.put("headerManifest", manifest) // DEFAULT manifestSpotCheck (8)
    m.put("binThreshold", "100000")
    val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
    val stream = new WhisperMicroBatchStream(Seq(slow(tree)), opts, Seq.empty, opts.schema, 0L)
    // trigger 1: the version's one-time content check (<= 8 opens), every
    // header itself served by the manifest
    SlowFs.reset(0)
    stream.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L))
    assert(SlowFs.opens.get() <= 8,
      s"trigger 1 should pay at most the one-time 8-sample check, got ${SlowFs.opens.get()}")
    // triggers 2..4 (distinct windows): verdict memoized + header cache hits
    // -> zero GETs; the zero-opens steady-state contract now holds at the
    // DEFAULTS, not only at manifestSpotCheck=0
    SlowFs.reset(0)
    stream.planInputPartitions(WhisperOffset(1700000000L), WhisperOffset(1800000000L))
    stream.planInputPartitions(WhisperOffset(1800000000L), WhisperOffset(1900000000L))
    stream.planInputPartitions(WhisperOffset(1900000000L), WhisperOffset(2000000000L))
    assert(SlowFs.opens.get() == 0,
      s"steady-state triggers still pay header GETs: ${SlowFs.opens.get()} over 3 triggers")
  }

  test("sharded reconcile roams a persistent cursor: 1 page/trigger, eventual + sticky discovery (r17)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.{WhisperIO, WhisperOptions}
    val flat = Files.createTempDirectory("slow-flat-shard-rec")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    for (f <- 0 until 40) WhisperWriter.writeFile(flat.resolve(f"m$f%02d.wsp"), spec)
    val manifest = Files.createTempDirectory("slow-flat-shard-m").resolve("m.jsonl.gz").toString
    SlowFs.reset(0)
    WhisperManifest.write(Seq(slow(flat) + "/*.wsp"), manifest, shards = 4)
    // a NEW file owned by shard 0, lexicographically between m15 and m16:
    // position ~17 in the sorted listing — beyond the first 8 entries the
    // undiluted bound would cover, inside the 8 * 4 = 32 sharded cap
    val fs = new org.apache.hadoop.fs.Path(slow(flat)).getFileSystem(
      graft.sources.whisper.WhisperIO.hadoopConf())
    val newName = (0 until 64).map(i => f"m15a$i%02d.wsp").find { n =>
      WhisperManifest.shardOf(
        fs.makeQualified(new org.apache.hadoop.fs.Path(slow(flat) + "/" + n)).toString, 4) == 0
    }.get
    WhisperWriter.writeFile(flat.resolve(newName), spec)
    def listed(extra: (String, String)*): Seq[String] = {
      val m = new java.util.HashMap[String, String]()
      m.put("headerManifest", manifest)
      m.put("manifestListing", "true")
      m.put("manifestSpotCheck", "0")
      m.put("manifestReconcileFiles", "8")
      extra.foreach { case (k, v) => m.put(k, v) }
      WhisperIO.manifestListing(
        Seq(slow(flat)), WhisperOptions(new CaseInsensitiveStringMap(m))).map(_.path)
    }
    // r17 (VERDICT r16 watch #2): the sharded reconcile ROAMS a persistent
    // cursor — each trigger pays ONE page (budget * limit consumed entries)
    // and the add at position ~17 is discovered within ceil(41/8) = 6
    // triggers; once discovered it STAYS in every later plan (the cursor's
    // drift memory) even though later windows don't cover it
    SlowFs.reset(0, pageSize = 8)
    graft.sources.whisper.WhisperIO.resetRoamCursors()
    var foundAt = -1
    for (t <- 1 to 6) {
      val before = SlowFs.listPages.get()
      val sh = listed("streamShard" -> "0/4")
      val pages = SlowFs.listPages.get() - before
      assert(pages <= 1, s"trigger $t paid $pages LIST pages; the budget is 1")
      if (foundAt < 0 && sh.exists(_.endsWith("/" + newName))) foundAt = t
      if (foundAt > 0)
        assert(sh.exists(_.endsWith("/" + newName)),
          s"trigger $t LOST the add discovered at trigger $foundAt (drift memory broken)")
    }
    assert(foundAt > 0,
      "roaming reconcile never discovered the shard-0 add within one full sweep")
    // unsharded semantics unchanged: the same 8-entry prefix bound stops
    // before position 17 (drift there surfaces at the next manifest refresh)
    val un = listed()
    assert(!un.exists(_.endsWith("/" + newName)),
      "unsharded reconcile bound grew: position-17 add should be beyond the 8-entry sweep")
  }

  test("roaming reconcile discovery latency: any churn surfaces within one full sweep of triggers (r17)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.{WhisperIO, WhisperOptions}
    val flat = Files.createTempDirectory("slow-flat-roam")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    for (f <- 0 until 24) WhisperWriter.writeFile(flat.resolve(f"r$f%02d.wsp"), spec)
    val manifest = Files.createTempDirectory("slow-flat-roam-m").resolve("m.jsonl.gz").toString
    SlowFs.reset(0)
    WhisperManifest.write(Seq(slow(flat) + "/*.wsp"), manifest, shards = 2)
    def listed(): Seq[String] = {
      val m = new java.util.HashMap[String, String]()
      m.put("headerManifest", manifest)
      m.put("manifestListing", "true")
      m.put("manifestSpotCheck", "0")
      m.put("manifestReconcileFiles", "6")
      m.put("streamShard", "0/2")
      WhisperIO.manifestListing(
        Seq(slow(flat)), WhisperOptions(new CaseInsensitiveStringMap(m))).map(_.path)
    }
    graft.sources.whisper.WhisperIO.resetRoamCursors()
    // churn of all three kinds, scattered through the directory
    val fs = new org.apache.hadoop.fs.Path(slow(flat)).getFileSystem(WhisperIO.hadoopConf())
    def owned(n: String): Boolean = WhisperManifest.shardOf(
      fs.makeQualified(new org.apache.hadoop.fs.Path(slow(flat) + "/" + n)).toString, 2) == 0
    val addName = (0 until 64).map(i => f"r10x$i%02d.wsp").find(owned).get
    WhisperWriter.writeFile(flat.resolve(addName), spec)
    val delName = (0 until 24).map(f => f"r$f%02d.wsp").find(owned).get
    Files.delete(flat.resolve(delName))
    // worst case: the change can land just behind a mid-sweep cursor and
    // needs the REST of that sweep plus one full fresh sweep to surface —
    // ceil(25/6) = 5 windows per sweep, so 2 * 5 triggers bound it
    var addSeen = -1; var delGone = -1
    for (t <- 1 to 10) {
      val l = listed()
      if (addSeen < 0 && l.exists(_.endsWith("/" + addName))) addSeen = t
      if (delGone < 0 && !l.exists(_.endsWith("/" + delName))) delGone = t
    }
    assert(addSeen > 0 && addSeen <= 10, s"add not discovered within 2 sweeps (addSeen=$addSeen)")
    assert(delGone > 0 && delGone <= 10, s"delete not discovered within 2 sweeps (delGone=$delGone)")
    // and both verdicts persist on the NEXT trigger (memory, not luck)
    val after = listed()
    assert(after.exists(_.endsWith("/" + addName)) && !after.exists(_.endsWith("/" + delName)),
      "discovered churn did not persist across the following trigger")
  }

  test("stream base plan memoized per (path, len) list: steady triggers reuse units; add/re-layout rebuilds (r16)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.{WhisperMicroBatchStream, WhisperOffset, WhisperOptions, WhisperStreamPartition}
    // plain local tree, walk-listed, binThreshold high so units pass 1:1
    // and the memo is observable by REFERENCE equality of the base units
    val tree = Files.createTempDirectory("plan-memo-tree")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    for (f <- 0 until 6) WhisperWriter.writeFile(tree.resolve(s"m$f.wsp"), spec)
    val m = new java.util.HashMap[String, String]()
    m.put("binThreshold", "100000")
    val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
    val st = new WhisperMicroBatchStream(Seq(tree.toString), opts, Seq.empty, opts.schema, 0L)
    def bases(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.collect { case p: WhisperStreamPartition => p.units }.flatten
    val p1 = bases(st.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L)))
    val p2 = bases(st.planInputPartitions(WhisperOffset(1700000000L), WhisperOffset(1800000000L)))
    assert(p1.length == 6 && p2.length == 6)
    // steady state: the window-independent units are the SAME instances —
    // construction (unit build + bin-pack) did not re-run
    assert(p1.zip(p2).forall { case (a, b) => a eq b },
      "unchanged file list must serve the memoized base plan")
    // a file APPEARING rebuilds: next trigger plans 7 units
    WhisperWriter.writeFile(tree.resolve("m6.wsp"), spec)
    val p3 = bases(st.planInputPartitions(WhisperOffset(1800000000L), WhisperOffset(1900000000L)))
    assert(p3.length == 7, s"new file must join the rebuilt plan, got ${p3.length}")
    // a re-layout (length change: different point count) rebuilds with the
    // fresh archive geometry, not the memoized stale units
    WhisperWriter.writeFile(tree.resolve("m0.wsp"), FileSpec(archives = Seq(
      ArchiveSpec(10, 120, filled = 40, lastTimestamp = 1600000000L, rotation = 0))))
    val p4 = bases(st.planInputPartitions(WhisperOffset(1900000000L), WhisperOffset(2000000000L)))
    val m0 = p4.filter(_.filePath.endsWith("m0.wsp"))
    assert(m0.length == 1 && m0.head.points == 120L,
      s"re-layout must rebuild with fresh geometry, got ${m0.map(_.points).toSeq}")
  }

  test("manifest-LISTED stream: the per-trigger walk is GONE — one bounded reconcile page, zero with reconcile off (r15)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.{WhisperMicroBatchStream, WhisperOffset, WhisperOptions}
    // FLAT directory (the shape walk-sharding cannot split) with the page
    // size forced BELOW the entry count, so a walking trigger must page
    // multiple times and the assertion is about request COUNTS, not wall
    val flat = Files.createTempDirectory("slow-flat-stream")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    for (f <- 0 until 24) WhisperWriter.writeFile(flat.resolve(f"m$f%02d.wsp"), spec)
    val manifest = Files.createTempDirectory("slow-flat-m").resolve("m.jsonl.gz").toString
    SlowFs.reset(0)
    assert(WhisperManifest.write(Seq(slow(flat) + "/*.wsp"), manifest) == 24L)
    def trigger2Pages(extra: (String, String)*): (Long, Long, Long) = {
      val m = new java.util.HashMap[String, String]()
      m.put("binThreshold", "100000")
      m.put("headerManifest", manifest)
      m.put("manifestSpotCheck", "0")
      extra.foreach { case (k, v) => m.put(k, v) }
      val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
      val st = new WhisperMicroBatchStream(Seq(slow(flat)), opts, Seq.empty, opts.schema, 0L)
      st.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L)) // warm trigger
      SlowFs.reset(0, pageSize = 8) // 24 entries -> a walk pages 3x
      st.planInputPartitions(WhisperOffset(1700000000L), WhisperOffset(1800000000L))
      (SlowFs.lists.get(), SlowFs.listPages.get(), SlowFs.opens.get())
    }
    val (wl, wp, wo) = trigger2Pages()
    assert(wp >= 3, s"walk mode should page ceil(24/8)=3x per trigger, got $wp")
    assert(wo == 0, s"headers must come from the stream cache, got $wo opens")
    // manifestListing, bounded reconcile: the trigger's LIST cost is ONE
    // bounded page regardless of directory size
    val (ml, mp, mo) = trigger2Pages("manifestListing" -> "true", "manifestReconcileFiles" -> "8")
    assert(ml == 1 && mp == 1, s"manifest-listed trigger should pay 1 bounded page, got lists=$ml pages=$mp")
    assert(mo == 0, s"manifest-listed trigger opened $mo headers")
    // reconcile off: the steady-state trigger touches the store ZERO times
    // beyond the (memoized) manifest stat
    val (zl, zp, zo) = trigger2Pages("manifestListing" -> "true", "manifestReconcileFiles" -> "0")
    assert(zl == 0 && zp == 0 && zo == 0,
      s"reconcile-off trigger still touched the store: lists=$zl pages=$zp opens=$zo")
  }

  test("manifest --update: O(changed) header re-reads; deleted entries dropped (VERDICT r12 #2)") {
    val tree = mkTree(nDirs = 2, filesPerDir = 8) // 16 files
    val manifest = Files.createTempDirectory("slow-manifest-u").resolve("m.jsonl.gz").toString
    SlowFs.reset(0)
    assert(WhisperManifest.write(Seq(slow(tree) + "/*"), manifest) == 16L)
    // churn: one new file, one changed-length re-layout, one deletion
    WhisperWriter.writeFile(
      java.nio.file.Paths.get(tree.toString, "svc0", "new.wsp"),
      FileSpec(archives = Seq(
        ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0))))
    WhisperWriter.writeFile(
      java.nio.file.Paths.get(tree.toString, "svc0", "m1.wsp"),
      FileSpec(archives = Seq(
        ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0),
        ArchiveSpec(60, 120, filled = 10, lastTimestamp = 1600000000L, rotation = 0))))
    Files.delete(java.nio.file.Paths.get(tree.toString, "svc1", "m7.wsp"))
    SlowFs.reset(0)
    val (total, reread) = WhisperManifest.update(Seq(slow(tree) + "/*"), manifest)
    assert(total == 16L, s"16 live files expected, manifest has $total")
    assert(reread == 2L, s"only the new + re-laid-out files re-read, got $reread")
    assert(SlowFs.opens.get() == 2L, s"update paid ${SlowFs.opens.get()} header opens, want 2")
    // the refreshed manifest plans the whole tree with zero opens and the
    // re-laid-out file's NEW archive list
    SlowFs.reset(0)
    val df = spark.read.format("whisper")
      .option("headerManifest", manifest)
      .option("manifestSpotCheck", "0")
      .load(slow(tree) + "/*")
    df.rdd.getNumPartitions
    assert(SlowFs.opens.get() == 0, s"updated manifest still opened ${SlowFs.opens.get()} headers")
    assert(df.filter(org.apache.spark.sql.functions.col("file").endsWith("svc0/m1.wsp"))
      .select("archive").distinct().count() == 2L)
  }

  test("manifest --update is EQUIVALENT to a fresh full write under repeated churn (r13)") {
    // the property that makes --update trustworthy as the daily refresh:
    // after any sequence of adds / deletes / changed-length rewrites, the
    // updated manifest's CONTENT equals a from-scratch write's (same-length
    // re-layouts excluded by construction — the documented hole)
    SlowFs.reset(0)
    val tree = Files.createTempDirectory("slow-equiv")
    val specA = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    val specB = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0),
      ArchiveSpec(60, 120, filled = 5, lastTimestamp = 1600000000L, rotation = 0)))
    for (d <- 0 until 3) {
      val sub = tree.resolve(s"svc$d"); Files.createDirectories(sub)
      for (f <- 0 until 6) WhisperWriter.writeFile(sub.resolve(s"m$f.wsp"), specA)
    }
    val live = Files.createTempDirectory("slow-equiv-m").resolve("live.jsonl.gz").toString
    WhisperManifest.write(Seq(slow(tree) + "/*"), live)
    val rnd = new scala.util.Random(13)
    for (round <- 0 until 3) {
      // seeded churn: one new file, one delete, two changed-length rewrites
      WhisperWriter.writeFile(tree.resolve(s"svc${rnd.nextInt(3)}").resolve(s"n$round.wsp"),
        if (rnd.nextBoolean()) specA else specB)
      val delDir = tree.resolve(s"svc${rnd.nextInt(3)}")
      Files.list(delDir).filter(_.toString.endsWith(".wsp")).findFirst()
        .ifPresent(p => Files.delete(p))
      for (_ <- 0 until 2) {
        val d = tree.resolve(s"svc${rnd.nextInt(3)}")
        val any = Files.list(d).filter(_.toString.endsWith(".wsp")).findFirst()
        any.ifPresent(p => WhisperWriter.writeFile(p,
          if (Files.size(p) == 16 + 12 + 60 * 12) specB else specA))
      }
      WhisperManifest.update(Seq(slow(tree) + "/*"), live)
      val fresh = Files.createTempDirectory(s"slow-equiv-f$round").resolve("f.jsonl.gz").toString
      WhisperManifest.write(Seq(slow(tree) + "/*"), fresh)
      assert(WhisperManifest.loadRaw(live) == WhisperManifest.loadRaw(fresh),
        s"round $round: updated manifest content diverged from a fresh write")
    }
  }

  test("paged listings: a flat directory bills ceil(n/page) LIST round trips; wide dirs one (VERDICT r12 #1)") {
    // S3-class stores page listings (~1000 entries/response, serial
    // continuation tokens); the shim bills pages so the walk cost model is
    // measured under the real request shape, not the one-nap-per-list
    // idealization the r12 extrapolations used
    val flat = Files.createTempDirectory("slow-flat")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    for (f <- 0 until 250) WhisperWriter.writeFile(flat.resolve(s"m$f.wsp"), spec)
    SlowFs.reset(0, pageSize = 100)
    spark.read.format("whisper").load(slow(flat) + "/*").rdd.getNumPartitions
    // glob expansion lists the directory once (3 pages of 100) and the
    // recursion re-lists matched dirs — every list of the 250-entry dir
    // costs 3 pages, never 1
    val (l1, p1) = (SlowFs.lists.get(), SlowFs.listPages.get())
    assert(p1 >= 3 && p1 >= l1, s"pagination not billed: $l1 lists -> $p1 pages")
    assert(p1 % 3 == 0 || p1 > l1,
      s"each listing of the 250-entry dir must bill 3 pages ($l1 lists -> $p1 pages)")
    // wide tree at the same page size: each 8-entry dir is one page
    val wide = mkTree(nDirs = 4, filesPerDir = 8)
    SlowFs.reset(0, pageSize = 100)
    spark.read.format("whisper").load(slow(wide) + "/*").rdd.getNumPartitions
    assert(SlowFs.listPages.get() == SlowFs.lists.get(),
      s"wide dirs must not page: ${SlowFs.lists.get()} lists vs ${SlowFs.listPages.get()} pages")
  }

  test("manifestListing: flat-prefix planning is WALK-FREE (VERDICT r13 #1)") {
    // the r13 headline gap: a flat n-entry prefix costs ceil(n/page) SERIAL
    // list pages no pool can hide, even when the manifest serves every
    // header. manifestListing takes the file list FROM the manifest: the
    // store pays at most the bounded reconcile page(s).
    val flat = Files.createTempDirectory("slow-ml")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    for (f <- 0 until 300) WhisperWriter.writeFile(flat.resolve(f"m$f%03d.wsp"), spec)
    // manifest on the PLAIN local fs so the slow counters see tree requests only
    val manifest = Files.createTempDirectory("slow-ml-m").resolve("m.jsonl.gz").toString
    SlowFs.reset(0, pageSize = 100)
    assert(WhisperManifest.write(Seq(slow(flat) + "/*.wsp"), manifest) == 300L)
    // walk-based manifest plan: still pays the 3 serial pages per listing
    SlowFs.reset(0, pageSize = 100)
    spark.read.format("whisper")
      .option("headerManifest", manifest).option("manifestSpotCheck", "0")
      .load(slow(flat) + "/*.wsp").rdd.getNumPartitions
    assert(SlowFs.listPages.get() >= 3,
      s"control: the walk should page (got ${SlowFs.listPages.get()} pages)")
    // manifest-as-listing, reconcile off: ZERO store requests of any kind
    SlowFs.reset(0, pageSize = 100)
    val df = spark.read.format("whisper")
      .option("headerManifest", manifest).option("manifestSpotCheck", "0")
      .option("manifestListing", "true").option("manifestReconcileFiles", "0")
      .load(slow(flat).toString)
    df.rdd.getNumPartitions
    assert(SlowFs.lists.get() == 0 && SlowFs.listPages.get() == 0 &&
      SlowFs.opens.get() == 0 && SlowFs.stats.get() == 0,
      s"walk-free plan touched the store: ${SlowFs.lists.get()} lists, " +
        s"${SlowFs.listPages.get()} pages, ${SlowFs.opens.get()} opens, ${SlowFs.stats.get()} stats")
    // ...and the data still decodes correctly through the manifest-built plan
    SlowFs.reset(0)
    assert(df.count() == 300L * 30)
    // bounded reconcile: ONE page of 100 entries, not the full 3-page sweep
    SlowFs.reset(0, pageSize = 100)
    spark.read.format("whisper")
      .option("headerManifest", manifest).option("manifestSpotCheck", "0")
      .option("manifestListing", "true").option("manifestReconcileFiles", "100")
      .load(slow(flat).toString).rdd.getNumPartitions
    assert(SlowFs.lists.get() == 1 && SlowFs.listPages.get() == 1,
      s"bounded reconcile should bill exactly 1 LIST page, got " +
        s"${SlowFs.lists.get()} lists / ${SlowFs.listPages.get()} pages")
  }

  test("manifestListing staleness contract: adds/deletes/length changes reconcile; trust-outright documented") {
    val flat = Files.createTempDirectory("slow-ml2")
    val spec1 = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    val spec2 = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0),
      ArchiveSpec(60, 120, filled = 10, lastTimestamp = 1600000000L, rotation = 0)))
    for (f <- 0 until 20) WhisperWriter.writeFile(flat.resolve(f"m$f%02d.wsp"), spec1)
    val manifest = Files.createTempDirectory("slow-ml2-m").resolve("m.jsonl.gz").toString
    SlowFs.reset(0)
    assert(WhisperManifest.write(Seq(slow(flat) + "/*.wsp"), manifest) == 20L)
    // churn AFTER the manifest: one new file, one deletion, one re-layout
    WhisperWriter.writeFile(flat.resolve("added.wsp"), spec1)
    Files.delete(flat.resolve("m03.wsp"))
    WhisperWriter.writeFile(flat.resolve("m05.wsp"), spec2)
    def files(reconcile: Int): (Set[String], Long) = {
      SlowFs.reset(0)
      val df = spark.read.format("whisper")
        .option("headerManifest", manifest).option("manifestSpotCheck", "0")
        .option("manifestListing", "true")
        .option("manifestReconcileFiles", reconcile.toString)
        .load(slow(flat).toString)
      val names = df.select("file").distinct().collect()
        .map(r => r.getString(0).split('/').last).toSet
      val m05archives = df.filter(org.apache.spark.sql.functions.col("file").endsWith("m05.wsp"))
        .select("archive").distinct().count()
      (names, m05archives)
    }
    // reconcile covering the whole dir: all three churn kinds surface NOW
    val (recon, m05a) = files(reconcile = 1000)
    assert(recon.contains("added.wsp"), "reconcile missed the new file")
    assert(!recon.contains("m03.wsp"), "reconcile served the deleted file")
    assert(m05a == 2L, s"reconcile served the stale header for the re-laid-out file ($m05a archives)")
    assert(recon.size == 20, s"expected 20 files (20 - 1 deleted + 1 added), got ${recon.size}")
    // reconcile OFF (trust the manifest outright): the documented contract —
    // new file INVISIBLE until refresh, deleted file scans as EMPTY (the
    // decode-side FileNotFound tolerance), no crash
    val (blind, _) = files(reconcile = 0)
    assert(!blind.contains("added.wsp"), "trust-outright plan should not see the new file")
    assert(!blind.contains("m03.wsp"), "deleted file must scan as empty, not serve rows")
    // ...and a manifest refresh reconverges the trust-outright plan
    SlowFs.reset(0)
    WhisperManifest.update(Seq(slow(flat) + "/*.wsp"), manifest)
    val (fresh, m05b) = files(reconcile = 0)
    assert(fresh.contains("added.wsp") && !fresh.contains("m03.wsp") && m05b == 2L,
      s"refreshed manifest should reconverge: $fresh / $m05b")
  }

  test("streamShard i/n: shards partition the file set and each walks only its subtrees") {
    val tree = mkTree(nDirs = 8, filesPerDir = 4) // 32 files, 8 top-level subtrees
    def shardFiles(s: String): (Set[String], Long) = {
      SlowFs.reset(0)
      val files = spark.read.format("whisper")
        .option("streamShard", s)
        .load(slow(tree))
        .select("file").distinct().collect().map(_.getString(0)).toSet
      (files, SlowFs.lists.get())
    }
    SlowFs.reset(0)
    val all = spark.read.format("whisper").load(slow(tree))
      .select("file").distinct().collect().map(_.getString(0)).toSet
    val fullListings = SlowFs.lists.get()
    assert(all.size == 32)
    val (s0, l0) = shardFiles("0/2")
    val (s1, l1) = shardFiles("1/2")
    assert((s0 & s1).isEmpty, "shards overlap")
    assert((s0 | s1) == all, "shards do not cover the tree")
    assert(s0.nonEmpty && s1.nonEmpty, "degenerate shard split on 8 subtrees")
    // walk savings: each shard lists root + ONLY its own subtrees
    assert(l0 < fullListings && l1 < fullListings,
      s"shard walks did not prune listings ($l0/$l1 vs full $fullListings)")
    assert(l0 + l1 <= fullListings + 2, // + the extra root listing
      s"shard walks re-list shared directories ($l0 + $l1 vs full $fullListings)")
  }

  test("streamShardDepth rebalances a skewed tree; depth-1 skew measured (VERDICT r12 open-surface #3)") {
    // deliberately skewed: one subtree holds 90% of the files (svcBig: 9
    // host dirs x 10 files), nine small services hold one file each
    val tree = Files.createTempDirectory("slow-skew")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    val big = tree.resolve("svcBig")
    for (h <- 0 until 9) {
      val host = big.resolve(s"host$h"); Files.createDirectories(host)
      for (f <- 0 until 10) WhisperWriter.writeFile(host.resolve(s"m$f.wsp"), spec)
    }
    for (s <- 0 until 9) {
      val sub = tree.resolve(s"svc$s"); Files.createDirectories(sub)
      WhisperWriter.writeFile(sub.resolve("m.wsp"), spec)
    }
    def shardFiles(s: String, depth: Int): (Set[String], Long) = {
      SlowFs.reset(0)
      val files = spark.read.format("whisper")
        .option("streamShard", s)
        .option("streamShardDepth", depth.toString)
        .load(slow(tree))
        .select("file").distinct().collect().map(_.getString(0)).toSet
      (files, SlowFs.lists.get())
    }
    // depth 1 (the default): the stable top-level hash gives whichever
    // shard owns svcBig at least 90% of the tree — the documented skew
    val d1 = (0 until 3).map(i => shardFiles(s"$i/3", 1))
    assert(d1.map(_._1).reduce(_ ++ _).size == 99 &&
      d1.combinations(2).forall(p => (p(0)._1 & p(1)._1).isEmpty),
      "depth-1 shards must still tile the skewed tree")
    assert(d1.map(_._1.size).max >= 90,
      s"expected the svcBig owner to carry >= 90/99 files, got ${d1.map(_._1.size)}")
    // depth 2: ownership hashes the host level inside svcBig — the hot
    // subtree splits across shards and the max share drops sharply
    val d2 = (0 until 3).map(i => shardFiles(s"$i/3", 2))
    assert(d2.map(_._1).reduce(_ ++ _).size == 99 &&
      d2.combinations(2).forall(p => (p(0)._1 & p(1)._1).isEmpty),
      "depth-2 shards must tile the skewed tree exactly")
    assert(d2.map(_._1.size).max <= 70,
      s"depth-2 must split the hot subtree: shard sizes ${d2.map(_._1.size)}")
    // the price: each depth-2 shard lists the levels ABOVE the ownership
    // boundary (root + every svc dir) plus only its own host dirs
    val fullLists = { SlowFs.reset(0)
      spark.read.format("whisper").load(slow(tree))
        .select("file").distinct().count(); SlowFs.lists.get() }
    assert(d2.map(_._2).forall(l => l < fullLists),
      s"a depth-2 shard must still list fewer dirs than the full walk (${d2.map(_._2)} vs $fullLists)")
  }

  test("streaming tail plans its FIRST trigger from the manifest (zero header opens)") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.{WhisperMicroBatchStream, WhisperOffset, WhisperOptions}
    // the per-stream header cache already makes triggers 2+ free; the
    // manifest removes the COLD-START sweep too — a stream over a million
    // remote files must not pay a GET per file at its first trigger
    val tree = mkTree(nDirs = 4, filesPerDir = 6) // 24 files
    val manifest = Files.createTempDirectory("slow-manifest-s").resolve("m.jsonl.gz").toString
    SlowFs.reset(0)
    assert(graft.sources.whisper.WhisperManifest.write(Seq(slow(tree)), manifest) == 24L)
    val m = new java.util.HashMap[String, String]()
    m.put("headerManifest", manifest)
    m.put("manifestSpotCheck", "0") // the pure zero-opens contract
    m.put("binThreshold", "100000")
    val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
    val stream = new WhisperMicroBatchStream(Seq(slow(tree)), opts, Seq.empty, opts.schema, 0L)
    SlowFs.reset(0)
    val n = stream.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L)).length
    assert(n == 24, s"expected 24 planned units, got $n")
    assert(SlowFs.opens.get() == 0,
      s"manifest-backed stream planning still opened ${SlowFs.opens.get()} headers on trigger 1")
  }

  test("streaming tail honors streamShard and shards are replay-deterministic") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.{WhisperMicroBatchStream, WhisperOffset, WhisperOptions}
    val tree = mkTree(nDirs = 6, filesPerDir = 2) // 12 files
    def planned(s: String): Int = {
      val m = new java.util.HashMap[String, String]()
      if (s.nonEmpty) m.put("streamShard", s)
      m.put("binThreshold", "100000") // unit-per-file so counts are readable
      val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
      val st = new WhisperMicroBatchStream(Seq(slow(tree)), opts, Seq.empty, opts.schema, 0L)
      st.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L)).length
    }
    val full = planned("")
    val a = planned("0/3"); val b = planned("1/3"); val c = planned("2/3")
    assert(full == 12 && a + b + c == full,
      s"stream shards must tile the tree: $a+$b+$c vs $full")
    assert(planned("0/3") == a, "shard assignment is not deterministic across plans")
  }

  test("streaming tail honors streamShardDepth: depth-2 shards tile per trigger too") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.sources.whisper.{WhisperMicroBatchStream, WhisperOffset, WhisperOptions}
    // two-level tree: 3 services x 4 hosts x 1 file; ALL n streams must use
    // the SAME depth (shards from different depths do not tile — the option
    // doc says so); this pins that one depth's shards do
    val tree = Files.createTempDirectory("slow-sd2")
    val spec = FileSpec(archives = Seq(
      ArchiveSpec(10, 60, filled = 30, lastTimestamp = 1600000000L, rotation = 0)))
    for (s <- 0 until 3; h <- 0 until 4) {
      val d = tree.resolve(s"svc$s").resolve(s"host$h")
      Files.createDirectories(d)
      WhisperWriter.writeFile(d.resolve("m.wsp"), spec)
    }
    def planned(shard: String): Int = {
      val m = new java.util.HashMap[String, String]()
      if (shard.nonEmpty) { m.put("streamShard", shard); m.put("streamShardDepth", "2") }
      m.put("binThreshold", "100000")
      val opts = WhisperOptions(new CaseInsensitiveStringMap(m))
      val st = new WhisperMicroBatchStream(Seq(slow(tree)), opts, Seq.empty, opts.schema, 0L)
      st.planInputPartitions(WhisperOffset(0L), WhisperOffset(1700000000L)).length
    }
    val full = planned("")
    val parts = (0 until 3).map(i => planned(s"$i/3"))
    assert(full == 12 && parts.sum == full,
      s"depth-2 stream shards must tile: ${parts.mkString("+")} vs $full")
    assert(parts.forall(_ < full), s"degenerate depth-2 split: $parts")
  }
}
