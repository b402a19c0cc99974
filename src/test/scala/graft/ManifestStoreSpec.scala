package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.ManifestStore

class ManifestStoreSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType.fromDDL("k BIGINT, v STRING")

  private def tmpDir(): String =
    Files.createTempDirectory("graft-manifest").toString

  private def df(pairs: (Long, String)*) = pairs.toDF("k", "v")

  private def contents(dir: String): Set[(Long, String)] =
    ManifestStore.read(spark, dir, schema).as[(Long, String)].collect().toSet

  test("idempotent stream-batch append: replays skip, apps interleave, batch save modes map") {
    val dir = tmpDir()
    assert(ManifestStore.appendIdempotent(df(1L -> "a"), dir, "app1", 0L) === Some(1L))
    assert(ManifestStore.appendIdempotent(df(2L -> "b"), dir, "app1", 1L) === Some(2L))
    // the at-least-once replay: same batch again must be a no-op
    assert(ManifestStore.appendIdempotent(df(2L -> "b"), dir, "app1", 1L) === None)
    assert(ManifestStore.appendIdempotent(df(9L -> "x"), dir, "app1", 0L) === None)
    assert(contents(dir) === Set(1L -> "a", 2L -> "b"))
    // a DIFFERENT app has its own high water
    assert(ManifestStore.streamBatchHighWater(spark, dir, "app1") === 1L)
    assert(ManifestStore.streamBatchHighWater(spark, dir, "app2") === -1L)
    assert(ManifestStore.appendIdempotent(df(3L -> "c"), dir, "app2", 0L) === Some(3L))
    // an interleaved foreign commit does not hide app1's high water
    ManifestStore.append(df(4L -> "d"), dir)
    assert(ManifestStore.streamBatchHighWater(spark, dir, "app1") === 1L)
    assert(ManifestStore.appendIdempotent(df(5L -> "e"), dir, "app1", 2L) === Some(5L))
    assert(contents(dir) ===
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
    // batch DataFrameWriter surface: SaveMode maps onto manifest commits
    val dir2 = tmpDir()
    df(1L -> "a").write.format("graft-manifest").mode("append").save(dir2)
    df(2L -> "b").write.format("graft-manifest").mode("append").save(dir2)
    assert(contents(dir2) === Set(1L -> "a", 2L -> "b"))
    df(9L -> "z").write.format("graft-manifest").mode("overwrite").save(dir2)
    assert(contents(dir2) === Set(9L -> "z"))
    df(7L -> "i").write.format("graft-manifest").mode("ignore").save(dir2)
    assert(contents(dir2) === Set(9L -> "z")) // table exists: ignored
    intercept[Exception] {
      df(8L -> "e").write.format("graft-manifest").mode("errorifexists").save(dir2)
    }
  }

  test("tags pin versions: readTag resolves, vacuum never collects a tagged snapshot") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a"), dir) // v1
    ManifestStore.append(df(2L -> "b"), dir) // v2
    ManifestStore.tag(spark, dir, "release-1", 1L)
    intercept[IllegalStateException] {
      ManifestStore.tag(spark, dir, "release-1", 2L) // create-only
    }
    ManifestStore.overwrite(df(9L -> "z"), dir) // v3 drops v1/v2 files from HEAD
    assert(ManifestStore.tags(spark, dir) === Map("release-1" -> 1L))
    assert(ManifestStore.readTag(spark, dir, "release-1", schema)
      .as[(Long, String)].collect().toSet === Set(1L -> "a"))
    Thread.sleep(20)
    // aggressive vacuum: keep only HEAD — but the tagged v1 must survive
    // whole (manifest AND data), while untagged v2 goes
    ManifestStore.vacuum(spark, dir, keepVersions = 1, retainMillis = 0L)
    assert(ManifestStore.readTag(spark, dir, "release-1", schema)
      .as[(Long, String)].collect().toSet === Set(1L -> "a"))
    assert(contents(dir) === Set(9L -> "z"))
    intercept[Exception] { ManifestStore.readManifest(spark, dir, 2L) }
    // retag moves the pin; deleting the tag releases it at the next vacuum
    ManifestStore.tag(spark, dir, "release-1", 3L, retag = true)
    assert(ManifestStore.tagVersion(spark, dir, "release-1") === Some(3L))
    assert(ManifestStore.deleteTag(spark, dir, "release-1"))
    Thread.sleep(20)
    ManifestStore.vacuum(spark, dir, keepVersions = 1, retainMillis = 0L)
    intercept[Exception] { ManifestStore.readManifest(spark, dir, 1L) }
    assert(ManifestStore.tags(spark, dir) === Map.empty)
    assert(contents(dir) === Set(9L -> "z"))
    // tagging a nonexistent version is refused up front
    intercept[IllegalArgumentException] {
      ManifestStore.tag(spark, dir, "bogus", 99L)
    }
  }

  test("shallow clone: zero-copy fork reads in place, auto-tag pins the source, clone diverges freely") {
    val src = tmpDir(); val dst = tmpDir() + "/clone"
    ManifestStore.append(df(1L -> "a", 2L -> "b"), src)
    ManifestStore.append(df(3L -> "c"), src)
    assert(ManifestStore.cloneShallow(spark, src, dst) === 1L)
    // reads the SOURCE's files in place — no data was copied
    assert(contents(dst) === Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(ManifestStore.countRows(spark, dst) === Some(3L)) // carried row counts
    val snap = ManifestStore.currentSnapshot(spark, dst).get
    assert(snap.op.startsWith(s"clone:$src@2#clone-"), snap.op)
    assert(snap.schema.isDefined) // schema carried: self-describing reads
    assert(ManifestStore.readLatest(spark, dst).count() === 3L)
    // the source got pinned at the cloned version by the auto tag
    val tagName = snap.op.split("#").last
    assert(ManifestStore.tagVersion(spark, src, tagName) === Some(2L))
    // the clone lives its own life without touching the source
    ManifestStore.append(df(4L -> "d"), dst)
    assert(contents(dst) === Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    assert(contents(src) === Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // the source evolves away and vacuums aggressively — the pin keeps the
    // clone's files alive
    ManifestStore.overwrite(df(9L -> "z"), src)
    Thread.sleep(20)
    ManifestStore.vacuum(spark, src, keepVersions = 1, retainMillis = 0L)
    assert(contents(dst) === Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    // vacuum on the CLONE must never touch foreign (source) files
    Thread.sleep(20)
    ManifestStore.vacuum(spark, dst, keepVersions = 1, retainMillis = 0L)
    assert(contents(dst) === Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    assert(contents(src) === Set(9L -> "z"))
    // compaction localizes the foreign references into dst-owned files
    ManifestStore.compactSmall(spark, dst, schema, minFileBytes = Long.MaxValue)
    val files = ManifestStore.currentSnapshot(spark, dst).get.files
    assert(files.forall(!_.contains(src)), files.mkString(", "))
    assert(contents(dst) === Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    // cloning into a table that already has commits is refused
    intercept[IllegalArgumentException] {
      ManifestStore.cloneShallow(spark, src, dst)
    }
  }

  test("append and overwrite round-trip with monotonically growing versions") {
    val dir = tmpDir()
    assert(ManifestStore.read(spark, dir, schema).isEmpty)
    assert(ManifestStore.append(df(1L -> "a"), dir) === 1L)
    assert(ManifestStore.append(df(2L -> "b", 3L -> "c"), dir) === 2L)
    assert(contents(dir) === Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(ManifestStore.overwrite(df(9L -> "z"), dir) === 3L)
    assert(contents(dir) === Set(9L -> "z"))
  }

  test("snapshot isolation: a resolved reader survives a later overwrite") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a", 2L -> "b"), dir)
    val snapshotReader = ManifestStore.read(spark, dir, schema) // pins v1 files
    ManifestStore.overwrite(df(3L -> "c"), dir)
    assert(snapshotReader.as[(Long, String)].collect().toSet ===
      Set(1L -> "a", 2L -> "b"))
    // and time travel reads v1 explicitly
    assert(ManifestStore.readVersion(spark, dir, 1L, schema)
      .as[(Long, String)].collect().toSet === Set(1L -> "a", 2L -> "b"))
  }

  test("a claimed version slot makes the writer re-base, not clobber") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a"), dir)
    // simulate a racing winner: hand-claim v2 with a valid manifest listing
    // v1's files (an overwrite that dropped nothing)
    val v1 = ManifestStore.readManifest(spark, dir, 1L)
    val claim = JPath.of(dir, "_manifests", "v00000002.json")
    Files.write(claim, s"""{"version":2,"op":"overwrite","files":[${
      v1.files.map(f => "\"" + f + "\"").mkString(",")}]}"""
      .getBytes(StandardCharsets.UTF_8))
    // our append must land at v3, on top of the racer's v2
    assert(ManifestStore.append(df(2L -> "b"), dir) === 3L)
    assert(contents(dir) === Set(1L -> "a", 2L -> "b"))
  }

  test("corrupt top manifest: readers fall back, writers advance past it") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a"), dir)
    Files.write(JPath.of(dir, "_manifests", "v00000002.json"),
      "{not json".getBytes(StandardCharsets.UTF_8)) // crashed writer's corpse
    assert(contents(dir) === Set(1L -> "a")) // v2 skipped, v1 serves
    assert(ManifestStore.append(df(2L -> "b"), dir) === 3L) // not blocked on 2
    assert(contents(dir) === Set(1L -> "a", 2L -> "b"))
  }

  test("vacuum drops old versions and their unreferenced data files only") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a"), dir)         // v1: files A
    ManifestStore.overwrite(df(2L -> "b"), dir)      // v2: files B (A now dead)
    ManifestStore.append(df(3L -> "c"), dir)         // v3: files B+C
    // retainMillis = 0: no concurrent writer in this test (see retention test)
    val (manifestsDropped, filesDropped) =
      ManifestStore.vacuum(spark, dir, keepVersions = 2, retainMillis = 0)
    assert(manifestsDropped === 1) // v1 gone
    assert(filesDropped >= 1)      // v1's data files unreferenced by v2/v3
    assert(contents(dir) === Set(2L -> "b", 3L -> "c")) // latest untouched
    assert(ManifestStore.readVersion(spark, dir, 2L, schema)
      .as[(Long, String)].collect().toSet === Set(2L -> "b")) // kept version reads
    intercept[Exception] { // vacuumed version is really gone
      ManifestStore.readVersion(spark, dir, 1L, schema).collect()
    }
  }

  test("compact squashes accumulated append files into one, content intact") {
    val dir = tmpDir()
    (1 to 6).foreach(i => ManifestStore.append(df(i.toLong -> s"r$i"), dir))
    val before = ManifestStore.currentSnapshot(spark, dir).get
    assert(before.files.size >= 6) // one+ file per append
    val v = ManifestStore.compact(spark, dir, schema)
    val after = ManifestStore.currentSnapshot(spark, dir).get
    assert(after.version === v && v === 7L)
    assert(after.files.size === 1)
    assert(contents(dir) === (1 to 6).map(i => i.toLong -> s"r$i").toSet)
    // pre-compaction version still time-travels until vacuumed
    assert(ManifestStore.readVersion(spark, dir, 6L, schema).count() === 6)
    val (_, dropped) = ManifestStore.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(dropped >= 6) // the small files are reclaimed
    assert(contents(dir).size === 6)
  }

  test("genuinely concurrent appends all land (O_EXCL slot claim under racing threads)") {
    // 8 threads commit simultaneously: every append must survive, every
    // version slot must be claimed exactly once. Hadoop's local
    // create(overwrite=false) is exists-check-then-create and loses rows
    // under this schedule; the java.nio O_EXCL claim does not.
    val dir = tmpDir()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val versions = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = { gate.await(); ManifestStore.append(df(i.toLong -> s"r$i"), dir) }
        })
      }
      gate.countDown()
      val claimed = versions.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(claimed.toSet.size === 8, s"slot claimed twice: $claimed")
      assert(contents(dir) === (1 to 8).map(i => i.toLong -> s"r$i").toSet)
      assert(ManifestStore.currentSnapshot(spark, dir).get.version === claimed.max)
    } finally pool.shutdownNow()
  }

  test("vacuum retention window shields fresh unreferenced files (in-flight commits)") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a"), dir)
    ManifestStore.overwrite(df(2L -> "b"), dir) // v1's files now unreferenced, but fresh
    // default retention: files younger than the window survive even though no
    // manifest references them — this is what keeps a concurrent commit's
    // just-written (not yet published) data files from being deleted
    val (_, freshDeleted) = ManifestStore.vacuum(spark, dir, keepVersions = 1)
    assert(freshDeleted === 0, "fresh unreferenced files must survive retention")
    assert(contents(dir) === Set(2L -> "b"))
    val (_, oldDeleted) = ManifestStore.vacuum(spark, dir, keepVersions = 1, retainMillis = 0)
    assert(oldDeleted >= 1) // past the window the same files are reclaimed
    assert(contents(dir) === Set(2L -> "b"))
  }

  test("many interleaved commits keep every append (optimistic retries hold)") {
    val dir = tmpDir()
    (1 to 12).foreach(i => ManifestStore.append(df(i.toLong -> s"r$i"), dir))
    assert(ManifestStore.currentSnapshot(spark, dir).get.version === 12L)
    assert(contents(dir).size === 12)
  }

  test("compactSmall rewrites only sub-threshold files; big files keep their identity") {
    val dir = tmpDir()
    // one "big" file (threshold tuned below so it stays) + 5 small appends
    ManifestStore.append(
      df((1 to 50).map(i => i.toLong -> ("pad" * 40 + i)): _*).coalesce(1), dir)
    val big = ManifestStore.currentSnapshot(spark, dir).get.files
    assert(big.size === 1)
    (100 to 104).foreach(i => ManifestStore.append(df(i.toLong -> s"r$i"), dir))
    val bigLen = {
      val f = new org.apache.hadoop.fs.Path(dir, big.head)
      f.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(f).getLen
    }
    val v = ManifestStore.compactSmall(spark, dir, schema, minFileBytes = bigLen)
    assert(v.nonEmpty)
    val after = ManifestStore.currentSnapshot(spark, dir).get
    assert(after.files.contains(big.head), "right-sized file was rewritten")
    assert(after.files.size === 2, s"smalls not squashed to one: ${after.files}")
    assert(contents(dir) ===
      ((1 to 50).map(i => i.toLong -> ("pad" * 40 + i)) ++
        (100 to 104).map(i => i.toLong -> s"r$i")).toSet)
    // idempotent: a second pass has < 2 small files left to gain from
    assert(ManifestStore.compactSmall(spark, dir, schema, minFileBytes = bigLen).isEmpty)
  }

  test("compactSmall: an append landing mid-compaction survives the rewrite") {
    val dir = tmpDir()
    (1 to 4).foreach(i => ManifestStore.append(df(i.toLong -> s"r$i"), dir))
    val v = ManifestStore.compactSmall(spark, dir, schema,
      minFileBytes = 1L << 20, targetFileBytes = 128L << 20,
      midFlight = () => { ManifestStore.append(df(99L -> "late"), dir): Unit })
    assert(v.nonEmpty)
    val after = ManifestStore.currentSnapshot(spark, dir).get
    assert(after.version === v.get)
    assert(contents(dir) ===
      ((1 to 4).map(i => i.toLong -> s"r$i") :+ (99L -> "late")).toSet)
  }

  test("compactSmall: an overwrite landing mid-compaction aborts it (no resurrection)") {
    val dir = tmpDir()
    (1 to 4).foreach(i => ManifestStore.append(df(i.toLong -> s"r$i"), dir))
    val v = ManifestStore.compactSmall(spark, dir, schema,
      minFileBytes = 1L << 20, targetFileBytes = 128L << 20,
      midFlight = () => { ManifestStore.overwrite(df(7L -> "only"), dir): Unit })
    assert(v.isEmpty, "compaction must abort when its inputs were dropped")
    assert(contents(dir) === Set(7L -> "only"))
  }

  test("manifest stats: footer bounds recorded per file, carried through append") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "aa", 5L -> "bb").coalesce(1), dir)
    ManifestStore.append(df(10L -> "cc", 20L -> "dd").coalesce(1), dir)
    val snap = ManifestStore.currentSnapshot(spark, dir).get
    assert(snap.files.size === 2)
    val byFile = snap.files.map(f => snap.stats(f))
    // the v1 file's bounds survived v2's commit untouched
    assert(byFile.map(s => (s("k").min.get.toLong, s("k").max.get.toLong)).toSet
      === Set((1L, 5L), (10L, 20L)))
    assert(byFile.map(s => (s("v").min.get, s("v").max.get)).toSet
      === Set(("aa", "bb"), ("cc", "dd")))
    assert(byFile.forall(_("k").typ === "long"))
    assert(byFile.forall(_("v").typ === "string"))
  }

  test("pruneFiles skips provably-disjoint files, keeps overlap and unknown") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a", 5L -> "b").coalesce(1), dir)
    ManifestStore.append(df(10L -> "c", 20L -> "d").coalesce(1), dir)
    ManifestStore.append(df(100L -> "e").coalesce(1), dir)
    val snap = ManifestStore.currentSnapshot(spark, dir).get
    assert(ManifestStore.pruneFiles(snap, "k", 6L, 50L).size === 1)
    assert(ManifestStore.pruneFiles(snap, "k", 5L, 10L).size === 2) // bounds inclusive
    assert(ManifestStore.pruneFiles(snap, "k", 200L, 300L).isEmpty)
    assert(ManifestStore.pruneFiles(snap, "v", "b", "c").size === 2)
    // a column with no stats (unknown) prunes nothing
    assert(ManifestStore.pruneFiles(snap, "nope", 0L, 1L).size === 3)
  }

  test("rangeScan equals full scan + filter, while reading fewer files") {
    val dir = tmpDir()
    (0 to 4).foreach(i =>
      ManifestStore.append(
        df((1 to 10).map(j => (i * 100 + j).toLong -> s"r$i-$j"): _*).coalesce(1), dir))
    val full = ManifestStore.read(spark, dir, schema)
      .filter($"k" >= 101L && $"k" <= 210L).as[(Long, String)].collect().toSet
    val snap = ManifestStore.currentSnapshot(spark, dir).get
    assert(ManifestStore.pruneFiles(snap, "k", 101L, 210L).size === 2, "5 files → 2")
    val pruned = ManifestStore.rangeScan(spark, dir, schema, "k", 101L, 210L)
      .as[(Long, String)].collect().toSet
    assert(pruned === full && full.size === 20)
    // compaction rewrites the files; the rewritten file gets fresh bounds
    ManifestStore.compactSmall(spark, dir, schema, minFileBytes = 1L << 20)
    val snap2 = ManifestStore.currentSnapshot(spark, dir).get
    assert(snap2.files.size === 1 && snap2.stats(snap2.files.head)("k").max.get.toLong === 410L)
    assert(ManifestStore.rangeScan(spark, dir, schema, "k", 101L, 210L)
      .as[(Long, String)].collect().toSet === full)
  }

  test("deleteRange: disjoint files keep identity, covered files drop, partial rewrite") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a", 5L -> "b").coalesce(1), dir)    // disjoint
    ManifestStore.append(df(10L -> "c", 20L -> "d").coalesce(1), dir)  // fully covered
    ManifestStore.append(df(25L -> "e", 40L -> "f").coalesce(1), dir)  // partial
    val before = ManifestStore.currentSnapshot(spark, dir).get
    val v = ManifestStore.deleteRange(spark, dir, schema, "k", 10L, 30L)
    assert(v.nonEmpty)
    val after = ManifestStore.currentSnapshot(spark, dir).get
    assert(after.files.contains(before.files.head), "disjoint file was rewritten")
    assert(!after.files.exists(before.files.drop(1).take(1).contains),
      "fully-covered file not dropped")
    assert(contents(dir) === Set(1L -> "a", 5L -> "b", 40L -> "f"))
    // deleted rows still time-travel until vacuum
    assert(ManifestStore.readVersion(spark, dir, before.version, schema).count() === 6)
    // a range no file can contain is a no-op: no new version
    assert(ManifestStore.deleteRange(spark, dir, schema, "k", 500L, 600L).isEmpty)
    assert(ManifestStore.currentSnapshot(spark, dir).get.version === v.get)
  }

  test("deleteRange: whole-file drop commits without any data write") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a").coalesce(1), dir)
    ManifestStore.append(df(50L -> "x", 60L -> "y").coalesce(1), dir)
    val dataDirsBefore = Files.list(JPath.of(dir)).iterator().asScala
      .count(_.getFileName.toString.startsWith("d-"))
    val v = ManifestStore.deleteRange(spark, dir, schema, "k", 50L, 60L)
    assert(v.nonEmpty)
    val dataDirsAfter = Files.list(JPath.of(dir)).iterator().asScala
      .count(_.getFileName.toString.startsWith("d-"))
    assert(dataDirsAfter === dataDirsBefore, "drop-only delete wrote data files")
    assert(contents(dir) === Set(1L -> "a"))
  }

  test("deleteRange: one-sided Unbounded ranges drop whole files and rewrite partials") {
    import ManifestStore.Unbounded
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a", 5L -> "b").coalesce(1), dir)
    ManifestStore.append(df(10L -> "c", 20L -> "d").coalesce(1), dir)
    ManifestStore.append(df(25L -> "e", 40L -> "f").coalesce(1), dir)
    val before = ManifestStore.currentSnapshot(spark, dir).get
    // k >= 10: files 2 and 3 are wholly in via the FOOTER-STATS branch
    // (hi == Unbounded must admit its side, not NumberFormatException) —
    // both drop as pure manifest edits, file 1 keeps identity
    val v = ManifestStore.deleteRange(spark, dir, schema, "k", 10L, Unbounded)
    assert(v.nonEmpty)
    val after = ManifestStore.currentSnapshot(spark, dir).get
    assert(after.files === Seq(before.files.head),
      "open-hi delete must drop covered files and touch nothing else")
    assert(contents(dir) === Set(1L -> "a", 5L -> "b"))
    // k <= 1: the survivor file is PARTIAL — the rewrite filter must build
    // one-sided (lit(Unbounded) has no literal form)
    val v2 = ManifestStore.deleteRange(spark, dir, schema, "k", Unbounded, 1L)
    assert(v2.nonEmpty)
    assert(contents(dir) === Set(5L -> "b"))
  }

  test("changes: CDC feed tracks inserts/deletes per version, skips compaction") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a", 2L -> "b"), dir)        // v1
    ManifestStore.append(df(3L -> "c"), dir)                   // v2
    ManifestStore.deleteRange(spark, dir, schema, "k", 2L, 2L) // v3: partial rewrite
    ManifestStore.compact(spark, dir, schema)                  // v4: data-neutral
    ManifestStore.overwrite(df(9L -> "z"), dir)                // v5

    def feed(from: Long, to: Long) =
      ManifestStore.changes(spark, dir, from, to, schema)
        .select($"k", $"v", $"_change_type", $"_commit_version")
        .as[(Long, String, String, Long)].collect().toSet

    assert(feed(0L, 1L) === Set((1L, "a", "insert", 1L), (2L, "b", "insert", 1L)))
    assert(feed(1L, 2L) === Set((3L, "c", "insert", 2L)))
    // the rewrite carried (1,a) into a fresh file; the feed must report only
    // the genuinely deleted row, not the carried one
    assert(feed(2L, 3L) === Set((2L, "b", "delete", 3L)))
    assert(feed(3L, 4L) === Set.empty, "compaction must emit no changes")
    assert(feed(4L, 5L) === Set((1L, "a", "delete", 5L), (3L, "c", "delete", 5L),
      (9L, "z", "insert", 5L)))
    // applying the full feed reconstructs the final snapshot
    val all = ManifestStore.changes(spark, dir, 0L, 5L, schema)
    val applied = all.filter($"_change_type" === "insert").select($"k", $"v")
      .exceptAll(all.filter($"_change_type" === "delete").select($"k", $"v"))
      .as[(Long, String)].collect().toSet
    assert(applied === contents(dir) && applied === Set(9L -> "z"))
    // an empty range yields an empty, correctly-shaped frame
    assert(ManifestStore.changes(spark, dir, 2L, 2L, schema).isEmpty)
  }

  test("upsertKeyed: replaces matched keys, inserts new, leaves disjoint files alone") {
    val dir = tmpDir()
    // bootstrap through upsert itself
    assert(ManifestStore.upsertKeyed(spark, dir, schema,
      df(1L -> "a", 2L -> "b"), "k").nonEmpty)
    ManifestStore.append(df(100L -> "far").coalesce(1), dir) // disjoint key range
    val before = ManifestStore.currentSnapshot(spark, dir).get
    val farFile = before.files.filter(f => before.stats.get(f)
      .flatMap(_.get("k")).flatMap(_.min).exists(_.toLong == 100L))
    assert(farFile.size === 1)
    val v = ManifestStore.upsertKeyed(spark, dir, schema,
      df(2L -> "B2", 3L -> "c"), "k")
    assert(v.nonEmpty)
    assert(contents(dir) === Set(1L -> "a", 2L -> "B2", 3L -> "c", 100L -> "far"))
    val after = ManifestStore.currentSnapshot(spark, dir).get
    assert(after.files.contains(farFile.head), "key-disjoint file was rewritten")
    // the CDC feed reports the upsert as exact row-level delete + insert:
    // (2,b) out, (2,B2) and (3,c) in; the carried (1,a) cancels in the diff
    val feed = ManifestStore.changes(spark, dir, v.get - 1, v.get, schema)
      .select($"k", $"v", $"_change_type").as[(Long, String, String)].collect().toSet
    assert(feed === Set((2L, "b", "delete"), (2L, "B2", "insert"), (3L, "c", "insert")))
    // metadata count stays exact
    assert(ManifestStore.countRows(spark, dir) === Some(4L))
    // a duplicate-key batch has no defined winner: refused by both upserts
    intercept[IllegalArgumentException] {
      ManifestStore.upsertKeyed(spark, dir, schema, df(7L -> "x", 7L -> "y"), "k")
    }
    intercept[IllegalArgumentException] {
      ManifestStore.upsertKeyedDv(spark, dir, schema, df(7L -> "x", 7L -> "y"), "k")
    }
  }

  test("upsertKeyed aborts when any commit lands between planning and publish") {
    val dir = tmpDir()
    ManifestStore.upsertKeyed(spark, dir, schema, df(1L -> "a"), "k")
    val v = ManifestStore.upsertKeyed(spark, dir, schema, df(1L -> "A2"), "k",
      midFlight = () => { ManifestStore.append(df(1L -> "racer"), dir): Unit })
    assert(v.isEmpty, "upsert must abort on a concurrent commit (same-key hazard)")
    // the racer's append survived; the aborted upsert changed nothing
    assert(contents(dir) === Set(1L -> "a", 1L -> "racer"))
    // a clean retry then lands
    assert(ManifestStore.upsertKeyed(spark, dir, schema, df(1L -> "A2"), "k").nonEmpty)
    assert(contents(dir) === Set(1L -> "A2"))
  }

  test("mergeRows aborts when any commit lands between planning and publish") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a", 2L -> "b"), dir)
    def src = df(2L -> "B", 3L -> "c")
      .select($"k".as("__s_k"), $"v".as("__s_v"))
    val upd = Seq(ManifestStore.MergeClause(None,
      Some(Map("v" -> $"__s_v"))))
    val ins = Seq(ManifestStore.MergeClause(None,
      Some(Map("k" -> $"__s_k", "v" -> $"__s_v"))))
    val keys = Seq("k" -> ($"__s_k": org.apache.spark.sql.Column))
    val v = ManifestStore.mergeRows(spark, dir, schema, src,
      $"k" === $"__s_k", upd, ins, Nil, keys,
      () => { ManifestStore.append(df(9L -> "racer"), dir): Unit })
    assert(v.isEmpty, "merge must abort on a concurrent commit (its " +
      "matched/not-matched classification is snapshot-wide)")
    assert(contents(dir) === Set(1L -> "a", 2L -> "b", 9L -> "racer"))
    // staging copies are dropped even on the abort path
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("tmp-merge-")))
    // a clean retry lands: partial update keeps k, insert adds the new key
    assert(ManifestStore.mergeRows(spark, dir, schema, src,
      $"k" === $"__s_k", upd, ins, Nil, keys).nonEmpty)
    assert(contents(dir) === Set(1L -> "a", 2L -> "B", 3L -> "c", 9L -> "racer"))
    assert(ManifestStore.currentSnapshot(spark, dir).get.op === "merge-dv")
  }

  test("lookup prunes to the files admitting the probed keys, results exact") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a", 5L -> "b").coalesce(1), dir)
    ManifestStore.append(df(10L -> "c", 20L -> "d").coalesce(1), dir)
    ManifestStore.append(df(100L -> "e", 110L -> "f").coalesce(1), dir)
    val snap = ManifestStore.currentSnapshot(spark, dir).get
    assert(ManifestStore.pruneFilesIn(snap, "k", Seq(5L, 105L)).size === 2,
      "probe keys in two files' bounds must keep exactly those files")
    assert(ManifestStore.lookup(spark, dir, schema, "k", Seq(5L, 105L))
      .as[(Long, String)].collect().toSet === Set(5L -> "b"))
    assert(ManifestStore.lookup(spark, dir, schema, "k", Seq(10L, 110L))
      .as[(Long, String)].collect().toSet === Set(10L -> "c", 110L -> "f"))
  }

  test("compactSmall with zorderCols re-clusters: output file bounds are disjoint") {
    val dir = tmpDir()
    // interleaved appends: every small file spans nearly the full k range,
    // so stats pruning on k is useless before the clustered rewrite
    (0 until 4).foreach { i =>
      ManifestStore.append(
        df((0 until 10).map(j => (j * 4 + i).toLong -> s"r$i-$j"): _*).coalesce(1), dir)
    }
    val before = ManifestStore.currentSnapshot(spark, dir).get
    assert(ManifestStore.pruneFiles(before, "k", 0L, 9L).size === 4,
      "arrival clustering should prune nothing")
    val v = ManifestStore.compactSmall(spark, dir, schema,
      minFileBytes = 1L << 20, targetFileBytes = 1L, zorderCols = Seq("k"))
    assert(v.nonEmpty)
    val after = ManifestStore.currentSnapshot(spark, dir).get
    assert(after.files.size >= 2, "tiny target should split the rewrite")
    // clustered output: k bounds must not overlap across files, and a
    // point-range read now prunes to a strict subset
    val bounds = after.files.map(f => after.stats(f)("k"))
      .map(cs => (cs.min.get.toLong, cs.max.get.toLong)).sortBy(_._1)
    bounds.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlapping bounds $bounds")
      case _ =>
    }
    assert(ManifestStore.pruneFiles(after, "k", 0L, 9L).size < after.files.size)
    assert(contents(dir).size === 40) // nothing lost in the re-cluster
  }

  test("property: the change feed reconstructs every version of a random schedule") {
    // randomized commit schedule over every op kind; after each commit the
    // cumulative feed (inserts minus deletes) must equal the snapshot —
    // the invariant that makes the log a faithful history of the table
    val dir = tmpDir()
    val rnd = new scala.util.Random(42424242L)
    var nextId = 0L
    def batch(n: Int) = df((0 until n).map { _ =>
      nextId += 1; nextId -> s"r$nextId"
    }: _*)
    (1 to 8).foreach { _ =>
      rnd.nextInt(5) match {
        case 0 | 1 => ManifestStore.append(batch(rnd.nextInt(3) + 1), dir)
        case 2 => ManifestStore.upsertKeyed(spark, dir, schema,
          batch(rnd.nextInt(2) + 1), "k")
        case 3 if nextId > 2 =>
          val lo = rnd.nextLong(nextId) + 1
          ManifestStore.deleteRange(spark, dir, schema, "k", lo,
            math.min(nextId, lo + 2))
        case _ => ManifestStore.compactSmall(spark, dir, schema,
          minFileBytes = 1L << 20)
      }
      ManifestStore.currentSnapshot(spark, dir).foreach { snap =>
        val feed = ManifestStore.changes(spark, dir, 0L, snap.version, schema)
        val applied = feed.filter($"_change_type" === "insert").select($"k", $"v")
          .exceptAll(feed.filter($"_change_type" === "delete").select($"k", $"v"))
          .as[(Long, String)].collect().toSet
        assert(applied === contents(dir),
          s"feed diverged from snapshot at v${snap.version}")
        // and the metadata count stays exact through every op kind
        assert(ManifestStore.countRows(spark, dir) ===
          Some(ManifestStore.read(spark, dir, schema).count()))
      }
    }
  }

  test("changesKeyed classifies same-key delete+insert as update pre/postimage") {
    val dir = tmpDir()
    ManifestStore.upsertKeyed(spark, dir, schema, df(1L -> "a", 2L -> "b"), "k") // v1
    val v = ManifestStore.upsertKeyed(spark, dir, schema,
      df(2L -> "B2", 3L -> "c"), "k").get                                        // v2
    val feed = ManifestStore.changesKeyed(spark, dir, v - 1, v, schema, "k")
      .select($"k", $"v", $"_change_type").as[(Long, String, String)].collect().toSet
    assert(feed === Set(
      (2L, "b", "update_preimage"), (2L, "B2", "update_postimage"),
      (3L, "c", "insert")))
    // a pure delete stays a delete
    ManifestStore.deleteRange(spark, dir, schema, "k", 3L, 3L)                   // v3
    val feed2 = ManifestStore.changesKeyed(spark, dir, v, v + 1, schema, "k")
      .select($"k", $"_change_type").as[(Long, String)].collect().toSet
    assert(feed2 === Set((3L, "delete")))
  }

  test("racing upserts on one key: losers abort and converge on retry") {
    val dir = tmpDir()
    ManifestStore.upsertKeyed(spark, dir, schema, df(1L -> "base"), "k")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val futures = Seq("A", "B").map { tag =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            gate.await()
            var v: Option[Long] = None
            while (v.isEmpty) // abort → retry against the fresh snapshot
              v = ManifestStore.upsertKeyed(spark, dir, schema, df(1L -> tag), "k")
            v.get
          }
        })
      }
      gate.countDown()
      val versions = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versions.toSet.size === 2, s"both upserts must land, got $versions")
      val out = contents(dir)
      assert(out.size === 1 && Set("A", "B").contains(out.head._2),
        s"key-uniqueness broke under racing merges: $out")
    } finally pool.shutdownNow()
  }

  test("countRows answers from the manifest alone; unknown files make it None") {
    val dir = tmpDir()
    assert(ManifestStore.countRows(spark, dir).isEmpty) // no table yet
    ManifestStore.append(df(1L -> "a", 2L -> "b"), dir)
    ManifestStore.append(df(3L -> "c"), dir)
    assert(ManifestStore.countRows(spark, dir) === Some(3L))
    ManifestStore.deleteRange(spark, dir, schema, "k", 2L, 2L)
    assert(ManifestStore.countRows(spark, dir) === Some(2L))
    assert(ManifestStore.countRows(spark, dir).get ===
      ManifestStore.read(spark, dir, schema).count())
    // a manifest written without row counts (older writer) → honest None
    val snap = ManifestStore.currentSnapshot(spark, dir).get
    Files.write(JPath.of(dir, "_manifests", "v00000099.json"),
      s"""{"version":99,"op":"append","files":[${
        snap.files.map(f => "\"" + f + "\"").mkString(",")}]}"""
        .getBytes(StandardCharsets.UTF_8))
    assert(ManifestStore.countRows(spark, dir).isEmpty)
  }

  test("versionAsOf resolves wall-clock time travel via publish instants") {
    val dir = tmpDir()
    assert(ManifestStore.versionAsOf(spark, dir, Long.MaxValue).isEmpty)
    ManifestStore.append(df(1L -> "a"), dir)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100) // local FS mtime can be second-granular
    ManifestStore.append(df(2L -> "b"), dir)
    assert(ManifestStore.versionAsOf(spark, dir, afterV1) === Some(1L))
    assert(ManifestStore.versionAsOf(spark, dir, System.currentTimeMillis())
      === Some(2L))
    assert(ManifestStore.versionAsOf(spark, dir, 0L).isEmpty) // before the table
  }

  test("manifest-recorded schema: self-describing read, widening-only evolution") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a"), dir)
    assert(ManifestStore.readLatest(spark, dir).columns.toSeq === Seq("k", "v"))
    // a batch with a new column widens the recorded schema
    ManifestStore.append(Seq((2L, "b", 3.5)).toDF("k", "v", "w"), dir)
    val widened = ManifestStore.readLatest(spark, dir)
    assert(widened.columns.toSeq === Seq("k", "v", "w"))
    assert(widened.as[(Long, String, Option[Double])].collect().toSet ===
      Set((1L, "a", None), (2L, "b", Some(3.5))))
    // a type CHANGE on an existing column is refused at commit
    intercept[IllegalArgumentException] {
      ManifestStore.append(Seq((3L, 9L, 1.0)).toDF("k", "v", "w"), dir)
    }
    // a drop-only delete carries the schema through an empty-fresh commit
    ManifestStore.deleteRange(spark, dir, schema, "k", 1L, 1L)
    assert(ManifestStore.readLatest(spark, dir).columns.toSeq === Seq("k", "v", "w"))
  }

  test("schema evolution: a widened read schema null-fills pre-evolution files") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a"), dir) // written under (k, v)
    val wide = StructType.fromDDL("k BIGINT, v STRING, w DOUBLE")
    ManifestStore.append(Seq((2L, "b", 3.5)).toDF("k", "v", "w"), dir)
    // new readers see the union schema; the old file's w is null
    assert(ManifestStore.read(spark, dir, wide)
      .as[(Long, String, Option[Double])].collect().toSet ===
      Set((1L, "a", None), (2L, "b", Some(3.5))))
    // old narrow readers keep working against the evolved table
    assert(contents(dir) === Set(1L -> "a", 2L -> "b"))
    // stats-planned reads stay safe: the pre-evolution file has no bounds
    // for w, so it is kept (unknown, never wrongly pruned) and its rows
    // surface as null — filtered by the exact row-level bound re-check
    assert(ManifestStore.rangeScan(spark, dir, wide, "w", 0.0, 10.0)
      .as[(Long, String, Option[Double])].collect().toSet ===
      Set((2L, "b", Some(3.5))))
    // the CDC feed reads the range under the evolved schema the same way
    val feed = ManifestStore.changes(spark, dir, 0L, 2L, wide)
      .select($"k", $"w", $"_change_type")
      .as[(Long, Option[Double], String)].collect().toSet
    assert(feed === Set((1L, None, "insert"), (2L, Some(3.5), "insert")))
  }

  test("upsertKeyed: multiple null-key rows are legal pure inserts, not duplicates") {
    // both upserts share the duplicate-key guard and its null exemption
    val upserts = Seq[(String, org.apache.spark.sql.DataFrame, String) => Option[Long]](
      ManifestStore.upsertKeyed(spark, _, schema, _, _),
      ManifestStore.upsertKeyedDv(spark, _, schema, _, _))
    upserts.foreach { upsert =>
      val dir = tmpDir()
      upsert(dir, df(1L -> "a"), "k")
      // null keys match nothing → always insert; two of them must NOT trip
      // the duplicate-key guard (round-4 advice: the guard grouped nulls)
      val batch = Seq[(java.lang.Long, String)]((null, "n1"), (null, "n2"), (2L, "b"))
        .toDF("k", "v")
      val v = upsert(dir, batch, "k")
      assert(v.nonEmpty)
      val out = ManifestStore.read(spark, dir, schema)
        .as[(Option[Long], String)].collect().toSet
      assert(out === Set(Some(1L) -> "a", Some(2L) -> "b", None -> "n1", None -> "n2"))
    }
  }

  test("mergeSchemas widens nullability and never narrows it") {
    val prev = StructType.fromDDL("a BIGINT NOT NULL, b STRING NOT NULL, c BIGINT")
    val next = StructType.fromDDL("a BIGINT NOT NULL, d STRING NOT NULL")
    val merged = ManifestStore.mergeSchemas(prev, next)
    val byName = merged.fields.map(f => f.name -> f.nullable).toMap
    // present in both, non-nullable on both sides → stays non-nullable
    assert(byName("a") === false)
    // absent from the batch → new files null-fill it → MUST widen
    assert(byName("b") === true)
    // nullable before → stays nullable
    assert(byName("c") === true)
    // batch-only additions are always nullable (old files null-fill them)
    assert(byName("d") === true)
    // a column nullable on the prior side stays nullable even if the batch
    // declares it non-nullable
    val renarrow = ManifestStore.mergeSchemas(
      StructType.fromDDL("x BIGINT"), StructType.fromDDL("x BIGINT NOT NULL"))
    assert(renarrow.fields.head.nullable === true)
  }

  test("partitioned append records per-file partition values and prunes on them alone") {
    val dir = tmpDir()
    val rows = Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"), (4L, "d", "fr"))
      .toDF("k", "v", "lang")
    val pschema = StructType.fromDDL("k BIGINT, v STRING, lang STRING")
    assert(ManifestStore.appendPartitioned(rows, dir, Seq("lang")) === 1L)
    // full read sees every row WITH the partition column (it stays in the
    // data files — hidden-clone layout)
    assert(ManifestStore.read(spark, dir, pschema)
      .as[(Long, String, String)].collect().toSet === rows.as[(Long, String, String)].collect().toSet)
    val snap = ManifestStore.currentSnapshot(spark, dir).get
    // one partition value per file, recorded explicitly in the manifest
    assert(snap.parts.nonEmpty && snap.files.forall(f =>
      snap.parts.get(f).exists(_.get("lang").exists(Set("en", "de", "fr")))))
    // pruning decides from the PARTITION value even with footer stats
    // stripped — the whole-partition metadata prune footerless writers need
    val noStats = snap.copy(stats = Map.empty)
    val enOnly = ManifestStore.pruneFiles(noStats, "lang", "en", "en")
    assert(enOnly.nonEmpty && enOnly.forall(f => snap.parts(f)("lang") == "en"))
    assert(enOnly.size < snap.files.size, "non-matching partitions must prune")
    // rangeScan returns exactly the partition's rows
    assert(ManifestStore.rangeScan(spark, dir, pschema, "lang", "en", "en")
      .as[(Long, String, String)].collect().toSet ===
      Set((1L, "a", "en"), (2L, "b", "en")))
    // partitioned and unpartitioned commits share one lineage: the new
    // file has no parts entry (stats prune it), old entries survive
    ManifestStore.append(Seq((9L, "z", "de")).toDF("k", "v", "lang"), dir)
    val snap2 = ManifestStore.currentSnapshot(spark, dir).get
    assert(snap2.parts.keySet === snap.parts.keySet)
    assert(ManifestStore.rangeScan(spark, dir, pschema, "lang", "de", "de")
      .as[(Long, String, String)].collect().toSet ===
      Set((3L, "c", "de"), (9L, "z", "de")))
    // hive escaping round-trips: a value with '=' and space
    val dir2 = tmpDir()
    ManifestStore.appendPartitioned(
      Seq((1L, "x", "a=b c")).toDF("k", "v", "lang"), dir2, Seq("lang"))
    val s2 = ManifestStore.currentSnapshot(spark, dir2).get
    assert(s2.parts.values.exists(_.get("lang").contains("a=b c")))
    assert(ManifestStore.read(spark, dir2, pschema)
      .as[(Long, String, String)].collect().toSet === Set((1L, "x", "a=b c")))
  }

  test("deleteRange drops whole partitions as pure manifest edits, no rewrite") {
    val dir = tmpDir()
    val pschema = StructType.fromDDL("k BIGINT, v STRING, lang STRING")
    ManifestStore.appendPartitioned(
      Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"), (4L, "d", "fr"))
        .toDF("k", "v", "lang"), dir, Seq("lang"))
    val before = ManifestStore.currentSnapshot(spark, dir).get
    // the partition value alone must carry the whole-file proof — even
    // with footer stats stripped from the manifest's view of the world
    val strippedProof = before.copy(stats = Map.empty)
    assert(ManifestStore.pruneFiles(strippedProof, "lang", "de", "de").nonEmpty)
    val v = ManifestStore.deleteRange(spark, dir, pschema, "lang", "de", "de")
    assert(v.nonEmpty)
    val after = ManifestStore.currentSnapshot(spark, dir).get
    // drop-only commit: strictly fewer files, every survivor carried over,
    // no fresh files written
    assert(after.files.toSet.subsetOf(before.files.toSet))
    assert(after.files.size < before.files.size)
    assert(ManifestStore.read(spark, dir, pschema)
      .as[(Long, String, String)].collect().toSet ===
      Set((1L, "a", "en"), (2L, "b", "en"), (4L, "d", "fr")))
  }

  test("scanWhere prunes on every conjunct: partition value AND key stats together") {
    val dir = tmpDir()
    val pschema = StructType.fromDDL("k BIGINT, v STRING, lang STRING")
    // two partitions × two key ranges → four files, each prunable on a
    // different conjunct
    ManifestStore.appendPartitioned(
      Seq((1L, "a", "en"), (2L, "b", "de")).toDF("k", "v", "lang"), dir, Seq("lang"))
    ManifestStore.appendPartitioned(
      Seq((100L, "c", "en"), (200L, "d", "de")).toDF("k", "v", "lang"), dir, Seq("lang"))
    val snap = ManifestStore.currentSnapshot(spark, dir).get
    assert(snap.files.size === 4)
    // lang=en (partition metadata) AND k<=50 (footer stats) keeps ONE file
    val kept = ManifestStore.pruneFilesWhere(snap,
      Seq(("lang", "en", "en"), ("k", 0L, 50L)))
    assert(kept.size === 1, kept.toString)
    assert(ManifestStore.scanWhere(spark, dir, pschema,
        Seq(("lang", "en", "en"), ("k", 0L, 50L)))
      .as[(Long, String, String)].collect().toSet === Set((1L, "a", "en")))
    // the composite result always equals full-scan + filter
    assert(ManifestStore.scanWhere(spark, dir, pschema,
        Seq(("k", 0L, 150L))).count() === 3)
  }

  test("compactSmall preserves partition values: groups per partition, never mixes") {
    val dir = tmpDir()
    val pschema = StructType.fromDDL("k BIGINT, v STRING, lang STRING")
    // two commits → two small files per partition value
    ManifestStore.appendPartitioned(
      Seq((1L, "a", "en"), (2L, "b", "de")).toDF("k", "v", "lang"), dir, Seq("lang"))
    ManifestStore.appendPartitioned(
      Seq((3L, "c", "en"), (4L, "d", "de")).toDF("k", "v", "lang"), dir, Seq("lang"))
    val before = ManifestStore.currentSnapshot(spark, dir).get
    assert(before.files.size === 4)
    val v = ManifestStore.compactSmall(spark, dir, pschema, minFileBytes = 1L << 20)
    assert(v.nonEmpty)
    val after = ManifestStore.currentSnapshot(spark, dir).get
    // one output per partition group, each still carrying its value
    assert(after.files.size === 2, after.files.toString)
    assert(after.files.forall(f => after.parts.get(f).exists(p =>
      Set("en", "de").contains(p("lang")))), after.parts.toString)
    // partition pruning still works from metadata alone after compaction
    val noStats = after.copy(stats = Map.empty)
    val enOnly = ManifestStore.pruneFiles(noStats, "lang", "en", "en")
    assert(enOnly.size === 1 && after.parts(enOnly.head)("lang") === "en")
    // and the data round-trips
    assert(ManifestStore.read(spark, dir, pschema)
      .as[(Long, String, String)].collect().toSet ===
      Set((1L, "a", "en"), (2L, "b", "de"), (3L, "c", "en"), (4L, "d", "de")))
    // a lone small file per partition gains nothing: no-op, not a mix
    val dir2 = tmpDir()
    ManifestStore.appendPartitioned(
      Seq((1L, "a", "en"), (2L, "b", "de")).toDF("k", "v", "lang"), dir2, Seq("lang"))
    assert(ManifestStore.compactSmall(spark, dir2, pschema, minFileBytes = 1L << 20).isEmpty)
  }

  test("bounded compactSmall drains debt one partition group per call, converges") {
    val dir = tmpDir()
    val pschema = StructType.fromDDL("k BIGINT, v STRING, lang STRING")
    // three commits → three small files in each of three partition groups
    (0 until 3).foreach { i =>
      ManifestStore.appendPartitioned(
        Seq((i * 10 + 1L, "a", "en"), (i * 10 + 2L, "b", "de"),
          (i * 10 + 3L, "c", "fr")).toDF("k", "v", "lang"), dir, Seq("lang"))
    }
    val before = ManifestStore.currentSnapshot(spark, dir).get
    assert(before.files.size === 9)
    val want = ManifestStore.read(spark, dir, pschema)
      .as[(Long, String, String)].collect().toSet
    // a cap below any group's input still takes exactly ONE group (the
    // ≥1 rule: an oversized group must not stall the walk)
    def langsOf(s: ManifestStore.Snapshot): Map[String, Int] =
      s.files.groupBy(f => s.parts(f)("lang")).map { case (l, fs) => l -> fs.size }
    val v1 = ManifestStore.compactSmall(spark, dir, pschema,
      minFileBytes = 1L << 20, maxInputBytes = Some(1L))
    assert(v1.nonEmpty)
    val s1 = ManifestStore.currentSnapshot(spark, dir).get
    assert(langsOf(s1).values.toSeq.sorted === Seq(1, 3, 3),
      s"exactly one group compacts per bounded call: ${langsOf(s1)}")
    // untouched groups keep their file IDENTITIES (no hidden rewrite)
    assert(s1.files.count(before.files.toSet) === 6)
    // repeated calls drain the remaining groups, then converge to None
    assert(ManifestStore.compactSmall(spark, dir, pschema,
      minFileBytes = 1L << 20, maxInputBytes = Some(1L)).nonEmpty)
    assert(ManifestStore.compactSmall(spark, dir, pschema,
      minFileBytes = 1L << 20, maxInputBytes = Some(1L)).nonEmpty)
    assert(ManifestStore.compactSmall(spark, dir, pschema,
      minFileBytes = 1L << 20, maxInputBytes = Some(1L)).isEmpty,
      "drained debt must converge to None")
    val sEnd = ManifestStore.currentSnapshot(spark, dir).get
    assert(langsOf(sEnd).values.toSeq.sorted === Seq(1, 1, 1))
    // rows exact through the whole walk
    assert(ManifestStore.read(spark, dir, pschema)
      .as[(Long, String, String)].collect().toSet === want)
    // a generous cap covering two groups' input takes two in one call
    val dir2 = tmpDir()
    (0 until 2).foreach { i =>
      ManifestStore.appendPartitioned(
        Seq((i + 1L, "a", "en"), (i + 10L, "b", "de"),
          (i + 20L, "c", "fr")).toDF("k", "v", "lang"), dir2, Seq("lang"))
    }
    val s2 = ManifestStore.currentSnapshot(spark, dir2).get
    // total − 1 admits any two groups but never all three, whatever
    // order the deterministic walk visits them in
    val cap2 = s2.files.map(f => s2.sizes(f)).sum - 1
    assert(ManifestStore.compactSmall(spark, dir2, pschema,
      minFileBytes = 1L << 20, maxInputBytes = Some(cap2)).nonEmpty)
    val s3 = ManifestStore.currentSnapshot(spark, dir2).get
    assert(langsOf(s3).values.toSeq.sorted === Seq(1, 1, 2),
      s"cap covering two groups compacts exactly two: ${langsOf(s3)}")
    // SQL surface: the bounded arg reaches the procedure
    assert(!spark.sql(s"CALL graft.compact_small('$dir2', 1, 128, '', 1)")
      .head().isNullAt(0))
    assert(spark.sql(s"CALL graft.compact_small('$dir2', 1, 128, '', 1)")
      .head().isNullAt(0), "second bounded CALL on drained debt is NULL")
  }

  test("vacuum walks partitioned subtrees: orphans go, live nested files stay") {
    val dir = tmpDir()
    val pschema = StructType.fromDDL("k BIGINT, v STRING, lang STRING")
    ManifestStore.appendPartitioned(
      Seq((1L, "a", "en"), (2L, "b", "de")).toDF("k", "v", "lang"), dir, Seq("lang")) // v1
    ManifestStore.overwrite(Seq((9L, "z", "en")).toDF("k", "v", "lang"), dir)        // v2
    ManifestStore.appendPartitioned(
      Seq((10L, "y", "fr")).toDF("k", "v", "lang"), dir, Seq("lang"))                // v3
    // keep only the latest version, no retention delay: v1's nested
    // partitioned files are orphans now and must be walked + deleted.
    // v3 is a DELTA based on v2, so the chain closure retains v2's
    // manifest (not its data) — only v1's manifest drops
    val (manifestsDropped, dataDeleted) =
      ManifestStore.vacuum(spark, dir, keepVersions = 1, retainMillis = 0L)
    assert(manifestsDropped === 1 && dataDeleted >= 2, s"($manifestsDropped, $dataDeleted)")
    // the live table is untouched — including the NESTED v3 files a
    // one-level listing would have missed when judging dirs empty
    assert(ManifestStore.read(spark, dir, pschema)
      .as[(Long, String, String)].collect().toSet ===
      Set((9L, "z", "en"), (10L, "y", "fr")))
  }

  test("pruneFilesAnyOf: stats / identity / bucket evidence, safe fallbacks") {
    // stats evidence: three disjoint-range single-file appends; a probe
    // set intersecting two of the ranges keeps exactly those files
    val dir = tmpDir()
    Seq(0L, 100L, 200L).foreach { base =>
      ManifestStore.append(
        (base until base + 10L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), dir)
    }
    val s1 = ManifestStore.currentSnapshot(spark, dir).get
    assert(s1.files.size === 3)
    assert(ManifestStore.pruneFilesAnyOf(s1, "k", Array(5L)).size === 1)
    assert(ManifestStore.pruneFilesAnyOf(s1, "k", Array(5L, 205L)).size === 2)
    assert(ManifestStore.pruneFilesAnyOf(s1, "k", Array(50L, 150L)).isEmpty)
    // empty probe set and non-integral columns keep everything (the
    // caller's row-level join stays the truth)
    assert(ManifestStore.pruneFilesAnyOf(s1, "k", Array.empty[Long]) === s1.files)
    assert(ManifestStore.pruneFilesAnyOf(s1, "v", Array(5L)) === s1.files)
    // readAnyOf executes exactly the kept files and is row-complete for
    // the probed keys
    val pruned = ManifestStore.readAnyOf(spark, dir, schema, "k", Array(5L, 205L))
    assert(pruned.inputFiles.length === 2)
    assert(pruned.filter($"k".isin(5L, 205L)).as[(Long, String)].collect().toSet ===
      Set(5L -> "v5", 205L -> "v205"))

    // identity partition evidence beats stats: same k range in every file,
    // but the recorded partition value separates them
    val dir2 = tmpDir()
    ManifestStore.appendPartitioned(
      Seq((1L, 1L, "a"), (2L, 1L, "b"), (1L, 2L, "c"), (2L, 2L, "d"))
        .toDF("p", "k", "v"), dir2, Seq("p"))
    val s2 = ManifestStore.currentSnapshot(spark, dir2).get
    assert(s2.files.size >= 2)
    val keptP = ManifestStore.pruneFilesAnyOf(s2, "p", Array(1L))
    assert(keptP.nonEmpty && keptP.size < s2.files.size)

    // bucket transform evidence: recorded ordinal ∈ transformed probe set;
    // equality vs the full scan proves the evidence never over-prunes
    val dir3 = tmpDir()
    ManifestStore.appendPartitioned(
      (0L until 64L).map(k => (k, s"v$k")).toDF("k", "v"), dir3,
      Seq("bucket(8,k)"))
    val s3 = ManifestStore.currentSnapshot(spark, dir3).get
    assert(s3.files.size === 8)
    val probe = Array(3L, 17L)
    val kept3 = ManifestStore.pruneFilesAnyOf(s3, "k", probe)
    assert(kept3.size <= 2 && kept3.nonEmpty)
    val got = ManifestStore.readAnyOf(spark, dir3, schema, "k", probe)
      .filter($"k".isin(probe.toSeq: _*)).as[(Long, String)].collect().toSet
    assert(got === Set(3L -> "v3", 17L -> "v17"))
  }

  test("deleteRange keeps null rows even when a file's bounds sit inside the range") {
    val dir = tmpDir()
    val rows = Seq[(java.lang.Long, String)]((10L, "in"), (null, "keepme"), (20L, "in2"))
    ManifestStore.append(
      rows.toDF("k", "v").coalesce(1), dir)
    val v = ManifestStore.deleteRange(spark, dir, schema, "k", 0L, 100L)
    assert(v.nonEmpty)
    val out = ManifestStore.read(spark, dir, schema).collect()
    assert(out.length === 1 && out.head.isNullAt(0) && out.head.getString(1) === "keepme")
  }

  test("snapshot cache: a committed version parses once; new commits and " +
       "dir reuse invalidate") {
    val dir = tmpDir()
    ManifestStore.append(df(1L -> "a"), dir)
    val s1 = ManifestStore.currentSnapshot(spark, dir).get
    // second read of the same immutable version serves the CACHED parse
    // (object identity — the metadata analog of not re-scanning data)
    assert(ManifestStore.currentSnapshot(spark, dir).get eq s1)
    // a new commit is seen immediately (version listing is never cached)
    ManifestStore.append(df(2L -> "b", 3L -> "c"), dir)
    val s2 = ManifestStore.currentSnapshot(spark, dir).get
    assert(s2.version === s1.version + 1)
    // time travel back to v1 serves the cached first parse
    assert(ManifestStore.readManifest(spark, dir, s1.version) eq s1)
    // pathological dir reuse: delete the table, recreate the SAME version
    // number with different content — the stat validation (length/mtime)
    // must reject the stale entry instead of serving it
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    ManifestStore.append(df(10L -> "x", 11L -> "y", 12L -> "z"), dir)
    val s3 = ManifestStore.currentSnapshot(spark, dir).get
    assert(s3.version === s1.version && !(s3 eq s1))
    assert(contents(dir) === Set(10L -> "x", 11L -> "y", 12L -> "z"))
  }
}
