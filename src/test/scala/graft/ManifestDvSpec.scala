package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.ManifestStore

/** Merge-on-read deletion vectors ([[ManifestStore.deleteWhere]]).
  * Contracts pinned here: a delete commit is metadata + sidecar only (data
  * files keep their identity), reads/counts are exact and cumulative
  * deletes never double-count, [[ManifestStore.changes]] reports exactly
  * the tombstoned rows, every rewrite path (compact, compactSmall,
  * upsertKeyed, deleteRange) reads the LOGICAL view and so materializes
  * tombstones instead of resurrecting them, concurrent tombstones abort
  * rewrites through the dv guard, clones carry dvs, and vacuum keeps live
  * sidecars while collecting orphaned ones.
  */
class ManifestDvSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType.fromDDL("k BIGINT, v STRING")

  private def tmpDir(): String =
    Files.createTempDirectory("graft-dv").toString

  private def strideDf(start: Int) =
    (start until 300 by 3).map(i => (i.toLong, s"s$i")).toDF("k", "v").repartition(1)

  private def snap(dir: String) = ManifestStore.currentSnapshot(spark, dir).get

  private def keys(dir: String): Set[Long] =
    ManifestStore.read(spark, dir, schema).as[(Long, String)].collect().map(_._1).toSet

  /** The directories directly under the table root (data, sidecar and
    * staging prefixes) — a writer that commits nothing must leave this
    * set as it found it.
    */
  private def topDirs(dir: String): Set[String] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet

  private def threeFileTable(): String = {
    val dir = tmpDir()
    ManifestStore.append(strideDf(0), dir)
    ManifestStore.append(strideDf(1), dir)
    ManifestStore.append(strideDf(2), dir)
    dir
  }

  test("deleteWhere tombstones without rewriting; counts exact and cumulative") {
    val dir = threeFileTable()
    val before = snap(dir)
    val all = (0L until 300L).toSet
    assert(ManifestStore.countRows(spark, dir) === Some(300L))

    val v1 = ManifestStore.deleteWhere(spark, dir, schema, col("k") % 7 === 0)
    assert(v1.isDefined)
    val s1 = snap(dir)
    assert(s1.op === "delete-dv")
    assert(s1.files === before.files) // no data file rewritten
    val afterFirst = all.filterNot(_ % 7 == 0)
    assert(keys(dir) === afterFirst)
    assert(ManifestStore.countRows(spark, dir) === Some(afterFirst.size.toLong))
    // stats/blooms/partition metadata survive untouched
    assert(s1.stats === before.stats && s1.rows === before.rows)

    // second delete overlaps the first at multiples of 35: only LIVE rows
    // tombstone, so counts stay exact
    val v2 = ManifestStore.deleteWhere(spark, dir, schema, col("k") % 5 === 0)
    assert(v2.get > v1.get)
    val afterSecond = afterFirst.filterNot(_ % 5 == 0)
    assert(keys(dir) === afterSecond)
    assert(ManifestStore.countRows(spark, dir) === Some(afterSecond.size.toLong))
    // per-file refs accumulate sidecars
    assert(snap(dir).dvs.values.exists(_.files.size >= 2))

    // a no-match delete is a no-op returning the current version, and
    // its empty sidecar does not outlive the call
    val dirsBefore = topDirs(dir)
    assert(ManifestStore.deleteWhere(spark, dir, schema, col("k") > 1000L)
      === Some(v2.get))
    assert(snap(dir).version === v2.get)
    assert(topDirs(dir) === dirsBefore)

    // time travel still sees the rows
    assert(ManifestStore.readVersion(spark, dir, before.version, schema)
      .count() === 300L)
  }

  test("changes reports exactly the tombstoned rows; compaction materializes") {
    val dir = threeFileTable()
    val v0 = snap(dir).version
    ManifestStore.deleteWhere(spark, dir, schema, col("k") % 7 === 0)
    val v1 = snap(dir).version
    val feed = ManifestStore.changes(spark, dir, v0, v1, schema)
      .select(col("k"), col("_change_type"), col("_commit_op")).collect()
    assert(feed.forall(r => r.getString(1) == "delete" && r.getString(2) == "delete-dv"))
    assert(feed.map(_.getLong(0)).toSet === (0L until 300L).filter(_ % 7 == 0).toSet)

    // clone carries the tombstones
    val cl = tmpDir()
    ManifestStore.cloneShallow(spark, dir, cl)
    assert(keys(cl) === (0L until 300L).filterNot(_ % 7 == 0).toSet)

    // compaction reads the logical view: dvs drop, rows stay correct
    ManifestStore.compact(spark, dir, schema, numFiles = 1)
    val sc = snap(dir)
    assert(sc.dvs.isEmpty)
    assert(keys(dir) === (0L until 300L).filterNot(_ % 7 == 0).toSet)
    assert(ManifestStore.countRows(spark, dir) === Some(257L))
    // the compact commit stays silent in the feed (logically neutral)
    assert(ManifestStore.changes(spark, dir, v1, sc.version, schema).count() === 0L)
  }

  test("rewrite paths read the logical view; concurrent tombstones abort them") {
    val dir = threeFileTable()
    ManifestStore.deleteWhere(spark, dir, schema, col("k") === 9L)
    // upsertKeyed through the dv: replaced row updates, tombstone stays dead
    val up = ManifestStore.upsertKeyed(spark, dir, schema,
      Seq((12L, "NEW"), (9L, "RESURRECT?")).toDF("k", "v"), "k")
    assert(up.isDefined)
    val rows = ManifestStore.read(spark, dir, schema).as[(Long, String)]
      .collect().toMap
    assert(rows(12L) === "NEW")
    assert(rows(9L) === "RESURRECT?") // an upsert INSERTS a dead key anew
    assert(rows.size === 300) // 300 - 1 tombstone + 1 re-insert

    // deleteRange partial rewrite keeps prior tombstones dead
    val dir2 = threeFileTable()
    ManifestStore.deleteWhere(spark, dir2, schema, col("k") === 4L)
    ManifestStore.deleteRange(spark, dir2, schema, "k", 0L, 9L)
    assert(keys(dir2) === (10L until 300L).toSet)

    // a tombstone landing mid-rewrite aborts the rewrite (dv guard)
    val dir3 = threeFileTable()
    val aborted = ManifestStore.upsertKeyed(spark, dir3, schema,
      Seq((3L, "X")).toDF("k", "v"), "k",
      midFlight = () => {
        ManifestStore.deleteWhere(spark, dir3, schema, col("k") === 6L): Unit
      })
    assert(aborted.isEmpty)
    assert(keys(dir3) === (0L until 300L).toSet - 6L) // delete won, upsert aborted
  }

  test("planned deleteWhere prunes candidates via ranges and blooms") {
    val dir = threeFileTable()
    val v = ManifestStore.deleteWhere(spark, dir, schema, col("k") === 4L,
      planRanges = Seq(("k", 4L, 4L)))
    assert(v.isDefined)
    assert(keys(dir) === (0L until 300L).toSet - 4L)
    // with blooms built the plan prunes to the single holding file and the
    // dv lands on it alone
    ManifestStore.buildBlooms(spark, dir, Seq("k"))
    ManifestStore.deleteWhere(spark, dir, schema, col("k") === 7L,
      planRanges = Seq(("k", 7L, 7L)))
    assert(keys(dir) === (0L until 300L).toSet - 4L - 7L)
    val s = snap(dir)
    assert(s.dvs.keySet.size <= 2) // tombstones touch at most the holding files
    // a provably-empty plan commits nothing
    val before = snap(dir).version
    assert(ManifestStore.deleteWhere(spark, dir, schema, col("k") === 5000L,
      planRanges = Seq(("k", 5000L, 5000L))) === Some(before))
    assert(snap(dir).version === before)
  }

  test("updateWhere: tombstone + fresh copies in one commit; CDC pairs them") {
    val dir = threeFileTable()
    val v0 = snap(dir).version
    val up = ManifestStore.updateWhere(spark, dir, schema,
      col("k") % 50 === 0, Map("v" -> concat(col("v"), lit("!"))))
    assert(up.isDefined)
    val s = snap(dir)
    assert(s.op === "update-dv")
    assert(ManifestStore.countRows(spark, dir) === Some(300L))
    val rows = ManifestStore.read(spark, dir, schema).as[(Long, String)]
      .collect().toMap
    assert(rows.size === 300)
    (0L until 300L).foreach { k =>
      assert(rows(k) === (if (k % 50 == 0) s"s$k!" else s"s$k"))
    }
    // the original files all survive; updated copies landed as fresh files
    assert((0L until 300L by 50L).size === 6)
    assert(s.dvs.values.map(_.deleted).sum === 6L)

    // CDC: exact old images deleted, new images inserted; keyed
    // classification pairs them as an update
    val feed = ManifestStore.changes(spark, dir, v0, s.version, schema)
    val byType = feed.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("insert" -> 6L, "delete" -> 6L))
    val keyed = ManifestStore.changesKeyed(spark, dir, v0, s.version, schema, "k")
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keyed === Map("update_preimage" -> 6L, "update_postimage" -> 6L))

    // no-match update: no commit, no sidecar or data dir left behind
    val dirsBefore = topDirs(dir)
    assert(ManifestStore.updateWhere(spark, dir, schema, col("k") > 999L,
      Map("v" -> lit("x"))) === Some(s.version))
    assert(topDirs(dir) === dirsBefore)
    // compaction materializes the update
    ManifestStore.compact(spark, dir, schema, numFiles = 1)
    assert(snap(dir).dvs.isEmpty)
    assert(ManifestStore.read(spark, dir, schema).as[(Long, String)]
      .collect().toMap.apply(100L) === "s100!")
  }

  test("upsertKeyedDv: replaced keys tombstone, batch appends, O(batch) commit") {
    val dir = threeFileTable()
    val v0 = snap(dir).version
    val v = ManifestStore.upsertKeyedDv(spark, dir, schema,
      Seq((4L, "NEW4"), (1000L, "FRESH")).toDF("k", "v"), "k")
    assert(v.isDefined)
    val s = snap(dir)
    assert(s.op === "upsert-dv")
    val rows = ManifestStore.read(spark, dir, schema).as[(Long, String)]
      .collect().toMap
    assert(rows(4L) === "NEW4" && rows(1000L) === "FRESH" && rows.size === 301)
    assert(ManifestStore.countRows(spark, dir) === Some(301L))
    assert(s.dvs.values.map(_.deleted).sum === 1L) // only key 4 replaced
    val keyed = ManifestStore.changesKeyed(spark, dir, v0, s.version, schema, "k")
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keyed === Map(
      "update_preimage" -> 1L, "update_postimage" -> 1L, "insert" -> 1L))

    // replacing a key that now lives in a FRESH batch file tombstones there
    ManifestStore.upsertKeyedDv(spark, dir, schema,
      Seq((4L, "NEWER")).toDF("k", "v"), "k")
    val rows2 = ManifestStore.read(spark, dir, schema).as[(Long, String)]
      .collect().toMap
    assert(rows2(4L) === "NEWER" && rows2.size === 301)
    assert(ManifestStore.countRows(spark, dir) === Some(301L))

    // first commit on an empty table is a plain append
    val dir2 = tmpDir()
    assert(ManifestStore.upsertKeyedDv(spark, dir2, schema,
      Seq((1L, "a")).toDF("k", "v"), "k").isDefined)
    assert(keys(dir2) === Set(1L))
  }

  test("upsertKeyedDv and mergeRows touching no row leave no sidecar or staging dir") {
    // keys 0, 3, …, 297: key 4 lies inside the file's key bounds, so the
    // file is a candidate and the tombstone scan runs, but nothing matches
    val dir = tmpDir()
    ManifestStore.append(strideDf(0), dir)
    val dirsBefore = topDirs(dir)
    val v0 = snap(dir).version
    ManifestStore.upsertKeyedDv(spark, dir, schema,
      Seq((4L, "NEW4")).toDF("k", "v"), "k")
    val s = snap(dir)
    assert(s.op === "upsert-dv" && s.dvs.isEmpty)
    // only the batch's data dir is new
    assert((topDirs(dir) -- dirsBefore).forall(n => n.startsWith("d-") &&
      !n.startsWith("d-dv-")))
    assert(keys(dir) === (0L until 300L by 3).toSet + 4L)

    // a DELETE-only MERGE whose source matches no row: the matched pairs
    // and the tombstone sidecar are written empty, then removed
    val dirsMid = topDirs(dir)
    val src = Seq((1000L, "x"), (1001L, "y")).toDF("__s_k", "__s_v")
    assert(ManifestStore.mergeRows(spark, dir, schema, src,
      col("k") === col("__s_k"),
      Seq(ManifestStore.MergeClause(None, None)), Nil) === Some(s.version))
    assert(snap(dir).version === s.version && s.version === v0 + 1)
    assert(topDirs(dir) === dirsMid)
  }

  test("restore rolls back as a new commit, dvs included, with exact CDC") {
    val dir = threeFileTable()
    ManifestStore.deleteWhere(spark, dir, schema, col("k") % 7 === 0)
    val vDeleted = snap(dir).version
    val expected = (0L until 300L).filterNot(_ % 7 == 0).toSet
    ManifestStore.overwrite(Seq((9999L, "z")).toDF("k", "v"), dir)
    val vOver = snap(dir).version
    assert(keys(dir) === Set(9999L))

    val vRestored = ManifestStore.restore(spark, dir, vDeleted)
    assert(vRestored > vOver)
    assert(snap(dir).op === s"restore:$vDeleted")
    // dv refs came back with the snapshot: tombstones still apply
    assert(keys(dir) === expected)
    assert(ManifestStore.countRows(spark, dir) === Some(expected.size.toLong))
    // the rollback is an ordinary commit to a CDC consumer
    val feed = ManifestStore.changes(spark, dir, vOver, vRestored, schema)
    val ins = feed.filter(col("_change_type") === "insert").count()
    val del = feed.filter(col("_change_type") === "delete").count()
    assert(ins === expected.size.toLong && del === 1L)
    // forward history intact
    assert(ManifestStore.readVersion(spark, dir, vOver, schema).count() === 1L)
  }

  test("history reads the full lineage with ops, rows, and tombstone counts") {
    val dir = threeFileTable()
    ManifestStore.deleteWhere(spark, dir, schema, col("k") % 7 === 0)
    ManifestStore.compact(spark, dir, schema, numFiles = 1)
    val h = ManifestStore.history(spark, dir)
      .select("version", "op", "n_files", "n_rows", "n_dv_deleted")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    assert(h.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(h.map(_._2).toSeq === Seq("append", "append", "append", "delete-dv", "compact"))
    assert(h.map(_._4).toSeq === Seq(100L, 200L, 300L, 257L, 257L))
    assert(h.map(_._5).toSeq === Seq(0L, 0L, 0L, 43L, 0L))
    // vacuumed versions drop out of the readout
    ManifestStore.vacuum(spark, dir, keepVersions = 1, retainMillis = 0L)
    assert(ManifestStore.history(spark, dir).count() === 1L)
  }

  test("vacuum keeps live sidecars, collects them once compaction drops the refs") {
    val dir = threeFileTable()
    ManifestStore.deleteWhere(spark, dir, schema, col("k") % 2 === 0)
    ManifestStore.vacuum(spark, dir, keepVersions = 1, retainMillis = 0L)
    // live dv sidecars survived the vacuum: reads stay exact
    assert(keys(dir) === (0L until 300L).filter(_ % 2 == 1).toSet)
    assert(snap(dir).dvs.nonEmpty)

    ManifestStore.compact(spark, dir, schema, numFiles = 1)
    ManifestStore.vacuum(spark, dir, keepVersions = 1, retainMillis = 0L)
    // refs gone and sidecar files physically collected
    val f = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dvDirs = f.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("d-dv-"))
      .filter(d => f.listStatus(d.getPath).exists(_.getPath.getName.endsWith(".parquet")))
    assert(dvDirs.isEmpty)
    assert(keys(dir) === (0L until 300L).filter(_ % 2 == 1).toSet)
  }

  test("changes reports restore-over-delete-dv as exact row-level resurrections") {
    val dir = threeFileTable()
    val v0 = snap(dir).version // no tombstones yet
    ManifestStore.deleteWhere(spark, dir, schema, col("k") % 7 === 0)
    val vDel = snap(dir).version
    val sevens = (0L until 300L).filter(_ % 7 == 0).toSet

    // the flagship undo-a-bad-deleteWhere: restore DIRECTLY over the
    // delete-dv commit — file list identical, only the dv refs drop.
    // The feed must report the tombstoned rows coming back as inserts.
    val vBack = ManifestStore.restore(spark, dir, v0)
    assert(keys(dir) === (0L until 300L).toSet)
    val feed = ManifestStore.changes(spark, dir, vDel, vBack, schema)
    val ins = feed.filter(col("_change_type") === "insert")
      .select("k").as[Long].collect().toSet
    assert(ins === sevens)
    assert(feed.filter(col("_change_type") === "delete").count() === 0L)

    // and forward again: restoring the deleted state re-adds the same
    // sidecars — the feed reports those rows as deletes, nothing else
    val vFwd = ManifestStore.restore(spark, dir, vDel)
    assert(keys(dir) === (0L until 300L).toSet -- sevens)
    val feed2 = ManifestStore.changes(spark, dir, vBack, vFwd, schema)
    val del2 = feed2.filter(col("_change_type") === "delete")
      .select("k").as[Long].collect().toSet
    assert(del2 === sevens)
    assert(feed2.filter(col("_change_type") === "insert").count() === 0L)

    // replaying the WHOLE feed from scratch reproduces the final state:
    // inserts minus deletes, multiset-exact across the dv round-trip
    val whole = ManifestStore.changes(spark, dir, 0L, vFwd, schema)
    val applied = whole.filter(col("_change_type") === "insert")
      .select("k", "v")
      .exceptAll(whole.filter(col("_change_type") === "delete").select("k", "v"))
      .as[(Long, String)].collect().toSet
    assert(applied === ManifestStore.read(spark, dir, schema)
      .as[(Long, String)].collect().toSet)
  }

  test("restore aborts when a concurrent commit claims its slot first") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import graft.sources.ManifestPublisher
    val dir = threeFileTable()
    val v0 = snap(dir).version
    ManifestStore.deleteWhere(spark, dir, schema, col("k") % 7 === 0)
    val underlying = ManifestPublisher.LocalLink
    @volatile var injected = false
    // steal the restore's planned slot with a competing commit the moment
    // it tries to publish — the retry must ABORT, not republish the stale
    // plan over the competitor
    ManifestStore.publisherOverride = Some(new ManifestPublisher {
      def publish(f: FileSystem, target: Path, body: Array[Byte]): Boolean = {
        val s = new String(body, java.nio.charset.StandardCharsets.UTF_8)
        if (s.contains("restore:") && !injected) {
          injected = true
          val ver = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(s).get.group(1)
          assert(underlying.publish(f, target,
            s"""{"version":$ver,"files":[],"op":"overwrite"}"""
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        }
        underlying.publish(f, target, body)
      }
    })
    try {
      intercept[java.util.ConcurrentModificationException] {
        ManifestStore.restore(spark, dir, v0)
      }
      assert(injected)
      // the concurrent commit survived untouched
      assert(snap(dir).op === "overwrite" && snap(dir).files.isEmpty)
    } finally ManifestStore.publisherOverride = None
  }

  test("dv writes refuse a snapshot with colliding parquet basenames") {
    import org.apache.hadoop.fs.{FileSystem, Path}
    // publishExternal-shaped file lists need not carry UUID part names: two
    // entries sharing a basename would let one file's tombstones anti-join
    // away the other's rows — the writer must refuse before any sidecar
    val dir = tmpDir()
    ManifestStore.append(strideDf(0), dir)
    val f = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val rel = snap(dir).files.head
    val name = rel.substring(rel.lastIndexOf('/') + 1)
    // physically duplicate the data file under another prefix, same basename
    val dup = s"d-dup/$name"
    org.apache.hadoop.fs.FileUtil.copy(
      f, new Path(dir, rel), f, new Path(dir, dup), false,
      spark.sparkContext.hadoopConfiguration)
    val body =
      s"""{"version":2,"files":["$rel","$dup"],"op":"append"}"""
    val target = new Path(new Path(dir, "_manifests"), "v00000002.json")
    assert(graft.sources.ManifestPublisher.LocalLink.publish(f, target,
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val ex = intercept[IllegalArgumentException] {
      ManifestStore.deleteWhere(spark, dir, schema, col("k") === 0L)
    }
    assert(ex.getMessage.contains("unique names"))
    val ex2 = intercept[IllegalArgumentException] {
      ManifestStore.upsertKeyedDv(spark, dir, schema,
        Seq((0L, "x")).toDF("k", "v"), "k")
    }
    assert(ex2.getMessage.contains("unique names"))
  }
}
