package graft.etl

import graft.SparkSuite
import graft.sources.CommitMarker
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The snapshot MERGE store: Delta-parity semantics — snapshot-isolated
  * reads across a concurrent publish, time travel per epoch, vacuum with
  * retention, detect-and-fail concurrency — plus the MERGE row semantics shared with
  * [[Merge.upsert]], all on the partition-incremental layout. */
object SnapshotMergeSpec {
  // racer injection shared with executor threads (local mode, one JVM):
  // fired exactly once from inside the victim's merge computation
  val racerFired = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var racerTarget: java.io.File = _
  @volatile var racerContent: Array[Byte] = _
}

class SnapshotMergeSpec extends SparkSuite {

  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def freshStore(): String =
    java.nio.file.Files.createTempDirectory("graft_sms").toString + "/store"

  private def bootstrap(store: String): Unit = {
    val e = SnapshotMerge.upsert(spark, store,
      Seq((1L, "a", "d1", 10L), (2L, "b", "d1", 10L), (3L, "c", "d2", 10L))
        .toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    assert(e === 1L)
  }

  private def asMap(df: DataFrame): Map[Long, (String, String, Long)] =
    df.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[String]("v"), r.getAs[String]("day"), r.getAs[Long]("ts"))).toMap

  test("bootstrap + read round-trips rows, schema order, and types exactly") {
    val store = freshStore()
    bootstrap(store)
    val back = SnapshotMerge.read(spark, store)
    assert(back.columns.toSeq === Seq("id", "v", "day", "ts"),
      "manifest schema order, not partition-column-last scan order")
    assert(back.schema("day").dataType.typeName === "string",
      "partition column keeps its committed type, not an inferred one")
    assert(asMap(back) === Map(
      1L -> ("a", "d1", 10L), 2L -> ("b", "d1", 10L), 3L -> ("c", "d2", 10L)))
  }

  test("merge semantics: update, insert, moved-partition key, emptied partition") {
    val store = freshStore()
    bootstrap(store)
    // id=3 moves d2 -> d1 (d2 becomes EMPTY and must leave the snapshot),
    // id=2 updates in place, id=4 inserts into a new partition
    val e = SnapshotMerge.upsert(spark, store,
      Seq((3L, "c2", "d1", 20L), (2L, "b2", "d1", 20L), (4L, "d", "d3", 20L))
        .toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    assert(e === 2L)
    assert(asMap(SnapshotMerge.read(spark, store)) === Map(
      1L -> ("a", "d1", 10L), 2L -> ("b2", "d1", 20L),
      3L -> ("c2", "d1", 20L), 4L -> ("d", "d3", 20L)))
    val snap = SnapshotMerge.latestSnapshot(spark, store).get
    assert(!snap.parts.keySet.exists(_.startsWith("day=d2")),
      s"emptied partition must leave the manifest: ${snap.parts.keySet}")
    // null partition values merge instead of dropping (null-safe join)
    SnapshotMerge.upsert(spark, store,
      Seq((5L, "e", null.asInstanceOf[String], 30L)).toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    SnapshotMerge.upsert(spark, store,
      Seq((5L, "e2", null.asInstanceOf[String], 31L)).toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    val withNull = asMap(SnapshotMerge.read(spark, store))
    assert(withNull(5L) === ("e2", null, 31L), s"null-partition upsert: $withNull")
    assert(withNull.size === 5)
  }

  test("SNAPSHOT ISOLATION: a read planned before a merge returns the old snapshot after it") {
    val store = freshStore()
    bootstrap(store)
    val pinned = SnapshotMerge.read(spark, store) // plans against epoch 1
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 99L), (3L, "moved", "d9", 99L))
        .toDF("id", "v", "day", "ts"),
      Seq("id"), "day") // epoch 2 rewrites d1 AND empties/moves d2
    // epoch 2 supersedes d1's and d2's versions — the store must keep
    // serving the epoch-1 files the pinned plan references
    assert(asMap(pinned) === Map(
      1L -> ("a", "d1", 10L), 2L -> ("b", "d1", 10L), 3L -> ("c", "d2", 10L)),
      "pinned read must be the epoch-1 snapshot, not a torn or updated view")
    assert(asMap(SnapshotMerge.read(spark, store))(2L) === ("b2", "d1", 99L))
  }

  test("time travel: read(asOf) returns each committed epoch; epochs list is ascending") {
    val store = freshStore()
    bootstrap(store)
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b3", "d1", 30L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L, 3L))
    assert(asMap(SnapshotMerge.read(spark, store, Some(1L)))(2L) === ("b", "d1", 10L))
    assert(asMap(SnapshotMerge.read(spark, store, Some(2L)))(2L) === ("b2", "d1", 20L))
    assert(asMap(SnapshotMerge.read(spark, store, Some(3L)))(2L) === ("b3", "d1", 30L))
  }

  test("concurrent writers at the protocol level: a merge computed against a stale snapshot cannot publish") {
    // deterministic interleave at the protocol level: writer B reads
    // base epoch 1, writer A commits epoch 2 in between, B's
    // publish-time claim of epoch 2 must fail — and the store afterwards
    // is exactly A's snapshot, never a torn mix
    val store = freshStore()
    bootstrap(store)
    val baseB = math.max(
      SnapshotMerge.latestSnapshot(spark, store).map(_.epoch).getOrElse(0L),
      CommitMarker.currentEpoch(spark, store)) // B's stale read: 1
    SnapshotMerge.upsert(spark, store, // A runs fully: commits epoch 2
      Seq((2L, "fromA", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    val e = intercept[CommitMarker.ConcurrentWriteException] {
      CommitMarker.claimEpochFrom(spark, store, baseB) // B's publish gate
    }
    assert(e.getMessage.contains("aborted before touching any partition"), e.getMessage)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L))
    assert(asMap(SnapshotMerge.read(spark, store)) === Map(
      1L -> ("a", "d1", 10L), 2L -> ("fromA", "d1", 20L), 3L -> ("c", "d2", 10L)))
  }

  test("epoch files are invisible to readers and pruned to bounded metadata") {
    val store = freshStore()
    bootstrap(store)
    (1 to 5).foreach { i =>
      SnapshotMerge.upsert(spark, store,
        Seq((10L + i, s"v$i", "d1", i.toLong)).toDF("id", "v", "day", "ts"),
        Seq("id"), "day")
    }
    assert(CommitMarker.currentEpoch(spark, store) === 6L)
    // underscore-prefixed claim files are hidden from the scan
    assert(SnapshotMerge.read(spark, store).count() === 8L)
    // pruned: at most the current and previous epoch files survive
    val epochs = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("_GRAFT_EPOCH_")).toSeq
    assert(epochs.size <= 2, s"epoch files must stay bounded: $epochs")
  }

  test("a bare claim appearing mid-merge does not abort a merge computed against the true tip — the manifest arbitrates") {
    // under the manifest-commit protocol a claim file alone is not a
    // commit: a writer (crashed, or in-flight and destined to LOSE the
    // manifest race) that claims physical 2 inside B's merge window must
    // not make B abort — B's base IS the tip, so B burns past the claim
    // and commits. (The genuinely-stale-writer path is the LOST-UPDATE
    // test below; the crashed-claim-at-entry path is the test above.)
    val store = freshStore()
    bootstrap(store)
    SnapshotMergeSpec.racerFired.set(false)
    SnapshotMergeSpec.racerTarget = new java.io.File(store, "_GRAFT_EPOCH_2")
    val sourceB = Seq((3L, "fromB", "d2", 30L)).toDF("id", "v", "day", "ts")
      .filter { (_: org.apache.spark.sql.Row) =>
        if (SnapshotMergeSpec.racerFired.compareAndSet(false, true))
          SnapshotMergeSpec.racerTarget.createNewFile()
        true
      }
    val e = SnapshotMerge.upsert(spark, store, sourceB, Seq("id"), "day")
    assert(e === 2L, "logical epoch 2 commits; only a MANIFEST can abort a tip-based merge")
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L))
    assert(asMap(SnapshotMerge.read(spark, store))(3L) === ("fromB", "d2", 30L))
    // the publish-time claim floor was re-read, so B's physical number
    // burnt PAST the racer's claim instead of colliding with it
    assert(SnapshotMerge.latestSnapshot(spark, store).get.parts("day=d2") === 3L,
      "physical version must skip the racer's claimed number")
    // no staging leftovers
    val parent = new java.io.File(store).getParentFile
    assert(!parent.listFiles().exists(_.getName.contains("__staging")),
      s"staging must be cleaned: ${parent.listFiles().map(_.getName).toSeq}")
  }

  test("a claimed-but-unpublished physical version (crashed writer) is skipped; the logical chain stays dense") {
    val store = freshStore()
    bootstrap(store)
    // simulate a writer that claimed physical version 2 and died before
    // its manifest
    CommitMarker.claimEpochFrom(spark, store, 1L)
    // readers still see epoch 1; the next writer burns PHYSICAL 2 but
    // commits LOGICAL epoch 2 — manifest numbers never skip
    assert(asMap(SnapshotMerge.read(spark, store))(2L) === ("b", "d1", 10L))
    val e = SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    assert(e === 2L, "logical epochs are dense; only physical numbers burn")
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L))
    assert(asMap(SnapshotMerge.read(spark, store))(2L) === ("b2", "d1", 20L))
    // the burnt physical number was 2, so the writer's version dirs are 3
    assert(new java.io.File(store, "day=d1/__e=3").exists(),
      "the physical version must have skipped the crashed claim")
  }

  test("LOST-UPDATE guard: a writer that computed against a stale snapshot aborts at the manifest, whatever physical claim it won") {
    // the finding-#2 scenario: writer A is between its physical claim
    // and its manifest when writer B starts — B's base read cannot see
    // A, B wins its own physical claim, and ONLY the manifest
    // create-exclusive can stop B from silently reverting A's commit.
    // The racer plants A's manifest (epoch 2) inside B's merge window;
    // B then loses the epoch-2 manifest rename and must retract.
    val store = freshStore()
    bootstrap(store)
    val manifest1 = java.nio.file.Files.readAllBytes(
      java.nio.file.Path.of(store, "_GRAFT_SNAP_1"))
    SnapshotMergeSpec.racerFired.set(false)
    SnapshotMergeSpec.racerTarget = new java.io.File(store, "_GRAFT_SNAP_2")
    SnapshotMergeSpec.racerContent = manifest1 // valid manifest body
    val sourceB = Seq((3L, "fromB", "d2", 30L)).toDF("id", "v", "day", "ts")
      .filter { (_: org.apache.spark.sql.Row) =>
        if (SnapshotMergeSpec.racerFired.compareAndSet(false, true))
          java.nio.file.Files.write(SnapshotMergeSpec.racerTarget.toPath,
            SnapshotMergeSpec.racerContent)
        true
      }
    val e = intercept[CommitMarker.ConcurrentWriteException] {
      SnapshotMerge.upsert(spark, store, sourceB, Seq("id"), "day")
    }
    // the zombie gate catches the stale base BEFORE the rename; a racer
    // landing between the gate and the rename would surface through the
    // rename collision instead — both are the same abort contract
    assert(e.getMessage.contains("tip of") || e.getMessage.contains("committed epoch 2"),
      e.getMessage)
    // the winner's snapshot stands; B retracted its moved version dirs
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L))
    assert(asMap(SnapshotMerge.read(spark, store)) === Map(
      1L -> ("a", "d1", 10L), 2L -> ("b", "d1", 10L), 3L -> ("c", "d2", 10L)))
    val d2 = new java.io.File(store, "day=d2")
    assert(!d2.listFiles().exists(_.getName == "__e=2"),
      s"the loser's version dirs must be retracted: ${d2.listFiles().map(_.getName).toSeq}")
    // B's retry lands as epoch 3 on top of the winner
    SnapshotMerge.upsert(spark, store,
      Seq((3L, "fromB", "d2", 30L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    assert(asMap(SnapshotMerge.read(spark, store))(3L) === ("fromB", "d2", 30L))
  }

  test("a pre-existing destination version dir aborts the publish without touching it") {
    // physical-number collisions should be impossible (monotone claims),
    // but if one ever slips (claim files deleted externally), renaming
    // onto the existing dir would NEST into it and the abort path would
    // then delete the OTHER writer's committed data — the move loop must
    // refuse instead
    val store = freshStore()
    bootstrap(store)
    // the next physical number a writer will claim is 2 — plant a dir
    // there as if another writer owned it
    val planted = new java.io.File(store, "day=d1/__e=2")
    assert(planted.mkdirs())
    val canary = new java.io.File(planted, "someone_elses_data.parquet")
    assert(canary.createNewFile())
    val e = intercept[java.io.IOException] {
      SnapshotMerge.upsert(spark, store,
        Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    assert(canary.exists(), "the other writer's data must not be touched")
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L))
    assert(asMap(SnapshotMerge.read(spark, store))(2L) === ("b", "d1", 10L))
    // clearing the collision (sweeping the foreign dir) unblocks the merge
    assert(canary.delete() && planted.delete())
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    assert(asMap(SnapshotMerge.read(spark, store))(2L) === ("b2", "d1", 20L))
  }

  test("guards: type changes and path-unstable partition types are refused") {
    val store = freshStore()
    bootstrap(store)
    // ts was committed LONG; sending it as DOUBLE would commit a manifest
    // schema that cannot decode untouched partitions' old files
    val typeChange = intercept[IllegalArgumentException] {
      SnapshotMerge.upsert(spark, store,
        Seq((9L, "x", "d1", 1.5)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    }
    assert(typeChange.getMessage.contains("type changes cannot decode"),
      typeChange.getMessage)
    // a timestamp partition column's toString does not round-trip Spark's
    // partition paths — refused up front, not corrupted later
    val badPart = intercept[IllegalArgumentException] {
      SnapshotMerge.upsert(spark, java.nio.file.Files.createTempDirectory("graft_sms_ts").toString + "/s",
        Seq((1L, "a", ts("2024-01-01 10:00:00"))).toDF("id", "v", "tstamp"),
        Seq("id"), "tstamp")
    }
    assert(badPart.getMessage.contains("round-trip"), badPart.getMessage)
  }

  test("vacuum: drops superseded versions + stale manifests, keeps retention, sweeps orphans") {
    val store = freshStore()
    bootstrap(store)
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b3", "d1", 30L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    // plant an orphan from a "crashed publish": an __e dir no manifest
    // references, in a partition no manifest knows
    val realOrphan = new java.io.File(store, "day=dX/__e=2")
    assert(realOrphan.mkdirs())
    // negative grace: everything unreferenced sweeps immediately (the
    // production default leaves a 10-minute in-flight window)
    val deleted = SnapshotMerge.vacuum(spark, store, keep = 2, graceMs = -1000L)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(2L, 3L))
    // epoch-1's d1 version (superseded by 2 and 3) and the orphan are gone
    assert(!new java.io.File(store, "day=d1/__e=1").exists())
    assert(!new java.io.File(store, "day=dX").exists(),
      s"orphaned partition-version dirs must be swept: $deleted")
    // retained snapshots still read
    assert(asMap(SnapshotMerge.read(spark, store, Some(2L)))(2L) === ("b2", "d1", 20L))
    assert(asMap(SnapshotMerge.read(spark, store))(2L) === ("b3", "d1", 30L))
    // d2 epoch-1 version is still referenced by BOTH kept snapshots
    assert(asMap(SnapshotMerge.read(spark, store))(3L) === ("c", "d2", 10L))
    // vacuuming to keep=1 drops epoch 2
    SnapshotMerge.vacuum(spark, store, keep = 1, graceMs = -1000L)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(3L))
    intercept[Exception] { SnapshotMerge.read(spark, store, Some(2L)).collect() }
  }

  test("change feed between epochs: update = delete+insert, moved key diffs in both partitions") {
    val store = freshStore()
    bootstrap(store)
    // epoch 2: update key 2, move key 3 to d1, insert key 4
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L), (3L, "c", "d1", 10L), (4L, "d", "d3", 20L))
        .toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    val feed = SnapshotMerge.changes(spark, store, 1L, 2L).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[String]("v"), r.getAs[String]("day"))).toSet
    assert(feed === Set(
      ("delete", 2L, "b", "d1"), ("insert", 2L, "b2", "d1"), // update
      ("delete", 3L, "c", "d2"), ("insert", 3L, "c", "d1"),  // moved key
      ("insert", 4L, "d", "d3")))                            // pure insert
    intercept[IllegalArgumentException] {
      SnapshotMerge.changes(spark, store, 2L, 1L)
    }
    // the manifest prune is exact AND load-bearing at scale: a feed
    // between two epochs must read only partitions whose version
    // changed, never the table
    val s1 = SnapshotMerge.snapshot(spark, store, 1L)
    val s2 = SnapshotMerge.snapshot(spark, store, 2L)
    // epoch 2 touched d1 (update+moved-in), d2 (moved-out, emptied) and
    // d3 (insert) — so NOTHING is shared here; extend with an untouched
    // partition to see the prune act
    SnapshotMerge.upsert(spark, store,
      Seq((7L, "g", "d9", 70L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    val s3 = SnapshotMerge.snapshot(spark, store, 3L)
    val (p2, p3) = SnapshotMerge.prunedPair(s2, s3)
    assert(p2.parts.isEmpty, s"every epoch-2 partition is unchanged in 3: ${p2.parts}")
    assert(p3.parts.keySet === Set("day=d9"),
      s"only the touched partition survives the prune: ${p3.parts}")
    // pruned diff ≡ full diff (here: exactly the d9 insert)
    val feed23 = SnapshotMerge.changes(spark, store, 2L, 3L).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(feed23 === Set(("insert", 7L)))
    assert(SnapshotMerge.prunedPair(s1, s1)._1.parts.isEmpty,
      "an epoch diffed against itself reads nothing at all")
  }

  test("deleteWhere/updateWhere: predicate mutations commit epochs; emptied partitions leave; CDF sees them; unsafe updates refused") {
    val store = freshStore()
    bootstrap(store)
    // DELETE d2's only row → the partition leaves the manifest
    assert(SnapshotMerge.deleteWhere(spark, store, col("id") === 3L).contains(2L))
    assert(asMap(SnapshotMerge.read(spark, store)).keySet === Set(1L, 2L))
    assert(!SnapshotMerge.latestSnapshot(spark, store).get.parts.keySet
      .exists(_.startsWith("day=d2")), "an emptied partition must leave the manifest")
    // prior epoch still time-travels to the deleted row
    assert(asMap(SnapshotMerge.read(spark, store, Some(1L)))(3L) === ("c", "d2", 10L))
    // the change feed sees the delete
    val feed = SnapshotMerge.changes(spark, store, 1L, 2L).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(feed === Set(("delete", 3L)))
    // a no-match delete burns no epoch
    assert(SnapshotMerge.deleteWhere(spark, store, col("id") === 99L).isEmpty)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L))
    // UPDATE one row in place
    assert(SnapshotMerge.updateWhere(spark, store, col("id") === 2L,
      Map("v" -> lit("b2"))).contains(3L))
    val now = asMap(SnapshotMerge.read(spark, store))
    assert(now === Map(1L -> ("a", "d1", 10L), 2L -> ("b2", "d1", 10L)),
      "the matched row updates in place; non-matching rows are untouched")
    // refusals: partition-moving update, type-changing update
    val moved = intercept[IllegalArgumentException] {
      SnapshotMerge.updateWhere(spark, store, col("id") === 2L,
        Map("day" -> lit("d9")))
    }
    assert(moved.getMessage.contains("cannot move rows"), moved.getMessage)
    val typed = intercept[IllegalArgumentException] {
      SnapshotMerge.updateWhere(spark, store, col("id") === 2L,
        Map("ts" -> lit(1.5)))
    }
    assert(typed.getMessage.contains("type changes"), typed.getMessage)
    // a no-match update burns no epoch
    assert(SnapshotMerge.updateWhere(spark, store, col("id") === 99L,
      Map("v" -> lit("x"))).isEmpty)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L, 3L))
    // SQL UPDATE semantics: every SET expression evaluates against the
    // PRE-update row (r16 review — a sequential fold would let "v"
    // read the already-updated "ts" and vice versa)
    assert(SnapshotMerge.updateWhere(spark, store, col("id") === 1L,
      Map("v" -> col("ts").cast("string"),
        "ts" -> (length(col("v")).cast("long") + 100L))).contains(4L))
    assert(asMap(SnapshotMerge.read(spark, store))(1L) === ("10", "d1", 101L),
      "v must read the OLD ts and ts the OLD v — simultaneous, not sequential")
  }

  test("deleteKeys: removes exactly the keyed rows, partition-pruned; no-match burns nothing") {
    import spark.implicits._
    val store = freshStore()
    bootstrap(store)
    assert(SnapshotMerge.deleteKeys(spark, store,
      Seq(2L, 99L).toDF("id"), Seq("id")).contains(2L))
    assert(asMap(SnapshotMerge.read(spark, store)).keySet === Set(1L, 3L))
    // keys absent from the store: nothing matched, no epoch burned
    assert(SnapshotMerge.deleteKeys(spark, store,
      Seq(77L).toDF("id"), Seq("id")).isEmpty)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L))
  }

  test("keyed change feed: updates surface as pre/post image pairs, moved keys included; pure inserts stay inserts") {
    val store = freshStore()
    bootstrap(store)
    // epoch 2: update key 2, MOVE key 3 d2→d1 (with a value change),
    // insert key 4
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L), (3L, "c2", "d1", 30L), (4L, "d", "d3", 20L))
        .toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    val feed = SnapshotMerge.changesKeyed(spark, store, 1L, 2L, Seq("id")).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[String]("v"), r.getAs[String]("day"))).toSet
    assert(feed === Set(
      ("update_preimage", 2L, "b", "d1"), ("update_postimage", 2L, "b2", "d1"),
      ("update_preimage", 3L, "c", "d2"), ("update_postimage", 3L, "c2", "d1"),
      ("insert", 4L, "d", "d3")),
      s"keyed classification must pair the moved key across partitions: $feed")
    // the delete+insert default is untouched
    val plain = SnapshotMerge.changes(spark, store, 1L, 2L)
      .select("_change_type").distinct().collect().map(_.getString(0)).toSet
    assert(plain === Set("insert", "delete"))
  }

  test("keyed change feed: duplicate-key multiplicity is information-preserving (2 preimages + 1 postimage)") {
    import spark.implicits._
    // The classifyKeyed contract (scaladoc): with duplicate keys the
    // classification is per KEY, not per row pair — a key with two
    // before-rows and one after-row yields two preimages and one
    // postimage. Pins the both-sides predicate on the multiplicity
    // case (r20: collect_set-size-2 rewritten to min≠max — equivalent
    // on the two-value tag domain whatever the per-key row counts).
    val store = freshStore()
    // bootstrap with a DUPLICATED key 7 (a non-key-unique source)
    SnapshotMerge.upsert(spark, store,
      Seq((7L, "x1", "d1", 1L), (7L, "x2", "d1", 2L), (8L, "y", "d1", 3L))
        .toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    // epoch 2 replaces key 7 with ONE row; key 8 untouched
    SnapshotMerge.upsert(spark, store,
      Seq((7L, "x3", "d1", 9L)).toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    val feed = SnapshotMerge.changesKeyed(spark, store, 1L, 2L, Seq("id")).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[String]("v"))).toSeq.sorted
    assert(feed === Seq(
      ("update_postimage", 7L, "x3"),
      ("update_preimage", 7L, "x1"),
      ("update_preimage", 7L, "x2")),
      s"duplicate-key diff must keep per-row multiplicity: $feed")
  }

  test("a no-op batch burns no epoch; case-colliding SET entries are refused") {
    val store = freshStore()
    bootstrap(store)
    // an EMPTY merge batch (a recovery replay whose rows were already
    // applied) returns the current epoch instead of publishing an
    // identical-parts epoch per replayed trigger
    val e = SnapshotMerge.upsert(spark, store,
      Seq.empty[(Long, String, String, Long)].toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    assert(e === 1L, "a no-op batch returns the current epoch")
    // the one-commit change apply short-circuits the same way when both
    // sides net to nothing (delete keys absent from the store)
    val e2 = SnapshotMerge.applyChanges(spark, store,
      Seq.empty[(Long, String, String, Long)].toDF("id", "v", "day", "ts"),
      Seq(99L).toDF("id"), Seq("id"), "day")
    assert(e2 === 1L)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L),
      "no-op batches must not burn epochs")
    // bootstrap of an EMPTY store still commits (establishes the schema)
    val fresh = freshStore()
    assert(SnapshotMerge.upsert(spark, fresh,
      Seq.empty[(Long, String, String, Long)].toDF("id", "v", "day", "ts"),
      Seq("id"), "day") === 1L)
    assert(SnapshotMerge.read(spark, fresh).columns.toSeq ===
      Seq("id", "v", "day", "ts"))
    // two SET keys folding to one column must error, not absorb one
    // nondeterministically
    val coll = intercept[IllegalArgumentException] {
      Merge.update(Seq((1L, "x")).toDF("id", "v"), lit(true),
        Map("V" -> lit("a"), "v" -> lit("b")))
    }
    assert(coll.getMessage.contains("collide"), coll.getMessage)
    // an empty batch that WIDENS the schema is NOT a no-op: the
    // evolution must commit (r17 review — the short-circuit would
    // otherwise silently drop it)
    val e3 = SnapshotMerge.upsert(spark, store,
      Seq.empty[(Long, String, String, Long, String)]
        .toDF("id", "v", "day", "ts", "tag"),
      Seq("id"), "day")
    assert(e3 === 2L, "a schema-widening empty batch commits an epoch")
    val widened = SnapshotMerge.read(spark, store)
    assert(widened.columns.contains("tag"))
    assert(widened.collect().forall(_.getAs[String]("tag") == null))
  }

  test("restore TOCTOU: a referenced dir lost to a concurrent vacuum mid-commit rolls back with a compensating epoch and fails loudly") {
    val store = freshStore()
    bootstrap(store)
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    val preRestore = asMap(SnapshotMerge.read(spark, store))
    // fire "vacuum" between the restore's manifest commit and its
    // post-commit re-verify: delete an epoch-1 dir the restore references
    SnapshotMerge.restorePostCommitHook = () => {
      val d = new java.io.File(store, "day=d1/__e=1")
      d.listFiles().foreach(_.delete()); d.delete(); ()
    }
    try {
      val e = intercept[IllegalStateException] {
        SnapshotMerge.restoreTo(spark, store, 1L)
      }
      assert(e.getMessage.contains("concurrent") &&
        e.getMessage.contains("now restores the pre-restore tip"),
        e.getMessage)
    } finally SnapshotMerge.restorePostCommitHook = () => ()
    // the compensating epoch restored the pre-restore tip: the store
    // reads exactly as before the failed restore, and the chain is dense
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L, 3L, 4L))
    assert(asMap(SnapshotMerge.read(spark, store)) === preRestore,
      "the wedged restore must leave the pre-restore state readable")
    assert(SnapshotMerge.snapshot(spark, store, 4L).parts ===
      SnapshotMerge.snapshot(spark, store, 2L).parts,
      "the compensating manifest must reference the pre-restore tip's dirs")
  }

  test("restore repair adjudication: an unrelated writer taking next+1 is NOT reported as the repair") {
    // r17 ADVICE: the repair probe must verify the committed next+1
    // manifest IS the compensating snapshot — a concurrent merge that
    // takes next+1 while the compensating write fails would otherwise
    // be falsely reported as "now restores the pre-restore tip"
    val store = freshStore()
    bootstrap(store) // epoch 1: {d1 -> 1, d2 -> 1}
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    val preRestore = asMap(SnapshotMerge.read(spark, store)) // epoch 2 state
    // between the restore's commit (epoch 3) and its re-verify: an
    // UNRELATED merge commits epoch 4 (touching only d2), then the
    // vacuum race deletes a d1 dir the restore references — the
    // compensating write of epoch 4 now fails because the merge won it
    SnapshotMerge.restorePostCommitHook = () => {
      SnapshotMerge.upsert(spark, store,
        Seq((5L, "e", "d2", 30L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
      val d = new java.io.File(store, "day=d1/__e=1")
      d.listFiles().foreach(_.delete()); d.delete(); ()
    }
    try {
      val e = intercept[IllegalStateException] {
        SnapshotMerge.restoreTo(spark, store, 1L)
      }
      assert(e.getMessage.contains("did not land") &&
        e.getMessage.contains("restoreTo(2)"),
        s"epoch 4 exists but is an unrelated commit — the message must " +
          s"say the repair did NOT land: ${e.getMessage}")
      assert(!e.getMessage.contains("now restores the pre-restore tip"),
        e.getMessage)
    } finally SnapshotMerge.restorePostCommitHook = () => ()
    // the tip (the unrelated epoch 4) references the deleted dir — run
    // the repair the message prescribes and verify it lands
    assert(SnapshotMerge.snapshot(spark, store, 4L).parts !==
      SnapshotMerge.snapshot(spark, store, 2L).parts,
      "precondition: epoch 4 is NOT the compensating snapshot")
    val repaired = SnapshotMerge.restoreTo(spark, store, 2L)
    assert(repaired.contains(5L))
    assert(asMap(SnapshotMerge.read(spark, store)) === preRestore,
      "the prescribed repair must restore the pre-restore state")
  }

  test("case-fold collisions are refused: a case-only rename is not a widening; colliding source columns are ambiguous") {
    val store = freshStore()
    bootstrap(store) // columns id, v, day, ts
    // a source column differing only in case from a store column would
    // read as a widening under case-exact matching while being
    // ambiguous under Spark's default case-insensitive resolver
    val caseRename = intercept[IllegalArgumentException] {
      SnapshotMerge.upsert(spark, store,
        Seq((9L, "x", "d1", 40L, "X")).toDF("id", "v", "day", "ts", "V"),
        Seq("id"), "day")
    }
    assert(caseRename.getMessage.contains("differs only in case"),
      caseRename.getMessage)
    // two NEW source columns folding to one name would commit a store
    // whose reads cannot resolve either
    val dup = intercept[IllegalArgumentException] {
      SnapshotMerge.upsert(spark, store,
        Seq((9L, "x", "d1", 40L, "a", "b"))
          .toDF("id", "v", "day", "ts", "tag", "TAG"),
        Seq("id"), "day")
    }
    assert(dup.getMessage.contains("collide case-insensitively"), dup.getMessage)
    // neither refused merge burned an epoch
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L))
  }

  test("schema evolution: a merge adding a column widens the manifest schema; old epochs read nulls through the feed") {
    val store = freshStore()
    bootstrap(store)
    SnapshotMerge.upsert(spark, store,
      Seq((4L, "d", "d1", 20L, "extra")).toDF("id", "v", "day", "ts", "tag"),
      Seq("id"), "day")
    val now = SnapshotMerge.read(spark, store)
    assert(now.columns.contains("tag"))
    val tags = now.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("tag")).toMap
    // rows of untouched partitions re-read through the widened schema as null
    assert(tags === Map(1L -> null, 2L -> null, 3L -> null, 4L -> "extra"),
      s"pre-evolution rows must read the new column as null: $tags")
    // the change feed aligns the old epoch to the new schema by name
    val feed = SnapshotMerge.changes(spark, store, 1L, 2L).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSet
    assert(feed === Set(("insert", 4L)))
  }

  test("compact: fragmented partitions rewrite to one file in a new epoch; logical rows unchanged; prior epochs intact") {
    val store = freshStore()
    // d1 FRAGMENTED as a pre-binning publish wrote it: 20 rows
    // range-spread over 10 write tasks → ~10 data files in d1's version;
    // d2 gets one small file
    val rows = (1 to 20).map(i => (i.toLong, s"v$i", "d1", i.toLong)) :+
      ((99L, "z", "d2", 0L))
    LegacyStore.fragmented(spark, store,
      rows.toDF("id", "v", "day", "ts").repartitionByRange(10, col("id")), "day")
    def filesIn(part: String): Int = {
      val snap = SnapshotMerge.latestSnapshot(spark, store).get
      new java.io.File(store, s"$part/__e=${snap.parts(part)}").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    }
    assert(filesIn("day=d1") > 4, s"fixture must be fragmented, got ${filesIn("day=d1")}")
    val before = asMap(SnapshotMerge.read(spark, store))
    val beforeEpoch = SnapshotMerge.latestSnapshot(spark, store).get.epoch
    val compactedEpoch = SnapshotMerge.compact(spark, store, maxFilesPerPartition = 4)
    assert(compactedEpoch.contains(beforeEpoch + 1))
    assert(asMap(SnapshotMerge.read(spark, store)) === before,
      "compaction must not change a single logical row")
    // the compaction contract: the rewritten d1 version holds ONE file
    assert(filesIn("day=d1") === 1)
    // d2 was not fragmented: its version is untouched (same epoch ref)
    assert(SnapshotMerge.latestSnapshot(spark, store).get.parts("day=d2") === 1L)
    // the pre-compaction epoch still time-travels (snapshot isolation)
    assert(asMap(SnapshotMerge.read(spark, store, Some(beforeEpoch))) === before)
    // nothing left to compact now
    assert(SnapshotMerge.compact(spark, store, maxFilesPerPartition = 4).isEmpty)
  }

  test("manifest stats: every publish records files+bytes matching the FS; untouched partitions carry theirs forward") {
    val store = freshStore()
    bootstrap(store)
    def fsStats(part: String, epoch: Long): (Int, Long) = {
      val files = new java.io.File(store, s"$part/__e=$epoch").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      (files.length, files.map(_.length).sum)
    }
    val s1 = SnapshotMerge.latestSnapshot(spark, store).get
    assert(s1.stats.keySet === s1.parts.keySet, "every partition entry carries stats")
    s1.parts.foreach { case (name, e) =>
      val (files, bytes) = fsStats(name, e)
      assert(s1.stats(name).files === files && s1.stats(name).bytes === bytes,
        s"$name manifest stats must match the filesystem")
    }
    // partv3 (r17 verdict #1): publish observes per-partition ROW counts
    assert(s1.stats("day=d1").rows === Some(2L) &&
      s1.stats("day=d2").rows === Some(1L),
      s"publish must record partv3 row counts: ${s1.stats}")
    // an upsert touching only d1 must CARRY d2's stats, not re-list them
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    val s2 = SnapshotMerge.latestSnapshot(spark, store).get
    assert(s2.stats("day=d2") === s1.stats("day=d2"))
    val (d1Files, d1Bytes) = fsStats("day=d1", s2.parts("day=d1"))
    assert(s2.stats("day=d1") ===
      SnapshotMerge.PartStats(d1Files, d1Bytes, rows = Some(2L)))
    // the fragmentation probe plans from these stats with ZERO FS
    // fallback listings on a stats-carrying store
    val before = SnapshotMerge.statsFallbackProbes.get()
    SnapshotMerge.compact(spark, store, maxFilesPerPartition = 8)
    assert(SnapshotMerge.statsFallbackProbes.get() === before,
      "compact on a stats-carrying manifest must not list partition dirs")
  }

  test("bin-packed compact: a fat partition rewrites into multiple bounded files; rows, flags, and the change feed stay exact") {
    val store = freshStore()
    // high-entropy payloads (sha2 hex) so parquet cannot compress the
    // fixture away: ~260 B/row on disk, 2 000 rows ≈ 500 KB in day=f1,
    // laid out as a pre-binning publish wrote it: 10 separate files
    // (range-split) → fragmented
    val n = 2000
    val fat = spark.range(1, n + 1)
      .select(col("id"),
        concat_ws("", sha2(col("id").cast("string"), 256),
          sha2(concat(col("id").cast("string"), lit("x")), 256),
          sha2(concat(col("id").cast("string"), lit("y")), 256),
          sha2(concat(col("id").cast("string"), lit("z")), 256)).as("v"),
        lit("f1").as("day"), col("id").as("ts"))
      .repartitionByRange(10, col("id"))
    LegacyStore.fragmented(spark, store, fat, "day")
    val base = SnapshotMerge.latestSnapshot(spark, store).get
    assert(base.stats("day=f1").files >= 10, "fixture must be fragmented")
    val partBytes = base.stats("day=f1").bytes
    val target = 64L * 1024
    assert(partBytes > 3 * target, s"fixture must exceed several bins: $partBytes")
    val beforeRows = SnapshotMerge.read(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val e = SnapshotMerge.compact(spark, store,
      maxFilesPerPartition = 4, targetFileBytes = target)
    assert(e.contains(base.epoch + 1))
    val snap = SnapshotMerge.latestSnapshot(spark, store).get
    assert(!snap.dataChange, "a compact epoch must carry the dataChange=false flag")
    val outDir = new java.io.File(store, s"day=f1/__e=${snap.parts("day=f1")}")
    val outFiles = outDir.listFiles().filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(outFiles.length > 1,
      s"a ${partBytes}B partition must fan out past one file at target=$target")
    assert(outFiles.length <= 2 * math.ceil(partBytes.toDouble / target).toInt,
      s"fan-out must stay near ceil(bytes/target): ${outFiles.length}")
    outFiles.foreach(f => assert(f.length <= 3 * target,
      s"every output file must be bounded: ${f.getName} is ${f.length}"))
    // logical content pinned
    val afterRows = SnapshotMerge.read(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterRows === beforeRows)
    // the flanking change feed nets EMPTY — the property the streaming
    // source rides to skip compaction epochs
    assert(SnapshotMerge.changes(spark, store, base.epoch, snap.epoch).count() === 0L)
    // new stats recorded for the rewritten version
    assert(snap.stats("day=f1").files === outFiles.length)
    assert(snap.stats("day=f1").bytes === outFiles.map(_.length).sum)
  }

  test("per-partition compaction caps: partitions with ~10× different row widths both land under the target file size") {
    val store = freshStore()
    // wide rows (~1 KB: four sha2 hex blocks) in day=w; thin rows
    // (~100 B: a short hash prefix) in day=t — ~10× apart in on-disk
    // width, both fragmented (10 files each). Under the r16
    // corpus-average cap the wide partition overshot targetFileBytes by
    // roughly the width ratio; per-partition caps bound BOTH.
    val wide = spark.range(1, 301).select(col("id"),
      concat_ws("", sha2(col("id").cast("string"), 256),
        sha2(concat(col("id").cast("string"), lit("x")), 256),
        sha2(concat(col("id").cast("string"), lit("y")), 256),
        sha2(concat(col("id").cast("string"), lit("z")), 256)).as("v"),
      lit("w").as("day"), col("id").as("ts"))
    val thin = spark.range(1001, 2201).select(col("id"),
      substring(sha2(col("id").cast("string"), 256), 1, 24).as("v"),
      lit("t").as("day"), col("id").as("ts"))
    // each side range-split on its own so BOTH partitions fragment (the
    // layout a pre-binning publish wrote)
    LegacyStore.fragmented(spark, store,
      wide.repartitionByRange(10, col("id"))
        .unionByName(thin.repartitionByRange(10, col("id"))), "day")
    val base = SnapshotMerge.latestSnapshot(spark, store).get
    assert(base.stats("day=w").files >= 8 && base.stats("day=t").files >= 8,
      s"fixture must be fragmented on both sides: ${base.stats}")
    val target = 16L * 1024
    assert(base.stats("day=w").bytes > 2 * target &&
      base.stats("day=t").bytes > 2 * target,
      s"both partitions must span multiple bins: ${base.stats}")
    val widthRatio = base.stats("day=w").bytes.toDouble / 300 /
      (base.stats("day=t").bytes.toDouble / 1200)
    assert(widthRatio > 5, s"row widths must differ materially: $widthRatio")
    val beforeRows = SnapshotMerge.read(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val e = SnapshotMerge.compact(spark, store,
      maxFilesPerPartition = 4, targetFileBytes = target)
    assert(e.isDefined)
    val snap = SnapshotMerge.latestSnapshot(spark, store).get
    // EVERY output file of EVERY rewritten partition lands <= ~1.2×
    // target — the per-partition cap contract (footer overhead slack)
    Seq("day=w", "day=t").foreach { part =>
      val dir = new java.io.File(store, s"$part/__e=${snap.parts(part)}")
      val files = dir.listFiles().filter(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(files.length > 1, s"$part must fan out past one file")
      files.foreach(f => assert(f.length <= (1.2 * target).toLong,
        s"$part file ${f.getName} is ${f.length} B — over 1.2× the " +
          s"$target B target; the per-partition cap failed"))
    }
    // width-skewed stores burn one compact epoch per density class —
    // every one dataChange=false, so a downstream stream reads zero rows
    val compactEpochs = SnapshotMerge.committedEpochs(spark, store)
      .filter(_ > base.epoch)
    assert(compactEpochs.nonEmpty)
    compactEpochs.foreach { ce =>
      assert(!SnapshotMerge.snapshot(spark, store, ce).dataChange,
        s"epoch $ce must carry the compact flag")
    }
    assert(SnapshotMerge.changes(spark, store, base.epoch, snap.epoch).count() === 0L,
      "the flanking change feed must net empty across all compact epochs")
    val afterRows = SnapshotMerge.read(spark, store).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(afterRows === beforeRows, "compaction must not change a logical row")
  }

  test("partv3 row counts: compact caps plan with ZERO count jobs on a partv3 store; pre-partv3 manifests fall back to one") {
    val target = 16L * 1024
    def fragmented(store: String): Unit = {
      val wide = spark.range(1, 301).select(col("id"),
        concat_ws("", sha2(col("id").cast("string"), 256),
          sha2(concat(col("id").cast("string"), lit("x")), 256),
          sha2(concat(col("id").cast("string"), lit("y")), 256),
          sha2(concat(col("id").cast("string"), lit("z")), 256)).as("v"),
        lit("w").as("day"), col("id").as("ts"))
      LegacyStore.fragmented(spark, store,
        wide.repartitionByRange(10, col("id")), "day")
      val st = SnapshotMerge.latestSnapshot(spark, store).get.stats("day=w")
      assert(st.files >= 8 && st.bytes > 2 * target,
        s"fixture must be fragmented across multiple bins: $st")
    }
    def boundedFiles(store: String): Unit = {
      val snap = SnapshotMerge.latestSnapshot(spark, store).get
      val dir = new java.io.File(store, s"day=w/__e=${snap.parts("day=w")}")
      val files = dir.listFiles().filter(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      assert(files.length > 1, "the capped partition must fan out")
      files.foreach(f => assert(f.length <= (1.2 * target).toLong,
        s"${f.getName} is ${f.length} B — the cap failed"))
    }
    // a partv3 store: the caps' row counts come from the manifest alone
    // (r17 verdict #1 — the old planner re-read the fragmented data)
    val a = freshStore()
    fragmented(a)
    assert(SnapshotMerge.latestSnapshot(spark, a).get
      .stats("day=w").rows === Some(300L))
    val before = SnapshotMerge.rowCountFallbackJobs.get()
    assert(SnapshotMerge.compact(spark, a,
      maxFilesPerPartition = 4, targetFileBytes = target).isDefined)
    assert(SnapshotMerge.rowCountFallbackJobs.get() === before,
      "compact planning on a partv3 store must run zero count jobs")
    boundedFiles(a)

    // a LEGACY manifest (partv2 lines, no rows): exactly one fallback
    // footer-count job over the row-less entries, caps still exact
    val b = freshStore()
    fragmented(b)
    val p = new org.apache.hadoop.fs.Path(b)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val mf = new org.apache.hadoop.fs.Path(p, "_GRAFT_SNAP_1")
    val in = fs.open(mf)
    val text = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    val legacy = text.split('\n').map { l =>
      if (!l.startsWith("partv3\t")) l
      else { // epoch \t files \t bytes \t rows \t name -> drop rows
        val f = l.substring("partv3\t".length).split('\t')
        s"partv2\t${f(0)}\t${f(1)}\t${f(2)}\t${f(4)}"
      }
    }.mkString("\n")
    val out = fs.create(mf, true) // through the FS so the .crc follows
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    assert(SnapshotMerge.latestSnapshot(spark, b).get
      .stats("day=w").rows.isEmpty,
      "a partv2 manifest must still parse (backward compat), rows-less")
    val before2 = SnapshotMerge.rowCountFallbackJobs.get()
    assert(SnapshotMerge.compact(spark, b,
      maxFilesPerPartition = 4, targetFileBytes = target).isDefined)
    assert(SnapshotMerge.rowCountFallbackJobs.get() === before2 + 1,
      "a pre-partv3 manifest falls back to exactly one count job")
    boundedFiles(b)
  }

  private def dataFiles(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().toSeq.filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))

  /** The write task behind a data file: Spark names it
    * `part-<task>-<job uuid>.c<n>...`. */
  private def writeTask(f: java.io.File): String = f.getName.split('-')(1)

  test("binned publish: every partition version an upsert writes is ONE file whatever the source's partitioning; its stats match the filesystem") {
    val store = freshStore()
    // range-split sources (10 tasks each) spanning several days: an
    // unbinned write lands one file per task and day
    SnapshotMerge.upsert(spark, store,
      spark.range(0, 300).select(col("id"), concat(lit("v"), col("id")).as("v"),
        concat(lit("d"), col("id") % 3).as("day"), col("id").as("ts"))
        .repartitionByRange(10, col("id")),
      Seq("id"), "day")
    // a MERGE: updates in d0/d1, key 1 moves d1 → d2, key 1000 opens d3
    SnapshotMerge.upsert(spark, store,
      spark.range(0, 40).select(col("id"), lit("u").as("v"),
        when(col("id") === 1, lit("d2")).otherwise(concat(lit("d"), col("id") % 2)).as("day"),
        (col("id") + 1000).as("ts"))
        .unionByName(Seq((1000L, "n", "d3", 0L)).toDF("id", "v", "day", "ts"))
        .repartitionByRange(10, col("id")),
      Seq("id"), "day")
    val s1 = SnapshotMerge.snapshot(spark, store, 1L)
    val s2 = SnapshotMerge.latestSnapshot(spark, store).get
    assert(s2.parts.keySet === Set("day=d0", "day=d1", "day=d2", "day=d3"))
    Seq(s1, s2).foreach { snap =>
      snap.parts.foreach { case (name, e) =>
        val dir = new java.io.File(store, s"$name/__e=$e")
        val files = dataFiles(dir)
        assert(files.length === 1,
          s"epoch ${snap.epoch}: $name must be one file, got ${files.map(_.getName)}")
        assert(snap.stats(name) === SnapshotMerge.PartStats(1, files.map(_.length).sum,
          rows = Some(spark.read.parquet(dir.toString).count())),
          s"epoch ${snap.epoch}: $name stats must match the filesystem")
      }
    }
    // every partition was touched by the merge: all four are new versions
    assert(s2.parts.forall { case (n, e) => !s1.parts.get(n).contains(e) })
    assert(asMap(SnapshotMerge.read(spark, store)).size === 301)
  }

  test("binned publish fans a hot partition out: >= 3 targets of bytes land as >= 3 bounded files from >= 3 tasks, on an upsert bootstrap and on compact") {
    // high-entropy payloads (~260 B/row on disk): 2 000 rows ≈ 500 KB in
    // day=f1, about 8 targets of 64 KB; day=s1 holds one row
    val target = 64L * 1024
    val fat = spark.range(1, 2001)
      .select(col("id"),
        concat_ws("", sha2(col("id").cast("string"), 256),
          sha2(concat(col("id").cast("string"), lit("x")), 256),
          sha2(concat(col("id").cast("string"), lit("y")), 256),
          sha2(concat(col("id").cast("string"), lit("z")), 256)).as("v"),
        lit("f1").as("day"), col("id").as("ts"))
      .unionByName(Seq((0L, "small", "s1", 0L)).toDF("id", "v", "day", "ts"))
    val expected = fat.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def fannedOut(store: String, bound: Long): Unit = {
      val snap = SnapshotMerge.latestSnapshot(spark, store).get
      assert(snap.stats("day=f1").bytes >= 3 * target,
        s"the hot partition must be worth >= 3 targets: ${snap.stats}")
      val files = dataFiles(new java.io.File(store, s"day=f1/__e=${snap.parts("day=f1")}"))
      assert(files.length >= 3, s"the hot partition must fan out: ${files.map(_.getName)}")
      assert(files.map(writeTask).distinct.length >= 3,
        s"the fan-out must be written by >= 3 tasks: ${files.map(_.getName)}")
      files.foreach(f => assert(f.length <= bound,
        s"${f.getName} is ${f.length} B, over the $bound B bound"))
      assert(dataFiles(new java.io.File(store,
        s"day=s1/__e=${snap.parts("day=s1")}")).length === 1)
      assert(SnapshotMerge.read(spark, store).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet === expected)
    }
    // an upsert bootstrap sizes its bins from the source's raw bytes
    val boot = freshStore()
    val saved = SnapshotMerge.publishTargetFileBytes
    SnapshotMerge.publishTargetFileBytes = target
    try SnapshotMerge.upsert(spark, boot, fat.coalesce(1), Seq("id"), "day")
    finally SnapshotMerge.publishTargetFileBytes = saved
    fannedOut(boot, (1.5 * target).toLong)
    // compact re-bins a pre-binning fragmented layout through the same
    // bins, its per-partition cap bounding every file
    val legacy = freshStore()
    LegacyStore.fragmented(spark, legacy, fat.repartitionByRange(10, col("id")), "day")
    assert(SnapshotMerge.compact(spark, legacy,
      maxFilesPerPartition = 4, targetFileBytes = target).isDefined)
    fannedOut(legacy, (1.2 * target).toLong)
  }

  test("history: one metadata row per retained epoch — operation, partitions, and partv3 row totals; pre-partv3 epochs report null, not a guess") {
    val store = freshStore()
    bootstrap(store)                                            // epoch 1: 3 rows, 2 parts
    SnapshotMerge.upsert(spark, store,
      Seq((4L, "d", "d3", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day") // epoch 2: 4 rows, 3 parts
    assert(SnapshotMerge.compact(spark, store,
      maxFilesPerPartition = 0).contains(3L))                    // epoch 3: compact
    val h = SnapshotMerge.history(spark, store).collect()
      .map(r => (r.getAs[Long]("epoch"), r.getAs[String]("operation"),
        r.getAs[Int]("partitions"), r.getAs[java.lang.Long]("rows")))
    // NEWEST-FIRST, Delta's history(limit) ordering (r18 ADVICE)
    assert(h.toSeq === Seq(
      (3L, "compact", 3, java.lang.Long.valueOf(4L)),
      (2L, "write", 3, java.lang.Long.valueOf(4L)),
      (1L, "write", 2, java.lang.Long.valueOf(3L))),
      s"history must read from manifests alone, newest first: ${h.toSeq}")
    // limit short-circuits the parse: only the newest `limit` manifests
    // are opened — O(limit), not O(retained) (r18 ADVICE)
    val parsed = scala.collection.mutable.ArrayBuffer.empty[Long]
    SnapshotMerge.historyEpochHook = e => { parsed += e; () }
    try {
      val top = SnapshotMerge.history(spark, store, limit = Some(1)).collect()
      assert(top.map(_.getAs[Long]("epoch")).toSeq === Seq(3L))
      assert(parsed.toSeq === Seq(3L),
        s"limit=1 must parse exactly the tip manifest, parsed: $parsed")
    } finally SnapshotMerge.historyEpochHook = _ => ()
    // an epoch with any pre-partv3 entry reports rows as NULL — absence
    // is reported, never guessed
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val mf = new org.apache.hadoop.fs.Path(p, "_GRAFT_SNAP_1")
    val in = fs.open(mf)
    val text = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    val legacy = text.split('\n').map { l =>
      if (!l.startsWith("partv3\t")) l
      else {
        val f = l.substring("partv3\t".length).split('\t')
        s"partv2\t${f(0)}\t${f(1)}\t${f(2)}\t${f(4)}"
      }
    }.mkString("\n")
    val out = fs.create(mf, true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    val h1 = SnapshotMerge.history(spark, store).collect()
      .find(_.getAs[Long]("epoch") == 1L).get
    assert(h1.isNullAt(h1.fieldIndex("rows")) &&
      !h1.isNullAt(h1.fieldIndex("bytes")),
      "partv2-only epochs carry bytes but null rows")
  }

  test("detail: one tip descriptor from manifest metadata — location, partition column, stat totals, manifest mtimes") {
    val store = freshStore()
    bootstrap(store)                                            // epoch 1: 3 rows, 2 parts
    SnapshotMerge.upsert(spark, store,
      Seq((4L, "d", "d3", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day") // epoch 2: 4 rows, 3 parts
    val d = SnapshotMerge.detail(spark, store).collect()
    assert(d.length === 1, "detail is ONE row")
    val r = d.head
    assert(r.getAs[String]("format") === "graft-snapshot")
    assert(r.getAs[String]("location").endsWith(store.stripPrefix("file:")),
      s"location must be the qualified store path: ${r.getAs[String]("location")}")
    assert(r.getAs[String]("partition_col") === "day")
    assert(r.getAs[Long]("epoch") === 2L)
    assert(r.getAs[String]("operation") === "write")
    assert(r.getAs[Int]("partitions") === 3)
    assert(r.getAs[java.lang.Long]("rows") === java.lang.Long.valueOf(4L))
    // file/byte totals equal what the tip's version dirs really hold
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tip = SnapshotMerge.latestSnapshot(spark, store).get
    val real = tip.parts.toSeq.map { case (n, v) =>
      fs.listStatus(new org.apache.hadoop.fs.Path(p, s"$n/__e=$v"))
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
    }
    assert(r.getAs[java.lang.Long]("files") ===
      java.lang.Long.valueOf(real.map(_.length.toLong).sum))
    assert(r.getAs[java.lang.Long]("bytes") ===
      java.lang.Long.valueOf(real.map(_.map(_.getLen).sum).sum))
    // manifest mtimes: real on a local FS, created <= modified
    val created = r.getAs[java.sql.Timestamp]("created_at")
    val modified = r.getAs[java.sql.Timestamp]("last_modified")
    assert(created != null && modified != null && !modified.before(created),
      s"created_at $created must not trail last_modified $modified")
    // a compact tip reports its operation
    assert(SnapshotMerge.compact(spark, store, maxFilesPerPartition = 0).contains(3L))
    val r2 = SnapshotMerge.detail(spark, store).collect().head
    assert(r2.getAs[Long]("epoch") === 3L &&
      r2.getAs[String]("operation") === "compact")
  }

  test("history tolerates exactly a swept manifest — any other FileNotFoundException fails loudly") {
    val store = freshStore()
    bootstrap(store)                                            // epoch 1
    SnapshotMerge.upsert(spark, store,
      Seq((4L, "d", "d3", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day") // epoch 2
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // (a) the tolerable race: a vacuum sweeps epoch 1's manifest between
    // history's listing and its parse — the row is simply absent
    SnapshotMerge.historyEpochHook = e =>
      if (e == 1L) {
        fs.delete(new org.apache.hadoop.fs.Path(p, "_GRAFT_SNAP_1"), false)
        ()
      }
    try {
      val h = SnapshotMerge.history(spark, store).collect()
        .map(_.getAs[Long]("epoch")).toSeq
      assert(h === Seq(2L), s"a mid-iteration sweep must drop only its row: $h")
    } finally SnapshotMerge.historyEpochHook = _ => ()
    // (b) corruption: an FNF raised while the manifest is STILL COMMITTED
    // (a refactor reading some other vanished file) must propagate — a
    // silently shorter history would mask a torn store (r18 verdict #2)
    SnapshotMerge.historyEpochHook = e =>
      if (e == 2L) throw new java.io.FileNotFoundException("sidecar gone")
    try {
      val e = intercept[java.io.FileNotFoundException] {
        SnapshotMerge.history(spark, store).collect()
      }
      assert(e.getMessage.contains("sidecar gone"))
    } finally SnapshotMerge.historyEpochHook = _ => ()
  }

  test("vacuum dry run: reports exactly what a real sweep would delete, touching nothing") {
    val store = freshStore()
    bootstrap(store)
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b3", "d1", 30L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    val dry = SnapshotMerge.vacuum(spark, store, keep = 1,
      graceMs = -1000L, sweepOrphans = true, dryRun = true).toSet
    assert(dry.nonEmpty, "superseded versions must be reported")
    dry.foreach(d => assert(new java.io.File(new java.net.URI(
      if (d.startsWith("file:")) d else s"file:$d")).exists() ||
      new java.io.File(d.stripPrefix("file:")).exists(),
      s"a dry run must not delete $d"))
    // the store still reads its full chain
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L, 3L))
    // the real run deletes exactly the reported set, plus (only) the
    // emptied-parent cosmetic cleanup a dry run cannot observe
    val real = SnapshotMerge.vacuum(spark, store, keep = 1,
      graceMs = -1000L, sweepOrphans = true).toSet
    assert(dry.subsetOf(real),
      s"everything reported dry must really delete: ${dry.diff(real)}")
    val extra = real.diff(dry)
    assert(extra.forall(d => !d.contains("__e=") && !d.contains("_GRAFT_SNAP_")),
      s"real-only paths must be emptied PARENTS, never data or manifests: $extra")
    real.foreach(d => assert(!new java.io.File(d.stripPrefix("file:")).exists(),
      s"the real run must delete $d"))
  }

  test("vacuum fast path: superseded versions sweep from manifests alone; orphans wait for the full walk; manifests outlive surviving dirs") {
    val store = freshStore()
    bootstrap(store)
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b3", "d1", 30L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    val orphan = new java.io.File(store, "day=dX/__e=9")
    assert(orphan.mkdirs())
    // a dropped manifest whose exclusive dir is NOT yet aged survives
    SnapshotMerge.vacuum(spark, store, keep = 2,
      graceMs = 24 * 3600 * 1000L, sweepOrphans = false)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L, 3L),
      "nothing aged: the dropped manifest must outlive its surviving dir")
    // aged pass: the superseded d1 version and its manifest go; the
    // orphan is INVISIBLE to the manifest-driven mode by construction
    val deleted = SnapshotMerge.vacuum(spark, store, keep = 2,
      graceMs = -1000L, sweepOrphans = false)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(2L, 3L))
    assert(!new java.io.File(store, "day=d1/__e=1").exists())
    assert(orphan.exists(), s"fast path must not walk partitions: $deleted")
    // retained epochs read intact (d2 v1 is shared and must survive)
    assert(asMap(SnapshotMerge.read(spark, store))(3L) === ("c", "d2", 10L))
    assert(asMap(SnapshotMerge.read(spark, store, Some(2L)))(2L) === ("b2", "d1", 20L))
    // the periodic full walk reaps the orphan
    SnapshotMerge.vacuum(spark, store, keep = 2, graceMs = -1000L)
    assert(!new java.io.File(store, "day=dX").exists())
  }

  test("vacuum keeps the manifest chain a contiguous suffix: the sweep stops at the first survivor instead of punching a hole") {
    val store = freshStore()
    bootstrap(store)
    (2 to 4).foreach { i =>
      SnapshotMerge.upsert(spark, store,
        Seq((2L, s"b$i", "d1", i.toLong)).toDF("id", "v", "day", "ts"),
        Seq("id"), "day")
    }
    // age everything EXCEPT epoch 2's superseded d1 version: that young
    // dir makes epoch 2's manifest undeletable — and the sweep must then
    // ALSO keep epoch 3's manifest (aged, dirs deletable) or the
    // committed listing would read [2, 4] with a hole at 3, the exact
    // state that lets a stale tip pointer pass the two-probe trust
    val old = System.currentTimeMillis() - 24 * 3600 * 1000L
    val d1 = new java.io.File(store, "day=d1")
    // every version dir: d1's partition versions and the change sets
    def versions = d1.listFiles() ++ new java.io.File(store, "_changes").listFiles()
    d1.listFiles().foreach { ed =>
      val aged = ed.getName != "__e=2"
      if (aged) { ed.listFiles().foreach(_.setLastModified(old)); ed.setLastModified(old) }
    }
    new java.io.File(store, "_changes").listFiles().foreach { ed =>
      ed.listFiles().foreach(_.setLastModified(old)); ed.setLastModified(old)
    }
    new java.io.File(store).listFiles()
      .filter(_.getName.startsWith("_GRAFT_SNAP_"))
      .foreach(_.setLastModified(old))
    SnapshotMerge.vacuum(spark, store, keep = 1,
      graceMs = 10 * 60 * 1000L, sweepOrphans = false)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(2L, 3L, 4L),
      "the sweep must stop at the first kept manifest (2, survivor dir) " +
        "and keep 3 too — a [2, 4] hole would break the tip pointer's " +
        "two-probe trust")
    assert(SnapshotMerge.tipEpoch(spark, store) === Some(4L))
    // a later pass with the survivor aged finishes the sweep cleanly
    versions.foreach { ed =>
      ed.listFiles().foreach(_.setLastModified(old)); ed.setLastModified(old)
    }
    SnapshotMerge.vacuum(spark, store, keep = 1,
      graceMs = 10 * 60 * 1000L, sweepOrphans = false)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(4L))
    assert(asMap(SnapshotMerge.read(spark, store))(2L) === ("b4", "d1", 4L))
  }

  test("partition pruning survives the manifest reader (day stays a partition column)") {
    val store = freshStore()
    bootstrap(store)
    val plan = SnapshotMerge.read(spark, store)
      .filter(col("day") === "d1")
      .queryExecution.executedPlan.toString
    // the day filter must land in PartitionFilters, not a post-scan Filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("day"),
      s"day filter must prune partitions:\n$plan")
  }

  test("restoreTo: metadata-only rollback; CDF inverts the rolled-back diff; vacuumed targets fail loudly; tip restore is a no-op") {
    val store = freshStore()
    bootstrap(store)
    // epoch 2: update key 2, insert key 4
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L), (4L, "d", "d3", 20L)).toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    val e = SnapshotMerge.restoreTo(spark, store, 1L)
    assert(e.contains(3L), s"restore commits the NEXT epoch: $e")
    // restored read ≡ time travel to the target epoch
    assert(asMap(SnapshotMerge.read(spark, store)) ===
      asMap(SnapshotMerge.read(spark, store, Some(1L))))
    // METADATA-ONLY: the restore manifest references epoch-1's version
    // dirs verbatim — no data file was written or moved
    assert(SnapshotMerge.snapshot(spark, store, 3L).parts ===
      SnapshotMerge.snapshot(spark, store, 1L).parts)
    // the change feed across the restore is the INVERSE of the
    // rolled-back diff
    def feed(f: Long, t: Long): Set[(String, Long, String)] =
      SnapshotMerge.changes(spark, store, f, t).collect()
        .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
          r.getAs[String]("v"))).toSet
    val fwd = feed(1L, 2L)
    assert(feed(2L, 3L) === fwd.map { case (t, id, v) =>
      (if (t == "insert") "delete" else "insert", id, v) },
      "the restore's CDF must be the rolled-back diff, inverted")
    // restoring to the current tip burns nothing
    assert(SnapshotMerge.restoreTo(spark, store, 3L).isEmpty)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L, 2L, 3L))
    // an unknown epoch fails loudly
    val unknown = intercept[IllegalArgumentException] {
      SnapshotMerge.restoreTo(spark, store, 99L)
    }
    assert(unknown.getMessage.contains("manifest is gone"), unknown.getMessage)
    // a merge lands ON TOP of the restored state (key 4 stays gone)
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b9", "d1", 90L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    assert(asMap(SnapshotMerge.read(spark, store)) === Map(
      1L -> ("a", "d1", 10L), 2L -> ("b9", "d1", 90L), 3L -> ("c", "d2", 10L)))
    // restore past the vacuum retention: manifest gone → loud
    SnapshotMerge.vacuum(spark, store, keep = 1, graceMs = -1000L)
    val past = intercept[IllegalArgumentException] {
      SnapshotMerge.restoreTo(spark, store, 2L)
    }
    assert(past.getMessage.contains("vacuum retention"), past.getMessage)
    // manifest present but a referenced dir gone (the half-vacuumed
    // state): the existence sweep must refuse BEFORE committing
    val store2 = freshStore()
    bootstrap(store2)
    SnapshotMerge.upsert(spark, store2,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    val gone = new java.io.File(store2, "day=d1/__e=1")
    assert(gone.listFiles().forall(_.delete()) && gone.delete())
    val halfGone = intercept[IllegalStateException] {
      SnapshotMerge.restoreTo(spark, store2, 1L)
    }
    assert(halfGone.getMessage.contains("was vacuumed"), halfGone.getMessage)
    assert(SnapshotMerge.committedEpochs(spark, store2) === Seq(1L, 2L),
      "a refused restore must not commit")
  }

  test("tipEpoch: the pointer answers polls in O(1); stale or missing pointers fall back to the listing and self-heal") {
    val store = freshStore()
    bootstrap(store)
    (2 to 6).foreach { i =>
      SnapshotMerge.upsert(spark, store,
        Seq((2L, s"b$i", "d1", i.toLong)).toDF("id", "v", "day", "ts"),
        Seq("id"), "day")
    }
    val hits0 = SnapshotMerge.tipPointerHits.get()
    val fb0 = SnapshotMerge.tipListingFallbacks.get()
    assert(SnapshotMerge.tipEpoch(spark, store) === Some(6L))
    assert(SnapshotMerge.tipPointerHits.get() === hits0 + 1 &&
      SnapshotMerge.tipListingFallbacks.get() === fb0,
      "a commit-maintained pointer must answer without listing")
    // pointer missing (pre-pointer store): the listing answers
    val tip = new java.io.File(store, "_GRAFT_TIP")
    assert(tip.delete())
    assert(SnapshotMerge.tipEpoch(spark, store) === Some(6L))
    assert(SnapshotMerge.tipListingFallbacks.get() === fb0 + 1)
    // pointer STALE (a writer crashed between its manifest rename and
    // the pointer write): the successor probe detects and falls back
    java.nio.file.Files.write(tip.toPath, "4".getBytes("UTF-8"))
    assert(SnapshotMerge.tipEpoch(spark, store) === Some(6L))
    assert(SnapshotMerge.tipListingFallbacks.get() === fb0 + 2)
    // the next commit heals the pointer
    SnapshotMerge.upsert(spark, store,
      Seq((3L, "x", "d2", 70L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    assert(new String(java.nio.file.Files.readAllBytes(tip.toPath), "UTF-8") === "7")
    val hits1 = SnapshotMerge.tipPointerHits.get()
    assert(SnapshotMerge.tipEpoch(spark, store) === Some(7L))
    assert(SnapshotMerge.tipPointerHits.get() === hits1 + 1)
  }

  /** Count plus an order-independent hash of every row. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val hs = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*)).collect().map(_.getLong(0))
    (hs.length.toLong, hs.sum)
  }

  /** The change rows into epoch `e` both ways: the recorded set through
    * `changes`, and the manifest diff through the same hop with the
    * manifest's change set ignored. */
  private def bothPaths(store: String, e: Long): ((Long, Long), (Long, Long)) = {
    val to = SnapshotMerge.snapshot(spark, store, e)
    assert(to.changes.isDefined, s"epoch $e must record its change set")
    val viaDiff = SnapshotMerge.streamingChangesAdjacent(spark, store,
      SnapshotMerge.snapshot(spark, store, e - 1), to.copy(changes = None), withDeletes = true)
    (fingerprint(SnapshotMerge.changes(spark, store, e - 1, e)), fingerprint(viaDiff))
  }

  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  test("recorded change set ≡ manifest diff: replays, moved keys, keys on both sides, duplicates, widening, NaN/±0.0, null partition and key") {
    def row(id: Long, v: String, day: String, ts: Long) = (id, v, day, ts)
    def upsertRows(store: String, rows: (Long, String, String, Long)*): Long =
      SnapshotMerge.upsert(spark, store, rows.toDF("id", "v", "day", "ts"), Seq("id"), "day")
    // (scenario, store, epoch, expected change rows)
    val cases = Seq.newBuilder[(String, String, Long, Long)]
    def scenarios(): Unit = {
      locally { // a replay of identical rows commits an epoch whose changes cancel
        val store = freshStore(); bootstrap(store)
        val e = upsertRows(store, row(1L, "a", "d1", 10L), row(2L, "b", "d1", 10L), row(3L, "c", "d2", 10L))
        cases += (("replay", store, e, 0L))
      }
      locally { // key 3 moves d2 -> d1, key 2 updates in place
        val store = freshStore(); bootstrap(store)
        val e = upsertRows(store, row(3L, "c", "d1", 10L), row(2L, "b2", "d1", 20L))
        cases += (("moved key", store, e, 4L))
      }
      locally { // key 2 on both sides re-lands from the inserts; 3 goes; 4 arrives
        val store = freshStore(); bootstrap(store)
        val e = SnapshotMerge.applyChanges(spark, store,
          Seq(row(2L, "b2", "d1", 20L), row(4L, "d", "d3", 1L)).toDF("id", "v", "day", "ts"),
          Seq(2L, 3L).toDF("id"), Seq("id"), "day")
        cases += (("applyChanges both sides", store, e, 4L))
      }
      locally { // a duplicate-key source lands both rows
        val store = freshStore(); bootstrap(store)
        val e = upsertRows(store, row(1L, "a1", "d1", 1L), row(1L, "a2", "d1", 2L))
        cases += (("duplicate keys", store, e, 3L))
      }
      locally { // widening: an empty batch commits the schema alone, then a row lands
        val store = freshStore(); bootstrap(store)
        val e1 = SnapshotMerge.upsert(spark, store,
          Seq.empty[(Long, String, String, Long, String)].toDF("id", "v", "day", "ts", "extra"),
          Seq("id"), "day")
        val e2 = SnapshotMerge.upsert(spark, store,
          Seq((2L, "b2", "d1", 20L, "x")).toDF("id", "v", "day", "ts", "extra"), Seq("id"), "day")
        cases += (("widening, empty batch", store, e1, 0L))
        cases += (("widening, rows", store, e2, 2L))
      }
      locally { // -0.0 replaces 0.0 and NaN replaces NaN: both cancel; null partition moves values
        val store = freshStore()
        val nul = null.asInstanceOf[String]
        SnapshotMerge.upsert(spark, store,
          Seq((1L, 0.0, "d1"), (2L, Double.NaN, "d1"), (3L, 1.0, nul)).toDF("id", "x", "day"),
          Seq("id"), "day")
        val e = SnapshotMerge.upsert(spark, store,
          Seq((1L, -0.0, "d1"), (2L, Double.NaN, "d1"), (3L, 2.0, nul), (4L, -0.0, nul))
            .toDF("id", "x", "day"), Seq("id"), "day")
        cases += (("NaN/±0.0/null partition", store, e, 3L))
      }
      locally { // a null key matches nothing: the store keeps its null-key row
        val store = freshStore()
        SnapshotMerge.upsert(spark, store,
          Seq((Option(1L), "a", "d1"), (Option.empty[Long], "n", "d1")).toDF("id", "v", "day"),
          Seq("id"), "day")
        val e = SnapshotMerge.upsert(spark, store,
          Seq((Option.empty[Long], "n2", "d1")).toDF("id", "v", "day"), Seq("id"), "day")
        cases += (("null key", store, e, 1L))
      }
    }
    // once one task records each set, once the shuffled construction
    // does (a 512 B target is below every store's bytes)
    scenarios()
    val saved = SnapshotMerge.publishTargetFileBytes
    SnapshotMerge.publishTargetFileBytes = 512L
    try scenarios() finally SnapshotMerge.publishTargetFileBytes = saved
    cases.result().foreach { case (name, store, e, expected) =>
      val (recorded, viaDiff) = bothPaths(store, e)
      assert(recorded === viaDiff, s"$name: the recorded set must equal the diff")
      assert(recorded._1 === expected, s"$name: change rows")
    }
  }

  test("change sets: a bootstrap records none; a manifest without the line diffs; the recorded read is a plain scan") {
    val store = freshStore()
    bootstrap(store)
    assert(SnapshotMerge.snapshot(spark, store, 1L).changes.isEmpty,
      "a bootstrap has no base to record changes against")
    assert(!new java.io.File(store, "_changes").exists())
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L), (4L, "d", "d3", 20L)).toDF("id", "v", "day", "ts"),
      Seq("id"), "day")
    val recorded = SnapshotMerge.changes(spark, store, 1L, 2L)
    assert(!hasExchange(recorded),
      s"an adjacent recorded hop must be a plain scan:\n${recorded.queryExecution.executedPlan}")
    val want = fingerprint(recorded)
    assert(want._1 === 3L)
    // a manifest written before change sets were recorded: no line
    val m = java.nio.file.Path.of(store, "_GRAFT_SNAP_2")
    val lines = new String(java.nio.file.Files.readAllBytes(m), "UTF-8").split('\n')
    assert(lines.exists(_.startsWith("changes\t")))
    java.nio.file.Files.write(m,
      lines.filterNot(_.startsWith("changes\t")).mkString("", "\n", "\n").getBytes("UTF-8"))
    new java.io.File(store, "._GRAFT_SNAP_2.crc").delete() // the rewrite voids its checksum
    assert(SnapshotMerge.snapshot(spark, store, 2L).changes.isEmpty)
    val diffed = SnapshotMerge.changes(spark, store, 1L, 2L)
    assert(hasExchange(diffed), "no recorded set: the feed must diff the partitions")
    assert(fingerprint(diffed) === want)
    // a predicate rewrite and a restore record none either
    SnapshotMerge.deleteWhere(spark, store, col("id") === 4L)
    SnapshotMerge.restoreTo(spark, store, 1L)
    assert(SnapshotMerge.snapshot(spark, store, 3L).changes.isEmpty)
    assert(SnapshotMerge.snapshot(spark, store, 4L).changes.isEmpty)
  }

  test("change sets: an aborted publish leaves no referenced _changes dir behind") {
    val store = freshStore()
    bootstrap(store)
    SnapshotMerge.publishPreCommitHook = () => throw new java.io.IOException("injected abort")
    try intercept[java.io.IOException] {
      SnapshotMerge.upsert(spark, store,
        Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    } finally SnapshotMerge.publishPreCommitHook = () => ()
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(1L))
    val sets = Option(new java.io.File(store, "_changes").listFiles()).toSeq.flatten
    assert(sets.isEmpty, s"the aborted publish's change set must be retracted: $sets")
    val parent = new java.io.File(store).getParentFile
    assert(!parent.listFiles().exists(_.getName.contains("__staging")))
    // the retry records its set, and the manifest names it
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    val v = SnapshotMerge.snapshot(spark, store, 2L).changes
    assert(v.exists(p => new java.io.File(store, s"_changes/__e=$p").isDirectory), s"$v")
  }

  test("vacuum: dropped epochs' change sets go with them; the full walk reaps orphan sets") {
    val store = freshStore()
    bootstrap(store)
    (2 to 3).foreach { i =>
      SnapshotMerge.upsert(spark, store,
        Seq((2L, s"b$i", "d1", i.toLong)).toDF("id", "v", "day", "ts"), Seq("id"), "day")
    }
    val v2 = SnapshotMerge.snapshot(spark, store, 2L).changes.get
    val v3 = SnapshotMerge.snapshot(spark, store, 3L).changes.get
    val orphan = new java.io.File(store, "_changes/__e=99")
    assert(orphan.mkdirs())
    SnapshotMerge.vacuum(spark, store, keep = 1, graceMs = -1000L, sweepOrphans = false)
    assert(SnapshotMerge.committedEpochs(spark, store) === Seq(3L))
    assert(!new java.io.File(store, s"_changes/__e=$v2").exists(),
      "a dropped epoch's change set is swept from the manifests alone")
    assert(new java.io.File(store, s"_changes/__e=$v3").isDirectory, "the kept epoch's set stays")
    assert(orphan.exists(), "the manifest-driven mode cannot see orphans")
    SnapshotMerge.vacuum(spark, store, keep = 1, graceMs = -1000L)
    assert(!orphan.exists(), "the full walk reaps an orphan set")
    assert(new java.io.File(store, s"_changes/__e=$v3").isDirectory)
    assert(asMap(SnapshotMerge.read(spark, store))(2L) === ("b3", "d1", 3L))
  }

  test("change sets: changesKeyed and the streaming hop agree on both paths") {
    val store = freshStore()
    bootstrap(store)
    SnapshotMerge.upsert(spark, store,
      Seq((2L, "b2", "d1", 20L), (3L, "c2", "d1", 30L), (4L, "d", "d3", 20L))
        .toDF("id", "v", "day", "ts"), Seq("id"), "day")
    val (s1, s2) = (SnapshotMerge.snapshot(spark, store, 1L), SnapshotMerge.snapshot(spark, store, 2L))
    val keys = Some(Seq("id"))
    val keyed = fingerprint(SnapshotMerge.changesKeyed(spark, store, 1L, 2L, Seq("id")))
    assert(keyed._1 === 5L)
    assert(fingerprint(SnapshotMerge.streamingChangesAdjacent(
      spark, store, s1, s2, withDeletes = true, keys)) === keyed)
    assert(fingerprint(SnapshotMerge.streamingChangesAdjacent(
      spark, store, s1, s2.copy(changes = None), withDeletes = true, keys)) === keyed)
    assert(fingerprint(SnapshotMerge.streamingChanges(
      spark, store, 1L, 2L, withDeletes = true, keys)) === keyed)
    // inserts only: the recorded and diffed hops drop the same deletes
    assert(fingerprint(SnapshotMerge.streamingChangesAdjacent(
      spark, store, s1, s2, withDeletes = false)) ===
      fingerprint(SnapshotMerge.streamingChangesAdjacent(
        spark, store, s1, s2.copy(changes = None), withDeletes = false)))
  }

  test("q110 registered query runs and is stable across invocations") {
    val d = sfDir("0.001")
    val r1 = SnapshotMerge.snapshotMergeRollup(spark, d).collect()
    val r2 = SnapshotMerge.snapshotMergeRollup(spark, d).collect()
    assert(r1.nonEmpty && r1.sameElements(r2))
  }
}
