package graft

import org.apache.spark.sql.functions._

import graft.catalog.GraftTable
import graft.sink.{IncrementalView, ManifestSink}

/** Regression pins for the round-11 ADVICE findings: the vacuum /
  * in-flight-writer race, string-key copy-on-write, UTF-8-binary
  * string pruning order, and incremental-view refresh idempotence
  * under replay and races. */
class ManifestSafetySpec extends SparkTestBase {
  import spark.implicits._

  test("vacuum never sweeps an in-flight writer's above-current metadata") {
    val root = tmpDir("graft_vacrace_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    ManifestSink.publish(
      ev.filter(col("event_id") < 20), root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    ManifestSink.publish(
      ev.filter(col("event_id") >= 20 && col("event_id") < 40), root, 2,
        ManifestSink.WriteSpec(Seq("event_id")))
    // in-flight writer: epoch 3 fully staged (manifest + stats + data
    // written) but the CAS rename has not happened yet — exactly the
    // window commitStaged leaves open. A vacuum racing it must not
    // touch anything of epoch 3 (> current epoch 2); eating the
    // manifest here and letting the CAS win would commit an epoch
    // with no metadata — table unreadable (ADVICE r11, high).
    val inflight = ManifestSink.stage(
      ev.filter(col("event_id") >= 40 && col("event_id") < 60), root, 3,
      ManifestSink.WriteSpec(Seq("event_id")), unique = true)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // emulate commitStaged's window: manifest + stats already on disk,
    // the CAS rename not yet done (commitStaged writes metadata first,
    // CAS-renames the marker last)
    val mo = hfs.create(
      new org.apache.hadoop.fs.Path(s"$root/manifest-3.${inflight.token}"), true)
    mo.write((inflight.relFiles.mkString("\n") + "\n").getBytes("UTF-8")); mo.close()
    hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/stats-3.${inflight.token}"))
    // an above-current DV (a staged merge-on-read delete) must survive too
    val dvName = "dv-9.deadbeef0001"
    val o = hfs.create(new org.apache.hadoop.fs.Path(s"$root/$dvName"), true)
    o.write("k\n".getBytes("UTF-8")); o.close()
    ManifestSink.vacuum(spark, root, keep = 1)
    val names = hfs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).toSet
    assert(names.contains(s"manifest-3.${inflight.token}"),
      "vacuum ate the in-flight writer's manifest")
    assert(names.contains(s"stats-3.${inflight.token}"),
      "vacuum ate the in-flight writer's stats")
    assert(names.contains(dvName), "vacuum ate an above-current DV")
    hfs.delete(new org.apache.hadoop.fs.Path(s"$root/$dvName"), false)
    // the in-flight CAS then wins and the table reads clean
    ManifestSink.commitStaged(spark, inflight)
    assert(ManifestSink.currentEpoch(spark, root) == 3)
    assert(ManifestSink.read(spark, root).count() ==
      ev.filter(col("event_id") >= 40 && col("event_id") < 60).count())
    // once a LATER epoch commits, the old attempt metadata is at or
    // below current and a fresh vacuum reclaims dropped epochs as before
    val (dropped, kept) = ManifestSink.vacuum(spark, root, keep = 1)
    assert(kept == Seq(3) && dropped == Seq(2))
  }

  test("copy-on-write merge and delete on a STRING key: typed overlap, no silent no-op") {
    val root = tmpDir("graft_cowstr_")
    val base = Seq(("aa", 1L), ("ab", 2L), ("ac", 3L), ("mm", 4L),
      ("mn", 5L), ("xx", 6L), ("xy", 7L)).toDF("k", "v")
    ManifestSink.publish(
      base.repartitionByRange(3, col("k")).sortWithinPartitions("k"),
      root, 1, ManifestSink.WriteSpec(Seq("k")))
    // replace one key, insert one brand-new key: before the typed
    // overlap fix, `touched` was empty for string keys (the join
    // compared against the all-null long bounds), so the old "ab" row
    // SURVIVED next to the update — a silent duplicate (ADVICE r11)
    val upd = Seq(("ab", 20L), ("zz", 99L)).toDF("k", "v")
    val (e2, rewritten, carried) =
      ManifestSink.mergeCow(spark, root, upd, "k", Seq("k"))
    assert(e2 == 2)
    val got = ManifestSink.read(spark, root).as[(String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq("aa" -> 1L, "ab" -> 20L, "ac" -> 3L, "mm" -> 4L,
      "mn" -> 5L, "xx" -> 6L, "xy" -> 7L, "zz" -> 99L),
      s"string-key merge corrupted the table: $got")
    assert(carried >= 1, "files outside the update's key range must carry as metadata")
    // right-to-erasure on a string key actually deletes
    val (e3, _, _) = ManifestSink.deleteCow(spark, root,
      Seq("mm").toDF("k"), "k", Seq("k"))
    assert(e3 == 3)
    val after = ManifestSink.read(spark, root).select("k").as[String].collect().toSet
    assert(!after.contains("mm") && after.contains("mn"),
      s"string-key delete must remove exactly the named keys: $after")
    // unsupported key types are rejected loudly, never silently no-oped
    val bad = Seq((1.5, 1L)).toDF("k", "v")
    intercept[IllegalArgumentException](
      ManifestSink.mergeCow(spark, root, bad, "k", Seq("k")))
  }

  test("string zone-map pruning compares in UTF8 binary order (supplementary plane)") {
    val root = tmpDir("graft_u8prune_")
    // U+1F600 (a supplementary-plane code point): UTF-16 surrogate pair
    // (D83D DE00) sorts BELOW U+FFFD in Java String order, but its
    // UTF-8 bytes (F0 9F 98 80) sort ABOVE — the two orders diverge
    // exactly here. Spark's min/max produced the bounds in UTF-8
    // binary order; pruning must compare in the same order or files
    // are wrongly skipped (silent row loss, ADVICE r11).
    val emoji = "😀"
    val hiCap = "􏿿" // U+10FFFF
    val lo = "�"
    ManifestSink.publish(Seq("a", "b").toDF("s").coalesce(1), root, 1,
      ManifestSink.WriteSpec(Seq("s")))
    ManifestSink.publish(Seq(emoji).toDF("s").coalesce(1), root, 2,
      ManifestSink.WriteSpec(Seq("s")), append = true)
    assert(emoji < lo, "precondition: Java order puts the emoji below U+FFFD")
    // explicit-evidence API: the emoji file must be HIT, not pruned
    val (pruned, hit, total) =
      ManifestSink.readPruned(spark, root, col("s").between(lo, hiCap))
    assert(total == 2 && hit == 1,
      s"UTF-8 range [U+FFFD, U+10FFFF] must hit exactly the emoji file ($hit/$total)")
    assert(pruned.select("s").as[String].collect().toSeq == Seq(emoji))
    // planning-time scan path: ordinary .filter() over the table read
    val t = spark.read.format("graft-manifest").option("root", root).load()
    val rows = t.filter(col("s") >= lit(lo)).select("s").as[String].collect().toSeq
    assert(rows == Seq(emoji),
      s"FileIndex pruning lost the supplementary-plane row: $rows")
    assert(GraftTable.lastPlannedFiles == 1,
      s"the [a,b] file must still be pruned (selected ${GraftTable.lastPlannedFiles})")
  }

  test("incremental view: replayed and racing refreshes of a committed version no-op") {
    val root = tmpDir("graft_ivmrace_t_")
    val view = tmpDir("graft_ivmrace_v_")
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
      .filter(col("event_id") < 60)
    ManifestSink.publish(ev, root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    IncrementalView.refresh(spark, root, view, "event_id", "user_id", "value")
    val v1 = ManifestSink.currentEpoch(spark, view)
    val snap = ManifestSink.read(spark, view).orderBy("user_id").collect().toSeq
    // a REPLAY of the same source version (crash between view commit
    // and caller checkpoint) must not fold the delta twice: the entry
    // guard returns the current epoch untouched
    val changes = ManifestSink.tableChanges(spark, root, "event_id", 0, 1)
    val replayed = IncrementalView.applyDelta(spark, view, changes,
      "user_id", "value", ManifestSink.Txn(IncrementalView.AppId, 1L))
    assert(replayed == v1, "replayed refresh must no-op")
    assert(ManifestSink.read(spark, view).orderBy("user_id").collect().toSeq == snap,
      "replayed refresh must leave the view bit-identical")
    // two CONCURRENT refreshes of the same source version: whichever
    // interleaving occurs (serialized -> entry guard; raced -> the
    // publish conflict is absorbed), the invariant is one fold, no
    // exception. Advance the source so there is a real delta to race on.
    ManifestSink.deleteCow(spark, root,
      ev.filter(col("event_id") < 10).select("event_id"), "event_id", Seq("event_id"))
    val delta2 = ManifestSink.tableChanges(spark, root, "event_id", 1, 2)
    delta2.cache().count()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { _ =>
      new Thread(() => {
        barrier.await()
        try IncrementalView.applyDelta(spark, view, delta2, "user_id", "value",
          ManifestSink.Txn(IncrementalView.AppId, 2L))
        catch { case t: Throwable => errs.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    delta2.unpersist()
    assert(errs.isEmpty, s"racing refresh surfaced: ${Option(errs.peek())}")
    // the view equals a full recompute of the final table state —
    // i.e. the delta folded exactly once
    val expect = ManifestSink.read(spark, root).groupBy("user_id")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))
          .cast(org.apache.spark.sql.types.DecimalType(38, 4))).as("sum_value"))
      .orderBy("user_id").collect().toSeq
    val gotView = ManifestSink.read(spark, view).orderBy("user_id").collect().toSeq
    assert(gotView.map(r => (r.get(0), r.get(1), r.get(2))) ==
      expect.map(r => (r.get(0), r.get(1), r.get(2))),
      "racing same-version refreshes must fold the delta exactly once")
  }

  test("maintenance lease: racing vacuums yield one winner; stale leases break after TTL") {
    import spark.implicits._
    val root = tmpDir("lease_vac_")
    (1 to 5).foreach { e =>
      ManifestSink.publish(Seq((e.toLong, s"v$e")).toDF("k", "v"), root, e, append = true)
    }
    // hold the lease ourselves: a concurrent vacuum must refuse
    val holding = ManifestSink.withMaintLease(spark, root) {
      assert(ManifestSink.maintLeaseHeld(spark, root))
      intercept[ManifestSink.MaintenanceLeaseException] {
        ManifestSink.vacuum(spark, root, keep = 2)
      }
      true
    }
    assert(holding)
    assert(!ManifestSink.maintLeaseHeld(spark, root), "lease releases on exit")
    // released: vacuum proceeds normally
    val (dropped, kept) = ManifestSink.vacuum(spark, root, keep = 2)
    assert(dropped == Seq(1, 2, 3) && kept == Seq(4, 5))
    // a crashed holder's stale lease breaks after the TTL
    val lease = new org.apache.hadoop.fs.Path(root, "maint-lease")
    val fs = lease.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lease, false); out.write(1); out.close()
    intercept[ManifestSink.MaintenanceLeaseException] {
      ManifestSink.vacuum(spark, root, keep = 2) // default 1h TTL: refused
    }
    val broke = ManifestSink.withMaintLease(spark, root, ttlMs = -1L) { 42 }
    assert(broke == 42, "a stale lease past the TTL must break and proceed")
    // many concurrent racers: every one either holds cleanly or gets
    // the typed refusal — never two holders at once
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { _ =>
      new Thread(() =>
        try ManifestSink.withMaintLease(spark, root) {
          val n = inside.incrementAndGet()
          maxInside.getAndUpdate(m => math.max(m, n))
          Thread.sleep(30)
          inside.decrementAndGet()
          wins.incrementAndGet()
        } catch { case _: ManifestSink.MaintenanceLeaseException => () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(maxInside.get() == 1, "two holders must never overlap")
    assert(wins.get() >= 1, "someone must win the lease")
  }

  test("OPTIMIZE racing an INSERT: the epoch CAS yields one winner, no lost epoch") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.catalog.GraftCatalog].getName)
    val root = tmpDir("lease_opt_") + "/t"
    (0 until 100).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .createOrReplaceTempView("lease_opt_src")
    spark.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM lease_opt_src")
    // stage a compaction against epoch 1, let an INSERT land first,
    // then the compaction's commit must CONFLICT (not clobber)
    val staged = ManifestSink.stage(
      ManifestSink.read(spark, root).repartitionByRange(2, col("k"))
        .sortWithinPartitions("k"), root, 2, ManifestSink.WriteSpec(Seq("k")), unique = true)
    spark.sql(s"INSERT INTO graft.`$root` VALUES (1000, 9.0)")
    intercept[ManifestSink.ManifestConflictException] {
      ManifestSink.commitStaged(spark, staged)
    }
    // nothing lost: the insert's epoch is current and complete
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 101)
    // the retried OPTIMIZE (re-resolving the current epoch) succeeds
    spark.sql(s"OPTIMIZE graft.`$root` CLUSTER BY (k) FILES 2")
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$root`")
      .collect()(0).getLong(0) == 101)
  }
}
