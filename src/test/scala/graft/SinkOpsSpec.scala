package graft

import org.apache.spark.sql.functions._

import graft.query.SkewJoin
import graft.sink.{Compaction, PartitionedParquetSink}

class SinkOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("compaction merges per-batch small files and preserves content") {
    val out = tmpDir("compact") + "/t"
    val sink = new PartitionedParquetSink(out, "t", "ONE", "user_id", "ts", buckets = 2)
    val mk = (base: Long) => Seq(
      (base, new java.sql.Timestamp(base), 1L, "x", 1.0),
      (base + 1, new java.sql.Timestamp(base + 1), 2L, "x", 2.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    (0 until 5).foreach(i => sink.write(mk(i * 10L), i.toLong))

    val before = spark.read.parquet(out).orderBy("event_id").collect().toSeq
    val (nBefore, nAfter) = Compaction.compact(spark, out, "user_id", "ts")
    assert(nBefore > nAfter, s"$nBefore -> $nAfter")
    val after = spark.read.parquet(out).orderBy("event_id").collect().toSeq
    assert(after == before)
    // idempotent second pass
    val (b2, a2) = Compaction.compact(spark, out, "user_id", "ts")
    assert(b2 == a2)
  }

  test("salted join equals the plain join on skewed data") {
    val big = (1 to 5000).map(i => (if (i % 10 == 0) "cold" + i else "hot", i.toDouble))
      .toDF("k", "v")
    val small = Seq(("hot", "H"), ("cold10", "C")).toDF("k", "label")
    val plain = big.join(small, Seq("k")).groupBy("k", "label").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val salted = SkewJoin.saltedEquiJoin(big, small, "k").groupBy("k", "label").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("two-tier salted join: result-invariant, replication ~ hot keys only") {
    // 1 provably-hot key (~4500 rows) + 500 cold keys (~1 row each);
    // the dim covers every key.
    val big = (1 to 5000).map(i => (if (i % 10 == 0) "cold" + i else "hot", i.toDouble))
      .toDF("k", "v")
    val small = ("hot" +: (1 to 500).map(i => "cold" + i * 10))
      .map(k => (k, "L" + k)).toDF("k", "label")

    val plain = big.join(small, Seq("k")).groupBy("k", "label").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val twoTier = SkewJoin
      .saltedEquiJoinTwoTier(big, small, "k", saltFactor = 8, hotThreshold = 100L)
      .groupBy("k", "label").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(twoTier == plain)

    // Volume: flat salting would ship 8 x 501 = 4008 small-side rows;
    // two-tier ships 501 + 7 x 1 = 508 — replication rides ONLY the
    // single hot key.
    val vol = SkewJoin.twoTierReplicationCount(big, small, "k",
      saltFactor = 8, hotThreshold = 100L)
    assert(vol == 501L + 7L * 1L, s"replication volume $vol")

    // Degenerate thresholds stay correct: everything hot == flat
    // salting; nothing hot == plain join.
    val allHot = SkewJoin
      .saltedEquiJoinTwoTier(big, small, "k", saltFactor = 4, hotThreshold = 0L)
      .groupBy("k", "label").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(allHot == plain)
    val noneHot = SkewJoin
      .saltedEquiJoinTwoTier(big, small, "k", saltFactor = 4, hotThreshold = Long.MaxValue)
      .groupBy("k", "label").count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(noneHot == plain)
  }

  test("salt assignment is deterministic: same row -> same salt across runs and partitionings") {
    val big = (1 to 2000).map(i => ("hot", i.toDouble)).toDF("k", "v")
    def saltMap(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("__salt", SkewJoin.contentSalt(df, 8))
        .collect().map(r => (r.getDouble(1), r.getInt(2))).toMap
    val a = saltMap(big)
    val b = saltMap(big.repartition(7)) // different physical layout, same content
    assert(a == b, "salt must depend on row content only, not partition layout")
    // and it actually spreads the hot key (not all rows on one salt)
    assert(a.values.toSet.size > 1)
  }

  test("salted two-phase aggregation equals direct groupBy") {
    val big = (1 to 10000).map(i => (if (i % 100 == 0) s"k$i" else "hotkey", i.toDouble))
      .toDF("k", "v")
    val direct = big.groupBy("k").agg(count(lit(1)).as("cnt"), sum("v").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = SkewJoin.saltedCountSum(big, "k", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == direct)
  }

  test("manifest sink: atomic publish, orphan invisibility, time travel, orphan accounting") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_manifest_spec_")
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("value"))
    val n1 = ManifestSink.publish(ev.filter(col("event_id") < 50), root, 1)
    assert(n1 >= 1)
    assert(ManifestSink.currentEpoch(spark, root) == 1)
    val r1 = ManifestSink.read(spark, root).count()
    assert(r1 == ev.filter(col("event_id") < 50).count())

    ManifestSink.publish(ev.filter(col("event_id") % 2 === 0), root, 2)
    assert(ManifestSink.currentEpoch(spark, root) == 2)

    // crashed-writer orphan INSIDE the live epoch dir
    val stray = s"$root/__stray"
    ev.filter(col("event_id") < 5).coalesce(1)
      .write.mode("overwrite").parquet(stray)
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(stray)
    val hfs = sp.getFileSystem(conf)
    val part = hfs.listStatus(sp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    val orphan = new org.apache.hadoop.fs.Path(
      s"$root/data-epoch=2/part-99999-crashed.parquet")
    assert(hfs.rename(part, orphan))

    // manifest-resolved read: published rows only, orphan invisible
    val cur = ManifestSink.read(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq
    val want = ev.filter(col("event_id") % 2 === 0)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(cur == want, "orphan leaked into the manifest-resolved read")
    // a plain directory listing DOES see the orphan — the indirection
    // is what hides it
    val plain = spark.read.parquet(s"$root/data-epoch=2").count()
    assert(plain > want.size, "orphan should be visible to a raw listing")

    // time travel: epoch 1 still reads exactly its published content
    val t1 = ManifestSink.read(spark, root, epoch = 1)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(t1 == ev.filter(col("event_id") < 50)
      .select("event_id").as[Long].collect().sorted.toSeq)

    // orphan accounting: exactly the crashed file (both epochs' data
    // files are manifest-referenced and excluded)
    val orphans = ManifestSink.orphanFiles(spark, root)
    assert(orphans.size == 1 && orphans.head.endsWith("part-99999-crashed.parquet"),
      s"orphans: $orphans")
  }

  test("manifest vacuum keeps newest epochs + current, reclaims old data and orphans") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_manifest_vac_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    ManifestSink.publish(ev.filter(col("event_id") < 10), root, 1)
    ManifestSink.publish(ev.filter(col("event_id") < 20), root, 2)
    ManifestSink.publish(ev.filter(col("event_id") < 30), root, 3)
    // stray orphan in epoch-3's dir
    val stray = s"$root/__stray"
    ev.filter(col("event_id") < 3).coalesce(1).write.mode("overwrite").parquet(stray)
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(stray)
    val hfs = sp.getFileSystem(conf)
    val part = hfs.listStatus(sp).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    assert(hfs.rename(part, new org.apache.hadoop.fs.Path(
      s"$root/data-epoch=3/part-88888-crashed.parquet")))

    // under the DEFAULT orphan grace (1 h) a fresh unreferenced file
    // is protected — it could be a rebasing writer's live stage
    // (ADVICE r14); the epochs still drop
    val (dropped, kept) = ManifestSink.vacuum(spark, root, keep = 2)
    assert(dropped == Seq(1) && kept == Seq(2, 3), s"$dropped / $kept")
    assert(ManifestSink.orphanFiles(spark, root).nonEmpty,
      "a fresh orphan must survive the default grace window")
    // grace disabled: the crashed file sweeps
    ManifestSink.vacuum(spark, root, keep = 2, orphanGraceMs = -1L)
    // epoch-1 commit/manifest and data are gone; epochs 2 and 3 intact
    val names1 = hfs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName)
    assert(!names1.exists(n => n == "commit-1" || n.startsWith("manifest-1.")))
    intercept[Exception](ManifestSink.read(spark, root, epoch = 1).collect())
    assert(ManifestSink.read(spark, root, epoch = 2).count() ==
      ev.filter(col("event_id") < 20).count())
    assert(ManifestSink.read(spark, root).count() ==
      ev.filter(col("event_id") < 30).count())
    // orphan swept; surviving table has zero unreferenced files
    assert(ManifestSink.orphanFiles(spark, root).isEmpty)
    // idempotent
    assert(ManifestSink.vacuum(spark, root, keep = 2) == (Seq(), Seq(2, 3)))
  }

  test("manifest zone maps: range reads prune the file list; residual filter stays exact") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_skip_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    ManifestSink.publish(
      ev.repartitionByRange(8, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    // a narrow range hits a strict subset of the 8 clustered files
    val (df, hit, total) = ManifestSink.readPruned(spark, root, col("event_id").between(100L, 199L))
    assert(total == 8, s"expected 8 data files, got $total")
    assert(hit < total && hit >= 1, s"pruning must bite: $hit/$total")
    val got = df.filter(col("event_id").between(100L, 199L))
      .select("event_id").as[Long].collect().sorted.toSeq
    val want = ev.filter(col("event_id").between(100L, 199L))
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == want)
    // a range off the end of the data: no file overlaps — the read
    // returns a schema-preserving EMPTY frame (never an un-pruned
    // fallback scan that could surface orphan rows — ADVICE r10)
    val (df2, hit2, _) = ManifestSink.readPruned(spark, root,
      col("event_id").between(Long.MaxValue - 10, Long.MaxValue))
    assert(hit2 == 0 && df2.count() == 0)
    assert(df2.schema.fieldNames.toSeq == Seq("event_id", "value"))
    // full-range read touches everything and equals the table
    val (df3, hit3, total3) = ManifestSink.readPruned(spark, root,
      col("event_id").between(Long.MinValue, Long.MaxValue))
    assert(hit3 == total3)
    assert(df3.count() == ev.count())
  }

  test("manifest compaction: fewer files, identical content, travel + vacuum reclaim") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_mcompact_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    for ((m, e) <- Seq(0, 1, 2).zip(Seq(1, 2, 3)))
      ManifestSink.publish(
        ev.filter(col("event_id") % 3 === m)
          .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
        root, e, ManifestSink.WriteSpec(Seq("event_id")), append = true)
    val before = ManifestSink.manifestFiles(spark, root, 3)
    val preContent = ManifestSink.read(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq
    val newEpoch = ManifestSink.compact(spark, root, Seq("event_id"), numFiles = 4)
    assert(newEpoch == 4 && ManifestSink.currentEpoch(spark, root) == 4)
    val after = ManifestSink.manifestFiles(spark, root, 4)
    assert(after.size < before.size, s"${after.size} !< ${before.size}")
    assert(ManifestSink.read(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq == preContent)
    // pre-compaction epoch still time-travels
    assert(ManifestSink.read(spark, root, epoch = 3)
      .select("event_id").as[Long].collect().sorted.toSeq == preContent)
    // zone maps on the compacted epoch still prune
    val (_, hit, total) = ManifestSink.readPruned(spark, root, col("event_id").between(100L, 199L))
    assert(hit < total && total == after.size)
    // vacuum to the compacted epoch reclaims every pre-compaction file
    ManifestSink.vacuum(spark, root, keep = 1)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(before.forall(p => !hfs.exists(new org.apache.hadoop.fs.Path(p))),
      "vacuum must reclaim the pre-compaction files")
    assert(ManifestSink.read(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq == preContent)
  }

  test("manifest CAS: two racing publishers — exactly one wins, loser conflicts, never a clobber") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_mcas_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    val a = ev.filter(col("event_id") < 40)
    val b = ev.filter(col("event_id") >= 40 && col("event_id") < 90)
    // interleaved: both stage epoch 1 (attempt-unique data dirs — no
    // data clobber either), B commits first and wins
    val stagedA = ManifestSink.stage(a, root, 1,
      ManifestSink.WriteSpec(Seq("event_id")), unique = true)
    val stagedB = ManifestSink.stage(b, root, 1,
      ManifestSink.WriteSpec(Seq("event_id")), unique = true)
    ManifestSink.commitStaged(spark, stagedB)
    val loser = intercept[ManifestSink.ManifestConflictException](
      ManifestSink.commitStaged(spark, stagedA))
    assert(loser.getMessage.contains("epoch 1"))
    // the table is exactly B's content — A clobbered nothing
    assert(ManifestSink.read(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq ==
      b.select("event_id").as[Long].collect().sorted.toSeq)
    // the loser's metadata is cleaned eagerly; its data files are
    // orphan candidates, swept by vacuum (epoch 1 <= current epoch 1)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = hfs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName)
    assert(!names.contains(s"manifest-1.${stagedA.token}"))
    val orphans = ManifestSink.orphanFiles(spark, root)
    assert(orphans.nonEmpty && orphans.forall(_.contains(s"-a${stagedA.token}")))
    ManifestSink.vacuum(spark, root, keep = 2, orphanGraceMs = -1L)
    assert(ManifestSink.orphanFiles(spark, root).isEmpty)
    assert(ManifestSink.read(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq ==
      b.select("event_id").as[Long].collect().sorted.toSeq)
    // the loser retries against the NEXT epoch and succeeds
    ManifestSink.commitStaged(spark,
      ManifestSink.stageAppend(a, root, ManifestSink.currentEpoch(spark, root) + 1,
        ManifestSink.WriteSpec(Seq("event_id")), unique = true))
    assert(ManifestSink.read(spark, root).count() == a.count() + b.count())
  }

  test("manifest txn idempotence: replayed versions no-op; txn memory survives vacuum") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_mtxn_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    val b0 = ev.filter(col("event_id") < 30)
    val b1 = ev.filter(col("event_id") >= 30 && col("event_id") < 60)
    assert(ManifestSink.commitIdempotentAppend(b0, root, "app", 0L, Seq("event_id")))
    // replay of version 0 — even with different data — publishes nothing
    assert(!ManifestSink.commitIdempotentAppend(b1, root, "app", 0L, Seq("event_id")))
    assert(ManifestSink.currentEpoch(spark, root) == 1)
    assert(ManifestSink.read(spark, root).count() == b0.count())
    // the next version commits normally
    assert(ManifestSink.commitIdempotentAppend(b1, root, "app", 1L, Seq("event_id")))
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    assert(ManifestSink.read(spark, root).count() == b0.count() + b1.count())
    assert(ManifestSink.lastCommittedVersion(spark, root, "app").contains(1L))
    // vacuum drops epoch 1 (which carried txn version 0) — the TXNS
    // rollup keeps the replay no-op test intact across retention
    val (dropped, _) = ManifestSink.vacuum(spark, root, keep = 1)
    assert(dropped == Seq(1))
    assert(!ManifestSink.commitIdempotentAppend(b0, root, "app", 0L, Seq("event_id")))
    assert(!ManifestSink.commitIdempotentAppend(b1, root, "app", 1L, Seq("event_id")))
    assert(ManifestSink.currentEpoch(spark, root) == 2)
  }

  test("multi-column zone maps: string + long pruning on one commit; compaction preserves both") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_mzone_spec_")
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    // three append batches, clustered on (event_type, event_id)
    for ((m, e) <- Seq(0, 1, 2).zip(Seq(1, 2, 3)))
      ManifestSink.publish(
        ev.filter(col("event_id") % 3 === m)
          .repartitionByRange(4, col("event_type"), col("event_id"))
          .sortWithinPartitions("event_type", "event_id"),
        root, e, ManifestSink.WriteSpec(Seq("event_type", "event_id")), append = true)
    // STRING pruning bites and stays exact under the residual filter
    val (sdf, shit, stotal) = ManifestSink.readPruned(
      spark, root, col("event_type").between("click", "error"))
    assert(shit < stotal && shit >= 1, s"string pruning must bite: $shit/$stotal")
    assert(sdf.filter(col("event_type").between("click", "error")).count() ==
      ev.filter(col("event_type").between("click", "error")).count())
    // the SAME commit answers long-range reads too
    val (ldf, lhit, ltotal) = ManifestSink.readPruned(
      spark, root, col("event_id").between(0L, 99L))
    assert(lhit <= ltotal)
    assert(ldf.filter(col("event_id").between(0L, 99L)).count() ==
      ev.filter(col("event_id").between(0L, 99L)).count())
    // no-overlap string range: schema-preserving empty frame
    val (edf, ehit, _) = ManifestSink.readPruned(
      spark, root, col("event_type").between("zzz1", "zzz2"))
    assert(ehit == 0 && edf.count() == 0 &&
      edf.schema.fieldNames.toSeq == Seq("event_id", "event_type", "value"))
    // compact: fewer files, BOTH columns' zone maps still prune
    val preFiles = ManifestSink.manifestFiles(spark, root, 3).size
    ManifestSink.compact(spark, root, Seq("event_type", "event_id"), numFiles = 4)
    val postFiles = ManifestSink
      .manifestFiles(spark, root, ManifestSink.currentEpoch(spark, root)).size
    assert(postFiles < preFiles)
    val (_, shit2, stotal2) = ManifestSink.readPruned(
      spark, root, col("event_type").between("click", "error"))
    assert(shit2 < stotal2 && shit2 <= shit,
      s"compacted string pruning must not regress: $shit2/$stotal2 vs $shit/$stotal")
    // stats metadata of dropped epochs is reclaimed with them
    ManifestSink.vacuum(spark, root, keep = 1)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = hfs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName)
    assert(!names.exists(n => n.startsWith("stats-1.") || n.startsWith("stats-2.") ||
      n.startsWith("stats-3.")), s"stale stats survived vacuum: ${names.mkString(",")}")
  }

  test("copy-on-write merge: zone maps bound the rewrite; untouched files carry byte-identical") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_cow_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    ManifestSink.publish(
      ev.repartitionByRange(8, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    val m1 = ManifestSink.manifestFiles(spark, root, 1)
    val mtimes = m1.map(p => p -> new java.io.File(
      new org.apache.hadoop.fs.Path(p).toUri.getPath).lastModified()).toMap
    // narrow-key update + disjoint inserts
    val upd = ev.filter(col("event_id").between(100, 199))
      .select(col("event_id"), (col("value") * 2).as("value"))
      .union(ev.filter(col("event_id") < 10)
        .select((col("event_id") + 500000L).as("event_id"), col("value")))
    val (e2, rewritten, carried) =
      ManifestSink.mergeCow(spark, root, upd, "event_id", Seq("event_id"))
    assert(e2 == 2 && carried >= 6, s"narrow merge must carry most files: $carried")
    assert(rewritten >= 1)
    // content = merge semantics, exactly
    val got = ManifestSink.read(spark, root)
      .select("event_id", "value").as[(Long, Double)].collect().sorted.toSeq
    val want = (ev.filter(!col("event_id").between(100, 199))
        .select("event_id", "value").as[(Long, Double)].collect().toSeq ++
      ev.filter(col("event_id").between(100, 199))
        .select(col("event_id"), col("value") * 2).as[(Long, Double)].collect().toSeq ++
      ev.filter(col("event_id") < 10)
        .select(col("event_id") + 500000L, col("value")).as[(Long, Double)].collect().toSeq)
      .sorted
    assert(got == want)
    // carried files untouched on disk; epoch 1 still time-travels
    val m2 = ManifestSink.manifestFiles(spark, root, 2).toSet
    val kept = m1.filter(m2)
    assert(kept.size == carried)
    assert(kept.forall(p => new java.io.File(
      new org.apache.hadoop.fs.Path(p).toUri.getPath).lastModified() == mtimes(p)),
      "carried files must not be rewritten")
    assert(ManifestSink.read(spark, root, epoch = 1)
      .select("event_id").as[Long].collect().sorted.toSeq ==
      ev.select("event_id").as[Long].collect().sorted.toSeq)
    // the merged epoch's zone maps stay live: pruning still bites and
    // the rewritten region reads back doubled
    val (pr, hit, total) = ManifestSink.readPruned(spark, root, col("event_id").between(100L, 199L))
    assert(hit < total, s"post-merge pruning must bite: $hit/$total")
    assert(pr.filter(col("event_id").between(100, 199))
      .select("event_id", "value").as[(Long, Double)].collect().sorted.toSeq ==
      ev.filter(col("event_id").between(100, 199))
        .select(col("event_id"), col("value") * 2).as[(Long, Double)].collect().sorted.toSeq)
    // insert-only merge: nothing overlaps, every file carries
    val ins = ev.filter(col("event_id") < 5)
      .select((col("event_id") + 900000L).as("event_id"), col("value"))
    val (_, _, carried2) =
      ManifestSink.mergeCow(spark, root, ins, "event_id", Seq("event_id"))
    assert(carried2 == ManifestSink.manifestFiles(spark, root, 2).size,
      "disjoint inserts must rewrite nothing")
    assert(ManifestSink.read(spark, root).count() == want.size + 5)
  }

  test("copy-on-write delete and rollback: bounded erasure, audit pin, metadata-only restore") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_del_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    ManifestSink.publish(
      ev.repartitionByRange(8, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    // narrow delete: most files carry, the range is gone, the rest intact
    val (e2, _, carried) = ManifestSink.deleteCow(spark, root,
      ev.filter(col("event_id").between(100, 199)).select(col("event_id")),
      "event_id", Seq("event_id"))
    assert(e2 == 2 && carried >= 6, s"narrow delete must carry most files: $carried")
    val got = ManifestSink.read(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got == ev.filter(!col("event_id").between(100, 199))
      .select("event_id").as[Long].collect().sorted.toSeq)
    // the pre-delete epoch stays pinned for audit
    assert(ManifestSink.read(spark, root, epoch = 1).count() == ev.count())
    // no-op delete (keys overlap nothing): a metadata-only epoch,
    // zero rewritten files, content unchanged
    val (e3, rewritten3, carried3) = ManifestSink.deleteCow(spark, root,
      ev.limit(3).select((col("event_id") + 800000L).as("event_id")),
      "event_id", Seq("event_id"))
    assert(e3 == 3 && rewritten3 == 0 &&
      carried3 == ManifestSink.manifestFiles(spark, root, 2).size)
    assert(ManifestSink.read(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq == got)
    // rollback to the original: a NEW epoch with epoch-1's files —
    // content restored, zone maps restored (pruned read bites),
    // history intact (the delete epoch still readable)
    val e4 = ManifestSink.rollback(spark, root, to = 1)
    assert(e4 == 4 && ManifestSink.currentEpoch(spark, root) == 4)
    assert(ManifestSink.read(spark, root)
      .select("event_id").as[Long].collect().sorted.toSeq ==
      ev.select("event_id").as[Long].collect().sorted.toSeq)
    val (_, hit, total) = ManifestSink.readPruned(spark, root, col("event_id").between(100L, 199L))
    assert(hit < total && hit >= 1)
    assert(ManifestSink.read(spark, root, epoch = 2)
      .select("event_id").as[Long].collect().sorted.toSeq == got,
      "rollback must not rewrite history")
    // rollback shares data files: epoch 4's manifest == epoch 1's
    assert(ManifestSink.manifestFiles(spark, root, 4).toSet ==
      ManifestSink.manifestFiles(spark, root, 1).toSet)
    // a crashed attempt's commit tmp (died between tmp write and CAS
    // rename) is dead weight at or below the current epoch — vacuum
    // sweeps it; a tmp ABOVE current (an in-flight committer) survives
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (name <- Seq("commit-2.tmp.deadbeef0001", "commit-99.tmp.deadbeef0002")) {
      val o = hfs.create(new org.apache.hadoop.fs.Path(s"$root/$name"), true)
      o.write("token=dead\n".getBytes("UTF-8")); o.close()
    }
    ManifestSink.vacuum(spark, root, keep = 2)
    val names = hfs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName)
    assert(!names.contains("commit-2.tmp.deadbeef0001"),
      "dead commit tmp must be swept")
    assert(names.contains("commit-99.tmp.deadbeef0002"),
      "an in-flight committer's tmp must survive vacuum")
    hfs.delete(new org.apache.hadoop.fs.Path(s"$root/commit-99.tmp.deadbeef0002"), false)
  }

  test("manifest history: one row per live epoch, txns surfaced, retention-bounded") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_hist_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    ManifestSink.publish(ev.filter(col("event_id") < 20), root, 1)
    ManifestSink.publish(ev.filter(col("event_id") >= 20 && col("event_id") < 40),
      root, 2, append = true, txn = Some(ManifestSink.Txn("hist_app", 7L)))
    val h = ManifestSink.history(spark, root)
      .orderBy("epoch")
      .collect()
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(h(0).isNullAt(2) && h(0).isNullAt(3), "epoch 1 carried no txn")
    assert(h(1).getString(2) == "hist_app" && h(1).getLong(3) == 7L)
    assert(h(1).getInt(4) > h(0).getInt(4), "append history accumulates files")
    // history shrinks with retention
    ManifestSink.vacuum(spark, root, keep = 1)
    assert(ManifestSink.history(spark, root).collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("change data feed: appends insert, CoW diffs, compaction silent, rollback inverts") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_cdf_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    ManifestSink.publish(
      ev.filter(col("event_id") < 100)
        .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    // epoch 2: append — the feed is exactly the batch, all inserts
    ManifestSink.publish(
      ev.filter(col("event_id").between(100, 119)), root, 2,
        ManifestSink.WriteSpec(Seq("event_id")), append = true)
    val e2 = ManifestSink.tableChanges(spark, root, "event_id", 1, 2).collect()
    assert(e2.length == 20 && e2.forall(_.getAs[String]("_change_type") == "insert"))
    // epoch 3: merge rewriting a narrow key range; an update whose
    // payload is IDENTICAL (key 10, value unchanged) must emit nothing
    val upd = ev.filter(col("event_id") === 10)
      .union(ev.filter(col("event_id") === 11)
        .select(col("event_id"), (col("value") + 5).as("value")))
    ManifestSink.mergeCow(spark, root, upd, "event_id", Seq("event_id"))
    val e3 = ManifestSink.tableChanges(spark, root, "event_id", 2, 3)
      .orderBy("_change_type").collect()
    assert(e3.map(r => (r.getLong(0), r.getAs[String]("_change_type"))).toSeq ==
      Seq((11L, "update_postimage"), (11L, "update_preimage")),
      s"identical-payload rewrite must be silent; got ${e3.toSeq}")
    // epoch 4: compaction — a physical rewrite, semantically empty feed
    ManifestSink.compact(spark, root, Seq("event_id"), numFiles = 2)
    assert(ManifestSink.tableChanges(spark, root, "event_id", 3, 4).isEmpty)
    // epoch 5: rollback to 3 — the inverse of epoch 4's (empty) feed;
    // rollback to 2 would invert the merge. Verify the inverse shape
    // by rolling back to epoch 2: key 11 reverts, nothing else moves
    ManifestSink.rollback(spark, root, 2)
    val e5 = ManifestSink.tableChanges(spark, root, "event_id", 4, 5)
      .orderBy("_change_type").collect()
    assert(e5.map(r => (r.getLong(0), r.getAs[String]("_change_type"),
      r.getDouble(1))).toSeq.map { case (k, t, _) => (k, t) } ==
      Seq((11L, "update_postimage"), (11L, "update_preimage")))
    val reverted = e5.find(_.getAs[String]("_change_type") == "update_postimage").get
    val original = ev.filter(col("event_id") === 11).head().getDouble(1)
    assert(reverted.getDouble(1) == original, "rollback postimage = pre-merge value")
  }

  test("expectations: strict reject leaves the table untouched; quarantine splits; NULL passes") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_exp_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    ManifestSink.publish(ev.filter(col("event_id") < 50), root, 1)
    // strict: a violating epoch-2 batch throws, commits nothing, and
    // its staged files are ordinary orphans the sweep can reclaim
    val bad = intercept[ManifestSink.ExpectationFailedException] {
      ManifestSink.publishExpect(ev.filter(col("event_id").between(50, 99)),
        root, 2, Seq("under_75" -> (col("event_id") < 75)))
    }
    assert(bad.violations == Seq(ManifestSink.ExpectationViolation("under_75", 25L)))
    assert(ManifestSink.currentEpoch(spark, root) == 1)
    assert(ManifestSink.read(spark, root).count() == 50)
    assert(ManifestSink.orphanFiles(spark, root).nonEmpty,
      "rejected epoch's staged files are visible to orphan accounting")
    // NULL passes (SQL CHECK): an expectation that is null everywhere commits
    ManifestSink.publishExpect(
      ev.filter(col("event_id").between(50, 59))
        .withColumn("maybe", lit(null).cast("boolean")),
      root, 2, Seq("null_passes" -> col("maybe")))
    assert(ManifestSink.currentEpoch(spark, root) == 2)
    // quarantine: multi-expectation rows carry BOTH names, joined in order
    val root2 = tmpDir("graft_exp_spec2_")
    val (_, nq) = ManifestSink.publishQuarantine(ev.filter(col("event_id") < 40),
      root2, 1, Seq(
        "not_mod4" -> (col("event_id") % 4 =!= 0),
        "not_mod5" -> (col("event_id") % 5 =!= 0)))
    assert(nq == 10 + 8 - 2, "mod-4 + mod-5 violators, overlap once")
    val both = ManifestSink.quarantine(spark, root2)
      .filter(col("event_id") % 20 === 0)
      .select("_violations").distinct().collect()
    assert(both.map(_.getString(0)).toSeq == Seq("not_mod4,not_mod5"))
    assert(ManifestSink.read(spark, root2).count() == 40 - 16)
  }

  test("scoped DVs survive rollback and retention: file epochs carry, generations stay aligned") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_dvroll_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    ManifestSink.publish(
      ev.filter(col("event_id") < 100)
        .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    // epoch 2: dv-2 hides 10-19; epoch 3: re-insert key 12 (exempt file)
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id").between(10, 19)).select(col("event_id")), "event_id")
    ManifestSink.publish(
      spark.range(1).select(lit(12L).as("event_id"), lit(-9.0).as("value")),
      root, 3, ManifestSink.WriteSpec(Seq("event_id")), append = true)
    assert(ManifestSink.read(spark, root).count() == 91)
    // epoch 4: rollback to the DV epoch — the re-inserted file leaves,
    // the restored manifest's FILE EPOCHS must carry verbatim so dv-2
    // keeps scoping exactly the original files
    ManifestSink.rollback(spark, root, 2)
    assert(ManifestSink.read(spark, root).count() == 90)
    assert(ManifestSink.read(spark, root)
      .filter(col("event_id") === 12).count() == 0,
      "rollback to the DV epoch must re-hide the key (its re-insert left)")
    // epoch 5: a SECOND generation over the rolled-back state; both
    // scopes still line up with their (epoch-1-committed) files
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id") === 42).select(col("event_id")), "event_id")
    assert(ManifestSink.commitDvs(spark, root, 5).size == 2)
    assert(ManifestSink.read(spark, root).count() == 89)
    // retention: vacuum to the current epoch only — BOTH referenced DV
    // files must survive (they are carried metadata, not their birth
    // epochs' private state)
    ManifestSink.vacuum(spark, root, keep = 1)
    assert(ManifestSink.read(spark, root).count() == 89)
    assert(ManifestSink.read(spark, root)
      .filter(col("event_id").between(10, 19)).count() == 0)
    // rollback to epoch 1 is unreachable after vacuum, but the live
    // epoch's travel shape is intact
    assert(ManifestSink.commitDvs(spark, root,
      ManifestSink.currentEpoch(spark, root)).size == 2)
  }

  test("merge-on-read deletes: metadata commit, cumulative DV, CDF deletes, vacuum keeps carried DV") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_mor_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("value"))
    ManifestSink.publish(
      ev.filter(col("event_id") < 100)
        .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    val files1 = ManifestSink.manifestFiles(spark, root, 1)
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id").between(10, 19)).select(col("event_id")), "event_id")
    // pure metadata: epoch 2 lists the SAME data files
    assert(ManifestSink.manifestFiles(spark, root, 2) == files1)
    assert(ManifestSink.read(spark, root).count() == 90)
    // pruned reads apply the DV too
    val (pruned, _, _) = ManifestSink.readPruned(spark, root, col("event_id").between(0L, 30L))
    assert(pruned.filter(col("event_id").between(10, 19)).count() == 0)
    // CDF: the DV delta emits as deletes with pre-delete payload
    val feed = ManifestSink.tableChanges(spark, root, "event_id", 1, 2).collect()
    assert(feed.map(r => (r.getLong(0), r.getAs[String]("_change_type"))).sorted.toSeq ==
      (10L to 19L).map((_, "delete")))
    // cumulative second generation + CoW refusal while a DV is live
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id") === 42).select(col("event_id")), "event_id")
    assert(ManifestSink.read(spark, root).count() == 89)
    intercept[IllegalArgumentException] {
      ManifestSink.mergeCow(spark, root,
        ev.filter(col("event_id") === 5), "event_id", Seq("event_id"))
    }
    // an append CARRIES the DV by reference; vacuum must not sweep it
    ManifestSink.publish(
      ev.filter(col("event_id").between(100, 119)), root, 4,
        ManifestSink.WriteSpec(Seq("event_id")), append = true)
    assert(ManifestSink.commitDv(spark, root, 4) == ManifestSink.commitDv(spark, root, 3))
    ManifestSink.vacuum(spark, root, keep = 1)
    assert(ManifestSink.read(spark, root).count() == 89 + 20,
      "the carried DV file must survive retention of its birth epoch")
    // compaction materializes: DV line gone, content stable
    val e = ManifestSink.compact(spark, root, Seq("event_id"))
    assert(ManifestSink.commitDv(spark, root, e).isEmpty)
    assert(ManifestSink.read(spark, root).count() == 109)
  }

  test("incremental view: deltas equal recompute exactly; refresh cursor no-ops") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    import graft.sink.{IncrementalView, ManifestSink}
    val root = tmpDir("graft_ivm_spec_")
    val view = tmpDir("graft_ivm_spec_view_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("user_id"), col("value"))
    ManifestSink.publish(
      ev.filter(col("event_id") < 200)
        .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    IncrementalView.refresh(spark, root, view, "event_id", "user_id", "value")
    ManifestSink.mergeCow(spark, root,
      ev.filter(col("event_id") < 50)
        .select(col("event_id"), col("user_id"), (col("value") + 5).as("value")),
      "event_id", Seq("event_id"))
    IncrementalView.refresh(spark, root, view, "event_id", "user_id", "value")
    ManifestSink.deleteCow(spark, root,
      ev.filter(col("event_id").between(100, 149)).select(col("event_id")),
      "event_id", Seq("event_id"))
    val e = IncrementalView.refresh(spark, root, view, "event_id", "user_id", "value")
    // an up-to-date refresh publishes nothing
    assert(IncrementalView.refresh(spark, root, view, "event_id", "user_id", "value") == e)
    assert(ManifestSink.currentEpoch(spark, view) == e)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    val incremental = asMap(ManifestSink.read(spark, view)
      .select(col("user_id"), col("cnt"), col("sum_value")))
    val direct = asMap(ManifestSink.read(spark, root).groupBy(col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 4)))
          .cast(DecimalType(38, 4)).as("sum_value")))
    assert(incremental == direct,
      "three refreshes of deltas must equal a direct aggregate bit-for-bit")
  }

  test("file dictionaries: point skip where zone maps are blind; overflow stays conservative") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_dict_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("user_id"), col("value"))
    ManifestSink.publish(ev.repartition(8, col("user_id")), root, 1,
      ManifestSink.WriteSpec(Seq("user_id"), Seq("user_id")))
    val (df, hit, total) = ManifestSink.readPruned(spark, root, col("user_id") === 13L)
    assert(hit >= 1 && hit < total, s"dict must prune the hash layout: $hit/$total")
    assert(df.filter(col("user_id") === 13).count() ==
      ev.filter(col("user_id") === 13).count())
    // the dictionary is at least as selective as the range stats
    val (_, zHit, _) = ManifestSink.readPruned(spark, root, col("user_id").between(13L, 13L))
    assert(zHit >= hit)
    // Catalyst path: an ordinary EqualTo filter plans over the dict selection
    spark.read.format("graft-manifest").option("root", root).load()
      .filter(col("user_id") === 13).collect()
    assert(graft.catalog.GraftTable.lastPlannedFiles == hit)
    // a key nothing contains prunes to zero files
    val (_, h0, _) = ManifestSink.readPruned(spark, root, col("user_id") === 999999L)
    assert(h0 == 0)
    // a cap overflow leaves the sentinel: the dictionary prunes nothing
    // and the point lookup falls through to the zone maps (cap 0 forces
    // the overflow on every non-empty file; any positive cap may
    // legitimately complete on low-cardinality files and prune)
    val root2 = tmpDir("graft_dict_spec2_")
    ManifestSink.publish(ev.repartition(4, col("user_id")), root2, 1,
      ManifestSink.WriteSpec(Seq("user_id"), Seq("user_id"), dictCap = 0))
    val (_, h2, _) = ManifestSink.readPruned(spark, root2, col("user_id") === 13L)
    val (_, z2, _) = ManifestSink.readPruned(spark, root2, col("user_id").between(13L, 13L))
    assert(h2 == z2, "overflowed dictionaries must never prune beyond the zone maps")
  }

  test("bloom skipping: no false negatives, prunes hash layouts, params ride the stats row") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_bloom_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("user_id"), col("value"))
    ManifestSink.publish(ev.repartition(8, col("user_id")), root, 1,
      ManifestSink.WriteSpec(statsCols = Seq("event_id"), bloomCols = Seq("event_id")))
    // zone maps are blind on this layout: every file's event_id range
    // spans the key space, so the range read keeps everything
    val (_, zHit, zTotal) = ManifestSink.readPruned(spark, root, col("event_id").between(424L, 424L))
    assert(zHit == zTotal, "hash layout must blind the zone map (else the bloom proves nothing)")
    // the bloom prunes the same lookup, and NEVER drops the true file:
    // every present key must come back complete through the pruned read
    val (df, hit, total) = ManifestSink.readPruned(spark, root, col("event_id") === 424L)
    assert(hit >= 1 && hit < total, s"bloom must prune: $hit/$total")
    assert(df.filter(col("event_id") === 424L).count() == 1)
    // exhaustive no-false-negative sweep over a key sample
    (0L until 1000L by 97L).foreach { k =>
      val (d, h, _) = ManifestSink.readPruned(spark, root, col("event_id") === k)
      assert(h >= 1, s"key $k: containing file dropped")
      assert(d.filter(col("event_id") === k).count() == 1, s"key $k lost")
    }
    // an absent key prunes hard (fpp bounded, usually to zero files)
    val (_, hAbsent, tAbsent) = ManifestSink.readPruned(spark, root, col("event_id") === 99999999L)
    assert(hAbsent < tAbsent, "absent key must prune below the full file list")
    // committed (m, k) parameters ride the stats row
    val br = ManifestSink.statsTable(spark, root, 1)
      .filter(col("col") === "__bloom:event_id").collect()
    assert(br.nonEmpty && br.forall(r => r.getLong(2) == 16384L && r.getLong(3) == 5L))
    assert(br.forall(_.getString(4).length == 16384 / 8 * 2), "hex bitmap length = m/8 bytes")
    // Catalyst path: an ordinary EqualTo filter consults the bloom at
    // planning time and scans exactly the probe's survivor set
    assert(spark.read.format("graft-manifest").option("root", root).load()
      .filter(col("event_id") === 424L).count() == 1)
    assert(graft.catalog.GraftTable.lastPlannedFiles == hit,
      s"scan bloom selection ${graft.catalog.GraftTable.lastPlannedFiles} != explicit-API $hit")
  }

  test("metadata-only aggregation: exact across publish+append, zero data-file scan, guards") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_magg_spec_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("user_id"), col("value"))
    ManifestSink.publish(
      ev.filter(col("event_id") % 2 === 0)
        .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    ManifestSink.publish(
      ev.filter(col("event_id") % 2 === 1)
        .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 2, ManifestSink.WriteSpec(Seq("event_id")), append = true)
    val out = ManifestSink.aggFromMetadata(spark, root, Seq("event_id"))
    val row = out.head()
    val want = ev.agg(count(lit(1)), min("event_id"), max("event_id")).head()
    assert(row.getLong(0) == want.getLong(0))
    assert(row.getLong(1) == want.getLong(1) && row.getLong(2) == want.getLong(2))
    // the whole point: the plan opens NO data file
    val scans = out.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.isEmpty, "metadata aggregate must not plan a file scan")
    // guard: a DV-carrying epoch refuses (deleted rows would count)
    ManifestSink.deleteMor(spark, root,
      ev.filter(col("event_id") < 5).select(col("event_id")), "event_id")
    assertThrows[IllegalArgumentException] {
      ManifestSink.aggFromMetadata(spark, root, Seq("event_id"))
    }
    // the pre-DV epoch still answers from its pinned stats
    assert(ManifestSink.aggFromMetadata(spark, root, Seq("event_id"), epoch = 2)
      .head().getLong(0) == want.getLong(0))
    // guard: a column without zone maps refuses rather than scanning
    assertThrows[IllegalArgumentException] {
      ManifestSink.aggFromMetadata(spark, root, Seq("user_id"), epoch = 2)
    }
  }

  test("schema evolution: add-column append, null fill, pinned travel, drift rejected") {
    import org.apache.spark.sql.functions._
    import graft.sink.ManifestSink
    val root = tmpDir("graft_evo_spec_")
    val ev = Tables.events(spark, sf)
    ManifestSink.publish(
      ev.select(col("event_id"), col("value")).filter(col("event_id") < 20), root, 1)
    // plain append rejects drift — evolution must be asked for
    intercept[IllegalArgumentException] {
      ManifestSink.publish(
        ev.select(col("event_id"), col("value"), col("user_id"))
          .filter(col("event_id").between(20, 29)), root, 2, append = true)
    }
    ManifestSink.publish(
      ev.select(col("event_id"), col("value"), col("user_id"))
        .filter(col("event_id").between(20, 29)), root, 2, evolve = true)
    val cur = ManifestSink.read(spark, root)
    assert(cur.schema.fieldNames.toSeq == Seq("event_id", "value", "user_id"))
    assert(cur.filter(col("event_id") < 20 && col("user_id").isNull).count() == 20,
      "pre-evolution rows fill the added column with null")
    assert(cur.filter(col("user_id").isNotNull).count() == 10)
    // each commit pins its own schema: travel to epoch 1 = old shape
    assert(ManifestSink.read(spark, root, epoch = 1).schema.fieldNames.toSeq ==
      Seq("event_id", "value"))
    // same-name type conflict is migration, not evolution — rejected
    intercept[IllegalArgumentException] {
      ManifestSink.publish(
        ev.select(col("event_id"), col("value").cast("string"), col("user_id"))
          .filter(col("event_id").between(30, 39)), root, 3, evolve = true)
    }
  }
}
