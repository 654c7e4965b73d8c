package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{GraftCatalog, WriterStatsTracker}
import graft.sink.{ManifestFileIndex, ManifestSink}
import graft.sink.ManifestSink.{LayoutDecl, WriteSpec}

/** Every stats flavor comes from the writers: per flavor, the rows a
  * write commits equal the re-read oracle's ([[ZoneOracle.flavors]]),
  * the bloom hash agrees with the Catalyst expression it replaced, and
  * a flavor costs no job a zone-only write does not run. Every case
  * runs under the America/Los_Angeles session zone (the encodings are
  * zone-free). */
class WriterFlavorSpec extends SparkTestBase {

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  private def withLosAngeles(body: => Unit): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try body finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  private def rowSet(rows: Seq[Row]): Set[Seq[Any]] = rows.map(_.toSeq).toSet

  /** The rows `epoch` committed for `files`. */
  private def committed(root: String, epoch: Int, files: Seq[String]): Seq[Row] = {
    val tok = ManifestSink.commitInfo(spark, root, epoch)._1
    val fs = files.toSet
    spark.read.schema(ManifestSink.StatsSchema).parquet(s"$root/stats-$epoch.$tok")
      .collect().toSeq.filter(r => fs(r.getString(0)))
  }

  /** `epoch`'s rows for `files` equal the oracle's under `spec`; returns them. */
  private def assertParity(root: String, epoch: Int, files: Seq[String],
                           spec: WriteSpec): Seq[Row] = {
    val got = committed(root, epoch, files)
    val want = ZoneOracle.flavors(spark, root, files, spec)
    assert(rowSet(got) == rowSet(want), s"$root@$epoch under $spec")
    assert(got.size == want.size, s"$root@$epoch: no duplicate rows")
    got
  }

  /** Publish `df` under `spec` as epoch 1 of a fresh table and check
    * every file's rows against the oracle. */
  private def publishChecked(prefix: String, df: DataFrame, spec: WriteSpec): Seq[Row] = {
    val root = tmpDir(prefix)
    ManifestSink.publish(df, root, 1, spec)
    val files = ManifestSink.manifestEntries(spark, root, 1).map(_._1)
    assert(files.nonEmpty)
    assertParity(root, 1, files, spec)
  }

  private def keys(rows: Seq[Row]): Seq[String] = rows.map(_.getString(1))

  /** 60 rows in 4 range-clustered files: `id` unique, `s` from a word
    * list with the empty string and supplementary-plane characters,
    * `i` a small int, `half` null in the first half, `ts`/`ntz`/`d`
    * one timestamp, NTZ and date per row spread over two years. */
  private def frame(): DataFrame = {
    val words = array(lit(""), lit("a"), lit("😀"), lit("😀b"),
      lit("�"), lit("zz"))
    val v = col("id")
    spark.range(0, 60).select(
      v.as("id"),
      when(v < 15, lit("a")).otherwise(element_at(words, (v % 6 + 1).cast("int"))).as("s"),
      (v % 3 - 1).cast("int").as("i"),
      when(v >= 30, v * 7).as("half"),
      timestamp_micros(v * 12L * 86400000000L + v * 3600000001L).as("ts"),
      timestamp_micros(v * 12L * 86400000000L - 3600000000L).cast("timestamp_ntz").as("ntz"),
      date_add(lit(java.sql.Date.valueOf("2023-12-30")), (v * 11).cast("int")).as("d"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
  }

  test("dictionaries: writer rows equal the oracle's, cap overflow and supplementary-plane strings") {
    withLosAngeles {
      val rows = publishChecked("wfl_dict_", frame(),
        WriteSpec(Seq("id", "s"), dictCols = Seq("s", "i", "half"), dictCap = 3))
      assert(keys(rows).contains("__dictover:s"), "a file past the cap gets the sentinel")
      assert(rows.exists(r => r.getString(1) == "__dict:s" && r.getString(4) == "a"),
        "a file within the cap lists its values")
      assert(keys(rows).contains("__dict:i") && keys(rows).contains("__dictover:half"))
      val wide = publishChecked("wfl_dict2_", frame(), WriteSpec(dictCols = Seq("s")))
      assert(wide.exists(r => r.getString(1) == "__dict:s" && r.getString(4) == "😀b"))
      assert(!keys(wide).contains("__count"), "no zone columns, no __count rows")
    }
  }

  test("blooms: writer rows equal the oracle's; an all-null file gets no row") {
    withLosAngeles {
      val rows = publishChecked("wfl_bloom_", frame(),
        WriteSpec(Seq("id"), bloomCols = Seq("id", "s", "half", "i")))
      val half = rows.count(_.getString(1) == "__bloom:half")
      assert(half > 0 && half < rows.count(_.getString(1) == "__bloom:id"),
        "files whose column is all null carry no bloom row")
    }
  }

  test("the Scala bloom hash matches pmod(xxhash64(i, v), m) for long, int and strings") {
    withLosAngeles {
      val m = ManifestFileIndex.BloomBits.toLong
      val k = ManifestFileIndex.BloomHashes
      def catalyst(v: org.apache.spark.sql.Column): Seq[Int] = {
        val r = spark.range(1).select((0 until k).map(i =>
          pmod(xxhash64(lit(i), v), lit(m)).cast("int")): _*).head()
        (0 until k).map(r.getInt)
      }
      Seq(0L, -1L, 424L, Long.MaxValue, Long.MinValue).foreach { l =>
        assert(ManifestFileIndex.bloomPositions(l, m, k).toSeq == catalyst(lit(l)), s"long $l")
      }
      // int columns widen to long before hashing, on both sides
      Seq(7, -13, Int.MaxValue).foreach { i =>
        assert(ManifestFileIndex.bloomPositions(i.toLong, m, k).toSeq ==
          catalyst(lit(i).cast("bigint")), s"int $i")
      }
      Seq("", "😀", "a😀z", "�").foreach { s =>
        assert(ManifestFileIndex.bloomPositions(UTF8String.fromString(s), m, k).toSeq ==
          catalyst(lit(s)), s"string '$s'")
      }
    }
  }

  test("layout rows: bucket, ptime over timestamp/NTZ/date, identity and truncate, composed pairs") {
    withLosAngeles {
      val df = frame()
      def layout(l: LayoutDecl): Seq[Row] = publishChecked("wfl_lay_", df, WriteSpec(Seq("id"), layout = l))
      val b = layout(LayoutDecl(bucket = Some(("id", 4))))
      assert(b.count(_.getString(1) == "__bucket:id:4") == b.count(_.getString(1) == "__count"))
      for (c <- Seq("ts", "ntz", "d"); u <- ManifestSink.TimeUnits.toSeq.sorted) {
        val rows = layout(LayoutDecl(ptime = Some((c, u))))
        assert(keys(rows).contains(s"__ptime:$c:$u"), s"$c $u")
      }
      for (c <- Seq("id", "s"); w <- Seq(None, Some(2))) {
        val rows = layout(LayoutDecl(ident = Some((c, w))))
        assert(keys(rows).exists(_.matches(s"__(ident|trunc):$c.*")), s"$c $w")
      }
      val composed = layout(LayoutDecl(Some(("i", 2)), Some(("d", "months"))))
      assert(keys(composed).contains("__bucket:i:2") && keys(composed).contains("__ptime:d:months"))
      val pairB = layout(LayoutDecl(bucket = Some(("id", 2)), ident = Some(("s", Some(1)))))
      assert(keys(pairB).contains("__trunc:s:1") && keys(pairB).contains("__bucket:id:2"))
      val pairT = layout(LayoutDecl(ptime = Some(("ntz", "years")), ident = Some(("i", None))))
      assert(keys(pairT).contains("__ident:i") && keys(pairT).contains("__ptime:ntz:years"))
    }
  }

  test("a strict layout fold fails naming the mixed file; a lenient one drops only that flavor") {
    withLosAngeles {
      val root = tmpDir("wfl_mixed_")
      // one file, one day, two buckets
      val df = spark.range(0, 8).select(col("id"),
        timestamp_micros(col("id") * 1000000L).as("ts")).coalesce(1)
      val spec = WriteSpec(Seq("id"),
        layout = LayoutDecl(bucket = Some(("id", 2)), ptime = Some(("ts", "days"))))
      val dir = "data-epoch=1-astrict"
      val t = new WriterStatsTracker(df.schema, spec)
      org.apache.spark.sql.execution.datasources.v2.GraftWriteBridge
        .writeParquet(df, s"$root/$dir", Seq(t))
      val files = ManifestSink.listStagedParquet(spark, root, dir).keys.toSeq.sorted
      val e = intercept[IllegalArgumentException](t.fileRows(files, dir))
      assert(e.getMessage.contains(s"bucketed stage produced a mixed-bucket file $dir/"),
        e.getMessage)
    }
  }

  test("CONVERGE folds the declared layout in its one write: oracle rows, no re-read") {
    ensureCatalog()
    withLosAngeles {
      val root = tmpDir("wfl_conv_") + "/t"
      val t = s"graft.`$root`"
      frame().filter(col("id") < 40).createOrReplaceTempView("wfl_cv1")
      spark.sql(s"CREATE TABLE $t AS SELECT * FROM wfl_cv1")
      spark.sql(s"ALTER TABLE $t SET PARTITION SPEC (bucket(3, i), days(ts))")
      frame().filter(col("id") >= 40).createOrReplaceTempView("wfl_cv2")
      spark.sql(s"INSERT INTO $t SELECT * FROM wfl_cv2")
      val before = ManifestSink.currentEpoch(spark, root)
      val statCols = ManifestSink.statCols(spark, root, before)
      spark.sql(s"SELECT COUNT(*) FROM $t").collect() // warm the cache
      // the layout's sizing aggregate (its shuffle, its collect), the
      // data write and the stats write: the staged files are never
      // read back
      val jobs = SparkJobs.count(spark)(
        spark.sql(s"OPTIMIZE $t CONVERGE PARTITION SPEC").collect())
      assert(jobs <= 4, s"CONVERGE ran $jobs jobs")
      val e = ManifestSink.currentEpoch(spark, root)
      val fresh = ManifestSink.manifestEntries(spark, root, e).map(_._1)
        .filter(_.startsWith(s"data-epoch=${before + 1}-"))
      assert(fresh.nonEmpty)
      assertParity(root, e, fresh, WriteSpec(statCols,
        layout = LayoutDecl(Some(("i", 3)), Some(("ts", "days")))))
      assert(ManifestSink.ptimeSpec(spark, root, e).isDefined &&
        ManifestSink.bucketSpec(spark, root, e).isDefined, "the layout covers the table again")
      assert(spark.sql(s"SELECT COUNT(*) FROM $t").collect()(0).getLong(0) == 60L)
    }
  }

  test("a layout-preserving CoW MERGE commits the writers' layout rows") {
    ensureCatalog()
    withLosAngeles {
      val root = tmpDir("wfl_merge_") + "/t"
      val t = s"graft.`$root`"
      frame().createOrReplaceTempView("wfl_m0")
      spark.sql(s"CREATE TABLE $t PARTITIONED BY (bucket(2, id), months(d)) AS SELECT * FROM wfl_m0")
      frame().filter(col("id") % 7 === 0).withColumn("s", lit("upd"))
        .createOrReplaceTempView("wfl_m1")
      spark.sql(
        s"""MERGE INTO $t x USING wfl_m1 u ON x.id = u.id
           |WHEN MATCHED THEN UPDATE SET x.s = u.s""".stripMargin)
      val e = ManifestSink.currentEpoch(spark, root)
      val fresh = ManifestSink.manifestEntries(spark, root, e).map(_._1)
        .filter(_.startsWith(s"data-epoch=$e-"))
      assert(fresh.nonEmpty)
      val rows = assertParity(root, e, fresh, WriteSpec(ManifestSink.statCols(spark, root, e),
        layout = LayoutDecl(Some(("id", 2)), Some(("d", "months")))))
      assert(keys(rows).contains("__bucket:id:2") && keys(rows).contains("__ptime:d:months"))
      assert(ManifestSink.bucketSpec(spark, root, e).isDefined &&
        ManifestSink.ptimeSpec(spark, root, e).isDefined, "the layout survives the rewrite")
      // a hand-staged replacement file that mixes buckets is refused
      // before any commit, naming the file: every layout fold is strict
      val base = e
      val victim = ManifestSink.manifestEntries(spark, root, base).map(_._1).head
      val dir = s"data-epoch=${base + 1}-amixed"
      // the victim's rows plus one of them under a fresh id of the
      // other bucket parity, same month
      val victimRows = spark.read.parquet(s"$root/$victim")
      val batch = victimRows.unionByName(
        victimRows.limit(1).withColumn("id", col("id") + 1001)).coalesce(1)
      val spec = WriteSpec(ManifestSink.statCols(spark, root, base),
        layout = ManifestSink.committedLayout(spark, root, base))
      val tr = new WriterStatsTracker(batch.schema, spec)
      org.apache.spark.sql.execution.datasources.v2.GraftWriteBridge
        .writeParquet(batch, s"$root/$dir", Seq(tr))
      val staged = ManifestSink.listStagedParquet(spark, root, dir).keys.toSeq.sorted
      val refused = intercept[IllegalArgumentException](tr.fileRows(staged, dir))
      assert(refused.getMessage.contains(s"bucketed stage produced a mixed-bucket file ${staged.head}"),
        refused.getMessage)
      assert(ManifestSink.currentEpoch(spark, root) == base, "nothing committed")
    }
  }

  test("a dictionary, bloom or bucketed publish runs no more jobs than a zone-only one") {
    withLosAngeles {
      // four input partitions, no exchange before the write; the
      // accumulator counts every evaluation of an input row
      val reads = spark.sparkContext.longAccumulator("wfl_reads")
      val counted = udf { (id: Long) => reads.add(1); id }.asNondeterministic()
      val df = spark.range(0, 60, 1, 4).select(counted(col("id")).as("id"),
        (col("id") % 7).cast("string").as("s"))
      def jobs(spec: WriteSpec): Int = {
        val root = tmpDir("wfl_jobs_")
        reads.reset()
        SparkJobs.count(spark)(ManifestSink.publish(df, root, 1, spec))
      }
      jobs(WriteSpec(Seq("id"))) // warm-up
      val zone = jobs(WriteSpec(Seq("id")))
      val dict = jobs(WriteSpec(Seq("id"), dictCols = Seq("s")))
      val bloom = jobs(WriteSpec(Seq("id"), bloomCols = Seq("id")))
      assert(dict <= zone, s"dictionary publish ran $dict jobs, zone-only $zone")
      assert(bloom <= zone, s"bloom publish ran $bloom jobs, zone-only $zone")
      // a bucketed publish adds only the rebalance exchange that lays
      // rows out, and reads its input once
      val bucketed = jobs(WriteSpec(Seq("id"), layout = LayoutDecl(bucket = Some(("id", 4)))))
      assert(bucketed <= zone + 1, s"bucketed publish ran $bucketed jobs, zone-only $zone")
      assert(reads.value == 60L, s"the bucketed publish evaluated ${reads.value} input rows")
      info(s"jobs: zone $zone, dict $dict, bloom $bloom, bucketed $bucketed")
    }
  }
}
