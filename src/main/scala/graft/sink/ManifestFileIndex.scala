package graft.sink

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.PartitionDirectory
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The one answer to "which files of this epoch can hold a row
  * matching these predicates" — the Delta TahoeFileIndex idea behind
  * the catalog scan: [[graft.catalog.GraftFileScan]] hands it the
  * pushed (and runtime) filters, already rewritten to the PHYSICAL
  * names the committed stats are keyed by, and reads only the files
  * [[select]] keeps. Every skipping decision asks it: SQL and
  * `format("graft-manifest")` reads, `ManifestSink.readPruned`'s
  * evidence, the row-level append guard, and the DELETE cost router.
  *
  * Point predicates walk the ladder bucket → dictionary → bloom →
  * zone map; ranges use the zone map. Pruning is CONSERVATIVE: only
  * And/Or trees of simple (column op literal) comparisons prune, and
  * a file with no stats for a column is kept. The row-level filter
  * still applies after the scan — skipping is an I/O optimization,
  * never a correctness dependency (the same contract as parquet
  * row-group stats one level down). */
final class ManifestFileIndex(spark: SparkSession, root: String, epoch: Int) {

  /** FileStatuses built from MANIFEST METADATA (rel + committed size —
    * Delta's add.size): ZERO per-file RPCs at index construction. The
    * pre-size legacy fallback (size -1 in an old manifest) resolves
    * with one counted getFileStatus per unknown file — the counter is
    * the spec evidence that current-format tables never pay it.
    * mtime is 0 (unused by the parquet read path; files are
    * immutable) and blockSize a nominal 128 MB (split planning uses
    * maxPartitionBytes, not the block size, on non-HDFS stores). */
  private val statuses: Seq[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    ManifestSink.manifestEntries(spark, root, epoch).map { case (rel, size) =>
      val p = new Path(s"$root/$rel")
      if (size >= 0) new FileStatus(size, false, 1, 134217728L, 0L, p)
      else {
        ManifestFileIndex.legacyStatusRpcs.incrementAndGet()
        p.getFileSystem(conf).getFileStatus(p)
      }
    }
  }

  private val statRows: Array[org.apache.spark.sql.Row] =
    SnapshotCache.statRows(spark, root, epoch).getOrElse(Array.empty)

  /** relpath -> column -> (loLong, hiLong, loStr, hiStr), any null. */
  private val zoneMaps: Map[String, Map[String, (Option[Long], Option[Long],
      Option[String], Option[String])]] =
    statRows.filterNot(_.getString(1).startsWith("__"))
      .groupBy(_.getString(0))
      .map { case (file, rows) =>
        file -> rows.map { r =>
          r.getString(1) -> (
            if (r.isNullAt(2)) None else Some(r.getLong(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            if (r.isNullAt(4)) None else Some(r.getString(4)),
            if (r.isNullAt(5)) None else Some(r.getString(5)))
        }.toMap
      }

  /** File dictionaries (folded by the writers,
    * [[graft.catalog.WriterStatsTracker]]): complete per-file value sets
    * for point pruning; overflowed (file, col) pairs are never pruned by
    * the dictionary. */
  private val dictLong: Map[(String, String), Set[Long]] =
    statRows.filter(r => r.getString(1).startsWith("__dict:") && !r.isNullAt(2))
      .groupBy(r => (r.getString(0), r.getString(1).stripPrefix("__dict:")))
      .map { case (k, rs) => k -> rs.map(_.getLong(2)).toSet }
  private val dictStr: Map[(String, String), Set[String]] =
    statRows.filter(r => r.getString(1).startsWith("__dict:") && !r.isNullAt(4))
      .groupBy(r => (r.getString(0), r.getString(1).stripPrefix("__dict:")))
      .map { case (k, rs) => k -> rs.map(_.getString(4)).toSet }

  /** Bucketed layouts (the `__bucket:` rows the writers fold): column ->
    * (numBuckets, rel -> bucket id). A point lookup on the bucket key
    * keeps only the files of floorMod(v, n)'s bucket — the
    * hash-layout point tier that needs no per-value state at all
    * (where min/max are blind and dictionaries would overflow). */
  private val bucketSpecs: Map[String, (Int, Map[String, Int])] =
    statRows.filter(r => r.getString(1).startsWith("__bucket:") && !r.isNullAt(2))
      .groupBy(_.getString(1))
      .flatMap { case (spec, rs) =>
        spec.split(":", 3) match {
          case Array(_, c, n) =>
            Some(c -> (n.toInt, rs.map(r => r.getString(0) -> r.getLong(2).toInt).toMap))
          case _ => None
        }
      }

  private def bucketMayMatch(rel: String, colName: String, v: Long): Boolean =
    bucketSpecs.get(colName).forall { case (n, fb) =>
      fb.get(rel).forall(_ == java.lang.Math.floorMod(v, n.toLong).toInt)
    }

  /** Per-file bloom filters (folded by the writers with
    * [[ManifestFileIndex.bloomPositions]]): the high-cardinality point
    * tier — (rel, col) -> (m, k, hex bitmap).
    * Probed for EqualTo/In where no dictionary covers the file. */
  private val blooms: Map[(String, String), (Long, Long, String)] =
    statRows.filter(r => r.getString(1).startsWith("__bloom:") && !r.isNullAt(4))
      .groupBy(r => (r.getString(0), r.getString(1).stripPrefix("__bloom:")))
      .map { case (k, rs) =>
        k -> (rs.head.getLong(2), rs.head.getLong(3), rs.head.getString(4)) }

  /** The probe value's bit positions, cached per (value, m, k). */
  private val bloomPosCache =
    scala.collection.mutable.Map.empty[(Any, Long, Long), Seq[Int]]
  private def bloomMayContain(rel: String, colName: String,
                              v: scala.Either[Long, String]): Option[Boolean] =
    blooms.get((rel, colName)).map { case (m, k, hex) =>
      val pos = bloomPosCache.getOrElseUpdate((v, m, k), {
        val probe = v match {
          case scala.Left(l)  => l
          case scala.Right(s) => UTF8String.fromString(s)
        }
        ManifestFileIndex.bloomPositions(probe, m, k.toInt).toSeq
      })
      bloomHexTest(hex, pos)
    }

  private def bloomHexTest(hex: String, positions: Seq[Int]): Boolean =
    positions.forall { p =>
      val b = Integer.parseInt(hex.substring((p / 8) * 2, (p / 8) * 2 + 2), 16)
      (b & (1 << (p % 8))) != 0
    }

  private def relOf(p: Path): String = ManifestSink.relOfData(p)

  /** String bound comparisons in UTF8String BINARY order — the order
    * Spark's min/max produced the committed bounds in. Java String
    * </<= is UTF-16 code-unit order, which diverges for
    * supplementary-plane code points and would wrongly prune files
    * (silent row loss) (ADVICE r11). */
  private def u8cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Conservative may-match: false ONLY when the zone map proves no
    * row of the file can satisfy `e`. */
  private def mayMatch(rel: String, e: Expression): Boolean = {
    def bounds(c: String) = zoneMaps.get(rel).flatMap(_.get(c))
    def longCmp(c: String, test: (Long, Long) => Boolean): Boolean =
      bounds(c) match {
        case Some((Some(lo), Some(hi), _, _)) => test(lo, hi)
        case _ => true
      }
    def strCmp(c: String, test: (String, String) => Boolean): Boolean =
      bounds(c) match {
        case Some((_, _, Some(lo), Some(hi))) => test(lo, hi)
        case _ => true
      }
    def lit(l: Any): Option[scala.Either[Long, String]] = l match {
      case i: Int => Some(scala.Left(i.toLong))
      case i: Long => Some(scala.Left(i))
      case i: Short => Some(scala.Left(i.toLong))
      case i: Byte => Some(scala.Left(i.toLong))
      case s: UTF8String => Some(scala.Right(s.toString))
      case s: String => Some(scala.Right(s))
      case _ => None
    }
    def cmp(col: String, v: Any,
            onLong: (Long, Long, Long) => Boolean,
            onStr: (String, String, String) => Boolean): Boolean =
      lit(v) match {
        case Some(scala.Left(l))  => longCmp(col, (lo, hi) => onLong(l, lo, hi))
        case Some(scala.Right(s)) => strCmp(col, (lo, hi) => onStr(s, lo, hi))
        case None => true
      }
    // point predicates walk the skipping ladder: the bucket layout
    // first (integral keys — a file of the wrong bucket provably
    // holds no match), then exact dictionary, then bloom probe (no
    // false negatives), then the zone bounds
    def point(colName: String, v: Any): Boolean =
      lit(v) match {
        case Some(scala.Left(l)) if !bucketMayMatch(rel, colName, l) => false
        case Some(scala.Left(l)) => dictLong.get((rel, colName)) match {
          case Some(s) => s.contains(l)
          case None => bloomMayContain(rel, colName, scala.Left(l)).getOrElse(
            longCmp(colName, (lo, hi) => lo <= l && l <= hi))
        }
        case Some(scala.Right(sv)) => dictStr.get((rel, colName)) match {
          case Some(s) => s.contains(sv)
          case None => bloomMayContain(rel, colName, scala.Right(sv)).getOrElse(
            strCmp(colName, (lo, hi) => u8cmp(lo, sv) <= 0 && u8cmp(sv, hi) <= 0))
        }
        case None => true
      }
    e match {
      case And(a, b) => mayMatch(rel, a) && mayMatch(rel, b)
      case Or(a, b)  => mayMatch(rel, a) || mayMatch(rel, b)
      case EqualTo(a: AttributeReference, Literal(v, _)) => point(a.name, v)
      case EqualTo(Literal(v, _), a: AttributeReference) => point(a.name, v)
      case GreaterThan(a: AttributeReference, Literal(v, _)) =>
        cmp(a.name, v, (x, _, hi) => hi > x, (x, _, hi) => u8cmp(hi, x) > 0)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        cmp(a.name, v, (x, _, hi) => hi >= x, (x, _, hi) => u8cmp(hi, x) >= 0)
      case LessThan(a: AttributeReference, Literal(v, _)) =>
        cmp(a.name, v, (x, lo, _) => lo < x, (x, lo, _) => u8cmp(lo, x) < 0)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        cmp(a.name, v, (x, lo, _) => lo <= x, (x, lo, _) => u8cmp(lo, x) <= 0)
      case GreaterThan(Literal(v, _), a: AttributeReference) =>
        cmp(a.name, v, (x, lo, _) => lo < x, (x, lo, _) => u8cmp(lo, x) < 0)
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
        cmp(a.name, v, (x, lo, _) => lo <= x, (x, lo, _) => u8cmp(lo, x) <= 0)
      case LessThan(Literal(v, _), a: AttributeReference) =>
        cmp(a.name, v, (x, _, hi) => hi > x, (x, _, hi) => u8cmp(hi, x) > 0)
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) =>
        cmp(a.name, v, (x, _, hi) => hi >= x, (x, _, hi) => u8cmp(hi, x) >= 0)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists { case Literal(v, _) => point(a.name, v) }
      case _ => true
    }
  }

  /** The files of the epoch that may hold a row satisfying EVERY
    * expression (all of them when nothing is given or the epoch
    * carries no zone maps), in manifest order. */
  def select(exprs: Seq[Expression]): Seq[FileStatus] =
    if (exprs.isEmpty || zoneMaps.isEmpty) statuses
    else statuses.filter(s => exprs.forall(f => mayMatch(relOf(s.getPath), f)))
}

/** A [[FileIndex]] over an ALREADY-RESOLVED file list: no listing, no
  * per-file RPC — the statuses (path + size) came from manifest
  * metadata. This is what the catalog scan hands Spark's own
  * ParquetScan instead of an InMemoryFileIndex, which would re-list
  * every path (one RPC per file per query) just to rediscover what
  * the manifest already committed. A non-empty `partitionSchema`
  * serves `partitionOf(file)` as each file's partition values (one
  * directory per file — the values come from manifest metadata, not
  * from the path). */
final class StaticFileIndex(spark: SparkSession, root: Path,
                            statuses: Seq[FileStatus],
                            override val partitionSchema: StructType = StructType(Nil),
                            partitionOf: FileStatus => InternalRow = _ => InternalRow.empty)
  extends org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex(
    spark, Map.empty, None) {
  override def rootPaths: Seq[Path] = Seq(root)
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionSchema.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
    else statuses.map(s => PartitionDirectory(partitionOf(s), Array(s)))
  override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_.getLen).sum
  override def partitionSpec(): org.apache.spark.sql.execution.datasources.PartitionSpec =
    org.apache.spark.sql.execution.datasources.PartitionSpec.emptySpec
  override protected def leafFiles:
      scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    statuses.foreach(s => m.put(s.getPath, s))
    m
  }
  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent).view.mapValues(_.toArray).toMap
}

object ManifestFileIndex {

  /** Per-file getFileStatus calls taken by the LEGACY (pre-size
    * manifest) fallback — zero for any table committed since sizes
    * landed (spec evidence for the RPC-free planning contract). */
  val legacyStatusRpcs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Bloom filter size in bits (m) and hash count (k) of every bloom
    * the writers fold; each `__bloom` row carries both, so the read
    * side never assumes them. */
  val BloomBits = 16384
  val BloomHashes = 5

  /** The ONE bloom hash, on the write side and the probe side alike:
    * the k bit positions of `v` (a long — integral values widen — or a
    * `UTF8String`) in an m-bit filter, position i being
    * `pmod(xxhash64(i, v), m)` exactly as Spark evaluates that
    * expression (seed 42, folded through `i` then `v`). */
  def bloomPositions(v: Any, m: Long, k: Int): Array[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val vt = v match { case _: UTF8String => StringType; case _ => LongType }
    Array.tabulate(k) { i =>
      val h = XxHash64Function.hash(v, vt, XxHash64Function.hash(i, IntegerType, 42L))
      java.lang.Math.floorMod(h, m).toInt
    }
  }
}
