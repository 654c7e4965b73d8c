package graft.catalog

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `format("graft-manifest")` — the catalog's DSv2 table under a
  * format name, addressed by `option("root", dir)` instead of an
  * identifier. Every direction runs the catalog's own classes:
  *   - `spark.read` → [[GraftTable]] (`epoch` pins time travel): the
  *     DV-aware, column-mapping-aware [[GraftFileScan]];
  *   - `spark.readStream` → [[GraftMicroBatchStream]] (`startEpoch`,
  *     `allowRewrites`, `partitionValues`), or with `changeFeedKey`
  *     the [[GraftChangesTable]] row-level change feed;
  *   - `writeStream` → [[GraftStreamingWrite]] (`appId`, `statsCols`):
  *     one (appId, batchId)-txn epoch per micro-batch. A root with no
  *     table yet is created from the query's schema by the catalog's
  *     CREATE TABLE path (Spark hands that schema to [[getTable]]
  *     because the provider accepts external metadata). */
final class GraftManifestProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    getTable(null, Array.empty, options.asCaseSensitiveMap()).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val root = Option(opts.get("root")).getOrElse(
      throw new IllegalArgumentException("graft-manifest needs option(\"root\", ...)"))
    val ident = s"graft-manifest[$root]"
    val partitionValues = opts.getBoolean("partitionValues", false)
    if (opts.containsKey("changeFeedKey")) {
      require(!partitionValues,
        "partitionValues rides per-FILE layout values; the change feed's " +
          "row-level diff is not file-aligned — pick one")
      return new GraftChangesTable(root, ident)
    }
    val spark = SparkSession.active
    val catalog = new GraftCatalog
    if (catalog.existsAsTable(root)) GraftTable.recoverRtasIntent(spark, root)
    else if (schema == null)
      throw new IllegalArgumentException(s"no graft table at $root")
    else catalog.createAt(root, ident, schema, partitioning,
      util.Collections.emptyMap()): Unit
    new GraftTable(root, ident, Option(opts.get("epoch")).map(_.toInt),
      if (partitionValues) GraftMicroBatchStream.layoutColumns(spark, root)
      else StructType(Nil))
  }
}
