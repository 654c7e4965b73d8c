package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.avro.FromAvro
import graft.functions._

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions, so `spark.sql("SELECT fnv1a64(text)
  * ...")` works next to the Column API. Activate with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
object GraftFunctions {

  private def str(e: Expression, what: String): String = e match {
    case Literal(s, _) if s != null => s.toString
    case other => throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def int(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  /** name -> (usage, builder) for every registered SQL function. */
  val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("fnv1a64", "fnv1a64(str) - 64-bit FNV-1a hash of the UTF-8 bytes",
      (args: Seq[Expression]) => Fnv1a64(args.head)),
    ("simhash64", "simhash64(array<string>) - 64-bit SimHash of a token array",
      (args: Seq[Expression]) => SimHash64(args.head)),
    ("dot_product", "dot_product(a, b) - double dot product of float/double arrays",
      (args: Seq[Expression]) => DotProductExpr(args(0), args(1))),
    ("shingle_hash_set", "shingle_hash_set(tokens, n) - distinct 31-bit n-gram hashes",
      (args: Seq[Expression]) => ShingleHashSet(args(0), int(args(1), "n"))),
    ("shingle_minhash", "shingle_minhash(tokens, n, k) - MinHash signature of word n-grams",
      (args: Seq[Expression]) =>
        ShingleMinHash(args(0), int(args(1), "n"), int(args(2), "k"), 42L)),
    ("winnow", "winnow(str, k, w) - winnowing rolling-hash fingerprints",
      (args: Seq[Expression]) => Winnow(args(0), int(args(1), "k"), int(args(2), "w"))),
    ("winnow_pos_count",
      "winnow_pos_count(str, k, w) - number of distinct winnow-selected k-gram positions",
      (args: Seq[Expression]) => WinnowPosCount(args(0), int(args(1), "k"), int(args(2), "w"))),
    ("max_equal_run",
      "max_equal_run(array<string>) - longest equal-adjacent run (max multiplicity when sorted)",
      (args: Seq[Expression]) => MaxEqualRun(args.head)),
    ("from_avro_confluent", "from_avro_confluent(binary, schemaJson) - decode Confluent-wire Avro",
      (args: Seq[Expression]) => FromAvro(args(0), str(args(1), "schemaJson"))),
    ("zorder2", "zorder2(a, b) - Morton interleave of the low 32 bits of two integers",
      (args: Seq[Expression]) => ZOrder2(args(0), args(1))),
    ("sorted_intersect_size",
      "sorted_intersect_size(a, b) - |a intersect b| of two sorted bigint arrays, one merge scan",
      (args: Seq[Expression]) => SortedIntersectSize(args(0), args(1))),
  )

  /** Late registration on a live session (tests / REPLs). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, _, b) =>
      org.apache.spark.sql.GraftBridge.registerFunction(spark, name, b)
    }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
          "", "", "", "", "", "", "built-in"),
        builder))
    }
    // Whole-operator path: row_number()-top-k Filter+Window pairs are
    // rewritten to the TopKPerKey logical node and planned as the
    // heap-partial + streaming-final physical pair (plans/TopKPerKey.scala).
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // Materialized-view routing: matching aggregates over a registered
    // base rewrite to the incrementally-maintained view's table
    // (plans/MvRoute.scala).
    ext.injectOptimizerRule(_ => graft.plans.MvRoute)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // Run-time partition pruning from an explicit broadcast: the ANN
    // probes' cell-partitioned tier scans read only the probed cells
    // (plans/BroadcastPartitionPruning.scala).
    ext.injectPreCBORule(_ => graft.plans.BroadcastPartitionPruning)
    // Maintenance SQL (VACUUM / OPTIMIZE / DESCRIBE HISTORY on
    // manifest tables) — the Delta-style delegating parser
    // (sql/GraftSqlParser.scala); all other SQL passes through,
    // except UPDATE/MERGE under a session branch, which route to the
    // branch merge-on-read commands (catalog/BranchDml.scala).
    ext.injectParser((_, parser) => new graft.sql.GraftSqlParser(parser))
  }
}
