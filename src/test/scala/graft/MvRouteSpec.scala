package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.MatViews
import graft.sink.{IncrementalView, ManifestSink}

/** Materialized-view routing (plans/MvRoute.scala): matching
  * aggregates over a registered base rewrite to the maintained view;
  * near-miss shapes must NOT route (wrong routing is silent
  * corruption, so the negative cases are the important half). */
class MvRouteSpec extends SparkTestBase {

  private def freshTables(): (String, String) = {
    val root = tmpDir("graft_mvspec_")
    val view = tmpDir("graft_mvspec_view_")
    val ev = Tables.events(spark, sf).select(col("event_id"), col("user_id"), col("value"))
    ManifestSink.publish(
      ev.repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, ManifestSink.WriteSpec(Seq("event_id")))
    IncrementalView.refresh(spark, root, view, "event_id", "user_id", "value")
    (root, view)
  }

  private def register(root: String, view: String): Unit =
    MatViews.register("mv_spec", ManifestSink.read(spark, root), Seq("user_id"),
      Map(MatViews.AggKey("count", None) -> "cnt",
        MatViews.AggKey("sum", Some("value")) -> "sum_value"),
      () => ManifestSink.read(spark, view))

  private def isRouted(df: org.apache.spark.sql.DataFrame): Boolean =
    !df.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _ => false
    }

  test("matching aggregate routes to the view and returns the exact maintained values") {
    val (root, view) = freshTables()
    try {
      register(root, view)
      val q = ManifestSink.read(spark, root).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 4))).as("sum_value"))
      assert(isRouted(q), "exact-match aggregate must route")
      // the routed plan reads the VIEW's files only
      val paths = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.map(_.toString)
      }.flatten
      assert(paths.nonEmpty && paths.forall(_.contains("graft_mvspec_view_")))
      // routed values == unrouted recompute, bit for bit (the
      // unrouted side is COLLECTED while the registry is empty —
      // planning is lazy, so building it earlier would not be enough)
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getDecimal(2).stripTrailingZeros())).toMap
      MatViews.clear()
      val unroutedRows = asMap(ManifestSink.read(spark, root).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 4))).as("sum_value"))
        .select(col("user_id"), col("cnt"),
          col("sum_value").cast(DecimalType(38, 4)).as("sum_value")))
      register(root, view)
      assert(asMap(q.select(col("user_id"), col("cnt"),
        col("sum_value").cast(DecimalType(38, 4)).as("sum_value"))) == unroutedRows)
      // routing survives under a downstream projection + filter
      val outer = q.filter(col("cnt") > 0).select(col("user_id"), col("cnt"))
      assert(isRouted(outer))
      assert(outer.count() == q.count())
    } finally MatViews.clear()
  }

  test("near-miss shapes do not route; view follows maintenance; registry lifecycle") {
    val (root, view) = freshTables()
    val ev = Tables.events(spark, sf).select(col("event_id"), col("user_id"), col("value"))
    try {
      register(root, view)
      val base = ManifestSink.read(spark, root)
      // a FILTERED base is a different result: no route
      assert(!isRouted(base.filter(col("event_id") < 100).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))))
      // a different grouping: no route
      assert(!isRouted(base.groupBy("event_id").agg(count(lit(1)).as("cnt"))))
      // an aggregate the view does not store: no route
      assert(!isRouted(base.groupBy("user_id").agg(avg(col("value")).as("a"))))
      // count DISTINCT is not count(*): no route
      assert(!isRouted(base.groupBy("user_id")
        .agg(countDistinct(col("event_id")).as("cd"))))
      // sum over a different column: no route
      assert(!isRouted(base.groupBy("user_id").agg(sum(col("event_id")).as("s"))))
      // an unrelated table of identical schema: no route
      val other = tmpDir("graft_mvspec_other_")
      ManifestSink.publish(ev.filter(col("event_id") < 10), other, 1)
      assert(!isRouted(ManifestSink.read(spark, other).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))))
      // a subset projection of the declared aggs still routes
      assert(isRouted(base.groupBy("user_id").agg(count(lit(1)).as("cnt"))))
      // maintenance flows through: a CoW merge + refresh re-plans the
      // view lazily, so the SAME registration serves the new epoch
      val upd = ev.filter(col("event_id") < 20)
        .select((col("event_id") + 1000000L).as("event_id"),
          col("user_id"), col("value"))
      ManifestSink.mergeCow(spark, root, upd, "event_id", Seq("event_id"))
      IncrementalView.refresh(spark, root, view, "event_id", "user_id", "value")
      val q2 = ManifestSink.read(spark, root).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))
      // NOTE: the base registration pinned epoch 1's file list; the
      // merged table is a different file set, so routing correctly
      // STOPS until the view owner re-registers against the new base
      assert(!isRouted(q2), "stale base registration must not route the new epoch")
      register(root, view)
      val q3 = ManifestSink.read(spark, root).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))
      assert(isRouted(q3))
      val want = ManifestSink.read(spark, root).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      MatViews.clear()
      assert(q3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        want.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      // deregistered: nothing routes
      register(root, view)
      MatViews.deregister("mv_spec")
      assert(!isRouted(ManifestSink.read(spark, root).groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))))
    } finally MatViews.clear()
  }
}
