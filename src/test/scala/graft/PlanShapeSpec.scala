package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}

/** Physical-plan regression guards: the shapes documented in
  * docs/PLANS.md, asserted so a refactor can't silently lose pushdown,
  * broadcast selection, or top-N fusion. */
class PlanShapeSpec extends SparkTestBase {

  private def planOf(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan

  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  private def collectAll[T](p: SparkPlan)(f: PartialFunction[SparkPlan, T]): Seq[T] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other                    => other
    }
    inner.collect(f)
  }

  test("per-device filter is pushed to the parquet scan") {
    val s = planString("q_filter_device")
    assert(s.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,13)]"), s)
  }

  test("pricing summary scans only referenced columns and pushes the date filter") {
    val s = planString("q_pricing_summary")
    assert(s.contains("LessThanOrEqual(l_shipdate"), s)
    assert(!s.contains("l_comment"), "scan must prune unused columns")
  }

  test("dim joins broadcast (no shuffled fact side)") {
    val p = planOf("q_enrich_join")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 2, s"expected 2 broadcast hash joins, got:\n$p")
    val bx = collectAll(p) { case b: BroadcastExchangeExec => b }
    assert(bx.nonEmpty)
  }

  test("newest-first limit fuses into TakeOrderedAndProject") {
    val s = planString("q_latest_per_device")
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("decontamination probes the benchmark grams via broadcast join (no gram shuffle)") {
    val p = planOf("q_decontaminate")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.exists(_.leftKeys.exists(_.toString.contains("gram"))),
      s"expected the gram probe to broadcast the bench side:\n$p")
  }

  test("repetition stats shuffle only for the final global sort") {
    val p = planOf("q_repetition")
    val ex = collectAll(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(ex.nonEmpty, "the orderBy needs one range exchange")
    assert(ex.forall(_.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      s"repetition must not hash-shuffle (scan-local kernels):\n$p")
  }

  test("salted skew join runs as a sort-merge join on (key, salt)") {
    val p = planOf("q_skew_join_salted")
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, s"merge hint must hold off the broadcast:\n$p")
    assert(smj.exists(_.leftKeys.size == 2), "join keys must be (key, __salt)")
  }

  test("two-tier salted join: hot detection broadcasts, join is SMJ on (key, salt)") {
    val p = planOf("q_skew_join_twotier")
    val smj = collectAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.exists(_.leftKeys.size == 2),
      s"main join must exchange on (key, __salt):\n$p")
    // the two hot-key detection joins (big side + small side) must be
    // broadcasts — the hot list is <= |big|/threshold rows by
    // construction and must never shuffle the fact side to find out
    val bcast = collectAll(p) { case b: BroadcastHashJoinExec => b }
    assert(bcast.size >= 2, s"hot-key detection must broadcast:\n$p")
  }

  test("rarest-first prefix join: ranked prefixes, no cartesian blow-up") {
    val p = planOf("q_dedup_ngram")
    // one row_number window per prefix side, ordered by (df, shingle)
    val wins = collectAll(p) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(wins.nonEmpty, s"DF-rank window missing — prefix order lost:\n$p")
    val cart = collectAll(p) { case c: CartesianProductExec => c }
    assert(cart.isEmpty, s"prefix join must stay an equality join:\n$p")
  }

  test("AQE splits a skewed sort-merge join partition (the SCALE.md fallback path)") {
    // SCALE.md routes residual hot keys (the ones explicit salting
    // does not cover) to AQE's skew-join split; pin that the runtime
    // actually does it. Child session: aggressive skew thresholds so
    // a ~MB hot partition triggers the split at test scale.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions.{col, concat, length, lit, when}
    val big = s.range(0, 200000).select(
      when(col("id") % 10 =!= 0, lit("hot"))
        .otherwise(concat(lit("k"), col("id"))).as("k"),
      concat(lit("payload-"), col("id")).as("payload"))
    // Materialized dim: OptimizeSkewedJoin only matches
    // SMJ(Sort(shuffle stage), Sort(shuffle stage)) — an aggregate
    // sitting between the join and its exchange (e.g. a live
    // distinct()) defeats the pattern and NO split happens. That
    // boundary is exactly why the explicit salting operators exist;
    // measured here and pinned so SCALE.md's "AQE covers residual
    // skew" claim stays scoped to plain shuffle inputs.
    val dim = big.select(col("k")).distinct()
      .withColumn("w", length(col("k")))
      .localCheckpoint()
    // GLOBAL aggregate downstream: a same-key groupBy right above the
    // join would pin hashpartitioning(k) as a required distribution,
    // and AQE (correctly) refuses a skew split that would have to be
    // re-shuffled away — the refusal itself is load-bearing behavior.
    val joined = big.join(dim.hint("merge"), Seq("k"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(length(col("payload")) + col("w")).as("s"))
    // execute THIS query (a .count() shortcut would finalize a
    // different adaptive plan) and read the finalized plan
    val row = joined.collect().head
    assert(row.getLong(0) == 200000L, s"join lost rows: $row")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"), s"plan not finalized:\n$plan")
    assert(plan.contains("skew=true"),
      s"AQE did not mark the hot partition as skewed:\n$plan")
  }

  test("no accidental cartesian products anywhere in the registry") {
    // crossJoin(broadcast(1-row q)) plans as BroadcastNestedLoopJoin,
    // which is fine; a CartesianProductExec would mean an unintended
    // unconstrained pair blow-up.
    val streamingOrWriting = Set("q_watermark_late", "q_sink_layout",
      "q_csv_roundtrip", "q_json_roundtrip", "q_zorder_layout")
    SparkEntry.queries.keys.filterNot(streamingOrWriting).foreach { name =>
      val p = planOf(name)
      val cart = collectAll(p) { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"$name plans a CartesianProduct:\n$p")
    }
  }

  test("partial aggregation precedes the shuffle in grouped aggs") {
    val s = planString("q_hourly_agg")
    // two HashAggregate operators (partial + final) around one exchange
    assert("HashAggregate".r.findAllIn(s).size >= 2, s)
  }

  test("interval join is an equality join (broadcast dim), not a nested loop") {
    val p = planOf("q_interval_join")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected a broadcast HASH join on hour_bucket:\n$p")
    val s = p.toString
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "range predicate must ride the bucket equi-join as a residual, not drive a NLJ")
  }

  test("upsert merge shuffles once on the key (top-1 operator over union, no extra exchange)") {
    val s = planString("q_upsert_latest")
    // The rn=1 keep-latest window idiom is rewritten to the custom
    // TopKPerKey operator (plans/TopKPerKey.scala): heap partial below
    // the key exchange, streaming final above it.
    assert(s.contains("TopKPerKey"), s)
    // one hash partitioning for the key + the final presentation sort
    val hashExchanges = "hashpartitioning".r.findAllIn(s).size
    assert(hashExchanges <= 2, s"upsert should need at most one key shuffle:\n$s")
  }

  test("salted agg runs two partial/final rounds (four HashAggregates)") {
    val s = planString("q_skew_agg")
    assert("HashAggregate".r.findAllIn(s).size >= 3, s)
  }

  test("cube reads the fact table once (one file scan, Expand above it)") {
    val s = planString("q_cube")
    assert("FileScan parquet".r.findAllIn(s).size == 2, // orders + customer
      s"cube must not rescan per grouping set:\n$s")
    assert(s.contains("Expand"), s)
  }

  test("anti and semi joins are hash joins on a key-only build side") {
    val anti = planString("q_anti_join")
    assert(anti.contains("LeftAnti"), anti)
    assert(!anti.contains("NestedLoop"), anti)
    val semi = planString("q_exists_subquery")
    assert(semi.contains("LeftSemi"), semi)
    // The quantity predicate must be pushed into the lineitem scan.
    assert(semi.contains("GreaterThanOrEqual(l_quantity"), semi)
  }

  test("window-function battery needs at most two key exchanges") {
    val s = planString("q_window_funcs")
    assert("hashpartitioning".r.findAllIn(s).size <= 2,
      s"both window specs share the user_id clustering:\n$s")
  }

  test("market share: per-order agg below the join, dims broadcast") {
    val p = planOf("q_market_share")
    val bhj = collectAll(p) { case j: BroadcastHashJoinExec => j }
    assert(bhj.size >= 3, s"customer/nation/region must broadcast:\n$p")
    val s = p.toString
    // the lineitem partial agg keys on l_orderkey BEFORE any join
    assert(s.contains("HashAggregate(keys=[l_orderkey"), s)
  }

  test("expensive per-row projections sit above the final range sort (no 2x-eval)") {
    // The range-boundary sampling job re-executes the sort's child plan,
    // so any tokenizer/regex/kernel below a global sort runs twice. The
    // whole per-row text family sorts the narrow input FIRST and
    // projects after; this guard fails if a refactor re-sinks one.
    val expensiveMarkers = Seq(
      "split(", "regexp", "from_json", "simhash", "winnow", "max_equal_run", "fnv1a")
    val guarded = Seq(
      "q_token_count", "q_lang_id", "q_quality_score", "q_fingerprint",
      "q_pii_redact", "q_token_bpe", "q_repetition", "q_curation",
      "q_chunk_docs", "q_props_map")
    guarded.foreach { name =>
      val p = planOf(name)
      val rangeChildren = collectAll(p) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => e.child
      }
      assert(rangeChildren.nonEmpty, s"$name lost its range sort entirely")
      rangeChildren.foreach { c =>
        val s = c.toString.toLowerCase
        expensiveMarkers.foreach { m =>
          assert(!s.contains(m.toLowerCase),
            s"$name evaluates '$m' below the range sort (2x-eval):\n$c")
        }
      }
    }
  }

  test("hard negatives: TopKPerKey rank, anchors broadcast, never a shuffled pair join") {
    import graft.llm.Similarity
    import org.apache.spark.sql.functions.col
    val hn = Similarity.hardNegatives(
      Tables.embeddings(spark, sf), col("vec_id") % 50 === 2)
    // the window-rank spelling lowers to the bounded-heap operator
    assert(hn.queryExecution.optimizedPlan.collect {
      case n: graft.plans.TopKPerKeyNode => n }.size == 1)
    hn.collect()
    val s = hn.queryExecution.executedPlan.toString
    // non-equi predicates (id and label mismatch) over a BROADCAST
    // anchor side plan as BroadcastNestedLoopJoin — the corpus never
    // shuffles for the pairing; SMJ/cartesian would mean it does
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"), s)
  }

  test("RAG context assembly: one query-keyed window, token join broadcasts, no global sort before it") {
    import graft.llm.{AnnIndex, Curation}
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val out = Curation.ragContext(spark,
      AnnIndex.ivfDir(spark, sf, emb), AnnIndex.sqDir(spark, sf, emb),
      AnnIndex.ivfSqDir(spark, sf, emb), emb,
      Tables.documents(spark, sf), col("vec_id") % 50 === 2,
      nProbe = 14, rerank = 24)
    out.collect()
    val plan = out.queryExecution.executedPlan
    // executed adaptive plans hide joins inside QueryStageExec
    // wrappers whose subplans are not TreeNode children — recurse
    def deep[T](p: SparkPlan)(f: PartialFunction[SparkPlan, T]): Seq[T] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      (if (f.isDefinedAt(p)) Seq(f(p)) else Nil) ++ kids.flatMap(deep(_)(f))
    }
    // the doc token-count side rides a broadcast join (doc ids only —
    // no corpus text shuffle feeding the assembly)
    assert(deep(plan) { case b: BroadcastHashJoinExec => b }.nonEmpty, plan.toString)
    assert(deep(plan) { case c: CartesianProductExec => c }.isEmpty, plan.toString)
    // window cumsum partitions by query_id: the only range exchange is
    // the output-contract orderBy, after aggregation
    val s = plan.toString
    assert(s.contains("windowspecdefinition(query_id"), s)
  }

  /** collectAll that also descends into executed AQE query stages. */
  private def deepAll[T](p: SparkPlan)(f: PartialFunction[SparkPlan, T]): Seq[T] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    (if (f.isDefinedAt(p)) Seq(f(p)) else Nil) ++ kids.flatMap(deepAll(_)(f))
  }

  test("bm25 scoring reads the persisted artifact: broadcast sides, one query-keyed shuffle pair, TopKPerKey") {
    import graft.llm.Bm25
    import org.apache.spark.sql.functions.col
    val out = Bm25.score(Tables.documents(spark, sf).select("doc_id", "text"),
      col("doc_id") % 250 === 2)
    out.collect()
    val p = out.queryExecution.executedPlan
    // the query-term and document-frequency sides BROADCAST; the dl
    // carried through the postings aggregation means there is NO
    // corpus-sized doc-length join left to plan (VERDICT r9 finding 2)
    assert(deepAll(p) { case j: BroadcastHashJoinExec => j }.size == 2, p.toString)
    assert(deepAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"scoring must not plan a corpus-sized merge join:\n$p")
    assert(deepAll(p) { case c: CartesianProductExec => c }.isEmpty, p.toString)
    // hash shuffles: the (query_id, doc_id) agg pair + the TopKPerKey
    // key exchange — both sized by the MATCHED postings, not the corpus
    val hash = deepAll(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hash.size <= 2, s"bm25 scoring grew a shuffle:\n$p")
    assert(p.toString.contains("TopKPerKey"), p.toString)
  }

  test("hybrid fusion: vector pairing broadcasts, fuse is an equi join, never a cartesian") {
    val out = SparkEntry.queries("q_rag_fusion")(spark, sf)
    out.collect()
    val p = out.queryExecution.executedPlan
    assert(deepAll(p) { case c: CartesianProductExec => c }.isEmpty, p.toString)
    // exact batch top-k pairs corpus x broadcast(queries) — the one
    // BroadcastNestedLoopJoin (non-equi self-exclusion predicate)
    val nlj = deepAll(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nlj.size == 1, s"vector pairing must broadcast the query side:\n$p")
    // the full-outer (query_id, doc_id) fuse is an equi join (SMJ/SHJ
    // of two k-per-query rank lists — bounded inputs)
    val smj = deepAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.size <= 1, s"only the full-outer fuse may merge-join:\n$p")
  }

  test("triangles: equality joins only — the rank inequality rides the wedge join, never a cartesian") {
    val df = SparkEntry.queries("q_triangles")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(deepAll(p) { case c: CartesianProductExec => c }.isEmpty, p.toString)
    assert(deepAll(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"wedge/close joins must be equality-keyed:\n$p")
  }

  test("fuzzy join: segment blocking is an equality join; no cartesian, no corpus product") {
    val df = SparkEntry.queries("q_fuzzy_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(deepAll(p) { case c: CartesianProductExec => c }.isEmpty, p.toString)
    assert(deepAll(p) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.isEmpty, s"blocking must join on (seg, slot, len), never a product:\n$p")
  }

  test("phrase search: phrase terms broadcast onto the positional artifact, TopKPerKey ranks") {
    val df = SparkEntry.queries("q_phrase_search")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(deepAll(p) { case j: BroadcastHashJoinExec => j }.size == 1, p.toString)
    assert(deepAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"postings must meet phrase terms via broadcast:\n$p")
    assert(deepAll(p) { case c: CartesianProductExec => c }.isEmpty, p.toString)
    assert(p.toString.contains("TopKPerKey"), p.toString)
  }

  test("bucketed join row: the join AND the agg plan with zero hash exchanges") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    val hash = deepAll(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hash.isEmpty,
      s"bucketed layout must make the join+agg exchange-free:\n$p")
  }

  test("dhash and kcore plans: no cartesian, no nested-loop anywhere") {
    for (name <- Seq("q_media_dhash", "q_kcore")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan
      assert(deepAll(p) { case c: CartesianProductExec => c }.isEmpty, s"$name:\n$p")
      assert(deepAll(p) {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"$name must stay equality-keyed:\n$p")
    }
  }

  test("stratified sample is a scan-local filter (no exchange before the sort)") {
    val s = planString("q_sample_stratified")
    assert("hashpartitioning".r.findAllIn(s).isEmpty,
      s"sampling must not shuffle:\n$s")
  }

  test("manifest compact row: read path is scan + one range exchange; rewrite is range-only") {
    val df = SparkEntry.queries("q_manifest_compact")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    // the committed read of the compacted table: a plain
    // manifest-resolved scan + the output range sort — the manifest
    // and zone-map machinery is all metadata-side, zero plan cost
    assert(deepAll(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }.isEmpty, s"compacted read must not hash-shuffle:\n$p")
    assert(deepAll(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size == 1, s"exactly the output range sort expected:\n$p")
    assert(deepAll(p) { case j: BroadcastHashJoinExec => j }.isEmpty &&
      deepAll(p) { case c: CartesianProductExec => c }.isEmpty, p.toString)
    // the compaction REWRITE plan (read -> repartitionByRange ->
    // sortWithinPartitions, exactly what compact() executes): one
    // range exchange, no hash exchange — clustering without shuffling
    // twice
    val root = tmpDir("graft_planshape_compact_")
    graft.sink.ManifestSink.publish(
      Tables.events(spark, sf).select("event_id", "value"),
      root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
    val rewrite = graft.sink.ManifestSink.read(spark, root)
      .repartitionByRange(4, org.apache.spark.sql.functions.col("event_id"))
      .sortWithinPartitions("event_id")
    rewrite.collect()
    val rp = rewrite.queryExecution.executedPlan
    val shuffles = deepAll(rp) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size == 1 && shuffles.head.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
      s"rewrite must be one range exchange:\n$rp")
  }

  /** The distinct files the executed catalog scan(s) of `df` read —
    * what its input partitions carry after planning-time skipping. */
  private def scannedFiles(df: DataFrame): Seq[String] = {
    df.collect()
    deepAll(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.flatMap {
          case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
            fp.files.map(_.filePath.toString).toSeq
          case _ => Nil
        }
    }.flatten.distinct
  }

  test("zone-map pruned reads plan scans over ONLY the pruned file list") {
    val df = SparkEntry.queries("q_manifest_skip_string")(spark, sf)
    // pruning happened in metadata BEFORE planning: the scan's input
    // files are a strict subset of the epoch's committed files
    val files = scannedFiles(df)
    val root = files.head.replaceAll("/data-epoch=.*", "")
    val total = graft.sink.ManifestSink.manifestFiles(spark, root, 1).size
    assert(files.length < total && files.nonEmpty,
      s"expected a pruned scan: ${files.length} of $total files")
    val p = df.queryExecution.executedPlan
    assert(deepAll(p) { case j: BroadcastHashJoinExec => j }.isEmpty &&
      deepAll(p) { case c: CartesianProductExec => c }.isEmpty,
      s"pruned read is a plain scan + filter + sort:\n$p")
  }

  test("manifest FileIndex: planning-time skipping reaches the executed scan's numFiles") {
    import org.apache.spark.sql.functions.col
    val root = tmpDir("graft_fidx_spec_")
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    graft.sink.ManifestSink.publish(
      ev.repartitionByRange(8, col("event_id")).sortWithinPartitions("event_id"),
      root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id", "event_type")))
    val t = spark.read.format("graft-manifest").option("root", root).load()
    val total = graft.sink.ManifestSink.manifestFiles(spark, root, 1).size

    def scanFiles(df: DataFrame): Long = scannedFiles(df).size.toLong
    // a narrow long range scans a strict subset of the epoch's files
    val narrow = t.filter(col("event_id") < 50L)
    val nf = scanFiles(narrow)
    assert(nf < total && nf >= 1, s"pushed filter must prune the scan: $nf/$total")
    assert(narrow.count() == ev.filter(col("event_id") < 50L).count())
    // string predicates prune through the same stats rows
    val sf2 = scanFiles(t.filter(col("event_type") === "zzz"))
    assert(sf2 == 0, s"impossible string predicate must scan nothing: $sf2")
    // unrecognized predicates are CONSERVATIVE: every file scans
    val cons = scanFiles(t.filter(col("event_id") % 7 === 0))
    assert(cons == total, s"unknown predicate must keep all files: $cons/$total")
    // correctness never depends on the skip
    assert(t.filter(col("event_id").between(100L, 599L)).count() ==
      ev.filter(col("event_id").between(100L, 599L)).count())
  }

  test("nn-descent row: broadcast-only joins, no cartesian, top-k through the rank pattern") {
    val df = SparkEntry.queries("q_ann_nndescent")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(deepAll(p) { case c: CartesianProductExec => c }.isEmpty, p.toString)
    assert(deepAll(p) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, s"the query side must broadcast onto the corpus scan:\n$p")
  }

  test("kmeans assignment is a pure projection: no joins, only the output-sort exchange") {
    val df = SparkEntry.queries("q_kmeans")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(deepAll(p) { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      .isEmpty, s"argmin over broadcast-literal centroids must not join:\n$p")
    val hash = deepAll(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hash.isEmpty, s"assignment must be shuffle-free (range sort only):\n$p")
  }

  test("semdedup and cdf: cluster/key blocking stays equality-joined, never cartesian") {
    for (name <- Seq("q_semdedup", "q_manifest_cdf")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val p = df.queryExecution.executedPlan
      assert(deepAll(p) { case c: CartesianProductExec => c }.isEmpty, s"$name:\n$p")
      assert(deepAll(p) {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"$name must stay equality-keyed:\n$p")
    }
  }

  test("dsir: both frequency joins broadcast onto the token stream") {
    val df = SparkEntry.queries("q_dsir")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(deepAll(p) { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"vocab-sized freq tables must broadcast:\n$p")
    assert(deepAll(p) { case c: CartesianProductExec => c }.isEmpty, p.toString)
  }
}
