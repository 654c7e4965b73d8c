package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** NN-DESCENT — the graph-refined ANN tier (the one rung the
  * LSH/IVF/SQ/PQ ladder lacked): build an approximate kNN GRAPH by
  * iterating "a neighbor of my neighbor is probably my neighbor"
  * (Dong, Charikar & Li, WWW'11 — the construction under HNSW-class
  * indexes), expressed as iterative relational joins — the PageRank
  * fixed-point discipline applied to kNN graphs. No per-node priority
  * queues, no driver loops over vectors: each round is
  *
  *   candidates = (graph ∪ reverse(graph)) ⨝ (graph ∪ reverse(graph))
  *                — neighbor-of-neighbor id pairs, O(n·(2k)²) rows of
  *                  two longs, never vectors;
  *   score      = candidates ⨝ unit-vectors (twice, by id) → cosine;
  *   new graph  = per-src top-k over (old edges ∪ scored candidates),
  *                lowered through the TopKPerKey rank pattern.
  *
  * Convergence is data-independent enough that a FIXED round count
  * keeps the artifact deterministic (no data-dependent stopping =
  * no cross-run plan divergence); ties break on dst id, and every
  * cosine is the fixed-order array fold, so the graph is byte-stable
  * under input repartitioning (spec-pinned).
  *
  * Seeding: per-bucket brute force over `pmod(xxhash64(vec_id), n/32)`
  * buckets (~32 nodes each) — distributed, deterministic, O(32·n)
  * work; NN-descent converges from any seed, the bucket seed just
  * saves a round. Each round also injects `restarts` HASH-derived
  * probe candidates per node (`(src·K1 + j·K2 + round·K3) mod n`,
  * fixed constants — deterministic "random" restarts): on data with
  * local structure the neighbor expansion does the work and the
  * probes are a rounding error; on structure-FREE data (this fixture
  * is near-random 64-dim — the same adversarial shape that forces
  * the IVF rows to probe 12/16 cells) pure neighbor-of-neighbor
  * locks into local optima, and the probes are what keep exploring
  * (the role ρ-sampled randomness plays in the paper). Measured
  * recall@5 with (k=20, rounds=4, restarts=96): 1.0 / 1.0 / 0.965
  * at sf0.001/0.01/0.1 — above the 0.9 gate everywhere.
  *
  * At 100 TB the same shape holds: candidate tables are
  * (long, long, double) rows — the vectors stay in the (id →
  * unit-vector) table and are only ever joined in for the one scoring
  * pass per round — and the per-round shuffle is bounded by
  * n·((2k)² + restarts) id pairs, with the paper's ρ-sampling as the
  * standard lever if (2k)² itself is too dense.
  *
  * The graph IS the index: a corpus node's ANN result is its
  * adjacency list (the HNSW layer-0 read path); [[recallGate]] wraps
  * it in the engine's standard ANN row contract — output = exact
  * brute-force batch top-k (fully SQL-replayable), graph recall
  * enters as a boolean gate that flips the hash on regression. */
object NnDescent {

  /** Deliberate join-strategy pick (guide §3.1) for sides whose size
    * the PLANNER cannot estimate (iteratively-built id tables behind a
    * localCheckpoint carry garbage-big origin stats) but whose true
    * size WE can bound from the algorithm's invariants (k edges per
    * node, beam·k visits per query). Hint broadcast iff the bound fits
    * the session's live autoBroadcastJoinThreshold — at bench scale the
    * id tables are a few MB and every round's SMJ exchange+sort pair
    * collapses; at 100 TB the bound exceeds the threshold and the same
    * code plans the shuffle join the data size demands. */
  private def maybeBroadcast(df: DataFrame, boundBytes: Long): DataFrame = {
    val thr = org.apache.spark.sql.GraftBridge.autoBroadcastThreshold(df.sparkSession)
    if (thr > 0 && boundBytes >= 0 && boundBytes <= thr) broadcast(df) else df
  }

  /** The edge table lives as a [[graft.sink.ManifestSink]] table at
    * `dir/graphtab`, clustered + zone-mapped on `src` — so the index
    * inherits the sink's whole lifecycle for free: atomic commits
    * (a torn build/append is invisible), time travel across
    * maintenance epochs, vacuum, and COPY-ON-WRITE merges for
    * incremental inserts ([[appendToGraph]] rewrites only the files
    * whose src-range a touched node falls in — the index IS a
    * manifest table, maintenance IS a bounded merge). */
  def graphEdges(spark: SparkSession, dir: String): DataFrame =
    graft.sink.ManifestSink.read(spark, s"$dir/graphtab")

  /** Build the kNN graph artifact: (src, dst, sim) rows, k edges per
    * src, sim = cosine on unit vectors. */
  def buildGraph(embeddings: DataFrame, dir: String, k: Int = 20,
                 rounds: Int = 4, restarts: Int = 96,
                 bucketSize: Int = 32): Unit = {
    val spark = embeddings.sparkSession
    val e = embeddings
      .select(col("vec_id"), Similarity.unitVector(col("embedding")).as("u"))
      .localCheckpoint()
    val n = e.count()
    val nb = math.max(n / bucketSize, 1L)

    def topKPerSrc(scored: DataFrame): DataFrame =
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))))
        .filter(col("rank") <= k)
        .drop("rank")

    def score(cand: DataFrame): DataFrame =
      cand
        .join(e.select(col("vec_id").as("src"), col("u").as("su")), Seq("src"))
        .join(e.select(col("vec_id").as("dst"), col("u").as("du")), Seq("dst"))
        .select(col("src"), col("dst"),
          Similarity.dot(col("su"), col("du")).as("sim"))

    // seed: per-bucket brute force (~bucketSize² pairs per bucket).
    // One side of the bucket self-join is (id, bucket) pairs — n rows
    // of two longs, never vectors — so when that bound fits the
    // broadcast threshold the seed costs ZERO pre-join exchanges
    // instead of an SMJ's two exchange+sort legs of the same rows.
    val bucketed = e.select(col("vec_id"),
      pmod(xxhash64(col("vec_id")), lit(nb)).as("b"))
    val seedPairs = bucketed.toDF("src", "b")
      .join(maybeBroadcast(bucketed.toDF("dst", "b"), n * 24L), Seq("b"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
    var graph = topKPerSrc(score(seedPairs)).localCheckpoint()

    for (r <- 1 to rounds) {
      val und = graph.select("src", "dst")
        .union(graph.select(col("dst").as("src"), col("src").as("dst")))
      // hash-restart probes: nonexistent ids (sparse id spaces) just
      // drop out of score()'s inner id join
      val probes = e.select(col("vec_id").as("src"))
        .select(col("src"), explode(sequence(lit(0), lit(restarts - 1))).as("j"))
        .select(col("src"), pmod(
          col("src") * lit(2654435761L) + col("j") * lit(40503L) + lit(r * 69069L),
          lit(n)).as("dst"))
      // ONE exchange per round (guide §2.4): the candidate table is
      // hash-partitioned by src exactly once, and everything downstream
      // rides that partitioning — dropDuplicates(src, dst) dedups
      // locally (src ⊆ grouping keys), the two vector joins broadcast e
      // (unit rows with real origin stats), and TopKPerKeyFinal's
      // required clustering on src is already satisfied, so the window
      // needs no exchange of its own. The old spelling (SMJ mid-join +
      // distinct + TopK) paid FOUR exchanges and three sorts of the
      // same n·(2k)² id pairs. The neighbor side of the mid-join is
      // 2kn id pairs (the graph invariant), size-bound-gated: ids
      // only, never vectors — the "decide with small rows" shape of
      // guide §8.
      val cand = und.toDF("src", "mid")
        .join(maybeBroadcast(und.toDF("mid", "dst"), 2L * n * k * 24L), Seq("mid"))
        .select("src", "dst")
        .union(und)
        .union(probes)
        .filter(col("src") =!= col("dst"))
        .repartition(col("src"))
        .dropDuplicates("src", "dst")
      val refined = topKPerSrc(score(cand))
      if (r == 1) graft.ops.PlanDump.dump("nnd_build_round", refined)
      graph = refined.localCheckpoint()
    }
    graft.sink.ManifestSink.publish(
      graph.repartitionByRange(4, col("src")).sortWithinPartitions("src"),
      s"$dir/graphtab", 1, graft.sink.ManifestSink.WriteSpec(Seq("src")))
    ()
  }

  /** Memoized graph artifact for this session + fixture. */
  def graphDir(spark: SparkSession, sfDir: String, embeddings: DataFrame,
               k: Int = 20, rounds: Int = 4, restarts: Int = 96): String =
    AnnIndex.artifact(spark, s"nndescent:$sfDir:$k:$rounds:$restarts")(
      buildGraph(embeddings, _, k, rounds, restarts))

  /** Top-k neighbors of the query nodes, read straight off the graph
    * adjacency (the index's entire read path: one broadcast semi-join
    * of query ids onto the persisted edge table — no vector math at
    * query time for corpus nodes). */
  def graphTopK(spark: SparkSession, dir: String, queryIds: DataFrame,
                k: Int): DataFrame =
    graphEdges(spark, dir)
      .join(broadcast(queryIds.select(col("vec_id").as("src"))), Seq("src"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))))
      .filter(col("rank") <= k)
      .select(col("src").as("query_id"), col("rank"), col("dst").as("vec_id"))

  /** GREEDY BEAM SEARCH over the persisted graph — the read path for
    * queries that are NOT corpus nodes (the HNSW layer-0 search,
    * minus the layers): start from `entries` hash-selected entry
    * nodes per query, and each round expand the current beam's
    * adjacency, score ONLY the newly visited nodes against the query
    * vector, and keep the best `beam` as the next frontier. All
    * relational: frontier ⨝ edges for expansion, anti-join against
    * the visited set so no node is scored twice, one vector join per
    * round for the new nodes only. Per-query cost is O(entries +
    * rounds·beam·k) scored nodes — independent of n, which is the
    * entire point of graph ANN at 100 TB. On this structure-free
    * fixture (no navigability — the data HNSW's long-range links
    * exist to fix) the wide-beam setting measures recall@5 =
    * 1.0 / 1.0 / 1.0 at sf0.001/0.01/0.1 with (48, 48, 4); clustered
    * real corpora reach the same recall at a fraction of the beam.
    * Deterministic end to end: hash entry points, fixed rounds,
    * fixed-order cosine folds, id tie-breaks. */
  def searchGraph(embeddings: DataFrame, dir: String, queryPredicate: Column,
                  k: Int = 5, entries: Int = 48, beam: Int = 48,
                  rounds: Int = 4): DataFrame =
    searchGraphFromVisited(
      searchVisited(embeddings, dir, queryPredicate, entries, beam, rounds), k)

  /** Rank a [[searchVisited]] set to the standard (query_id, rank,
    * vec_id) search rows — splitting rank from search lets ONE beam
    * search serve consumers with different k (the streaming ingest
    * demo's gate and placement both search the same batch against the
    * same graph state; computing the visited fixed point once instead
    * of twice halves the demo's beam-search job count). */
  def searchGraphFromVisited(visited: DataFrame, k: Int): DataFrame =
    rankVisited(visited, k)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("node"))))
      .select(col("query_id"), col("rank"), col("node").as("vec_id"))

  /** [[searchGraph]] keeping the cosine: (query_id, node, sim) top-k
    * rows — the placement primitive [[appendToGraph]] builds on. */
  private def searchScored(embeddings: DataFrame, dir: String,
                           queryPredicate: Column, k: Int, entries: Int,
                           beam: Int, rounds: Int): DataFrame =
    rankVisited(
      searchVisited(embeddings, dir, queryPredicate, entries, beam, rounds), k)

  /** Top `width` scored nodes per query of a visited set. */
  private def rankVisited(visited: DataFrame, width: Int): DataFrame =
    visited.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("node"))))
      .filter(col("rank") <= width)
      .drop("rank")

  /** The beam search's full scored visited set (query_id, node, sim),
    * checkpointed — the shared fixed point [[searchGraph]] /
    * [[appendToGraph]] rank with their own k. */
  def searchVisited(embeddings: DataFrame, dir: String,
                    queryPredicate: Column, entries: Int = 48,
                    beam: Int = 48, rounds: Int = 4,
                    degree: Int = 20, dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    // ONE count job for both sizes (was two: embeddings.count() + a
    // q.count() purely for the broadcast bounds — guide §1.2)
    val cnt = embeddings
      .agg(count(lit(1)), count(when(queryPredicate, lit(1)))).head()
    val n = cnt.getLong(0)
    val qCount = cnt.getLong(1)
    val q = embeddings.filter(queryPredicate)
      .select(col("vec_id").as("query_id"),
        Similarity.unitVector(col("embedding")).as("qu"))
      .localCheckpoint()
    // size bounds for the deliberate join picks below: the visited set
    // is ≤ entries + rounds·beam·degree nodes per query (the
    // beam-search invariant; `degree` = the graph's build k — callers
    // searching a graph built with a non-default k must pass it, or
    // the bound under-estimates and over-broadcasts), ~20 B of ids per
    // row; a q row is an id + `dim` doubles (+ row overhead).
    val visitedBound = qCount * (entries + rounds.toLong * beam * degree) * 20L
    val qRowBytes = 8L + 8L * dim + 88L
    val corpus = embeddings
      .select(col("vec_id").as("node"), Similarity.unitVector(col("embedding")).as("u"))
    val edges = graphEdges(spark, dir).select("src", "dst")

    // score ONLY new (query, node) pairs: corpus vectors join by node
    // id, query vectors broadcast by query id. Both joins leave the
    // pair side's query_id partitioning intact when their small sides
    // broadcast, which is what keeps every round at ONE exchange.
    def score(pairs: DataFrame): DataFrame =
      pairs.join(corpus, Seq("node"))
        .join(maybeBroadcast(q, qCount * qRowBytes), Seq("query_id"))
        .select(col("query_id"), col("node"),
          Similarity.dot(col("qu"), col("u")).as("sim"))

    def topBeam(visited: DataFrame, width: Int): DataFrame =
      visited.withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("node"))))
        .filter(col("rank") <= width)
        .drop("rank")

    // ONE exchange per round (guide §2.4): the beam window's TopK
    // exchange establishes hash-partitioning by query_id, and
    // everything downstream rides it — the (query_id, node) distinct
    // dedups locally (query_id ⊆ keys), the visited anti-join
    // broadcasts its bounded id set, and the two score joins broadcast
    // their small sides — so a round moves the visited set exactly
    // once. The old spelling additionally paid a distinct exchange and
    // an SMJ-anti exchange+sort pair of the same id rows per round.
    // (localCheckpoint does NOT carry partitioning across rounds, so
    // the one exchange per round is also the floor for this shape.)
    val entry = q.select(col("query_id"))
      .select(col("query_id"), explode(sequence(lit(0), lit(entries - 1))).as("j"))
      .select(col("query_id"), pmod(
        col("query_id") * lit(1103515245L) + col("j") * lit(12345L), lit(n)).as("node"))
      .filter(col("node") =!= col("query_id"))
      .distinct()
    var visited = score(entry).localCheckpoint()
    for (r <- 1 to rounds) {
      val fresh = topBeam(visited, beam)
        .join(edges, col("node") === col("src"))
        .select(col("query_id"), col("dst").as("node"))
        .filter(col("node") =!= col("query_id"))
        .distinct()
        .join(maybeBroadcast(visited.select("query_id", "node"), visitedBound),
          Seq("query_id", "node"), "left_anti")
      val next = visited.unionByName(score(fresh))
      if (r == 1) graft.ops.PlanDump.dump("nnd_search_round", next)
      visited = next.localCheckpoint()
    }
    visited
  }

  /** INCREMENTAL graph insert — the append discipline every other
    * index tier carries (IVF delta cells, BM25 generations), for the
    * graph: a production corpus GROWS, and rebuilding an n-node graph
    * for an m-node batch (m << n) re-scores the world. Instead:
    *
    *   1. PLACE — each delta node's standing neighbors come from a
    *      beam search over the existing graph (O(beam·k) scored nodes
    *      per delta, independent of n);
    *   2. batch-local brute force — delta×delta pairs score directly
    *      (m² bounded by the batch size; a batch's internal neighbors
    *      are invisible to a search over the standing graph);
    *   3. REVERSE refresh — cosine is symmetric, so every placement
    *      edge (d → v, sim) is also v's candidate (v → d, sim);
    *      touched standing nodes re-rank old adjacency ∪ delta
    *      candidates. Touched set is bounded by m·k.
    *
    * The rewrite then goes through `ManifestSink.mergeCow` keyed on
    * `src`: delta rows insert (their keys overlap no file range),
    * touched standing rows replace, and the zone maps bound the file
    * rewrite — graph maintenance IS a bounded CoW merge on the index
    * table, with atomic visibility and time travel to the pre-append
    * graph for free. `deltaPredicate` selects the batch out of
    * `all` (standing = the rest, which the existing graph covers). */
  def appendToGraph(all: DataFrame, dir: String, deltaPredicate: Column,
                    k: Int = 20, entries: Int = 48, beam: Int = 48,
                    rounds: Int = 4,
                    precomputedVisited: Option[DataFrame] = None): Unit = {
    val spark = all.sparkSession
    // a caller that already beam-searched this batch against this graph
    // state (the streaming demo's recall gate) hands the visited set in
    // instead of paying the whole search a second time
    val placed = precomputedVisited
      .map(v => rankVisited(v, k))
      .getOrElse(searchScored(all, dir, deltaPredicate, k, entries, beam, rounds))
      .localCheckpoint()
    // delta×delta: the batch's internal pairs, brute-forced (m² rows)
    val du = all.filter(deltaPredicate)
      .select(col("vec_id"), Similarity.unitVector(col("embedding")).as("u"))
    val dd = du.toDF("query_id", "qu").join(broadcast(du.toDF("node", "nu")),
        col("query_id") =!= col("node"))
      .select(col("query_id"), col("node"),
        Similarity.dot(col("qu"), col("nu")).as("sim"))
    // checkpointed: deltaAdj feeds BOTH the merged output and (via
    // revCand/touched) the standing re-rank — without the checkpoint
    // the placement-scoring pipeline re-executes once per consumer,
    // and again for each of mergeCow's two passes (guide §1.2)
    val deltaAdj = placed.unionByName(dd)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("node"))))
      .filter(col("rank") <= k)
      .select(col("query_id").as("src"), col("node").as("dst"), col("sim"))
      .localCheckpoint()
    // reverse candidates: standing nodes (and delta peers) that may
    // now want a delta neighbor; re-rank their lists
    val revCand = deltaAdj.select(col("dst").as("src"), col("src").as("dst"), col("sim"))
    val touched = revCand.select("src").distinct()
    // Same single-exchange discipline as the build rounds: partition by
    // src once, then the (src, dst) dedup and the per-src top-k window
    // both ride that partitioning instead of exchanging again.
    val refreshed = graphEdges(spark, dir)
      .join(broadcast(touched), Seq("src"), "left_semi")
      .unionByName(revCand)
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))))
      .filter(col("rank") <= k)
      .drop("rank")
    // checkpointed: mergeCow executes its updates frame twice (the
    // zone-overlap touched probe, then the staged rewrite) — one
    // materialization instead of two executions of the whole merge
    val merged = deltaAdj.unionByName(refreshed)
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))))
      .filter(col("rank") <= k).drop("rank")
    graft.ops.PlanDump.dump("nnd_append_merge", merged)
    graft.sink.ManifestSink.mergeCow(spark, s"$dir/graphtab",
      merged.localCheckpoint(), "src", Seq("src"))
    ()
  }

  /** Memoized build-then-append demo graph: the standing corpus is
    * everything but the `% 50 == 11` batch; after the append the
    * composed index must gate exactly like a full graph. */
  def appendDemoDir(spark: SparkSession, sfDir: String,
                    embeddings: DataFrame): String =
    AnnIndex.artifact(spark, s"nndappend:$sfDir") { dir =>
      buildGraph(embeddings.filter(col("vec_id") % 50 =!= 11), dir)
      appendToGraph(embeddings, dir, col("vec_id") % 50 === 11)
    }

  /** [[searchGraph]] under the standard ANN row contract. */
  def searchRecallGate(embeddings: DataFrame, dir: String, queryPredicate: Column,
                       k: Int = 5, bound: Double = 0.9): DataFrame = {
    val exact = Similarity.batchTopKExact(embeddings,
      embeddings.filter(queryPredicate), k).localCheckpoint()
    val (total, hits) = Similarity.totalAndHits(exact,
      searchGraph(embeddings, dir, queryPredicate, k), Seq("query_id", "vec_id"))
    exact.withColumn("search_recall_ok",
      lit(total == 0L || hits.toDouble / total >= bound))
  }

  /** Standard ANN row contract: output = the exact brute-force batch
    * top-k (the oracle recomputes it); the graph's recall over the
    * same (query, neighbor) pairs enters as `graph_recall_ok`. */
  def recallGate(embeddings: DataFrame, dir: String, queryPredicate: Column,
                 k: Int = 5, bound: Double = 0.9): DataFrame = {
    val spark = embeddings.sparkSession
    val queries = embeddings.filter(queryPredicate)
    val exact = Similarity.batchTopKExact(embeddings, queries, k).localCheckpoint()
    val (total, hits) = Similarity.totalAndHits(exact,
      graphTopK(spark, dir, queries, k), Seq("query_id", "vec_id"))
    exact.withColumn("graph_recall_ok",
      lit(total == 0L || hits.toDouble / total >= bound))
  }
}
