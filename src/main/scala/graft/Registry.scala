package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.Generator
import graft.llm.{Curation, Dedup, Multimodal, Similarity, TextOps}
import graft.pipeline.EventPipeline
import graft.query.{Analytics, ReadPath}

/** Single source of truth binding SURVEY.md §2 operator names to their
  * Spark implementation and (where SQL-expressible) the DuckDB oracle.
  * Keeping both sides adjacent is what keeps output column names in
  * lock-step — the driver's compare hashes columns by name.
  */
object Registry {

  final case class QueryDef(
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private def q(fn: (SparkSession, String) => DataFrame, oracle: String): QueryDef =
    QueryDef(fn, Some(oracle))

  private def noOracle(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(fn, None)

  /** Oracle-side spelling of Tables.decSum/decOut: exact decimal
    * aggregate -> ROUND (DuckDB's decimal downcast truncates; ROUND
    * matches Spark's HALF_UP) -> DECIMAL(38,4) (unscaled < 2^53 so the
    * double cast is exact) -> DOUBLE. */
  private def dsum(e: String): String =
    s"CAST(CAST(ROUND(SUM($e), 4) AS DECIMAL(38,4)) AS DOUBLE)"
  private val dec4  = "DECIMAL(18,4)"
  // (1 +/- x) re-narrowed so DuckDB's product width stays within its
  // exact-decimal range (matches Spark's (7,4) arithmetic).
  private def oneMinus(c: String) = s"CAST(1 - CAST($c AS DECIMAL(6,4)) AS DECIMAL(7,4))"
  private def onePlus(c: String)  = s"CAST(1 + CAST($c AS DECIMAL(6,4)) AS DECIMAL(7,4))"

  /** Oracle spelling of one incremental-dedup stage: flags for every
    * delta doc (chosen by `deltaWhere`) against the corpus chosen by
    * `corpusWhere` — the cross-set prefix-filter join `Dedup
    * .IncrementalDeduper.dedupBatch` runs (document frequency over the
    * UNION gives the common total order; each side keeps its rarest
    * |S| - ceil(0.7|S|) + 1 shingles; equality join + exact Jaccard
    * verify — the all-pairs join this replaces cannot run at 5k docs).
    * Parameterized (round 9) so the STREAMING ingest oracle can chain
    * stages: batch k replays with corpusWhere = corpus + batches < k.
    * Emits no ORDER BY — callers append or wrap. */
  private def incrementalFlagsSql(deltaWhere: String, corpusWhere: String): String =
    s"""WITH delta AS (SELECT doc_id, text FROM documents WHERE $deltaWhere),
       |corpus AS (SELECT doc_id, text FROM documents WHERE $corpusWhere),
       |dt AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(t[i:least(i+2, len(t))], ' ')
       |                   FOR i IN range(1, greatest(len(t)-2, 1) + 1)]) AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM delta)
       |  WHERE len(t) > 0
       |), ct AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(t[i:least(i+2, len(t))], ' ')
       |                   FOR i IN range(1, greatest(len(t)-2, 1) + 1)]) AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus)
       |  WHERE len(t) > 0
       |), exd AS (SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM dt
       |), exc AS (SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM ct
       |), dfreq AS (
       |  SELECT shingle, COUNT(*) AS df
       |  FROM (SELECT shingle FROM exd UNION ALL SELECT shingle FROM exc)
       |  GROUP BY shingle
       |), prefd AS (
       |  SELECT doc_id, n, shingle FROM (
       |    SELECT exd.doc_id, exd.n, exd.shingle,
       |      ROW_NUMBER() OVER (PARTITION BY exd.doc_id
       |                         ORDER BY dfreq.df, exd.shingle) AS pos
       |    FROM exd JOIN dfreq USING (shingle))
       |  WHERE pos <= greatest(1, n - CAST(ceil(n * 0.7 - 1e-9) AS INT) + 1)
       |), prefc AS (
       |  SELECT doc_id, n, shingle FROM (
       |    SELECT exc.doc_id, exc.n, exc.shingle,
       |      ROW_NUMBER() OVER (PARTITION BY exc.doc_id
       |                         ORDER BY dfreq.df, exc.shingle) AS pos
       |    FROM exc JOIN dfreq USING (shingle))
       |  WHERE pos <= greatest(1, n - CAST(ceil(n * 0.7 - 1e-9) AS INT) + 1)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM prefd a JOIN prefc b ON a.shingle = b.shingle
       |  WHERE least(a.n, b.n) >= 0.7 * greatest(a.n, b.n)
       |), near AS (
       |  SELECT DISTINCT c.doc_a AS doc_id
       |  FROM cand c JOIN dt a ON c.doc_a = a.doc_id JOIN ct b ON c.doc_b = b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
       |), exact AS (
       |  SELECT DISTINCT d.doc_id FROM delta d JOIN corpus c ON d.text = c.text
       |)
       |SELECT d.doc_id,
       |  (e.doc_id IS NOT NULL) AS exact_dup,
       |  (n.doc_id IS NOT NULL) AS near_dup
       |FROM delta d
       |LEFT JOIN exact e ON d.doc_id = e.doc_id
       |LEFT JOIN near n ON d.doc_id = n.doc_id""".stripMargin

  /** DuckDB CTE chain spelling the SAME prefix-filter theorem the
    * engine's n-gram join uses (rarest-first DF order, per-doc prefix
    * of length |S| - ceil(t|S|) + 1, equality join on prefix shingles,
    * exact Jaccard verification) — yielding `pairs(doc_a, doc_b,
    * jaccard)`. Replaces the brute-force all-pairs spelling DuckDB
    * cannot run at 5k docs (sf0.1): result equality with all-pairs is
    * the first-collision THEOREM, not a tuning outcome, so the oracle
    * stays an independent ground truth while becoming tractable at
    * every fixture SF. The 1e-9 ceil slack only LENGTHENS prefixes
    * (recall-safe); the length filter is exact-rational-safe because
    * J >= t implies min|S| >= t*max|S| and the double t is <= the
    * rational t. Callers prepend WITH or WITH RECURSIVE. */
  private def prefixPairsCtes(t: String): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(t[i:least(i+2, len(t))], ' ')
       |                   FOR i IN range(1, greatest(len(t)-2, 1) + 1)]) AS s
       |  FROM toks WHERE len(t) > 0
       |), ex AS (
       |  SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh
       |), dfreq AS (
       |  SELECT shingle, COUNT(*) AS df FROM ex GROUP BY shingle
       |), pref AS (
       |  SELECT doc_id, n, shingle FROM (
       |    SELECT ex.doc_id, ex.n, ex.shingle,
       |      ROW_NUMBER() OVER (PARTITION BY ex.doc_id
       |                         ORDER BY dfreq.df, ex.shingle) AS pos
       |    FROM ex JOIN dfreq USING (shingle))
       |  WHERE pos <= greatest(1, n - CAST(ceil(n * $t - 1e-9) AS INT) + 1)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN pref b
       |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  WHERE least(a.n, b.n) >= $t * greatest(a.n, b.n)
       |), pairs AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
       |  FROM cand c
       |  JOIN sh sa ON c.doc_a = sa.doc_id
       |  JOIN sh sb ON c.doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       |      / len(list_distinct(list_concat(sa.s, sb.s))) >= $t
       |)""".stripMargin

  /** DuckDB CTE chain replaying distributed BPE training (Bpe.scala):
    * `w0` is the spaced-symbol word histogram; round i counts adjacent
    * pairs (LATERAL position unnest), picks the argmax under
    * (freq DESC, lhs, rhs) — both engines compare strings by binary
    * UTF-8 order — and applies the merge with single-pass `replace`,
    * whose left-to-right non-overlapping semantics are identical in
    * Spark and DuckDB (that shared semantic IS the operator contract).
    * Yields `b1..b{n}` (the picked merges) and `w{n}` (final state). */
  /** BM25 oracle CTE chain through the ranked list `r` (query_id,
    * doc_id, exact decimal score s, rnk) — shared by q_bm25 and the
    * RRF hybrid q_rag_fusion. Fractional literals CAST to DOUBLE
    * (DuckDB parses bare 1.2 as DECIMAL and would fold constants
    * differently from Spark's double arithmetic). */
  private def bm25Ctes(qWhere: String = "doc_id % 250 = 2",
                       corpusWhere: String = "TRUE"): String =
    s"""toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
      |  FROM documents
      |  WHERE ($corpusWhere)
      |    AND len(list_filter(string_split(text, ' '), x -> len(x) > 0)) > 0
      |), dls AS (SELECT doc_id, len(t) AS dl FROM toks),
      |postings AS (
      |  SELECT doc_id, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      |  GROUP BY doc_id, term
      |), dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM postings GROUP BY term),
      |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dls),
      |qt AS (
      |  SELECT doc_id AS query_id, unnest(t[1:4]) AS term
      |  FROM toks WHERE $qWhere
      |), per AS (
      |  SELECT q.query_id, p.doc_id,
      |    CAST(ROUND(
      |      ln((st.n - f.df + CAST(0.5 AS DOUBLE)) / (f.df + CAST(0.5 AS DOUBLE)) + 1)
      |      * (p.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
      |      / (p.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
      |          + CAST(0.75 AS DOUBLE) * d.dl / st.avgdl)), 10) AS DECIMAL(28,10)) AS c
      |  FROM postings p JOIN qt q USING (term) JOIN dfreq f USING (term)
      |  JOIN dls d ON d.doc_id = p.doc_id, st
      |), agg AS (
      |  SELECT query_id, doc_id, SUM(c) AS s FROM per GROUP BY query_id, doc_id
      |), r AS (
      |  SELECT query_id, doc_id, s,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rnk
      |  FROM agg
      |)""".stripMargin

  /** Unrolled k-core peel rounds for the DuckDB oracle — stage a{r} is
    * the survivor set after round r of "drop survivors whose degree
    * WITHIN a{r-1} is < k" over the community graph (citation edges +
    * planted 6-cliques, mirroring Graph.communityEdges). `conv` is the
    * one-more-round gate: TRUE iff every a{rounds} member keeps degree
    * >= k inside a{rounds} — the same self-report the engine emits. */
  private def kCoreCtes(rounds: Int, k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """ids AS (SELECT doc_id FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM ids),
        |raw AS (
        |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst FROM ids, nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % nn.n FROM ids, nn WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 3) % nn.n FROM ids, nn WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 0, doc_id FROM ids WHERE doc_id % 25 = 0 AND doc_id <> 0
        |  UNION ALL
        |  SELECT x.doc_id, y.doc_id FROM ids x JOIN ids y
        |    ON x.doc_id // 100 = y.doc_id // 100
        |   AND x.doc_id % 100 < 6 AND y.doc_id % 100 < 6
        |   AND x.doc_id < y.doc_id
        |), canon AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM raw WHERE src <> dst
        |), a0 AS MATERIALIZED (SELECT doc_id FROM ids)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |d$r AS (
        |  SELECT id, COUNT(*) AS deg FROM (
        |    SELECT c.a AS id FROM canon c
        |      JOIN a${r - 1} x ON c.a = x.doc_id JOIN a${r - 1} y ON c.b = y.doc_id
        |    UNION ALL
        |    SELECT c.b FROM canon c
        |      JOIN a${r - 1} x ON c.a = x.doc_id JOIN a${r - 1} y ON c.b = y.doc_id
        |  ) GROUP BY id
        |), a$r AS MATERIALIZED (
        |  SELECT s.doc_id FROM a${r - 1} s JOIN d$r ON d$r.id = s.doc_id
        |  WHERE d$r.deg >= $k)""".stripMargin)
    }
    sb.append(s""",
      |dx AS (
      |  SELECT id, COUNT(*) AS deg FROM (
      |    SELECT c.a AS id FROM canon c
      |      JOIN a$rounds x ON c.a = x.doc_id JOIN a$rounds y ON c.b = y.doc_id
      |    UNION ALL
      |    SELECT c.b FROM canon c
      |      JOIN a$rounds x ON c.a = x.doc_id JOIN a$rounds y ON c.b = y.doc_id
      |  ) GROUP BY id
      |), conv AS (
      |  SELECT COUNT(*) = 0 AS converged FROM a$rounds s
      |  LEFT JOIN dx ON dx.id = s.doc_id
      |  WHERE COALESCE(dx.deg, 0) < $k)""".stripMargin)
    sb.toString
  }

  /** Unrolled PageRank rounds for the DuckDB oracle — each stage
    * replays graft.query.PageRank's round arithmetic exactly. All
    * iteration arithmetic is INTEGER fixed-point at scale 10^-12
    * (`//` here = Spark's `div`): no floating op exists inside the
    * rounds, so there is no rounding mode for the engines to disagree
    * on (the decimal-rounding spelling this replaces lost 4/500 nodes
    * to genuine half-way ties). The single float op — the final
    * r/10^12 — runs on exact sub-2^53 integers in both engines.
    * `edgesSql` supplies the demo edge derivation; with `dangling`
    * set, each round adds the floored uniform share of the previous
    * round's dangling mass (SUM over no-out-edge nodes `// n`) inside
    * the damped term — the exact integer spelling of
    * PageRank.rankCore's redistribution. */
  private def pageRankCtes(iters: Int, edgesSql: String,
                           dangling: Boolean): String = {
    val base =
      s"""nn AS (SELECT COUNT(*) AS n FROM documents),
        |ids AS (SELECT doc_id FROM documents),
        |edges AS (SELECT DISTINCT src, dst FROM ($edgesSql)),
        |outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
        |r0 AS (SELECT doc_id, 1000000000000 // (SELECT n FROM nn) AS r FROM ids)""".stripMargin
    val rounds = (1 to iters).map { k =>
      val dterm = if (dangling)
        s""" + (SELECT COALESCE(SUM(r), 0) // (SELECT n FROM nn) FROM r${k - 1}
           |           WHERE doc_id NOT IN (SELECT src FROM edges))""".stripMargin
      else ""
      s"""r$k AS (
         |  SELECT i.doc_id,
         |    (1000000000000 * 15 // 100 // (SELECT n FROM nn))
         |      + (85 * (COALESCE(c.s, 0)$dterm)) // 100 AS r
         |  FROM ids i LEFT JOIN (
         |    SELECT e.dst AS doc_id, SUM(r.r // o.outdeg) AS s
         |    FROM edges e JOIN outdeg o ON o.src = e.src JOIN r${k - 1} r ON r.doc_id = e.src
         |    GROUP BY e.dst) c ON c.doc_id = i.doc_id)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  private val demoEdgesSql: String =
    """SELECT doc_id AS src, (doc_id+1) % (SELECT n FROM nn) AS dst FROM ids
      |  UNION ALL
      |  SELECT doc_id AS src, (doc_id*doc_id+3) % (SELECT n FROM nn) AS dst FROM ids""".stripMargin

  private val linkEdgesSql: String =
    """SELECT doc_id AS src, (doc_id*3+5) % (SELECT n FROM nn) AS dst
      |  FROM ids WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id AS src, (doc_id*doc_id+1) % (SELECT n FROM nn) AS dst
      |  FROM ids WHERE doc_id % 3 = 1""".stripMargin

  private def bpeCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """w0 AS (
        |  SELECT w, concat(regexp_replace(w, '(.)', ' \1', 'g'), ' ') AS s,
        |    CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        |  WHERE len(w) > 0 GROUP BY 1
        |)""".stripMargin)
    for (i <- 1 to nMerges) {
      sb.append(s""",
        |x$i AS (
        |  SELECT a[j] AS lhs, a[j+1] AS rhs, freq
        |  FROM (SELECT string_split(trim(s), ' ') AS a, freq FROM w${i - 1}),
        |       LATERAL unnest(range(1, len(a))) AS u(j)
        |), b$i AS (
        |  SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS pair_freq
        |  FROM x$i GROUP BY 1, 2
        |  ORDER BY pair_freq DESC, lhs, rhs LIMIT 1
        |), w$i AS (
        |  SELECT w, replace(s, ' ' || lhs || ' ' || rhs || ' ',
        |                 ' ' || lhs || rhs || ' ') AS s, freq
        |  FROM w${i - 1}, b$i
        |)""".stripMargin)
    }
    sb.toString
  }

  /** Shared DuckDB CTE chain replaying content-defined chunking
    * (Curation.chunkCdc): portable token values, the 4-token rolling
    * polynomial boundary rule, and the (start, end) chunk spans in
    * `e` — used by both the q_chunk_cdc dump and the q_dedup_cdc
    * chunk-dedup composition. */
  private val cdcCtes: String =
    """d AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), v AS (
      |  SELECT doc_id, t,
      |    list_transform(t, w -> (ascii(w[1:1]) * 31 + len(w)) % 64) AS v
      |  FROM d
      |), b AS (
      |  SELECT doc_id, t,
      |    list_filter(range(4, len(t) + 1), i ->
      |      (v[i-3] * 2248091 + v[i-2] * 17161 + v[i-1] * 131 + v[i])
      |        % 1000003 % 16 = 0) AS b
      |  FROM v
      |), c AS (
      |  SELECT doc_id, t,
      |    list_prepend(CAST(1 AS BIGINT), list_transform(b, p -> p + 1)) AS ss,
      |    list_append(b, CAST(len(t) AS BIGINT)) AS ee
      |  FROM b
      |), e AS (
      |  SELECT doc_id, t, u.k AS k, ss[u.k] AS s, ee[u.k] AS e
      |  FROM c, LATERAL unnest(range(1, len(ss) + 1)) AS u(k)
      |  WHERE ss[u.k] <= ee[u.k]
      |)""".stripMargin

  /** DuckDB list literal of the generator's city fleet. */
  private val citiesSql: String =
    Generator.Cities.map(c => s"'$c'").mkString("[", ", ", "]")

  /** DuckDB spelling of Generator.sensorEvents(numDevices, seconds):
    * the portable PRF makes every column recomputable from range(n).
    * The uniforms are integer hundredths / 100.0 and the float32 casts
    * are IEEE round-to-nearest in both engines, so values match
    * bit-for-bit. */
  /** The deterministic 2-iteration Lloyd k-means as DuckDB CTEs ending
    * in `g2(vec_id, cid)` — the oracle twin of
    * `Clustering.kmeansAssign(k, iters = 2)`. Seeds = k lowest
    * vec_ids; score = c.c - 2 e.c (the shared e.e term dropped on both
    * engines); ties to the lowest cid; recentering through the
    * ROUND-then-DECIMAL(28,10) element sums (the q_label_centroids
    * cross-engine discipline). list_dot_product is the sequential fold
    * DotProductExpr bit-matches (q_dedup_embedding parity). */
  private def kmeansCtes(k: Int): String = {
    val means = (0 until 64).map { i =>
      s"CAST(CAST(SUM(CAST(ROUND(CAST(e.embedding[${i + 1}] AS DOUBLE), 10)" +
        s" AS DECIMAL(28,10))) AS DECIMAL(38,10)) AS DOUBLE) / COUNT(*)"
    }.mkString("[", ",\n      ", "]")
    s"""s0 AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
       |         CAST(embedding AS DOUBLE[]) AS ce
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $k)
       |),
       |s1 AS (SELECT cid, ce, list_dot_product(ce, ce) AS cc FROM s0),
       |a1 AS (
       |  SELECT e.vec_id, s.cid,
       |         s.cc - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), s.ce) AS score
       |  FROM embeddings e CROSS JOIN s1 s
       |),
       |g1 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
       |    FROM a1) WHERE rn = 1
       |),
       |c2 AS (
       |  SELECT g1.cid AS cid,
       |    $means AS ce
       |  FROM g1 JOIN embeddings e USING (vec_id)
       |  GROUP BY g1.cid
       |),
       |s2 AS (SELECT cid, ce, list_dot_product(ce, ce) AS cc FROM c2),
       |a2 AS (
       |  SELECT e.vec_id, s.cid,
       |         s.cc - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), s.ce) AS score
       |  FROM embeddings e CROSS JOIN s2 s
       |),
       |g2 AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, cid) AS rn
       |    FROM a2) WHERE rn = 1
       |)""".stripMargin
  }

  private def generatorSql(numDevices: Int, seconds: Int, extraCols: String = ""): String = {
    val n = numDevices.toLong * seconds
    s"""WITH g AS (SELECT range AS id FROM range(0, $n)),
       |m AS (SELECT id,
       |  (${Generator.mixSql("id", 1)}) % 2000 AS t_h,
       |  (${Generator.mixSql("id", 2)}) % 6000 AS h_h,
       |  (${Generator.mixSql(s"id % $numDevices", 3)}) % 7 AS city_i
       |FROM g)
       |SELECT
       |  'device-' || lpad(CAST(id % $numDevices AS VARCHAR), 4, '0') AS device_id,
       |  'Sensor-' || lpad(CAST(id % $numDevices AS VARCHAR), 3, '0') AS device_name,
       |  1704067200000 + (id // $numDevices) * 1000 AS "timestamp",
       |  CAST((t_h + 1500) / 100.0 AS FLOAT) AS temperature,
       |  CAST((h_h + 3000) / 100.0 AS FLOAT) AS humidity,
       |  $citiesSql[CAST(city_i + 1 AS INT)] AS location$extraCols
       |FROM m ORDER BY device_id, "timestamp"""".stripMargin
  }

  import Tables._

  val defs: Map[String, QueryDef] = Map(
    // ---- pipeline projection / scalar ops (P1-P7) ----
    "q_project_flatten" -> q(
      (s, d) => EventPipeline.projectFlatten(events(s, d)),
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin),
    "q_event_time" -> q(
      (s, d) => EventPipeline.eventTime(events(s, d)),
      """SELECT event_id, epoch_ms(ts) AS ts_ms,
        |  make_timestamp(epoch_ms(ts) * 1000) AS event_time,
        |  make_timestamp((epoch_ms(ts) // 1000) * 1000000) AS event_time_sec
        |FROM events ORDER BY event_id""".stripMargin),
    "q_prune" -> q(
      (s, d) => EventPipeline.prune(events(s, d)),
      """SELECT event_id, user_id, ts, value FROM events ORDER BY event_id""".stripMargin),
    "q_time_funcs" -> q(
      (s, d) => EventPipeline.timeFuncs(events(s, d)),
      """SELECT event_id, CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
        |  CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
        |  CAST(minute(ts) AS INT) AS mi,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |  date_trunc('hour', ts) AS hour_start
        |FROM events ORDER BY event_id""".stripMargin),
    "q_substr" -> q(
      (s, d) => ReadPath.substr(documents(s, d)),
      """SELECT doc_id, substring(text, 6, 40) AS frag FROM documents ORDER BY doc_id""".stripMargin),

    // ---- read path (P8-P15, S12) ----
    "q_filter_device" -> q(
      (s, d) => ReadPath.filterDevice(events(s, d)),
      s"""SELECT event_id, ts, user_id, event_type, value FROM events
         |WHERE user_id = ${ReadPath.DeviceKey} ORDER BY event_id""".stripMargin),
    "q_latest_per_device" -> q(
      (s, d) => ReadPath.latestPerDevice(events(s, d)),
      s"""SELECT event_id, ts, user_id, event_type, value FROM events
         |WHERE user_id = ${ReadPath.DeviceKey}
         |ORDER BY ts DESC, event_id LIMIT 100""".stripMargin),
    "q_time_range" -> q(
      (s, d) => ReadPath.timeRange(events(s, d)),
      s"""SELECT event_id, ts, user_id, event_type, value FROM events
         |WHERE user_id = ${ReadPath.RangeKey}
         |  AND ts >= TIMESTAMP '${ReadPath.RangeStart}'
         |  AND ts <  TIMESTAMP '${ReadPath.RangeEnd}'
         |ORDER BY ts DESC, event_id""".stripMargin),
    "q_filter_location" -> q(
      (s, d) => ReadPath.filterLocation(events(s, d)),
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),
    "q_count" -> q(
      (s, d) => ReadPath.countAll(lineitem(s, d)),
      """SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem""".stripMargin),
    "q_sort" -> q(
      (s, d) => ReadPath.sortGlobal(events(s, d)),
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |ORDER BY ts DESC, event_id LIMIT 50""".stripMargin),
    "q_topk_per_key" -> q(
      (s, d) => ReadPath.topkPerKey(events(s, d)),
      """SELECT * FROM (
        |  SELECT event_id, ts, user_id, event_type, value,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id) AS INT) AS rn
        |  FROM events)
        |WHERE rn <= 5 ORDER BY user_id, rn""".stripMargin),
    "q_topk_exec" -> q(
      (s, d) => ReadPath.topkByType(events(s, d)),
      """SELECT * FROM (
        |  SELECT event_id, ts, user_id, event_type, value,
        |    CAST(ROW_NUMBER() OVER (
        |      PARTITION BY event_type
        |      ORDER BY value DESC NULLS LAST, event_id) AS INT) AS rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin),
    "q_enrich_join" -> q(
      (s, d) => ReadPath.enrichJoin(orders(s, d), customer(s, d), nation(s, d)),
      """SELECT o_orderkey, o_totalprice, c_name, n_name
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY o_orderkey""".stripMargin),
    "q_asof_join" -> q(
      (s, d) => graft.query.AsOfJoin.eventsAsOfSignup(events(s, d)),
      """SELECT e.event_id, e.user_id, e.ts, u.ts AS cfg_ts, u.value AS cfg_value
        |FROM events e
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') u
        |  ON e.user_id = u.user_id AND e.ts >= u.ts
        |ORDER BY e.event_id""".stripMargin),
    "q_scan" -> q(
      (s, d) => ReadPath.scan(lineitem(s, d)),
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // ---- windowing variants / grouping sets / set ops ----
    "q_sliding_window" -> q(
      (s, d) => graft.query.Windows.slidingWindow(events(s, d)),
      s"""SELECT user_id, window_start,
         |  ${dsum(s"CAST(value AS $dec4)")} / COUNT(*) AS avg_value,
         |  CAST(COUNT(*) AS BIGINT) AS event_count
         |FROM (
         |  SELECT user_id, value, unnest([
         |    CAST(floor(epoch(ts)/1800)*1800 AS BIGINT),
         |    CAST(floor(epoch(ts)/1800)*1800 - 1800 AS BIGINT)]) AS window_start
         |  FROM events)
         |GROUP BY 1, 2 ORDER BY user_id, window_start""".stripMargin),
    // gaps-and-islands oracle: Spark's session_window opens a new
    // session when the gap reaches the 30-min threshold (windows are
    // half-open, so ==30min does NOT merge), and session_end is
    // last-event-time + gap.
    "q_session_window" -> q(
      (s, d) => graft.query.Windows.sessionWindow(events(s, d)),
      s"""WITH o AS (
         |  SELECT user_id, value, epoch_us(ts) AS us,
         |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_us
         |  FROM events
         |), s AS (
         |  SELECT *, SUM(CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000
         |      THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sess
         |  FROM o
         |)
         |SELECT user_id,
         |  CAST(floor(min(us)/1000000) AS BIGINT) AS session_start,
         |  CAST(floor((max(us) + 1800000000)/1000000) AS BIGINT) AS session_end,
         |  CAST(count(*) AS BIGINT) AS event_count,
         |  ${dsum(s"CAST(value AS $dec4)")} / count(*) AS avg_value
         |FROM s GROUP BY user_id, sess
         |ORDER BY user_id, session_start""".stripMargin),
    "q_rollup" -> q(
      (s, d) => graft.query.Windows.rollupRevenue(orders(s, d), customer(s, d)),
      s"""SELECT c_mktsegment, o_orderstatus,
         |  ${dsum(s"CAST(o_totalprice AS $dec4)")} AS total_price,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY ROLLUP(c_mktsegment, o_orderstatus)
         |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin),
    // Spark's grouping_id() packs the FIRST cube column into the MSB;
    // spelled explicitly as 2*GROUPING(a)+GROUPING(b) for DuckDB.
    "q_cube" -> q(
      (s, d) => graft.query.Windows.cubeRevenue(orders(s, d), customer(s, d)),
      s"""SELECT c_mktsegment, o_orderstatus,
         |  ${dsum(s"CAST(o_totalprice AS $dec4)")} AS total_price,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(2*GROUPING(c_mktsegment) + GROUPING(o_orderstatus) AS BIGINT) AS gid
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY CUBE(c_mktsegment, o_orderstatus)
         |ORDER BY gid, c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin),
    "q_grouping_sets" -> q(
      (s, d) => graft.query.Windows.groupingSetsRevenue(orders(s, d), customer(s, d)),
      s"""SELECT c_mktsegment, o_orderstatus,
         |  ${dsum(s"CAST(o_totalprice AS $dec4)")} AS total_price,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(2*GROUPING(c_mktsegment) + GROUPING(o_orderstatus) AS BIGINT) AS gid
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY GROUPING SETS ((c_mktsegment), (o_orderstatus), ())
         |ORDER BY gid, c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin),
    "q_window_funcs" -> q(
      (s, d) => graft.query.Windows.windowFuncs(events(s, d)),
      """SELECT event_id, ts, user_id, value,
        |  lag(value, 1) OVER wt AS prev_value,
        |  lead(value, 1) OVER wt AS next_value,
        |  CAST(rank() OVER wv AS INT) AS value_rank,
        |  CAST(ntile(4) OVER wv AS INT) AS quartile,
        |  cume_dist() OVER wv AS cdist
        |FROM events
        |WINDOW wt AS (PARTITION BY user_id ORDER BY ts, event_id),
        |       wv AS (PARTITION BY user_id ORDER BY value ASC NULLS FIRST, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin),
    "q_scd2" -> q(
      (s, d) => graft.query.Windows.scd2(events(s, d)),
      """SELECT user_id, ts AS valid_from, value,
        |  lead(ts, 1) OVER w AS valid_to,
        |  lead(ts, 1) OVER w IS NULL AS is_current
        |FROM events WHERE event_type = 'signup'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from""".stripMargin),
    // The SQL entry point end-to-end: a spark.sql() text query over a
    // registered view, calling an extension-registered custom function
    // (fnv1a64). The hash itself is engine-internal, so it enters via
    // an injectivity gate — distinct hashes must equal distinct texts
    // (64-bit FNV collides on this corpus with probability ~n^2/2^65).
    "q_sql_api" -> q(
      (s, d) => {
        // Per-invocation view name: a fixed name would let concurrent
        // verify+bench invocations with different data dirs race on the
        // shared session catalog and read the wrong corpus.
        val view = "graft_docs_v_" + java.util.UUID.randomUUID().toString.replace("-", "")
        documents(s, d).createOrReplaceTempView(view)
        try s.sql(s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                |  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
                |  COUNT(DISTINCT fnv1a64(text)) = COUNT(DISTINCT text) AS hash_injective_ok
                |FROM $view GROUP BY lang ORDER BY lang""".stripMargin)
          .localCheckpoint()
        finally s.catalog.dropTempView(view)
      },
      """SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
        |  TRUE AS hash_injective_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // The typed-Dataset UDAF surface: a custom Aggregator[IN,BUF,OUT]
    // over Dataset[EvRow], same decimal discipline as decSum so the
    // custom merge is bit-checked against DuckDB's plain aggregate.
    "q_typed_agg" -> q(
      (s, d) => graft.query.TypedAgg.typedStats(s, events(s, d)),
      s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         |  ${dsum(s"CAST(value AS $dec4)")} AS total,
         |  MIN(value) AS vmin, MAX(value) AS vmax
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // FULL OUTER join of two independent aggregates (per-user event
    // counts vs per-customer order counts over overlapping id spaces):
    // unmatched rows from BOTH sides survive with zero-filled counts.
    "q_full_outer" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{coalesce, col, count, lit}
        val e = events(s, d).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"))
        val o = orders(s, d).groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"))
        e.join(o, col("user_id") === col("o_custkey"), "full_outer")
          .select(
            coalesce(col("user_id"), col("o_custkey")).as("id"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"))
          .orderBy("id")
      },
      """SELECT COALESCE(e.user_id, o.o_custkey) AS id,
        |  CAST(COALESCE(e.n, 0) AS BIGINT) AS n_events,
        |  CAST(COALESCE(o.n, 0) AS BIGINT) AS n_orders
        |FROM (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id) e
        |FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey) o
        |  ON e.user_id = o.o_custkey
        |ORDER BY id""".stripMargin),

    "q_anti_join" -> q(
      (s, d) => Analytics.customersWithoutOrders(customer(s, d), orders(s, d)),
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin),
    "q_exists_subquery" -> q(
      (s, d) => Analytics.ordersWithBigLines(orders(s, d), lineitem(s, d)),
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
        |ORDER BY o_orderkey""".stripMargin),
    "q_set_ops" -> q(
      (s, d) => graft.query.Windows.setOps(events(s, d)),
      """SELECT user_id, 'both' AS relation FROM
        |  (SELECT user_id FROM events WHERE event_type = 'purchase'
        |   INTERSECT SELECT user_id FROM events WHERE event_type = 'error')
        |UNION ALL
        |SELECT user_id, 'purchase_only' AS relation FROM
        |  (SELECT user_id FROM events WHERE event_type = 'purchase'
        |   EXCEPT SELECT user_id FROM events WHERE event_type = 'error')
        |UNION ALL
        |SELECT user_id, 'error_only' AS relation FROM
        |  (SELECT user_id FROM events WHERE event_type = 'error'
        |   EXCEPT SELECT user_id FROM events WHERE event_type = 'purchase')
        |ORDER BY relation, user_id""".stripMargin),

    // ---- time series: LOCF resample + rolling z-score ----
    "q_resample_locf" -> q(
      (s, d) => graft.query.TimeSeries.resampleLocf(events(s, d)),
      """WITH grid AS (
        |  SELECT u.user_id, g.ts
        |  FROM (SELECT DISTINCT user_id FROM events) u,
        |       generate_series(TIMESTAMP '2024-01-01 00:00:00',
        |                       TIMESTAMP '2024-01-15 00:00:00',
        |                       INTERVAL 6 HOUR) AS g(ts)
        |)
        |SELECT grid.user_id, grid.ts AS grid_ts, e.ts AS src_ts, e.value AS value
        |FROM grid ASOF LEFT JOIN events e
        |  ON grid.user_id = e.user_id AND e.ts <= grid.ts
        |ORDER BY grid.user_id, grid_ts""".stripMargin),
    "q_rolling_zscore" -> q(
      (s, d) => graft.query.TimeSeries.rollingZscore(events(s, d)),
      """WITH t AS (
        |  SELECT event_id, ts, user_id, value,
        |    COUNT(value) OVER w AS cnt,
        |    CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w
        |      AS DECIMAL(38,4)) AS DOUBLE) AS s1,
        |    CAST(CAST(SUM(CAST(ROUND(value * value, 4) AS DECIMAL(18,4))) OVER w
        |      AS DECIMAL(38,4)) AS DOUBLE) AS s2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_id, ts, user_id, value,
        |  CASE WHEN cnt >= 5 AND (s2 - s1*s1/cnt)/(cnt-1) > 0
        |    THEN (value - s1/cnt) / sqrt((s2 - s1*s1/cnt)/(cnt-1)) END AS zscore,
        |  CASE WHEN cnt >= 5 AND (s2 - s1*s1/cnt)/(cnt-1) > 0
        |    THEN abs((value - s1/cnt) / sqrt((s2 - s1*s1/cnt)/(cnt-1))) > 3.0
        |    END AS is_anomaly
        |FROM t ORDER BY event_id""".stripMargin),

    // ---- curation pipeline / split / chunking (X1/X4 composition) ----
    "q_curation" -> q(
      (s, d) => graft.llm.Curation.curate(documents(s, d)),
      s"""WITH t AS (
         |  SELECT doc_id,
         |    doc_id <> MIN(doc_id) OVER (PARTITION BY text) AS is_dup,
         |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stopwordsSql))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
         |  FROM documents
         |), t2 AS (
         |  SELECT doc_id, is_dup,
         |    CASE WHEN stop_ratio > 0.05 THEN 'en' ELSE 'other' END AS lang_pred,
         |    (CASE WHEN n_tokens BETWEEN 10 AND 2000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         |    + (CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         |    + (CASE WHEN stop_ratio > 0.0 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS quality
         |  FROM t)
         |SELECT doc_id, is_dup, lang_pred, quality,
         |  CASE WHEN is_dup THEN 'exact_dup'
         |       WHEN lang_pred <> 'en' THEN 'lang'
         |       WHEN quality < 0.7 THEN 'low_quality'
         |       ELSE 'keep' END AS reason,
         |  (CASE WHEN is_dup THEN 'exact_dup'
         |       WHEN lang_pred <> 'en' THEN 'lang'
         |       WHEN quality < 0.7 THEN 'low_quality'
         |       ELSE 'keep' END) = 'keep' AS kept
         |FROM t2 ORDER BY doc_id""".stripMargin),
    // The composed curation run as ONE query: dedup -> lang -> quality
    // -> repetition -> decontamination -> chunk -> split, reported as
    // a per-stage funnel. Each doc is charged to its FIRST failing
    // stage; the oracle replays the whole gauntlet from the component
    // oracles' spellings, so a drift in ANY stage (or in how they
    // compose) breaks the hash.
    "q_pipeline_e2e" -> q(
      (s, d) => graft.llm.Curation.pipelineE2e(documents(s, d)),
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS t,
         |    doc_id <> MIN(doc_id) OVER (PARTITION BY text) AS is_dup,
         |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopwordsSql))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
         |  FROM documents
         |), qv AS (
         |  SELECT doc_id, t, is_dup,
         |    CASE WHEN stop_ratio > 0.05 THEN 'en' ELSE 'other' END AS lang_pred,
         |    (CASE WHEN n_tokens BETWEEN 10 AND 2000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         |    + (CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         |    + (CASE WHEN stop_ratio > 0.0 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS quality
         |  FROM t
         |), cnt AS (
         |  SELECT doc_id, tok, COUNT(*) AS c
         |  FROM (SELECT doc_id, unnest(t) AS tok FROM t) GROUP BY doc_id, tok
         |), top AS (SELECT doc_id, MAX(c) AS top_c FROM cnt GROUP BY doc_id
         |), rep AS (
         |  SELECT t.doc_id,
         |    (CASE WHEN len(t.t) > 0
         |          THEN CAST(COALESCE(top.top_c, 0) AS DOUBLE) / len(t.t) ELSE 0.0 END) > 0.2
         |    OR (CASE WHEN len(t.t) >= 2
         |             THEN 1.0 - CAST(len(list_distinct(
         |                    [array_to_string(t.t[i:i+1], ' ') FOR i IN range(1, len(t.t))]
         |                  )) AS DOUBLE) / (len(t.t) - 1) ELSE 0.0 END) > 0.3
         |    AS repetitive
         |  FROM t LEFT JOIN top ON t.doc_id = top.doc_id
         |), bench AS (
         |  SELECT DISTINCT unnest([array_to_string(s[i:i+7], ' ')
         |                          FOR i IN range(1, greatest(len(s)-7, 0) + 1)]) AS gram
         |  FROM (SELECT t[11:40] AS s FROM t WHERE doc_id % 40 = 7)
         |), grams AS (
         |  SELECT doc_id, unnest([array_to_string(t[i:i+7], ' ')
         |                         FOR i IN range(1, greatest(len(t)-7, 0) + 1)]) AS gram
         |  FROM t
         |), dec AS (
         |  SELECT DISTINCT g.doc_id FROM grams g JOIN bench b ON g.gram = b.gram
         |), verdict AS (
         |  SELECT qv.doc_id, len(qv.t) AS n_tok,
         |    CASE WHEN qv.is_dup THEN 'exact_dup'
         |         WHEN qv.lang_pred <> 'en' THEN 'lang'
         |         WHEN qv.quality < 0.7 THEN 'quality'
         |         WHEN rep.repetitive THEN 'repetition'
         |         WHEN dec.doc_id IS NOT NULL THEN 'decontamination'
         |         ELSE 'keep' END AS ff
         |  FROM qv JOIN rep ON qv.doc_id = rep.doc_id
         |          LEFT JOIN dec ON qv.doc_id = dec.doc_id
         |), a AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS total,
         |    CAST(SUM(CASE WHEN ff = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |    CAST(SUM(CASE WHEN ff = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         |    CAST(SUM(CASE WHEN ff = 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         |    CAST(SUM(CASE WHEN ff = 'repetition' THEN 1 ELSE 0 END) AS BIGINT) AS d4,
         |    CAST(SUM(CASE WHEN ff = 'decontamination' THEN 1 ELSE 0 END) AS BIGINT) AS d5,
         |    CAST(SUM(CASE WHEN ff = 'keep'
         |         THEN greatest(CAST(ceil((n_tok - 50) / 40.0) AS BIGINT), 0) + 1
         |         ELSE 0 END) AS BIGINT) AS n_chunks,
         |    CAST(SUM(CASE WHEN ff = 'keep' AND doc_id % 10 < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |    CAST(SUM(CASE WHEN ff = 'keep' AND doc_id % 10 = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |    CAST(SUM(CASE WHEN ff = 'keep' AND doc_id % 10 > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |  FROM verdict
         |)
         |SELECT * FROM (
         |  SELECT CAST(1 AS INT) AS stage, 'exact_dup' AS stage_name,
         |    total AS n_in, d1 AS n_dropped, total - d1 AS n_out FROM a
         |  UNION ALL SELECT CAST(2 AS INT), 'lang', total - d1, d2, total - d1 - d2 FROM a
         |  UNION ALL SELECT CAST(3 AS INT), 'quality', total - d1 - d2, d3, total - d1 - d2 - d3 FROM a
         |  UNION ALL SELECT CAST(4 AS INT), 'repetition', total - d1 - d2 - d3, d4,
         |    total - d1 - d2 - d3 - d4 FROM a
         |  UNION ALL SELECT CAST(5 AS INT), 'decontamination', total - d1 - d2 - d3 - d4, d5,
         |    total - d1 - d2 - d3 - d4 - d5 FROM a
         |  UNION ALL SELECT CAST(6 AS INT), 'chunk', total - d1 - d2 - d3 - d4 - d5,
         |    CAST(0 AS BIGINT), n_chunks FROM a
         |  UNION ALL SELECT CAST(7 AS INT), 'split_train', total - d1 - d2 - d3 - d4 - d5,
         |    CAST(0 AS BIGINT), n_train FROM a
         |  UNION ALL SELECT CAST(8 AS INT), 'split_val', total - d1 - d2 - d3 - d4 - d5,
         |    CAST(0 AS BIGINT), n_val FROM a
         |  UNION ALL SELECT CAST(9 AS INT), 'split_test', total - d1 - d2 - d3 - d4 - d5,
         |    CAST(0 AS BIGINT), n_test FROM a
         |) ORDER BY stage""".stripMargin),
    "q_train_split" -> q(
      (s, d) => graft.llm.Curation.trainValTestSplit(documents(s, d)),
      """SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
        |            WHEN doc_id % 10 = 8 THEN 'val'
        |            ELSE 'test' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    // Domain-mixture resampling: per-language keep rates (integer ppm)
    // that hit target token shares without upsampling — the binding
    // domain keeps everything, others downsample deterministically.
    // Availability, rates, and the ACTUAL kept docs/tokens are all
    // integer-or-shared-double arithmetic, recomputable in DuckDB.
    "q_domain_mix" -> q(
      (s, d) => graft.llm.Curation.domainMixture(documents(s, d)),
      """WITH d AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
        |), a AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY lang
        |), t AS (
        |  SELECT lang, n_docs, n_tokens,
        |    CASE lang WHEN 'en' THEN CAST(0.4 AS DOUBLE)
        |              WHEN 'de' THEN CAST(0.15 AS DOUBLE)
        |              WHEN 'es' THEN CAST(0.15 AS DOUBLE)
        |              WHEN 'fr' THEN CAST(0.15 AS DOUBLE)
        |              WHEN 'zh' THEN CAST(0.15 AS DOUBLE)
        |              ELSE CAST(0.0 AS DOUBLE) END AS target_share
        |  FROM a
        |), s AS (
        |  SELECT *, MIN(CAST(n_tokens AS DOUBLE) / target_share) OVER () AS feas FROM t
        |), r AS (
        |  SELECT lang, n_docs, n_tokens, target_share,
        |    CAST(ROUND(least(CAST(1.0 AS DOUBLE), target_share * feas / n_tokens)
        |         * 1000000) AS BIGINT) AS rate_ppm
        |  FROM s
        |), k AS (
        |  SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS kept_docs,
        |    CAST(SUM(d.n_tok) AS BIGINT) AS kept_tokens
        |  FROM d JOIN r ON d.lang = r.lang
        |  WHERE (d.doc_id * 2654435761) % 1000000007 % 1000000 < r.rate_ppm
        |  GROUP BY d.lang
        |)
        |SELECT r.lang, r.n_docs, r.n_tokens, r.target_share, r.rate_ppm,
        |  COALESCE(k.kept_docs, 0) AS kept_docs,
        |  COALESCE(k.kept_tokens, 0) AS kept_tokens
        |FROM r LEFT JOIN k ON r.lang = k.lang ORDER BY r.lang""".stripMargin),
    // Sequence packing (concat-then-split): each doc's chunk stream is
    // cut into 128-token training sequences; a chunk belongs to the
    // sequence its first token lands in. Document-respecting, so the
    // running offset is a per-doc window — no global prefix sum.
    "q_pack_sequences" -> q(
      // seqLen=32 against the fixtures' 10-99-token docs so the packing
      // actually multi-cuts (avg ~2 sequences/doc, max 4) — 128 would
      // degenerate to one sequence per doc here.
      (s, d) => graft.llm.Curation.packSequences(documents(s, d), seqLen = 32),
      """WITH toks AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |    unnest(range(0, greatest(CAST(ceil((n_tok - 50) / 40.0) AS INT), 0) + 1)) AS ci
        |  FROM toks
        |), ch AS (
        |  SELECT doc_id, ci, least(50, n_tok - ci * 40) AS n_chunk_tokens FROM c
        |), cb AS (
        |  SELECT doc_id, ci, n_chunk_tokens,
        |    COALESCE(SUM(n_chunk_tokens) OVER (PARTITION BY doc_id ORDER BY ci
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM ch
        |)
        |SELECT doc_id, CAST(cum_before // 32 AS INT) AS seq_idx,
        |  CAST(COUNT(*) AS INT) AS n_chunks,
        |  CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_seq_tokens
        |FROM cb GROUP BY doc_id, cum_before // 32
        |ORDER BY doc_id, seq_idx""".stripMargin),
    // CROSS-document greedy packing (round 8): short docs concatenated
    // into fixed 128-token training sequences — greedy next-fit in
    // doc_id order within 32 deterministic hash buckets (next-fit =
    // one open bin = O(1) streaming state per bucket; the scale choice
    // over first-fit). Integer arithmetic over a deterministic order,
    // so the oracle replays the fold exactly as a recursive CTE
    // stepping per-bucket doc positions.
    "q_pack_greedy" -> q(
      (s, d) => Curation.packGreedy(documents(s, d)),
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CAST((doc_id * 2654435761) % 1000000007 % 32 AS INT) AS bucket,
        |    least(len(string_split(text, ' ')), 128) AS n_tok
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, bucket, n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS pos
        |  FROM d
        |), step(bucket, pos, doc_id, n_tok, seq_idx, fill_after) AS (
        |  SELECT bucket, pos, doc_id, n_tok, 0, n_tok FROM pos WHERE pos = 1
        |  UNION ALL
        |  SELECT p.bucket, p.pos, p.doc_id, p.n_tok,
        |    CASE WHEN s.fill_after + p.n_tok > 128 THEN s.seq_idx + 1
        |         ELSE s.seq_idx END,
        |    CASE WHEN s.fill_after + p.n_tok > 128 THEN p.n_tok
        |         ELSE s.fill_after + p.n_tok END
        |  FROM step s JOIN pos p ON p.bucket = s.bucket AND p.pos = s.pos + 1
        |)
        |SELECT bucket, CAST(seq_idx AS INT) AS seq_idx,
        |  CAST(COUNT(*) AS INT) AS n_docs,
        |  CAST(SUM(n_tok) AS INT) AS n_seq_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  CAST(SUM(n_tok) * 1000000 // 128 AS BIGINT) AS fill_ppm
        |FROM step GROUP BY bucket, seq_idx
        |ORDER BY bucket, seq_idx""".stripMargin),
    // FIRST-fit decreasing (round 8): docs walk their bucket in
    // (n_tok DESC, doc_id) order, each lands in the FIRST open
    // sequence it fits (else opens one) — the classic fill upgrade
    // (252 sequences vs greedy's 302 at sf0.001). The oracle replays
    // the fold as a recursive CTE whose STATE is the open-bin fill
    // LIST (first-fit = list_position of the first fitting bin).
    "q_pack_ffd" -> q(
      (s, d) => Curation.packFirstFitDecreasing(documents(s, d)),
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CAST((doc_id * 2654435761) % 1000000007 % 32 AS INT) AS bucket,
        |    least(len(string_split(text, ' ')), 128) AS n_tok
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, bucket, n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY bucket
        |                       ORDER BY n_tok DESC, doc_id) AS pos
        |  FROM d
        |), step(bucket, pos, doc_id, n_tok, bin_idx, fills) AS (
        |  SELECT bucket, pos, doc_id, n_tok, CAST(1 AS BIGINT), [n_tok]
        |  FROM pos WHERE pos = 1
        |  UNION ALL
        |  SELECT bucket, pos, doc_id, n_tok,
        |    COALESCE(fpos, len(fills) + 1),
        |    CASE WHEN fpos IS NULL THEN list_append(fills, n_tok)
        |         ELSE list_transform(range(1, len(fills) + 1),
        |                i -> CASE WHEN i = fpos THEN fills[i] + n_tok
        |                          ELSE fills[i] END)
        |    END
        |  FROM (
        |    SELECT p.bucket, p.pos, p.doc_id, p.n_tok, s.fills,
        |      NULLIF(list_position(
        |        list_transform(s.fills, f -> f + p.n_tok <= 128), true), 0) AS fpos
        |    FROM step s JOIN pos p ON p.bucket = s.bucket AND p.pos = s.pos + 1
        |  )
        |)
        |SELECT bucket, CAST(bin_idx - 1 AS INT) AS seq_idx,
        |  CAST(COUNT(*) AS INT) AS n_docs,
        |  CAST(SUM(n_tok) AS INT) AS n_seq_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  CAST(SUM(n_tok) * 1000000 // 128 AS BIGINT) AS fill_ppm
        |FROM step GROUP BY bucket, bin_idx
        |ORDER BY bucket, seq_idx""".stripMargin),
    // The corpus-level packing audit: capacity vs packed tokens and
    // the padding share a trainer would burn at these parameters.
    "q_pack_report" -> q(
      (s, d) => Curation.packGreedyReport(documents(s, d)),
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |    CAST((doc_id * 2654435761) % 1000000007 % 32 AS INT) AS bucket,
        |    least(len(string_split(text, ' ')), 128) AS n_tok
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, bucket, n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS pos
        |  FROM d
        |), step(bucket, pos, doc_id, n_tok, seq_idx, fill_after) AS (
        |  SELECT bucket, pos, doc_id, n_tok, 0, n_tok FROM pos WHERE pos = 1
        |  UNION ALL
        |  SELECT p.bucket, p.pos, p.doc_id, p.n_tok,
        |    CASE WHEN s.fill_after + p.n_tok > 128 THEN s.seq_idx + 1
        |         ELSE s.seq_idx END,
        |    CASE WHEN s.fill_after + p.n_tok > 128 THEN p.n_tok
        |         ELSE s.fill_after + p.n_tok END
        |  FROM step s JOIN pos p ON p.bucket = s.bucket AND p.pos = s.pos + 1
        |), seqs AS (
        |  SELECT bucket, seq_idx, COUNT(*) AS nd, SUM(n_tok) AS toks
        |  FROM step GROUP BY bucket, seq_idx
        |)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_sequences,
        |  CAST(SUM(nd) AS BIGINT) AS n_docs,
        |  CAST(SUM(toks) AS BIGINT) AS packed_tokens,
        |  CAST(COUNT(*) * 128 AS BIGINT) AS capacity_tokens,
        |  CAST((COUNT(*) * 128 - SUM(toks)) * 1000000 // (COUNT(*) * 128) AS BIGINT)
        |    AS waste_ppm
        |FROM seqs""".stripMargin),
    "q_sample_stratified" -> q(
      (s, d) => graft.llm.Curation.stratifiedSample(documents(s, d)),
      """SELECT doc_id, lang, source FROM documents
        |WHERE (doc_id * 2654435761) % 1000000007 % 100 <
        |  CASE WHEN lang = 'en' THEN 20 ELSE 50 END
        |ORDER BY doc_id""".stripMargin),
    // Seeded epoch shuffle: the permutation key is pure integer
    // arithmetic, so DuckDB replays the exact shard/order assignment.
    "q_shuffle_train" -> q(
      (s, d) => graft.llm.Curation.epochShuffle(documents(s, d)),
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST((doc_id + 17) * 2654435761 % 1000000007 AS BIGINT) AS shuffle_key
        |  FROM documents
        |)
        |SELECT doc_id, shuffle_key,
        |  CAST(shuffle_key % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shuffle_key % 8
        |    ORDER BY shuffle_key, doc_id) AS INT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin),
    // Per-key fixed-size deterministic sample; the Spark side plans
    // through the TopKPerKey heap operator (map-side k-bounded), the
    // oracle through a window rank — same contract.
    "q_sample_reservoir" -> q(
      (s, d) => graft.llm.Curation.reservoirSample(documents(s, d)),
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    CAST(doc_id * 2654435761 % 1000000007 AS BIGINT) AS sample_rank
        |  FROM documents
        |)
        |SELECT lang, doc_id, sample_rank,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY sample_rank, doc_id) AS INT) AS rn
        |FROM r QUALIFY rn <= 40 ORDER BY lang, rn""".stripMargin),
    // Weighted sampling without replacement (round 10) — Efraimidis-
    // Spirakis exponential sort keys: u from the reservoir row's
    // integer hash, rank by ln(u)/w with w = n_chars (monotone
    // equivalent of u^(1/w)), per-lang top-10. ONE fixed double
    // expression rounded into DECIMAL(28,10) (ln outputs are
    // non-terminating — no half-way ties), ranking on the exact
    // decimal; TopKPerKey lowering, same plan as the reservoir.
    "q_sample_weighted" -> q(
      (s, d) => graft.llm.Curation.weightedSample(documents(s, d)),
      """WITH r AS (
        |  SELECT lang, doc_id, n_chars,
        |    CAST(ROUND(ln((1 + (doc_id * 2654435761) % 999999) / 1000000.0)
        |         / n_chars, 10) AS DECIMAL(28,10)) AS wk
        |  FROM documents WHERE n_chars > 0
        |), t AS (
        |  SELECT lang, doc_id, n_chars, wk,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY wk DESC, doc_id) AS INT) AS rn
        |  FROM r
        |)
        |SELECT lang, doc_id, n_chars, CAST(wk AS DOUBLE) AS wkey, rn
        |FROM t WHERE rn <= 10 ORDER BY lang, rn""".stripMargin),
    // Corpus snapshot diff (round 10) — the versioning primitive
    // between two pipeline epochs: added/removed/changed via a
    // full-outer join of (doc_id, xxhash64(text)) FINGERPRINTS —
    // 8-byte rows shuffle, text bodies never do (the dedup bargain:
    // hash equality stands in for text equality under the no-collision
    // event). Version B derives deterministically from the corpus;
    // the oracle rebuilds B by the same rules and diffs TEXT directly,
    // so the fingerprint bargain is exactly what the green hash
    // certifies.
    "q_snapshot_diff" -> q(
      (s, d) => graft.llm.Curation.snapshotDiffDemo(documents(s, d)),
      """WITH base AS (SELECT doc_id, text FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END AS text
        |  FROM base WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'added ' || CAST(doc_id AS VARCHAR)
        |  FROM base WHERE doc_id % 29 = 0
        |), j AS (
        |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN a.text <> b.text THEN 'changed'
        |         ELSE 'same' END AS status
        |  FROM base a FULL JOIN b ON a.doc_id = b.doc_id
        |)
        |SELECT doc_id, status FROM j WHERE status <> 'same'
        |ORDER BY doc_id""".stripMargin),
    // Content-defined chunking: boundary where a 4-token rolling
    // polynomial (pure integer arithmetic, engine-portable) hits
    // 0 mod 16 — edit-local chunk boundaries for chunk-level dedup.
    "q_chunk_cdc" -> q(
      (s, d) => graft.llm.Curation.chunkCdc(documents(s, d)),
      s"""WITH $cdcCtes
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY k) - 1 AS INT)
        |    AS chunk_id,
        |  CAST(s AS INT) AS start_pos, CAST(e - s + 1 AS INT) AS n_tokens,
        |  array_to_string(t[s:e], ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin),
    // CDC-chunk dedup — the payoff composition: fingerprint the
    // content-defined chunks, a chunk in >= 2 distinct docs is
    // duplicated; per-doc duplicated-chunk/token shares. The oracle
    // groups chunk STRINGS (no-collision event, the substring bargain).
    "q_dedup_cdc" -> q(
      (s, d) => graft.llm.Dedup.cdcChunkDupStats(documents(s, d)),
      s"""WITH $cdcCtes, ch AS (
        |  SELECT doc_id, array_to_string(t[s:e], ' ') AS ctext,
        |    e - s + 1 AS n_tok
        |  FROM e
        |), dup AS (
        |  SELECT ctext FROM ch GROUP BY ctext
        |  HAVING COUNT(DISTINCT doc_id) >= 2
        |), pd AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |    CAST(SUM(n_tok) AS BIGINT) AS n_tok FROM ch GROUP BY doc_id
        |), dd AS (
        |  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_chunks,
        |    CAST(SUM(c.n_tok) AS BIGINT) AS n_dup_tokens
        |  FROM ch c JOIN dup USING (ctext) GROUP BY c.doc_id
        |)
        |SELECT pd.doc_id, pd.n_chunks,
        |  COALESCE(dd.n_dup_chunks, 0) AS n_dup_chunks,
        |  COALESCE(dd.n_dup_tokens, 0) AS n_dup_tokens,
        |  ROUND(CAST(COALESCE(dd.n_dup_tokens, 0) AS DOUBLE) / pd.n_tok, 6)
        |    AS dup_token_frac
        |FROM pd LEFT JOIN dd USING (doc_id)
        |ORDER BY pd.doc_id""".stripMargin),
    "q_chunk_docs" -> q(
      (s, d) => graft.llm.Curation.chunkDocs(documents(s, d)),
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 20
        |), c AS (
        |  SELECT doc_id, t,
        |    unnest(range(0, greatest(CAST(ceil((len(t) - 50) / 40.0) AS INT), 0) + 1)) AS ci
        |  FROM toks
        |)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
        |  CAST(len(t[ci*40 + 1 : least(ci*40 + 50, len(t))]) AS INT) AS n_chunk_tokens,
        |  array_to_string(t[ci*40 + 1 : least(ci*40 + 50, len(t))], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),

    // ---- TF-IDF feature scores (X4) ----
    // BM25 lexical retrieval (round 9; round 10 moved the corpus side
    // into a PERSISTED postings/dfreq/stats artifact, memoized per
    // session+corpus and shared with the hybrid rows, and killed the
    // corpus-sized doc-length join — dl rides the postings
    // aggregation): Okapi BM25 (k1=1.2, b=0.75); query bags = first 4
    // tokens of every 250th doc. Query terms + the Zipf-sized df table
    // broadcast; scoring touches only the queried terms' postings;
    // per-term doubles round into DECIMAL(28,10) and RANKING uses the
    // exact decimal sum, so order can't shift cross-engine. Fractional
    // literals are CAST to DOUBLE in the oracle — DuckDB parses bare
    // 1.2 as DECIMAL and would fold the constants differently.
    "q_bm25" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        graft.llm.Bm25.score(documents(s, d), col("doc_id") % 250 === 2)
      },
      s"""WITH ${bm25Ctes()}
        |SELECT query_id, CAST(rnk AS INT) AS rank, doc_id,
        |  ROUND(CAST(s AS DOUBLE), 6) AS bm25
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    // Incremental BM25 index append (round 10) — the ANN append
    // discipline for text: the standing index covers docs >= 50, the
    // ingest batch (docs < 50) APPENDS delta postings files, merges
    // dfreq via one vocab-sized full-outer sum, and adds the 1-row
    // stats. Scoring the composed index MUST equal a fresh full-corpus
    // build — BM25's statistics (tf, dl, df, n, avgdl) are exactly
    // mergeable — so the oracle is simply full-corpus BM25 over a
    // disjoint query set: any double-count or missed merge shifts a
    // df/avgdl and breaks the hash.
    "q_bm25_append" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val docs = documents(s, d).select("doc_id", "text")
        val dir = graft.llm.Bm25.appendDemoDir(docs)
        graft.llm.Bm25.scoreWithIndex(docs, dir, col("doc_id") % 250 === 1)
      },
      s"""WITH ${bm25Ctes("doc_id % 250 = 1")}
        |SELECT query_id, CAST(rnk AS INT) AS rank, doc_id,
        |  ROUND(CAST(s AS DOUBLE), 6) AS bm25
        |FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    // Streaming document ingest against the STANDING BM25 index
    // (round 10) — the text twin of q_stream_ann_ingest: each
    // micro-batch appends into the persisted index (delta postings,
    // vocab-sized dfreq merge, 1-row stats add) and the fixed query
    // set re-scores against the state at batch END — retrieval
    // freshness without a rebuild. MemoryStream pins the batch
    // boundaries, so the oracle replays the stream as per-stage
    // full-prefix BM25 (batch 0 = everything but the %10==7 class;
    // batch 1 = the full corpus): the append-maintains-exact-
    // statistics identity, certified per stream stage.
    "q_stream_bm25_ingest" -> q(
      (s, d) => graft.streaming.StreamBm25Ingest.demo(s, d),
      s"""SELECT 0 AS batch_id, * FROM (
        |  WITH ${bm25Ctes(corpusWhere = "doc_id % 10 <> 7")}
        |  SELECT query_id, CAST(rnk AS INT) AS rank, doc_id,
        |    ROUND(CAST(s AS DOUBLE), 6) AS bm25
        |  FROM r WHERE rnk <= 10)
        |UNION ALL
        |SELECT 1, * FROM (
        |  WITH ${bm25Ctes()}
        |  SELECT query_id, CAST(rnk AS INT) AS rank, doc_id,
        |    ROUND(CAST(s AS DOUBLE), 6) AS bm25
        |  FROM r WHERE rnk <= 10)
        |ORDER BY batch_id, query_id, rank""".stripMargin),
    // Hybrid retrieval (round 9): reciprocal-rank fusion of the BM25
    // lexical list and the exact vector top-10 for the same query
    // docs — rrf = sum of 1/(60 + rank) over the lists a doc appears
    // in. Pure rank arithmetic (identical doubles both engines),
    // ranked on the raw double; queries missing the vector modality
    // (embeddings cover a doc-id prefix at some SFs) fuse from the
    // lexical list alone — the partial-modality production case.
    "q_rag_fusion" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        graft.llm.Bm25.hybridRrf(documents(s, d), embeddings(s, d),
          col("doc_id") % 250 === 2)
      },
      s"""WITH ${bm25Ctes()},
        |lex AS (SELECT query_id, doc_id, rnk AS rl FROM r WHERE rnk <= 10),
        |ue AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), qy AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM ue WHERE vec_id % 250 = 2),
        |sv AS (
        |  SELECT qy.query_id, ue.vec_id,
        |    list_dot_product([y / qy.qn FOR y IN qy.qe], [x / ue.nrm FOR x IN ue.e]) AS raw_cos
        |  FROM ue JOIN qy ON ue.vec_id <> qy.query_id
        |), vr AS (
        |  SELECT query_id, vec_id AS doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rv
        |  FROM sv
        |), vec AS (SELECT query_id, doc_id, rv FROM vr WHERE rv <= 10),
        |u AS (
        |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
        |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |    COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.rl), 0)
        |      + COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.rv), 0) AS rrf
        |  FROM lex l FULL JOIN vec v ON l.query_id = v.query_id AND l.doc_id = v.doc_id
        |), f AS (
        |  SELECT query_id, doc_id, rrf,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
        |  FROM u
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, doc_id, ROUND(rrf, 6) AS rrf
        |FROM f WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // ANN-routed, artifact-backed hybrid retrieval (round 10 — verdict
    // task 1): BOTH rank lists now come from persisted artifacts — the
    // lexical list reads the memoized BM25 postings/dfreq/stats tables
    // (built once per session+corpus; q_bm25 and q_rag_fusion share
    // them), the vector list routes through the persisted batch IVF-SQ
    // probe (broadcast-centroid cell assignment, pruned cells_sq
    // partition scans — the production retrieval shape BENCH_NOTES
    // promised). Standard ANN contract: output = the EXACT fusion
    // (identical rows to q_rag_fusion, oracle recomputes it),
    // batch_recall_ok = the routed probe recovering >= 0.9 of the
    // exact vector pairs at nProbe=14/rerank=24.
    "q_rag_fusion_ann" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = embeddings(s, d)
        val ivf = graft.llm.AnnIndex.ivfDir(s, d, e)
        val sq = graft.llm.AnnIndex.sqDir(s, d, e)
        val csq = graft.llm.AnnIndex.ivfSqDir(s, d, e)
        graft.llm.Bm25.hybridRrfAnn(s, ivf, sq, csq, documents(s, d), e,
          col("doc_id") % 250 === 2, col("vec_id") % 250 === 2)
      },
      s"""WITH ${bm25Ctes()},
        |lex AS (SELECT query_id, doc_id, rnk AS rl FROM r WHERE rnk <= 10),
        |ue AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), qy AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM ue WHERE vec_id % 250 = 2),
        |sv AS (
        |  SELECT qy.query_id, ue.vec_id,
        |    list_dot_product([y / qy.qn FOR y IN qy.qe], [x / ue.nrm FOR x IN ue.e]) AS raw_cos
        |  FROM ue JOIN qy ON ue.vec_id <> qy.query_id
        |), vr AS (
        |  SELECT query_id, vec_id AS doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rv
        |  FROM sv
        |), vec AS (SELECT query_id, doc_id, rv FROM vr WHERE rv <= 10),
        |u AS (
        |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
        |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
        |    COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.rl), 0)
        |      + COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.rv), 0) AS rrf
        |  FROM lex l FULL JOIN vec v ON l.query_id = v.query_id AND l.doc_id = v.doc_id
        |), f AS (
        |  SELECT query_id, doc_id, rrf,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk
        |  FROM u
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, doc_id, ROUND(rrf, 6) AS rrf,
        |  TRUE AS batch_recall_ok
        |FROM f WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // Exact-phrase search (round 10) over the POSITIONAL postings
    // artifact (bm25pos:*, one corpus tokenize pass into
    // (doc_id, term, pos)): each query doc's tokens [2,3] form a
    // bigram phrase; a doc matches at start s iff every phrase role r
    // finds its token at s + r — matched postings carry
    // (query, doc, pos - role, role) and an occurrence is a start
    // where count(distinct role) = phraseLen (the role tag keeps
    // repeated phrase terms — common under the Zipf vocabulary —
    // exact). Ranked by (occurrences desc, doc_id), top 10. Phrase
    // terms broadcast onto the postings scan; counts are exact
    // integers, so there is no cross-engine numeric surface at all.
    // The oracle recomputes occurrences from first principles: a
    // per-(query, doc) list scan of token windows — not the postings
    // join — so engine == oracle checks the positional-intersection
    // identity, not two spellings of one plan.
    "q_phrase_search" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        graft.llm.Bm25.phraseSearch(documents(s, d), col("doc_id") % 250 === 0)
      },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |q AS (
        |  SELECT doc_id AS query_id, t[2] AS p1, t[3] AS p2 FROM toks
        |  WHERE doc_id % 250 = 0 AND len(t) >= 3
        |), occ AS (
        |  SELECT q.query_id, d.doc_id,
        |    CAST(len([i FOR i IN range(1, greatest(len(d.t) - 1, 0) + 1)
        |              IF d.t[i] = q.p1 AND d.t[i+1] = q.p2]) AS BIGINT) AS n_occ
        |  FROM q, toks d
        |), ranked AS (
        |  SELECT query_id, doc_id, n_occ,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY n_occ DESC, doc_id) AS rnk
        |  FROM occ WHERE n_occ >= 1
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, doc_id, n_occ
        |FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin),
    // PMI collocations (round 10) — pointwise mutual information over
    // adjacent token pairs (Church & Hanks): the collocation signal
    // for stop-phrase lists / tokenizer merge seeding. Vocab-sized
    // count tables broadcast; ONE fixed double expression rounded into
    // DECIMAL(28,10), ranked on the exact decimal.
    "q_pmi" -> q(
      (s, d) => TextOps.pmiCollocations(documents(s, d)),
      """WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS term FROM tok),
        |uc AS (SELECT term, COUNT(*) AS c FROM uni GROUP BY term),
        |ntot AS (SELECT COUNT(*) AS nt FROM uni),
        |bg0 AS (SELECT t, unnest(range(1, len(t))) AS i FROM tok WHERE len(t) >= 2),
        |bg AS (SELECT t[i] AS term_a, t[i+1] AS term_b FROM bg0),
        |bc AS (SELECT term_a, term_b, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2),
        |nbig AS (SELECT COUNT(*) AS nb FROM bg),
        |p AS (
        |  SELECT term_a, term_b, n_ab,
        |    CAST(ROUND(ln((CAST(n_ab AS DOUBLE) / nb) /
        |      ((CAST(a.c AS DOUBLE) / nt) * (CAST(b.c AS DOUBLE) / nt))), 10)
        |      AS DECIMAL(28,10)) AS pmi_d
        |  FROM bc JOIN uc a ON a.term = bc.term_a
        |  JOIN uc b ON b.term = bc.term_b, ntot, nbig
        |  WHERE n_ab >= 5
        |)
        |SELECT term_a, term_b, n_ab, CAST(pmi_d AS DOUBLE) AS pmi
        |FROM p ORDER BY pmi_d DESC, term_a, term_b LIMIT 20""".stripMargin),
    "q_tfidf" -> q(
      (s, d) => TextOps.tfidf(documents(s, d)),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), tf AS (
        |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf_count
        |  FROM tok GROUP BY 1, 2
        |), len AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS doc_len FROM tok GROUP BY 1
        |), dfq AS (
        |  SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1
        |), n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT t.doc_id, t.token, tf_count, doc_len, df,
        |  ROUND((CAST(tf_count AS DOUBLE) / doc_len)
        |    * ln((1.0 + n_docs) / (1.0 + df)), 6) AS tfidf
        |FROM tf t JOIN len USING (doc_id) JOIN dfq USING (token), n
        |WHERE t.doc_id < 20 ORDER BY doc_id, token""".stripMargin),

    // Unigram LM quality proxy (round 8): mean token log-probability
    // under the corpus's own unigram distribution — the CCNet-style
    // perplexity filter with the LM reduced to corpus frequencies.
    // Cross-engine ln discipline: each ln rounds into DECIMAL(28,10)
    // (Spark cast = HALF_UP = DuckDB ROUND-then-cast), exact decimal
    // sum, final mean rounds to 6 dp.
    "q_unigram_logprob" -> q(
      (s, d) => TextOps.unigramLogProb(documents(s, d)),
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok
        |), freq AS (
        |  SELECT token, COUNT(*) AS tok_count FROM tok GROUP BY token
        |)
        |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  ROUND(CAST(CAST(SUM(CAST(ROUND(ln(CAST(f.tok_count AS DOUBLE) / tot.n), 10)
        |          AS DECIMAL(28,10))) AS DECIMAL(38,10)) AS DOUBLE) / COUNT(*), 6)
        |    AS mean_logprob
        |FROM tok t JOIN freq f USING (token), tot
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin),
    // GOPHER QUALITY RULES (round 11; Rae et al. 2021 §A1.1): the
    // rule-based structural pre-filter — word-count bounds, mean word
    // length in [3,10], stopword fraction >= 2%, top-word dominance
    // <= 20% — every threshold evaluated in integer cross-multiplied
    // form, so the operator has zero cross-engine float surface.
    "q_gopher_rules" -> q(
      (s, d) => graft.llm.TextOps.gopherRules(documents(s, d)),
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
         |), pt AS (
         |  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
         |), agg AS (
         |  SELECT doc_id, SUM(c) AS n_words, SUM(c * length(token)) AS n_letters,
         |    SUM(CASE WHEN token IN ($stopwordsSql) THEN c ELSE 0 END) AS stop_cnt,
         |    MAX(c) AS top_cnt
         |  FROM pt GROUP BY doc_id
         |)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(stop_cnt AS BIGINT) AS stop_cnt, top_cnt,
         |  (n_words BETWEEN 40 AND 10000
         |   AND n_letters >= n_words * 3 AND n_letters <= n_words * 10
         |   AND stop_cnt * 50 >= n_words
         |   AND top_cnt * 5 <= n_words) AS passes
         |FROM agg ORDER BY doc_id""".stripMargin),
    // DSIR importance scoring (round 11; Xie et al. 2023): every doc
    // scored by Σ ln p_target/p_raw under two add-1-smoothed bag
    // unigram models (target = lang 'en', raw = the pool), top 20%
    // selected by (exact-decimal score, doc_id) rank. The ln-through-
    // DECIMAL(28,10) discipline of the LM rows; ranking happens on the
    // exact decimal so the selected frontier is cross-engine stable.
    "q_dsir" -> q(
      (s, d) => graft.llm.TextOps.dsirScore(documents(s, d)),
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
        |), v AS (
        |  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab FROM tok
        |), nt AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok WHERE lang = 'en'
        |), nr AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok
        |), tf AS (
        |  SELECT token, COUNT(*) AS t_count FROM tok WHERE lang = 'en' GROUP BY token
        |), rf AS (
        |  SELECT token, COUNT(*) AS r_count FROM tok GROUP BY token
        |), sc AS (
        |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |    CAST(SUM(CAST(ROUND(ln((COALESCE(tf.t_count, 0) + 1.0)
        |            / CAST(nt.n + v.vocab AS DOUBLE)), 10) AS DECIMAL(28,10)))
        |         AS DECIMAL(38,10))
        |    - CAST(SUM(CAST(ROUND(ln((rf.r_count + 1.0)
        |            / CAST(nr.n + v.vocab AS DOUBLE)), 10) AS DECIMAL(28,10)))
        |         AS DECIMAL(38,10)) AS d
        |  FROM tok t JOIN rf USING (token) LEFT JOIN tf USING (token), nt, nr, v
        |  GROUP BY t.doc_id
        |), k AS (
        |  SELECT CAST(FLOOR(COUNT(*) * 0.2) AS BIGINT) AS k FROM documents
        |)
        |SELECT doc_id, n_tok, ROUND(CAST(d AS DOUBLE) / n_tok, 6) AS dsir_logratio,
        |  (ROW_NUMBER() OVER (ORDER BY d DESC, doc_id) <= k.k) AS selected
        |FROM sc, k ORDER BY doc_id""".stripMargin),
    // Interpolated bigram LM score: ln(0.8 P(cur|prev) + 0.2 P(cur)),
    // context counts = bigram marginals; identical literal constants
    // and DECIMAL(28,10) ln-rounding in both engines.
    "q_bigram_logprob" -> q(
      (s, d) => TextOps.bigramLogProb(documents(s, d)),
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), pr AS (
        |  SELECT doc_id, t[j] AS prev, t[j+1] AS cur
        |  FROM tok, LATERAL unnest(range(1, len(t))) AS u(j)
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) FROM documents)
        |), uni AS (
        |  SELECT token, COUNT(*) AS uni_count
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1
        |), big AS (
        |  SELECT prev, cur, COUNT(*) AS big_count FROM pr GROUP BY 1, 2
        |), ctx AS (
        |  SELECT prev, CAST(SUM(big_count) AS BIGINT) AS ctx_count
        |  FROM big GROUP BY 1
        |)
        |SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(CAST(SUM(CAST(ROUND(
        |      ln(0.8 * big_count / ctx_count + 0.2 * uni_count / tot.n), 10)
        |      AS DECIMAL(28,10))) AS DECIMAL(38,10)) AS DOUBLE) / COUNT(*), 6)
        |    AS mean_logprob2
        |FROM pr p
        |JOIN big USING (prev, cur) JOIN ctx USING (prev)
        |JOIN uni ON uni.token = p.cur, tot
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin),
    // Distributed BPE vocabulary induction (round 8): k rounds of
    // (pair-count hash-agg -> deterministic argmax -> single-pass
    // replace merge) over the distinct-word histogram. The oracle
    // replays the identical k rounds as unrolled CTE stages.
    "q_bpe_train" -> q(
      (s, d) => graft.llm.Bpe.trainMerges(documents(s, d)),
      s"""WITH ${bpeCtes(6)}
         |SELECT CAST(round AS INT) AS round, lhs, rhs, pair_freq FROM (
         |  ${(1 to 6).map(i => s"SELECT $i AS round, lhs, rhs, pair_freq FROM b$i")
              .mkString("\n         |  UNION ALL ")}
         |) ORDER BY round""".stripMargin),
    // Encode the corpus to token-id sequences under the learned
    // vocabulary (input_ids — the pre-training output format); symbol
    // ids = rank by binary string order, replayed identically.
    "q_bpe_encode" -> q(
      (s, d) => graft.llm.Bpe.encodeBpe(documents(s, d)),
      s"""WITH ${bpeCtes(6)}, vocab AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS INT) AS sym_id
         |  FROM (SELECT DISTINCT unnest(string_split(trim(s), ' ')) AS sym
         |        FROM w6)
         |), wids AS (
         |  SELECT w, list(sym_id ORDER BY i) AS ids
         |  FROM (
         |    SELECT w, u.i AS i, a[u.i] AS sym
         |    FROM (SELECT w, string_split(trim(s), ' ') AS a FROM w6),
         |         LATERAL unnest(range(1, len(a) + 1)) AS u(i)
         |  ) JOIN vocab USING (sym)
         |  GROUP BY w
         |), tok AS (
         |  SELECT doc_id, u.j AS pos, t[u.j] AS w
         |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |       LATERAL unnest(range(1, len(t) + 1)) AS u(j)
         |  WHERE len(t[u.j]) > 0
         |)
         |SELECT doc_id, CAST(len(fids) AS INT) AS n_ids,
         |  COALESCE(array_to_string(fids, ','), '') AS input_ids
         |FROM (
         |  SELECT doc_id, flatten(list(ids ORDER BY pos)) AS fids
         |  FROM tok JOIN wids USING (w) GROUP BY doc_id
         |) ORDER BY doc_id""".stripMargin),
    // Corpus compression after the learned merges: occurrence-weighted
    // symbol counts before/after + final symbol-vocabulary size.
    "q_bpe_compress" -> q(
      (s, d) => graft.llm.Bpe.compressionReport(documents(s, d)),
      s"""WITH ${bpeCtes(6)}
         |SELECT
         |  (SELECT CAST(SUM(freq) AS BIGINT) FROM w0) AS n_words,
         |  (SELECT CAST(SUM(len(string_split(trim(s), ' ')) * freq) AS BIGINT) FROM w0)
         |    AS symbols_before,
         |  (SELECT CAST(SUM(len(string_split(trim(s), ' ')) * freq) AS BIGINT) FROM w6)
         |    AS symbols_after,
         |  (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT)
         |   FROM (SELECT unnest(string_split(trim(s), ' ')) AS sym FROM w6) v)
         |    AS vocab_symbols""".stripMargin),
    // Tokenizer fertility by language (round 9): pieces-per-word per
    // lang under the learned vocabulary — the metric that decides
    // whether the tokenizer serves every language it will see (a lang
    // shredded into characters reads far above the corpus mean; the
    // standard signal to rebalance the tokenizer training mix). Same
    // broadcast word->pieces join as q_bpe_apply, group key swapped;
    // the ratio is one long/long division per group (bit-identical
    // cross-engine).
    "q_bpe_fertility" -> q(
      (s, d) => graft.llm.Bpe.fertilityByLang(documents(s, d)),
      s"""WITH ${bpeCtes(6)}
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(len(string_split(trim(s), ' '))) AS BIGINT) AS n_bpe_tokens,
         |  ROUND(CAST(SUM(len(string_split(trim(s), ' '))) AS DOUBLE) / COUNT(*), 6)
         |    AS fertility
         |FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
         |      FROM documents) t
         |JOIN w6 USING (w)
         |WHERE len(w) > 0
         |GROUP BY lang ORDER BY lang""".stripMargin),
    // Tokenize the corpus under the learned BPE vocabulary: the
    // trained word -> segmentation table joins (broadcast) onto the
    // corpus word stream; per-doc word and piece counts.
    "q_bpe_apply" -> q(
      (s, d) => graft.llm.Bpe.applyBpe(documents(s, d)),
      s"""WITH ${bpeCtes(6)}
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(len(string_split(trim(s), ' '))) AS BIGINT) AS n_bpe_tokens
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |      FROM documents) t
         |JOIN w6 USING (w)
         |WHERE len(w) > 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Substring-level dedup (round 8): every 20-token window
    // fingerprinted; a window in >= 2 DISTINCT docs marks its
    // occurrences duplicated — the repeated-passage shape doc-level
    // dedup misses. Engine groups 64-bit window fingerprints (strings
    // never shuffle); the oracle groups the window strings themselves
    // — equality is the no-collision event (~1e-9 at fixture volume).
    "q_dedup_substring" -> q(
      (s, d) => Dedup.substringDupStats(documents(s, d)),
      """WITH tt AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |), wins AS (
        |  SELECT doc_id, array_to_string(tk[i:i+19], ' ') AS win
        |  FROM tt, LATERAL unnest(range(1, len(tk) - 19 + 1)) AS u(i)
        |  WHERE len(tk) >= 20
        |), d AS (
        |  SELECT win FROM wins GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
        |), pd AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows FROM wins GROUP BY doc_id
        |), dd AS (
        |  SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows
        |  FROM wins w JOIN d USING (win) GROUP BY w.doc_id
        |)
        |SELECT doc.doc_id,
        |  COALESCE(pd.n_windows, 0) AS n_windows,
        |  COALESCE(dd.n_dup_windows, 0) AS n_dup_windows,
        |  CASE WHEN COALESCE(pd.n_windows, 0) > 0
        |       THEN ROUND(CAST(COALESCE(dd.n_dup_windows, 0) AS DOUBLE) / pd.n_windows, 6)
        |       ELSE 0.0 END AS dup_frac
        |FROM documents doc
        |LEFT JOIN pd ON doc.doc_id = pd.doc_id
        |LEFT JOIN dd ON doc.doc_id = dd.doc_id
        |ORDER BY doc.doc_id""".stripMargin),

    // Substring dedup APPLIED: keep-first passage removal — later
    // cross-doc occurrences of a repeated 20-token window are cut
    // from the text; the oracle replays removal on window STRINGS.
    "q_dedup_substring_apply" -> q(
      (s, d) => Dedup.substringDedupApply(documents(s, d)),
      """WITH tt AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        |), wins AS (
        |  SELECT doc_id, i AS pos, array_to_string(tk[i:i+19], ' ') AS win
        |  FROM tt, LATERAL unnest(range(1, len(tk) - 19 + 1)) AS u(i)
        |  WHERE len(tk) >= 20
        |), dup AS (
        |  SELECT win, MIN(doc_id) AS first_doc
        |  FROM wins GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
        |), cov AS (
        |  SELECT DISTINCT w.doc_id, u.k
        |  FROM wins w JOIN dup USING (win),
        |       LATERAL unnest(range(w.pos, w.pos + 20)) AS u(k)
        |  WHERE w.doc_id != dup.first_doc
        |), covl AS (
        |  SELECT doc_id, list(k ORDER BY k) AS cov FROM cov GROUP BY doc_id
        |)
        |SELECT tt.doc_id,
        |  CAST(len(tk) AS INT) AS n_tokens,
        |  CAST(COALESCE(len(cov), 0) AS INT) AS n_removed,
        |  COALESCE(array_to_string(list_transform(
        |    list_filter(range(1, len(tk) + 1),
        |      k -> NOT list_contains(COALESCE(cov, []), k)),
        |    k -> tk[k]), ' '), '') AS clean_text
        |FROM tt LEFT JOIN covl USING (doc_id)
        |ORDER BY tt.doc_id""".stripMargin),

    // ---- upsert / reshape / interval join / skew agg ----
    // Cassandra-semantics LWW merge: base snapshot + update batch,
    // newest write per key wins under an explicit total order.
    "q_upsert_latest" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val e = events(s, d).select(col("event_id"), ntz(col("ts")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        val split = lit("2024-01-08 00:00:00").cast("timestamp_ntz")
        graft.query.Upsert.lwwMerge(
          e.filter(col("ts") < split), e.filter(col("ts") >= split),
          Seq("user_id"), col("ts").desc, col("event_id").desc)
          .orderBy("user_id")
      },
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin),
    "q_interval_join" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = events(s, d).select(col("event_id"), ntz(col("ts")).as("ts"),
          col("user_id"), col("value"))
        graft.query.IntervalJoin.byHourBucket(e, graft.query.IntervalJoin.demoWindows(s))
          .select(col("window_id"), col("event_id"), col("ts"), col("user_id"), col("value"))
          .orderBy("window_id", "event_id")
      },
      """WITH w(window_id, ws, we) AS (VALUES
        |  (CAST(1 AS BIGINT), TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 02:00:00'),
        |  (CAST(3 AS BIGINT), TIMESTAMP '2024-01-03 00:00:00', TIMESTAMP '2024-01-03 02:00:00'),
        |  (CAST(5 AS BIGINT), TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-05 02:00:00'),
        |  (CAST(7 AS BIGINT), TIMESTAMP '2024-01-07 00:00:00', TIMESTAMP '2024-01-07 02:00:00'),
        |  (CAST(9 AS BIGINT), TIMESTAMP '2024-01-09 00:00:00', TIMESTAMP '2024-01-09 02:00:00'))
        |SELECT window_id, event_id, ts, user_id, value FROM events e
        |JOIN w ON e.ts >= w.ws AND e.ts < w.we
        |ORDER BY window_id, event_id""".stripMargin),
    "q_pivot" -> q(
      (s, d) => graft.query.Reshape.pivotCounts(events(s, d)),
      """SELECT user_id,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    "q_unpivot" -> q(
      (s, d) => graft.query.Reshape.unpivotCounts(
        graft.query.Reshape.pivotCounts(events(s, d))),
      """SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Explicit salted two-phase aggregation (the skew tool AQE can't
    // apply to aggregations) under the decimal oracle convention.
    "q_skew_agg" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        import org.apache.spark.sql.types.DecimalType
        val e = events(s, d).select(col("event_type"),
          col("value").cast(DecimalType(18, 4)).as("v"))
        graft.query.SkewJoin.saltedCountSum(e, "event_type", "v")
          .select(col("event_type"), col("cnt"), decOut(col("total")).as("total"))
          .orderBy("event_type")
      },
      s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
         |  ${dsum(s"CAST(value AS $dec4)")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // Salted equi-join on a pathologically hot key space: event_type
    // has ~5 distinct values over the whole fact table, so a plain
    // shuffle join lands each key on ONE reducer; salting spreads every
    // key over 8 (the sort-merge hint keeps Catalyst from broadcasting
    // the demo's tiny dim, which would hide the pattern). The oracle is
    // the plain unsalted join — salting must be result-invariant.
    "q_skew_join_salted" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, count, length, lit, sum}
        import org.apache.spark.sql.types.{DecimalType, LongType}
        val e = events(s, d).select(col("event_type"),
          col("value").cast(DecimalType(18, 4)).as("v"))
        val dim = events(s, d).select(col("event_type")).distinct()
          .withColumn("type_weight", length(col("event_type")).cast(LongType))
        graft.query.SkewJoin.saltedEquiJoin(e, dim, "event_type", forceShuffle = true)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("v") * col("type_weight")).as("wsum"))
          .select(col("event_type"), col("cnt"),
            decOut(col("wsum")).as("weighted_total"))
          .orderBy("event_type")
      },
      s"""SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS cnt,
         |  ${dsum(s"CAST(e.value AS $dec4) * length(e.event_type)")} AS weighted_total
         |FROM events e
         |JOIN (SELECT DISTINCT event_type FROM events) d ON e.event_type = d.event_type
         |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),

    // Two-tier salting on a MIXED key space: one manufactured hot key
    // (~1/3 of the fact rows) among ~100 cold per-user keys. Only keys
    // whose big-side count exceeds |big|/10 get salted — the small side
    // replicates for the hot key alone (|small| + (f-1) x 1 rows, vs
    // f x |small| under flat salting). The oracle is the plain join:
    // tiering must be result-invariant.
    "q_skew_join_twotier" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, concat, count, length, lit, sum, when}
        import org.apache.spark.sql.types.{DecimalType, LongType}
        val e = events(s, d).select(
          when(col("user_id") % 3 === 0, lit("hot"))
            .otherwise(concat(lit("u"), col("user_id"))).as("skew_key"),
          col("value").cast(DecimalType(18, 4)).as("v"))
        val dim = e.select(col("skew_key")).distinct()
          .withColumn("key_weight", length(col("skew_key")).cast(LongType))
        val hotThreshold = e.count() / 10
        graft.query.SkewJoin
          .saltedEquiJoinTwoTier(e, dim, "skew_key", saltFactor = 8,
            hotThreshold = hotThreshold, forceShuffle = true)
          .groupBy(col("skew_key"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("v") * col("key_weight")).as("wsum"))
          .select(col("skew_key"), col("cnt"),
            decOut(col("wsum")).as("weighted_total"))
          .orderBy("skew_key")
      },
      s"""WITH e AS (
         |  SELECT CASE WHEN user_id % 3 = 0 THEN 'hot'
         |              ELSE 'u' || CAST(user_id AS VARCHAR) END AS skew_key,
         |    CAST(value AS $dec4) AS v
         |  FROM events
         |)
         |SELECT e.skew_key, CAST(COUNT(*) AS BIGINT) AS cnt,
         |  ${dsum("e.v * length(e.skew_key)")} AS weighted_total
         |FROM e JOIN (SELECT DISTINCT skew_key FROM e) d ON e.skew_key = d.skew_key
         |GROUP BY e.skew_key ORDER BY e.skew_key""".stripMargin),

    // ---- sink layout (S6 write path + read routing) ----
    "q_sink_layout" -> q(
      (s, d) => graft.sink.Sinks.layoutRoundTrip(
        s, events(s, d).select(
          org.apache.spark.sql.functions.col("event_id"),
          ntz(org.apache.spark.sql.functions.col("ts")).as("ts"),
          org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("event_type"),
          org.apache.spark.sql.functions.col("value")),
        tmpDir(s"graft_sink_demo_${ReadPath.DeviceKey}_"), ReadPath.DeviceKey),
      s"""SELECT event_id, ts, user_id, event_type, value FROM events
         |WHERE user_id = ${ReadPath.DeviceKey} ORDER BY event_id""".stripMargin),

    // ---- Z-ordered layout (P11 at lakehouse scale) ----
    // Morton-interleaved (user_id, hour) write, read back through a
    // per-device filter; pruning evidence is pinned in ZOrderSpec
    // (row-group stats overlap fractions for BOTH dimensions).
    "q_zorder_layout" -> q(
      (s, d) => {
        val dir = tmpDir("graft_zorder_")
        graft.sink.ZOrderLayout.writeZOrdered(
          events(s, d).select(
            org.apache.spark.sql.functions.col("event_id"),
            ntz(org.apache.spark.sql.functions.col("ts")).as("ts"),
            org.apache.spark.sql.functions.col("user_id"),
            org.apache.spark.sql.functions.col("event_type"),
            org.apache.spark.sql.functions.col("value")),
          dir)
        graft.sink.ZOrderLayout.readFiltered(s, dir, ReadPath.DeviceKey)
      },
      s"""SELECT event_id, ts, user_id, event_type, value FROM events
         |WHERE user_id = ${ReadPath.DeviceKey} ORDER BY event_id""".stripMargin),
    // Write-audit-publish manifest commits (round 10; commit protocol
    // reworked round 11): a multi-file batch write becomes ATOMIC via
    // indirection — data files land in an epoch dir, a token-unique
    // manifest names exactly the audited files, and the epoch's
    // commit marker is created LAST via rename-without-overwrite (a
    // compare-and-swap: exactly one attempt wins an epoch, and
    // readers resolve max(commit-*) so no torn epoch is ever
    // visible). The demo publishes two epochs, then
    // PLANTS a crashed-writer orphan parquet INSIDE the live epoch
    // dir; the manifest-resolved read returns exactly the published
    // epoch-2 rows — a plain-listing read would include the orphan
    // and break the hash. Old epochs stay pinned for time travel
    // (spec covers travel + orphan accounting).
    "q_manifest_publish" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val root = tmpDir("graft_manifest_")
        val ev = events(s, d).select(col("event_id"), col("user_id"),
          col("event_type"), col("value"))
        graft.sink.ManifestSink.publish(ev.filter(col("event_id") < 100), root, 1)
        graft.sink.ManifestSink.publish(ev.filter(col("event_id") % 3 === 0), root, 2)
        // a crashed writer's stray file inside the LIVE epoch dir
        val stray = s"$root/__stray"
        ev.filter(col("event_id") >= 100 && col("event_id") < 120)
          .coalesce(1).write.mode("overwrite").parquet(stray)
        val conf = s.sparkContext.hadoopConfiguration
        val sp = new org.apache.hadoop.fs.Path(stray)
        val fs = sp.getFileSystem(conf)
        val part = fs.listStatus(sp).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).head
        fs.rename(part, new org.apache.hadoop.fs.Path(
          s"$root/data-epoch=2/part-99999-crashed-writer.parquet"))
        graft.sink.ManifestSink.read(s, root).orderBy("event_id")
      },
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id % 3 = 0 ORDER BY event_id""".stripMargin),
    // Co-located bucketed fact-fact join (round 10): both tables
    // bucketed + sorted on the join key at WRITE time, so the join
    // AND the same-key aggregation plan with ZERO hash exchanges —
    // the layout answer to repeated lineitem-orders joins at 100 TB
    // (pay one bucketed write, then every join is exchange-free).
    // PlanShapeSpec pins the no-hash-exchange property; the oracle is
    // the plain join+agg under the decimal-sum discipline.
    "q_bucketed_join" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, max}
        val tag = Integer.toHexString(d.hashCode & 0x7fffffff)
        val liT = s"li_bucketed_$tag"
        val ordT = s"ord_bucketed_$tag"
        // a FRESH session's catalog does not know a previous run's
        // managed tables, but their warehouse dirs persist — drop both
        // the entry and the location or saveAsTable refuses
        for (t <- Seq(liT, ordT)) {
          s.sql(s"DROP TABLE IF EXISTS $t")
          val p = new org.apache.hadoop.fs.Path(
            s"${s.conf.get("spark.sql.warehouse.dir")}/$t")
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        }
        lineitem(s, d).select("l_orderkey", "l_quantity")
          .write.mode("overwrite").bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").saveAsTable(liT)
        orders(s, d).select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").saveAsTable(ordT)
        s.table(liT)
          .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey")
          .agg(Tables.decSum(col("l_quantity")).as("qty"),
            max(col("o_totalprice")).as("o_totalprice"))
          .orderBy("l_orderkey")
      },
      s"""SELECT l_orderkey, ${dsum(s"CAST(l_quantity AS $dec4)")} AS qty,
         |  MAX(o_totalprice) AS o_totalprice
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin),
    // Streaming writes through manifest commits (round 10): each
    // micro-batch publishes a cumulative table EPOCH via the
    // write-audit-publish flip, so readers always see a complete
    // atomically-committed stream prefix — never a half-written
    // batch's task files. MemoryStream pins batch boundaries; the
    // final manifest-resolved read is the two batches' union, which
    // the oracle spells directly. Spec pins each intermediate epoch
    // against its exact stream prefix and the orphan-invisibility of
    // in-flight files.
    "q_stream_manifest" -> q(
      (s, d) => graft.streaming.StreamManifestSink.demo(s, d),
      """SELECT event_id, user_id, value FROM events
        |WHERE event_id % 3 IN (0, 1) ORDER BY event_id""".stripMargin),
    // MANIFEST TABLE AS STREAMING SOURCE (round 11): the medallion
    // loop closed — a bronze manifest table is TAILED by
    // format("graft-manifest") (offsets = committed epochs,
    // per-batch plan = the newly appended files only), transformed,
    // and idempotently committed into silver. tail_ok gates the
    // recorded per-batch row counts: batch 0 = the initial snapshot
    // of epoch 1, batch 1 = epoch 2's delta, batch 2 = epoch 3's
    // delta read by a CHECKPOINT-RESTARTED query (epoch 3 landed
    // while no query ran) — a cumulative re-read would inflate the
    // counts AND double silver rows, both hash-fatal.
    "q_stream_source_tail" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val (_, frame, batches) = graft.streaming.StreamMedallion.demoWithRoot(s, d)
        val ev = events(s, d)
        val want = (0 to 2).map(r =>
          (r.toLong, ev.filter(col("event_id") % 3 === r).count()))
        frame.withColumn("tail_ok",
          lit(batches == want.filter(_._2 > 0)))
      },
      """SELECT event_id, user_id, value * 2 AS value, TRUE AS tail_ok
        |FROM events ORDER BY event_id""".stripMargin),
    // Streaming CDC apply (round 11): an upsert stream into the
    // manifest table — each micro-batch of change rows (updates +
    // inserts, upsert-resolved) applies via mergeCow as one atomic,
    // zone-map-BOUNDED epoch carrying the batch's txn, so the
    // foreachBatch at-least-once replay applies exactly once (batch
    // 1 commits, crashes before the checkpoint, replays as a no-op —
    // a double-applied merge would double-double the updated values
    // and break the hash). Batch 1 also updates rows batch 0 only
    // just inserted (real CDC feeds do this). cdc_ok gates the
    // epoch count (base + 2 batches, no replay epoch) and that the
    // crash really ran (attempts > batches).
    "q_stream_cdc_upsert" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.lit
        val (root, frame, attempts) =
          graft.streaming.StreamCdcUpsert.demoWithRoot(s, d)
        frame.withColumn("cdc_ok",
          lit(graft.sink.ManifestSink.currentEpoch(s, root) == 3 && attempts == 3))
      },
      """SELECT event_id, user_id,
        |  CASE WHEN event_id < 300 THEN value * 2 ELSE value END AS value,
        |  TRUE AS cdc_ok
        |FROM events WHERE event_id % 4 = 0
        |UNION ALL
        |SELECT event_id, user_id, value * 2, TRUE FROM events
        |WHERE event_id % 4 = 1 AND event_id < 300
        |UNION ALL
        |SELECT event_id, user_id, value, TRUE FROM events
        |WHERE event_id % 4 = 2 AND event_id < 300
        |ORDER BY event_id""".stripMargin),
    // Manifest zone maps / data skipping (round 10): the publish
    // records per-file (min, max) of the cluster column in a stats
    // sidecar; a range read prunes the FILE LIST before any scan is
    // planned (the Iceberg/Delta skipping core — coarser but earlier
    // than row-group stats). The write clusters by repartitionByRange
    // so file ranges are disjoint and pruning bites; `files_pruned`
    // rides the output as the evidence gate (TRUE iff the read
    // touched strictly fewer files than the epoch holds), and the
    // residual BETWEEN filter keeps correctness independent of the
    // pruning. Spec pins the actual file counts.
    "q_manifest_skipping" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_skip_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        val (df, hit, total) = graft.sink.ManifestSink
          .readPruned(s, root, col("event_id").between(100L, 599L))
        df.withColumn("files_pruned", lit(hit < total))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS files_pruned FROM events
        |WHERE event_id BETWEEN 100 AND 599 ORDER BY event_id""".stripMargin),
    // Multi-column zone maps, STRING pruning (round 11): the stats
    // table (round-11 redesign — per-file per-COLUMN min/max rows in
    // parquet, not a single-column driver-parsed text sidecar) carries
    // both event_id and event_type for the same epoch; this row
    // clusters the write on event_type and prunes a lexicographic
    // range ['click','error'] to the files that can hold it, while the
    // same commit still answers event_id range reads. The residual
    // filter keeps correctness independent of the pruning;
    // files_pruned gates that the skip actually bit.
    "q_manifest_skip_string" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_skipstr_")
        val ev = events(s, d).select(col("event_id"), col("event_type"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_type"), col("event_id"))
            .sortWithinPartitions("event_type", "event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_type", "event_id")))
        val (df, hit, total) = graft.sink.ManifestSink
          .readPruned(s, root, col("event_type").between("click", "error"))
        df.withColumn("files_pruned", lit(hit < total))
          .orderBy("event_id")
      },
      """SELECT event_id, event_type, value, TRUE AS files_pruned FROM events
        |WHERE event_type BETWEEN 'click' AND 'error' ORDER BY event_id""".stripMargin),
    // COPY-ON-WRITE MERGE (round 11): upsert into the manifest table
    // with the Delta/Iceberg CoW economics — the zone maps bound the
    // rewrite to the files whose key range an update touches; every
    // other file carries into the new manifest as pure metadata (the
    // entire point of per-file stats at 100 TB: a narrow-key upsert
    // rewrites a handful of files, not the table). The row doubles
    // value for a 100-key range (touches <=2 of the 8 clustered
    // files) and inserts 20 brand-new keys (overlap nothing — no
    // extra file touched); cow_ok gates that >=6 files carried.
    "q_manifest_merge" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_mmerge_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        val upd = ev.filter(col("event_id").between(100, 199))
          .select(col("event_id"), col("user_id"), (col("value") * 2).as("value"))
          .union(ev.filter(col("event_id") < 20)
            .select((col("event_id") + 1000000L).as("event_id"),
              col("user_id"), col("value")))
        val (_, _, carried) = graft.sink.ManifestSink
          .mergeCow(s, root, upd, "event_id", Seq("event_id"))
        graft.sink.ManifestSink.read(s, root)
          .withColumn("cow_ok", lit(carried >= 6))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id,
        |  CASE WHEN event_id BETWEEN 100 AND 199 THEN value * 2 ELSE value END AS value,
        |  TRUE AS cow_ok
        |FROM events
        |UNION ALL
        |SELECT event_id + 1000000, user_id, value, TRUE FROM events WHERE event_id < 20
        |ORDER BY event_id""".stripMargin),
    // COMMIT HISTORY (round 11): the DESCRIBE HISTORY surface — one
    // row per live epoch with its txn identity and manifest file
    // count, metadata-only. File counts are deterministic by
    // construction (round-robin repartition(4) -> exactly 4 files per
    // publish; the append manifest accumulates to 8), so the whole
    // audit log sits under a VALUES-literal oracle. The winning
    // tokens are random by design and excluded from the contract.
    "q_manifest_history" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val root = tmpDir("graft_mhist_")
        val ev = events(s, d).select(col("event_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.filter(col("event_id") % 5 === 0).repartition(4), root, 1)
        graft.sink.ManifestSink.publish(
          ev.filter(col("event_id") % 5 === 1).repartition(4), root, 2, append = true,
          txn = Some(graft.sink.ManifestSink.Txn("cdc", 0L)))
        graft.sink.ManifestSink.history(s, root)
          .select("epoch", "txn_app_id", "txn_version", "n_files")
          .orderBy("epoch")
      },
      """SELECT * FROM (VALUES
        |  (1, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), 4),
        |  (2, 'cdc', CAST(0 AS BIGINT), 8))
        |AS t(epoch, txn_app_id, txn_version, n_files)
        |ORDER BY epoch""".stripMargin),
    // CHANGE DATA FEED (round 11): Delta's table_changes surface,
    // computed from the manifest file delta — per epoch only the
    // removed/added files are read (append = the batch, CoW = the
    // zone-map-bounded touch set), keyed on the merge key. Epoch 2 is
    // a mergeCow (value+1 on [100,199] — +1 so post ALWAYS differs
    // from pre — plus <20 inserted at +1e6); epoch 3 a deleteCow of
    // [50,99] and one inserted key. Survivors of rewritten files diff
    // to nothing, so the oracle is exactly the construction's
    // intended changes — any carried-row leak or missed change breaks
    // the hash.
    "q_manifest_cdf" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val root = tmpDir("graft_mcdf_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        val upd = ev.filter(col("event_id").between(100, 199))
          .select(col("event_id"), col("user_id"), (col("value") + 1).as("value"))
          .union(ev.filter(col("event_id") < 20)
            .select((col("event_id") + 1000000L).as("event_id"),
              col("user_id"), col("value")))
        graft.sink.ManifestSink.mergeCow(s, root, upd, "event_id", Seq("event_id"))
        val dels = ev.filter(col("event_id").between(50, 99))
          .select(col("event_id"))
          .union(ev.filter(col("event_id") === 5)
            .select((col("event_id") + 1000000L).as("event_id")))
        graft.sink.ManifestSink.deleteCow(s, root, dels, "event_id", Seq("event_id"))
        graft.sink.ManifestSink.tableChanges(s, root, "event_id", 1, 3)
          .orderBy("_commit_epoch", "_change_type", "event_id")
      },
      """SELECT event_id + 1000000 AS event_id, user_id, value,
        |  'insert' AS _change_type, 2 AS _commit_epoch
        |FROM events WHERE event_id < 20
        |UNION ALL
        |SELECT event_id, user_id, value, 'update_preimage', 2
        |FROM events WHERE event_id BETWEEN 100 AND 199
        |UNION ALL
        |SELECT event_id, user_id, value + 1, 'update_postimage', 2
        |FROM events WHERE event_id BETWEEN 100 AND 199
        |UNION ALL
        |SELECT event_id, user_id, value, 'delete', 3
        |FROM events WHERE event_id BETWEEN 50 AND 99
        |UNION ALL
        |SELECT event_id + 1000000, user_id, value, 'delete', 3
        |FROM events WHERE event_id = 5
        |ORDER BY _commit_epoch, _change_type, event_id""".stripMargin),
    // STREAMING CHANGE FEED (round 11): Delta readChangeFeed parity —
    // the same table construction as q_manifest_cdf, but CONSUMED
    // through the streaming source in changeFeedKey mode: the opening
    // batch is epoch 1's snapshot-as-inserts, CoW epochs arrive as
    // update pairs / deletes, each batch bounded by its epoch's file
    // delta. The feed lands in a parquet sink per micro-batch; the
    // oracle is the full expected change log, so a dropped batch,
    // duplicated batch, or carried-row leak all break the hash.
    "q_stream_change_feed" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val root = tmpDir("graft_mscf_")
        val out = tmpDir("graft_mscf_out_")
        val ckpt = tmpDir("graft_mscf_ckpt_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        val upd = ev.filter(col("event_id").between(100, 199))
          .select(col("event_id"), col("user_id"), (col("value") + 1).as("value"))
          .union(ev.filter(col("event_id") < 20)
            .select((col("event_id") + 1000000L).as("event_id"),
              col("user_id"), col("value")))
        graft.sink.ManifestSink.mergeCow(s, root, upd, "event_id", Seq("event_id"))
        val dels = ev.filter(col("event_id").between(50, 99))
          .select(col("event_id"))
          .union(ev.filter(col("event_id") === 5)
            .select((col("event_id") + 1000000L).as("event_id")))
        graft.sink.ManifestSink.deleteCow(s, root, dels, "event_id", Seq("event_id"))
        val stream = s.readStream.format("graft-manifest")
          .option("root", root).option("changeFeedKey", "event_id").load()
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(out); ()
          }.start()
        try stream.processAllAvailable() finally stream.stop()
        s.read.parquet(out)
          .orderBy("_commit_epoch", "_change_type", "event_id")
      },
      """SELECT event_id, user_id, value, 'insert' AS _change_type, 1 AS _commit_epoch
        |FROM events
        |UNION ALL
        |SELECT event_id + 1000000, user_id, value, 'insert', 2 FROM events WHERE event_id < 20
        |UNION ALL
        |SELECT event_id, user_id, value, 'update_preimage', 2
        |FROM events WHERE event_id BETWEEN 100 AND 199
        |UNION ALL
        |SELECT event_id, user_id, value + 1, 'update_postimage', 2
        |FROM events WHERE event_id BETWEEN 100 AND 199
        |UNION ALL
        |SELECT event_id, user_id, value, 'delete', 3
        |FROM events WHERE event_id BETWEEN 50 AND 99
        |UNION ALL
        |SELECT event_id + 1000000, user_id, value, 'delete', 3
        |FROM events WHERE event_id = 5
        |ORDER BY _commit_epoch, _change_type, event_id""".stripMargin),
    // INCREMENTAL VIEW MAINTENANCE (round 11): the change feed put to
    // work — a per-user (count, sum) view refreshed from tableChanges
    // deltas across a publish + CoW merge + CoW delete, never
    // recomputed (refresh 1 covers the base epoch, refresh 2 folds
    // epochs 2-3's file-delta-bounded changes into the keys-sized
    // view). Exact-decimal increments cancel retractions bit-for-bit,
    // so the oracle — a DIRECT aggregate of the final table state —
    // certifies incremental == recompute. ivm_ok gates the refresh
    // cursor txn bookkeeping (view epoch 2, cursor at source epoch 3,
    // third refresh no-ops).
    "q_manifest_ivm" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_mivm_")
        val view = tmpDir("graft_mivm_view_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        graft.sink.IncrementalView.refresh(s, root, view, "event_id", "user_id", "value")
        val upd = ev.filter(col("event_id").between(100, 199))
          .select(col("event_id"), col("user_id"), (col("value") + 1).as("value"))
          .union(ev.filter(col("event_id") < 20)
            .select((col("event_id") + 1000000L).as("event_id"),
              col("user_id"), col("value")))
        graft.sink.ManifestSink.mergeCow(s, root, upd, "event_id", Seq("event_id"))
        val dels = ev.filter(col("event_id").between(50, 99))
          .select(col("event_id"))
          .union(ev.filter(col("event_id") === 5)
            .select((col("event_id") + 1000000L).as("event_id")))
        graft.sink.ManifestSink.deleteCow(s, root, dels, "event_id", Seq("event_id"))
        graft.sink.IncrementalView.refresh(s, root, view, "event_id", "user_id", "value")
        val e3 = graft.sink.IncrementalView.refresh(s, root, view, "event_id", "user_id", "value")
        val ok = e3 == 2 && graft.sink.ManifestSink
          .lastCommittedVersion(s, view, graft.sink.IncrementalView.AppId)
          .contains(3L)
        graft.sink.ManifestSink.read(s, view)
          .select(col("user_id"), col("cnt"),
            col("sum_value").cast("double").as("sum_value"))
          .withColumn("ivm_ok", lit(ok))
          .orderBy("user_id")
      },
      """WITH final AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id BETWEEN 100 AND 199 THEN value + 1 ELSE value END AS value
        |  FROM events WHERE event_id NOT BETWEEN 50 AND 99
        |  UNION ALL
        |  SELECT event_id + 1000000, user_id, value FROM events
        |  WHERE event_id < 20 AND event_id <> 5
        |)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DECIMAL(38,4)) AS DOUBLE)
        |    AS sum_value,
        |  TRUE AS ivm_ok
        |FROM final GROUP BY user_id ORDER BY user_id""".stripMargin),
    // FILE DICTIONARIES (round 11): point-lookup skipping where zone
    // maps are blind — the layout is HASH-clustered on user_id, so
    // every file's min/max range spans the key space, but each file's
    // complete distinct-value dictionary (Parquet dictionary filtering
    // lifted to the manifest level) prunes the point read to exactly
    // the files containing the key. dict_ok gates the evidence (≥1
    // file selected, strictly fewer than the manifest holds).
    "q_manifest_dict" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_mdict_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartition(16, col("user_id")), root, 1,
          graft.sink.ManifestSink.WriteSpec(statsCols = Seq("user_id"),
            dictCols = Seq("user_id")))
        val (df, hitN, total) =
          graft.sink.ManifestSink.readPruned(s, root, col("user_id") === 13L)
        df.withColumn("dict_ok", lit(hitN >= 1 && hitN < total))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS dict_ok FROM events
        |WHERE user_id = 13 ORDER BY event_id""".stripMargin),
    // PER-FILE BLOOM FILTERS (round 11): the high-cardinality tier of
    // the skipping ladder — the layout is HASH-clustered on user_id,
    // so event_id zone maps are blind (every file's range spans the
    // id space) and an event_id dictionary would overflow (thousands
    // of distinct ids per file); the per-file bloom still prunes the
    // point read to the files that MAY contain the key, with no false
    // negatives (correctness rides the residual filter + oracle; the
    // containing file is provably kept). bloom_ok gates the evidence:
    // >=1 file selected, strictly fewer than the manifest holds.
    "q_manifest_bloom" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_mbloom_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartition(16, col("user_id")), root, 1,
          graft.sink.ManifestSink.WriteSpec(statsCols = Seq("event_id"),
            bloomCols = Seq("event_id")))
        val (df, hitN, total) =
          graft.sink.ManifestSink.readPruned(s, root, col("event_id") === 424L)
        df.withColumn("bloom_ok", lit(hitN >= 1 && hitN < total))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS bloom_ok FROM events
        |WHERE event_id = 424 ORDER BY event_id""".stripMargin),
    // METADATA-ONLY AGGREGATION (round 11): count(*) + min/max
    // answered from the manifest's stats table alone — the __count
    // row per file and the zone maps are mergeable statistics, so the
    // fold is exact across a publish AND an append (two epochs' stats
    // merged), and the returned plan is a local relation: ZERO data
    // files opened (the spec pins no file scan in the plan). At
    // 100 TB this is the difference between metadata bounded by the
    // file count and a scan bounded by the row count.
    "q_manifest_meta_agg" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val root = tmpDir("graft_magg_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        val half = ev.filter(col("event_id") % 2 === 0)
        val rest = ev.filter(col("event_id") % 2 === 1)
        graft.sink.ManifestSink.publish(
          half.repartitionByRange(4, col("event_id"))
            .sortWithinPartitions("event_id"), root, 1,
              graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        graft.sink.ManifestSink.publish(
          rest.repartitionByRange(4, col("event_id"))
            .sortWithinPartitions("event_id"), root, 2,
              graft.sink.ManifestSink.WriteSpec(Seq("event_id")), append = true)
        graft.sink.ManifestSink.aggFromMetadata(s, root, Seq("event_id"))
      },
      """SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(min(event_id) AS BIGINT) AS min_event_id,
        |  CAST(max(event_id) AS BIGINT) AS max_event_id
        |FROM events""".stripMargin),
    // MATERIALIZED-VIEW ROUTING (round 11): the optimizer half of
    // IVM — the user writes the natural full-table aggregate over the
    // BASE table; the registered view (maintained by IncrementalView
    // from the change feed) is matched by the MvRoute Catalyst rule
    // and the plan that executes scans the keys-sized VIEW instead.
    // mv_ok gates the evidence: the optimized plan has NO Aggregate
    // left and reads the view's files, not the base's. Values are the
    // view's exact decimals, so routing is bit-stable against the
    // recompute oracle.
    "q_mv_route" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, count, lit, sum}
        import org.apache.spark.sql.types.DecimalType
        val root = tmpDir("graft_mvr_")
        val view = tmpDir("graft_mvr_view_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"), root, 1,
              graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        graft.sink.IncrementalView.refresh(s, root, view, "event_id", "user_id", "value")
        graft.plans.MatViews.register("mv_route_demo",
          graft.sink.ManifestSink.read(s, root), Seq("user_id"),
          Map(graft.plans.MatViews.AggKey("count", None) -> "cnt",
            graft.plans.MatViews.AggKey("sum", Some("value")) -> "sum_value"),
          () => graft.sink.ManifestSink.read(s, view))
        val qdf = graft.sink.ManifestSink.read(s, root)
          .groupBy("user_id")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(DecimalType(18, 4))).as("sum_value"))
        val opt = qdf.queryExecution.optimizedPlan
        val routed = !opt.exists {
          case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
          case _ => false
        } && opt.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.forall(_.toString.contains("graft_mvr_view_"))
        }.forall(identity)
        qdf.select(col("user_id"), col("cnt"),
            col("sum_value").cast("double").as("sum_value"))
          .withColumn("mv_ok", lit(routed))
          .orderBy("user_id")
      },
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DECIMAL(38,4)) AS DOUBLE)
        |    AS sum_value,
        |  TRUE AS mv_ok
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
    // BATCH format() READ (round 11): the same "graft-manifest"
    // format string serves batch — spark.read.format(...).load()
    // resolves to the catalog's GraftTable by root, so the idiomatic
    // batch read gets manifest resolution + planning-time zone-map
    // skipping (GraftFileScan) with no side API (the streaming twin is
    // q_stream_source_tail; the explicit-API twin is
    // q_manifest_table_skip, whose spec pins the numFiles metric).
    "q_manifest_format" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val root = tmpDir("graft_mfmt_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        s.read.format("graft-manifest").option("root", root).load()
          .filter(col("event_id").between(100, 299))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value FROM events
        |WHERE event_id BETWEEN 100 AND 299 ORDER BY event_id""".stripMargin),
    // SQL CATALOG (round 12): the manifest lakehouse as a DSv2
    // TableCatalog — CREATE TABLE AS / INSERT INTO / SELECT all in SQL
    // text, path-table convention (graft.`/abs/path`, the Delta
    // spelling). The WHERE range prunes through the same skipping
    // ladder as the DataFrame path at PLANNING time (GraftScanBuilder
    // → ManifestFileIndex), and the executed scan is Spark's V2
    // ParquetScan over ONLY the surviving files; skip_ok gates that
    // the planner really skipped (planned < total manifest files).
    // Each INSERT commits one atomic stats-carrying epoch via the CAS
    // machinery — SQL writes prune like API writes.
    "q_catalog_sql" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_csql_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 200)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("cat_src_a")
        ev.filter(col("event_id").between(200, 399))
          .repartitionByRange(4, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("cat_src_b")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cat_src_a")
        s.sql(s"INSERT INTO graft.`$root` SELECT * FROM cat_src_b")
        val out = s.sql(
          s"""SELECT event_id, user_id, value FROM graft.`$root`
             |WHERE event_id BETWEEN 150 AND 249 ORDER BY event_id""".stripMargin)
        val rows = out.collect()  // bounded: a 100-key slice
        val total = graft.sink.ManifestSink.manifestFiles(
          s, root, graft.sink.ManifestSink.currentEpoch(s, root)).size
        val planned = graft.catalog.GraftTable.lastPlannedFiles
        val skipOk = planned >= 0 && planned < total
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("skip_ok", lit(skipOk))
      },
      """SELECT event_id, user_id, value, TRUE AS skip_ok FROM events
        |WHERE event_id BETWEEN 150 AND 249 ORDER BY event_id""".stripMargin),
    // SQL TIME TRAVEL (round 12): VERSION AS OF <epoch> through the
    // catalog — versions ARE committed epochs. The demo commits three
    // epochs (CTAS, append, OVERWRITE-as-new-epoch) and reads epoch 2
    // back: any leakage from the overwrite (epoch 3 replaced the
    // content entirely) breaks the hash. travel_ok gates that the
    // table really moved on (current epoch = 3 with the overwritten
    // content).
    "q_catalog_travel" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_ctrav_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 100).createOrReplaceTempView("trav_a")
        ev.filter(col("event_id").between(100, 149)).createOrReplaceTempView("trav_b")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM trav_a")
        s.sql(s"INSERT INTO graft.`$root` SELECT * FROM trav_b")
        s.sql(s"INSERT OVERWRITE graft.`$root` " +
          "SELECT event_id + 1000000 AS event_id, user_id, value FROM trav_a")
        val cur = graft.sink.ManifestSink.currentEpoch(s, root)
        val overwritten = s.sql(s"SELECT min(event_id) AS m FROM graft.`$root`")
          .collect()(0).getLong(0)
        val travelOk = cur == 3 && overwritten >= 1000000L
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root` VERSION AS OF 2
                 |ORDER BY event_id""".stripMargin)
          .withColumn("travel_ok", lit(travelOk))
      },
      """SELECT event_id, user_id, value, TRUE AS travel_ok FROM events
        |WHERE event_id < 150 ORDER BY event_id""".stripMargin),
    // SQL CHANGE FEED (round 12): DESCRIBE CHANGES <tbl> KEY <col>
    // FROM <e1> TO <e2> — Delta's table_changes as a maintenance
    // command: the row-level diff of the epoch range computed from
    // the manifest delta (append epochs = their batch as inserts, a
    // SQL DELETE's CoW epoch = the removed rows as deletes), each row
    // tagged with _change_type and _commit_epoch. The demo drives the
    // whole SQL lifecycle: CTAS, INSERT, DELETE, then reads the feed.
    "q_catalog_changes" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cchg_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 100)
          .repartitionByRange(4, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("cchg_a")
        ev.filter(col("event_id").between(100, 149))
          .repartitionByRange(2, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("cchg_b")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cchg_a")
        s.sql(s"INSERT INTO graft.`$root` SELECT * FROM cchg_b")
        s.sql(s"DELETE FROM graft.`$root` WHERE event_id IN (5, 7)")
        s.sql(s"DESCRIBE CHANGES graft.`$root` KEY event_id FROM 1 TO 3")
          .orderBy(col("_commit_epoch"), col("_change_type"), col("event_id"))
      },
      """SELECT event_id, user_id, value, 'insert' AS _change_type,
        |  CAST(2 AS INTEGER) AS _commit_epoch
        |FROM events WHERE event_id BETWEEN 100 AND 149
        |UNION ALL
        |SELECT event_id, user_id, value, 'delete', CAST(3 AS INTEGER)
        |FROM events WHERE event_id IN (5, 7)
        |ORDER BY _commit_epoch, _change_type, event_id""".stripMargin),
    // SQL CHECK CONSTRAINTS (round 12): ALTER TABLE ... ADD CONSTRAINT
    // ... CHECK (Spark 4's ANSI-constraint DDL over the catalog) —
    // persisted as table state, reported ENFORCED through the DSv2
    // constraint surface, and enforced on EVERY write path
    // (INSERT / streaming toTable / MERGE-UPDATE replacement files) by
    // one staged-file audit pass BEFORE the commit CAS: a violating
    // batch is never visible to readers (write-audit-publish).
    // chk_ok gates the rejected insert (epoch unmoved) + the lifted
    // gate after DROP CONSTRAINT.
    "q_catalog_constraint" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cchk_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 100).createOrReplaceTempView("cchk_a")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cchk_a")
        s.sql(s"ALTER TABLE graft.`$root` ADD CONSTRAINT ev_bound " +
          "CHECK (event_id < 100000)")
        // valid insert passes the audit
        s.sql(s"INSERT INTO graft.`$root` " +
          "SELECT 99999L AS event_id, 1L AS user_id, 0.5D AS value")
        // violating insert rejected BEFORE the commit — epoch unmoved
        val rejected =
          try { s.sql(s"INSERT INTO graft.`$root` " +
            "SELECT 100001L AS event_id, 1L AS user_id, 0.5D AS value"); false }
          catch { case e: Exception =>
            (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
              .contains("ev_bound") }
        // ADD CONSTRAINT itself commits a carry epoch (round 15 — the
        // conflict checker must SEE the surface change): CTAS=1,
        // ADD=2, valid insert=3 — the rejected insert leaves it there
        val epochHeld = graft.sink.ManifestSink.currentEpoch(s, root) == 3
        s.sql(s"ALTER TABLE graft.`$root` DROP CONSTRAINT ev_bound")
        s.sql(s"INSERT INTO graft.`$root` " +
          "SELECT 100001L AS event_id, 1L AS user_id, 0.5D AS value")
        s.sql(s"SELECT * FROM graft.`$root`")
          .withColumn("chk_ok", lit(rejected && epochHeld))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS chk_ok FROM events
        |WHERE event_id < 100
        |UNION ALL SELECT 99999, 1, 0.5, TRUE
        |UNION ALL SELECT 100001, 1, 0.5, TRUE
        |ORDER BY event_id""".stripMargin),
    // TIMESTAMP ZONE MAPS (round 12): time-range scans are the
    // reference's primary access pattern (init.cql clusters rows by
    // timestamp) — catalog writes now commit per-file (min, max) of
    // timestamp columns AS MICROS (Spark's own literal encoding), so
    // a SQL ts-range predicate prunes the FILE LIST at planning time
    // on a time-clustered table, and global min(ts)/max(ts) answer
    // from metadata alone. skip_ok gates planned < total.
    "q_catalog_time_skip" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_ctsk_") + "/t"
        events(s, d).select(col("event_id"), col("ts"), col("user_id"),
            col("value"))
          .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
          .createOrReplaceTempView("ctsk_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM ctsk_src")
        val out = s.sql(
          s"""SELECT event_id, ts, user_id, value FROM graft.`$root`
             |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
             |  AND ts <  TIMESTAMP '2024-01-12 00:00:00'
             |ORDER BY event_id""".stripMargin)
        val rows = out.collect()
        val total = graft.sink.ManifestSink.manifestFiles(s, root, 1).size
        val skipOk = graft.catalog.GraftTable.lastPlannedFiles >= 1 &&
          graft.catalog.GraftTable.lastPlannedFiles < total
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("skip_ok", lit(skipOk))
      },
      """SELECT event_id, ts, user_id, value, TRUE AS skip_ok FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY event_id""".stripMargin),
    // CATALOG STREAMING SINK (round 12): writeStream.toTable against a
    // graft catalog table — DSv2 STREAMING_WRITE: each micro-batch
    // stages through Spark's own distributed parquet write, then
    // commits ONE atomic append epoch carrying the (appId, batchId)
    // txn (commitIdempotentAppendFiles), with zone maps from
    // option("statsCols") so the streamed table keeps its skipping
    // property. sink_ok gates epochs == batches across a checkpoint
    // restart plus the txn bookkeeping.
    "q_catalog_sink" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        import s.implicits._
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val base = tmpDir("graft_csnk_")
        val root = s"$base/t"
        val ckpt = s"$base/ckpt"
        s.sql(s"CREATE TABLE graft.`$root` " +
          "(event_id BIGINT, user_id BIGINT, value DOUBLE)")
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, Double)]
        val rows = events(s, d)
          .select(col("event_id"), col("user_id"), col("value"))
          .filter(col("event_id") < 120).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        def start() = mem.toDF().toDF("event_id", "user_id", "value")
          .writeStream.option("checkpointLocation", ckpt)
          .option("statsCols", "event_id")
          .toTable(s"graft.`$root`")
        mem.addData(rows.take(70).toSeq: _*)
        val q1 = start()
        try {
          q1.processAllAvailable()
          mem.addData(rows.slice(70, 100).toSeq: _*)
          q1.processAllAvailable()
        } finally q1.stop()
        // a batch arrives while no query runs; the restarted query
        // picks it up from the checkpoint — txn versions keep counting
        mem.addData(rows.slice(100, 120).toSeq: _*)
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
        val sinkOk = graft.sink.ManifestSink.currentEpoch(s, root) == 3 &&
          graft.sink.ManifestSink
            .lastCommittedVersion(s, root, s"graft-sink[$root]").contains(2L)
        s.sql(s"SELECT * FROM graft.`$root`")
          .withColumn("sink_ok", lit(sinkOk)).orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS sink_ok FROM events
        |WHERE event_id < 120 ORDER BY event_id""".stripMargin),
    // CATALOG STREAMING TAIL (round 12): spark.readStream.table over a
    // graft catalog table — the DSv2 MICRO_BATCH_READ half of the
    // streaming source (offsets are epochs, per-batch plan = the
    // appended files only, snapshot-then-tail, checkpoint restart).
    // The ledger gate pins the exact per-batch counts: the snapshot,
    // the live delta, and the RESTARTED tail of an epoch that landed
    // while no query ran — never a re-read.
    "q_catalog_stream" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val base = tmpDir("graft_cstr_")
        val root = s"$base/t"
        val ckpt = s"$base/ckpt"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 100).createOrReplaceTempView("cstr_a")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cstr_a")
        val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        def start() = s.readStream.table(s"graft.`$root`")
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            batches.synchronized { batches += ((id, b.count())) }; ()
          }.start()
        val q1 = start()
        try {
          q1.processAllAvailable()
          ev.filter(col("event_id").between(100, 149))
            .createOrReplaceTempView("cstr_b")
          s.sql(s"INSERT INTO graft.`$root` SELECT * FROM cstr_b")
          q1.processAllAvailable()
        } finally q1.stop()
        // an epoch lands while NO query runs; the restart resumes at
        // the checkpointed epoch and reads only the missed delta
        ev.filter(col("event_id").between(150, 169))
          .createOrReplaceTempView("cstr_c")
        s.sql(s"INSERT INTO graft.`$root` SELECT * FROM cstr_c")
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
        val ok = batches.toSeq == Seq((0L, 100L), (1L, 50L), (2L, 20L))
        s.sql(s"SELECT * FROM graft.`$root`")
          .withColumn("tail_ok", lit(ok)).orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS tail_ok FROM events
        |WHERE event_id < 170 ORDER BY event_id""".stripMargin),
    // SQL MATERIALIZED VIEWS (round 12): CREATE MATERIALIZED VIEW
    // persists the definition sidecar, seeds the view through one
    // IncrementalView refresh, and registers it for transparent
    // aggregate routing; REFRESH MATERIALIZED VIEW folds ONLY the
    // source epochs committed since (change-feed-bounded work), and a
    // replayed refresh no-ops through the view's txn cursor. mv_ok
    // gates the whole lifecycle: one refresh epoch per source epoch,
    // the no-op, and the routed plan losing its Aggregate node.
    "q_catalog_mv" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, count, lit, sum}
        import org.apache.spark.sql.types.DecimalType
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val base = tmpDir("graft_cmv_")
        val (src, view) = (s"$base/src", s"$base/view")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 100).createOrReplaceTempView("cmv_a")
        ev.filter(col("event_id").between(100, 149))
          .createOrReplaceTempView("cmv_b")
        s.sql(s"CREATE TABLE graft.`$src` AS SELECT * FROM cmv_a")
        s.sql(s"CREATE MATERIALIZED VIEW graft.`$view` KEY event_id " +
          s"AS SELECT user_id, COUNT(*) AS cnt, SUM(value) AS sum_value " +
          s"FROM graft.`$src` GROUP BY user_id")
        s.sql(s"INSERT INTO graft.`$src` SELECT * FROM cmv_b")
        val r = s.sql(s"REFRESH MATERIALIZED VIEW graft.`$view`").collect()(0)
        val noop = s.sql(s"REFRESH MATERIALIZED VIEW graft.`$view`").collect()(0)
        val routedPlan = graft.sink.ManifestSink.read(s, src).groupBy("user_id")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast(DecimalType(18, 4))).as("sum_value"))
          .queryExecution.optimizedPlan
        val mvOk = r.getInt(1) == 2 && r.getInt(2) == 2 &&
          noop.getInt(1) == 2 &&
          !routedPlan.exists {
            case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
            case _ => false
          }
        graft.plans.MatViews.deregister(s"mv:$view")
        graft.sink.ManifestSink.read(s, view)
          .select(col("user_id"), col("cnt"),
            col("sum_value").cast("double").as("sum_value"))
          .withColumn("mv_ok", lit(mvOk))
          .orderBy("user_id")
      },
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DECIMAL(38,4)) AS DOUBLE)
        |    AS sum_value,
        |  TRUE AS mv_ok
        |FROM events WHERE event_id < 150
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    // SQL SCHEMA EVOLUTION (round 12): ALTER TABLE ... ADD COLUMNS is
    // a PURE-METADATA epoch commit (same files/stats/DV, union schema
    // pinned into the marker) — pre-evolution files read the added
    // column as null, the evolved table accepts new-shape inserts, and
    // VERSION AS OF keeps the old shape. The demo drives the whole
    // lifecycle in SQL text; the oracle spells the null-filled union.
    "q_catalog_evolve" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit, when}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cevo_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 80).createOrReplaceTempView("cevo_a")
        ev.filter(col("event_id").between(80, 99))
          .select(col("event_id"), col("user_id"), col("value"),
            lit("tagged").as("flag"))
          .createOrReplaceTempView("cevo_b")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cevo_a")
        s.sql(s"ALTER TABLE graft.`$root` ADD COLUMNS (flag STRING)")
        s.sql(s"INSERT INTO graft.`$root` SELECT * FROM cevo_b")
        val travelOk = s.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 1")
          .schema.fieldNames.toSeq == Seq("event_id", "user_id", "value")
        s.sql(s"SELECT * FROM graft.`$root`")
          .withColumn("travel_ok", lit(travelOk) && when(col("event_id") < 80,
            col("flag").isNull).otherwise(col("flag") === "tagged"))
          .orderBy(col("event_id"))
      },
      """SELECT event_id, user_id, value, CAST(NULL AS VARCHAR) AS flag,
        |  TRUE AS travel_ok
        |FROM events WHERE event_id < 80
        |UNION ALL
        |SELECT event_id, user_id, value, 'tagged', TRUE
        |FROM events WHERE event_id BETWEEN 80 AND 99
        |ORDER BY event_id""".stripMargin),
    // STORAGE-PARTITIONED JOIN (round 12): CREATE TABLE ...
    // PARTITIONED BY (bucket(8, user_id)) persists the Iceberg-style
    // bucket transform; INSERTs lay out single-bucket files (the
    // committed per-file __bucket stats rows prove the layout), the
    // catalog scan reports KeyGroupedPartitioning resolved through the
    // catalog's V2 `bucket` function, and the fact-fact join plus the
    // keyed aggregate plan with ZERO hash exchanges on either side —
    // at 100 TB, the co-located join that never moves either table
    // across the cluster (the one exchange left is the output ORDER
    // BY's range sort, which any global ordering pays). spj_ok gates
    // the executed plan, AQE stages included.
    "q_catalog_spj" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val base = tmpDir("graft_cspj_")
        val (r1, r2) = (s"$base/a", s"$base/b")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 600).createOrReplaceTempView("cspj_a")
        ev.filter(col("event_id") >= 300 && col("event_id") < 900)
          .createOrReplaceTempView("cspj_b")
        s.sql(s"CREATE TABLE graft.`$r1` PARTITIONED BY (bucket(8, user_id)) " +
          "AS SELECT * FROM cspj_a")
        s.sql(s"CREATE TABLE graft.`$r2` PARTITIONED BY (bucket(8, user_id)) " +
          "AS SELECT * FROM cspj_b")
        val confs = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
        confs.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val out = s.sql(
            s"""SELECT a.user_id, count(*) AS pairs,
               |  min(b.event_id) AS lo_b, max(b.event_id) AS hi_b
               |FROM graft.`$r1` a JOIN graft.`$r2` b ON a.user_id = b.user_id
               |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin)
          val rows = out.collect()
          val spjOk = graft.plans.PlanProbe.deepCollect(out.queryExecution.executedPlan) {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
                if e.outputPartitioning.isInstanceOf[
                  org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
          }.isEmpty
          s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
            .withColumn("spj_ok", lit(spjOk))
        } finally prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      """SELECT a.user_id, count(*) AS pairs,
        |  min(b.event_id) AS lo_b, max(b.event_id) AS hi_b, TRUE AS spj_ok
        |FROM (SELECT * FROM events WHERE event_id < 600) a
        |JOIN (SELECT * FROM events WHERE event_id >= 300 AND event_id < 900) b
        |  ON a.user_id = b.user_id
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin),
    // STREAMING SINK FORMAT (round 12): the manifest table as a
    // first-class writeStream format — the idiomatic spelling of the
    // foreachBatch + commitIdempotentAppend pattern (q_stream_manifest
    // proves the replay semantics; this row proves the FORMAT path):
    // each micro-batch commits one atomic (appId, batchId)-txn epoch
    // with zone maps from option("statsCols"), so the streamed table
    // keeps its skipping property with no user-written sink code.
    // sink_ok gates epochs == batches, txn bookkeeping present, and a
    // range read pruning through the streamed stats.
    "q_stream_sink_format" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        import org.apache.spark.sql.streaming.Trigger
        val root = tmpDir("graft_ssink_") + "/t"
        val ck = tmpDir("graft_ssink_ck_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
          .filter(col("event_id") < 200).collect()
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import s.implicits._
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Long, Double)]
        def run(): Unit = {
          val q = mem.toDF().toDF("event_id", "user_id", "value").writeStream
            .format("graft-manifest")
            .option("root", root).option("appId", "q_stream_sink_format")
            .option("statsCols", "event_id")
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination(120000); q.stop()
        }
        mem.addData(ev.filter(_.getLong(0) < 100)
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq: _*)
        run()
        mem.addData(ev.filter(_.getLong(0) >= 100)
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq: _*)
        run()
        val epochs = graft.sink.ManifestSink.currentEpoch(s, root)
        val txn = graft.sink.ManifestSink
          .lastCommittedVersion(s, root, "q_stream_sink_format")
        val (_, hit, all) = graft.sink.ManifestSink
          .readPruned(s, root, col("event_id").between(0L, 49L))
        val sinkOk = epochs == 2 && txn.contains(1L) && (hit < all || all == 1)
        graft.sink.ManifestSink.read(s, root)
          .select(col("event_id"), col("user_id"), col("value"))
          .withColumn("sink_ok", lit(sinkOk))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS sink_ok FROM events
        |WHERE event_id < 200 ORDER BY event_id""".stripMargin),
    // SQL MERGE INTO (round 12): the group-based copy-on-write
    // row-level path — Spark rewrites the MERGE into ReplaceData over
    // the catalog scan; runtime group filtering narrows the scan to
    // the files the source keys touch, the replacement rows stage
    // through Spark's distributed parquet committer, and ONE atomic
    // epoch swaps exactly the scanned files (everything else carries
    // as metadata with its stats rows). merge_ok gates the CoW
    // economics: untouched files carried by name into the new epoch,
    // and the pre-merge epoch still answers for audit.
    "q_catalog_merge" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cmrg_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("mrg_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM mrg_src")
        val before = graft.sink.ManifestSink.manifestFiles(s, root, 1)
          .map(_.split("/").last)
        // source: ids 5,7 update in place (value -> -1); 9005, 9007 insert
        val srcPath = tmpDir("graft_cmrg_src_")
        val basis = ev.filter(col("event_id").isin(5L, 7L))
        basis.unionByName(basis.withColumn("event_id", col("event_id") + 9000L))
          .withColumn("value", lit(-1.0))
          .write.mode("overwrite").parquet(srcPath)
        s.read.parquet(srcPath).createOrReplaceTempView("mrg_updates")
        s.sql(
          s"""MERGE INTO graft.`$root` t USING mrg_updates u
             |ON t.event_id = u.event_id
             |WHEN MATCHED THEN UPDATE SET t.value = u.value
             |WHEN NOT MATCHED THEN INSERT (event_id, user_id, value)
             |  VALUES (u.event_id, u.user_id, u.value)""".stripMargin)
        val after = graft.sink.ManifestSink.manifestFiles(s, root, 2)
          .map(_.split("/").last)
        val audit = s.sql(
          s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 1 " +
            "WHERE value = -1.0").collect()(0).getLong(0)
        val mergeOk = after.intersect(before).nonEmpty && audit == 0L
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |WHERE event_id < 20 OR event_id > 8000 OR value = -1.0
                 |ORDER BY event_id""".stripMargin)
          .withColumn("merge_ok", lit(mergeOk))
      },
      """SELECT event_id, user_id,
        |  CASE WHEN event_id IN (5, 7) THEN -1.0 ELSE value END AS value,
        |  TRUE AS merge_ok
        |FROM events WHERE event_id < 20
        |UNION ALL
        |SELECT event_id + 9000, user_id, -1.0, TRUE FROM events
        |WHERE event_id IN (5, 7)
        |ORDER BY event_id""".stripMargin),
    // SQL UPDATE (round 12): same row-level CoW path, predicate form —
    // only the zone-map-overlapping files rewrite (the WHERE prunes
    // groups statically at file granularity; parquet row-group
    // pruning is deliberately OFF inside a rewrite so unmatched rows
    // of affected files are preserved). upd_ok gates carried files +
    // pre-update audit + untouched-row stability.
    "q_catalog_update" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cupd_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("upd_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM upd_src")
        val before = graft.sink.ManifestSink.manifestFiles(s, root, 1)
          .map(_.split("/").last)
        s.sql(s"UPDATE graft.`$root` SET value = value + 1000000.0 WHERE event_id < 30")
        val after = graft.sink.ManifestSink.manifestFiles(s, root, 2)
          .map(_.split("/").last)
        val audit = s.sql(
          s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 1 " +
            "WHERE value >= 1000000.0").collect()(0).getLong(0)
        val updOk = after.intersect(before).nonEmpty && audit == 0L
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |WHERE event_id < 60 ORDER BY event_id""".stripMargin)
          .withColumn("upd_ok", lit(updOk))
      },
      """SELECT event_id, user_id,
        |  CASE WHEN event_id < 30 THEN value + 1000000.0 ELSE value END AS value,
        |  TRUE AS upd_ok
        |FROM events WHERE event_id < 60 ORDER BY event_id""".stripMargin),
    // MAINTENANCE SQL (round 12): the lakehouse ops surface as SQL
    // text via a delegating parser extension (the Delta pattern) —
    // OPTIMIZE compacts the current epoch under a file budget with
    // fresh zone maps, DESCRIBE HISTORY is the commit audit log,
    // VACUUM RETAIN reclaims dropped epochs (all three are
    // driver-side metadata commands; OPTIMIZE adds one clustering
    // rewrite job). maint_ok gates the full lifecycle: compaction
    // halved the file count and kept all rows, history shows exactly
    // the retained epoch afterwards, vacuum dropped exactly the two
    // pre-compaction epochs, and the surviving table still prunes.
    "q_catalog_maintenance" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cmnt_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 200)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("mnt_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM mnt_src")
        s.sql(s"INSERT INTO graft.`$root` " +
          "SELECT event_id + 1000 AS event_id, user_id, value FROM mnt_src")
        val opt = s.sql(s"OPTIMIZE graft.`$root` FILES 2").collect()(0)
        val vac = s.sql(s"VACUUM graft.`$root` RETAIN 1 EPOCHS").collect()(0)
        val hist = s.sql(s"DESCRIBE HISTORY graft.`$root`").collect()
        val maintOk = opt.getInt(1) == 3 && opt.getInt(3) <= 2 &&
          opt.getInt(2) > opt.getInt(3) && vac.getInt(1) == 2 &&
          hist.map(_.getInt(0)).toSeq == Seq(3)
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |WHERE event_id < 120 OR event_id >= 1150 ORDER BY event_id""".stripMargin)
          .withColumn("maint_ok", lit(maintOk))
      },
      """SELECT event_id, user_id, value, TRUE AS maint_ok FROM (
        |  SELECT event_id, user_id, value FROM events WHERE event_id < 120
        |  UNION ALL
        |  SELECT event_id + 1000, user_id, value FROM events
        |  WHERE event_id >= 150 AND event_id < 200
        |) ORDER BY event_id""".stripMargin),
    // DYNAMIC FILE PRUNING (round 12): the catalog scan implements
    // SupportsRuntimeFiltering, so a dim-filtered join hands the
    // build side's surviving keys to the scan AT EXECUTION TIME
    // (Spark's dynamic partition pruning machinery) and the fact
    // table re-prunes its manifest file list through the skipping
    // ladder before any fact file opens — Delta's dynamic file
    // pruning. At 100 TB this is the difference between reading the
    // fact files the dim keys touch and reading the fact table.
    // dfp_ok gates BOTH that the DynamicPruningExpression was planted
    // and that the re-pruned plan read fewer files than the manifest
    // holds.
    "q_catalog_dfp" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cdfp_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("dfp_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM dfp_src")
        // the dim must be a real scan (a LocalRelation folds its
        // filter away and DPP sees no selective predicate)
        val dimPath = tmpDir("graft_cdfp_dim_")
        ev.filter(col("event_id") % 50 === 0)
          .select(col("event_id"),
            org.apache.spark.sql.functions.when(col("event_id") < 300, "hit")
              .otherwise("miss").as("flag"))
          .write.mode("overwrite").parquet(dimPath)
        s.read.parquet(dimPath).createOrReplaceTempView("dfp_dim")
        val out = s.sql(
          s"""SELECT t.event_id, t.user_id, d.flag FROM graft.`$root` t
             |JOIN dfp_dim d ON t.event_id = d.event_id
             |WHERE d.flag = 'hit' ORDER BY t.event_id""".stripMargin)
        val rows = out.collect()
        val total = graft.sink.ManifestSink.manifestFiles(s, root, 1).size
        val dfpOk =
          out.queryExecution.executedPlan.toString.contains("dynamicpruning") &&
            graft.catalog.GraftTable.lastPlannedFiles >= 0 &&
            graft.catalog.GraftTable.lastPlannedFiles < total
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("dfp_ok", lit(dfpOk))
      },
      """SELECT event_id, user_id, 'hit' AS flag, TRUE AS dfp_ok FROM events
        |WHERE event_id IN (0, 50, 100, 150, 200, 250)
        |ORDER BY event_id""".stripMargin),
    // SQL METADATA-ONLY AGGREGATION (round 12): a global
    // count(*)/min/max through the catalog pushes COMPLETELY into the
    // scan (SupportsPushDownAggregates) and answers from the committed
    // stats table — the executed "scan" is a one-row replay, ZERO data
    // files open, no partial-agg plan survives. meta_ok gates that the
    // planner really took the metadata path (and planned 0 files).
    // count(*) comes from the per-file __count rows, min/max from the
    // zone maps (string bounds in UTF8 binary order).
    "q_catalog_meta_agg" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.lit
        import org.apache.spark.sql.functions.col
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cmagg_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"),
          col("value"), col("event_type"))
        ev.repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("magg_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM magg_src")
        val out = s.sql(
          s"""SELECT count(*) AS n, min(event_id) AS lo, max(event_id) AS hi,
             |  min(event_type) AS t_lo, max(event_type) AS t_hi
             |FROM graft.`$root`""".stripMargin)
        val rows = out.collect()
        val metaOk = graft.catalog.GraftTable.lastMetaAggOnly &&
          graft.catalog.GraftTable.lastPlannedFiles == 0
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("meta_ok", lit(metaOk))
      },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(MIN(event_id) AS BIGINT) AS lo, CAST(MAX(event_id) AS BIGINT) AS hi,
        |  MIN(event_type) AS t_lo, MAX(event_type) AS t_hi,
        |  TRUE AS meta_ok
        |FROM events""".stripMargin),
    // SQL DELETE (round 12): DELETE FROM ... WHERE <key> IN (...)
    // lowers onto the copy-on-write delete (SupportsDelete →
    // ManifestSink.deleteCow) when the predicate column carries zone
    // maps — only the overlapping files rewrite; the rest of the table
    // carries as metadata. The pre-delete epoch stays pinned for audit
    // (audit_ok gates VERSION AS OF 1 still seeing the deleted keys).
    "q_catalog_delete" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cdel_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("del_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM del_src")
        s.sql(s"DELETE FROM graft.`$root` WHERE event_id IN (7, 42, 99, 256)")
        val audit = s.sql(
          s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 1 " +
            "WHERE event_id IN (7, 42, 99, 256)").collect()(0).getLong(0)
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |WHERE event_id < 120 ORDER BY event_id""".stripMargin)
          .withColumn("audit_ok", lit(audit == 4L))
      },
      """SELECT event_id, user_id, value, TRUE AS audit_ok FROM events
        |WHERE event_id < 120 AND event_id NOT IN (7, 42, 99)
        |ORDER BY event_id""".stripMargin),
    // DV-AWARE CATALOG READS (round 13, the r12 VERDICT's #1 gap): a
    // merge-on-read epoch no longer blacks out the SQL surface — the
    // catalog scan applies the keys-only delete vector READER-SIDE
    // (Delta's DV discipline): the key set rides the serialized
    // reader factory, vectored rows drop as they decode, and VERSION
    // AS OF spans DV generations (each epoch pins its own DV).
    // mor_ok gates: the DV filter really wrapped the reader
    // (lastDvApplied), travel to each generation sees its exact key
    // set, meta-agg stayed refused (stats cannot see deletes), and
    // the closing compaction's pure-SQL view is row-identical to the
    // DV-filtered one.
    "q_catalog_mor" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cmor_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("cmor_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cmor_src")
        // two DV generations via the API takedown primitive
        graft.sink.ManifestSink.deleteMor(s, root,
          ev.filter(col("event_id").between(100, 149)).select(col("event_id")),
          "event_id")
        graft.sink.ManifestSink.deleteMor(s, root,
          ev.filter(col("event_id").between(300, 319)).select(col("event_id")),
          "event_id")
        // pure-SQL reads over the live DV epoch
        val dvApplied = {
          s.sql(s"SELECT user_id FROM graft.`$root` WHERE event_id < 200")
            .collect()
          graft.catalog.GraftTable.lastDvApplied
        }
        val gen1 = s.sql(s"SELECT count(user_id) AS c FROM graft.`$root` " +
          "VERSION AS OF 2").collect()(0).getLong(0)
        val gen2 = s.sql(s"SELECT count(user_id) AS c FROM graft.`$root`")
          .collect()(0).getLong(0)
        s.sql(s"SELECT count(*) FROM graft.`$root`").collect()
        val metaStillRefused = !graft.catalog.GraftTable.lastMetaAggOnly
        val dvView = s.sql(
          s"SELECT event_id, user_id, value FROM graft.`$root` ORDER BY event_id")
          .collect().toSeq
        graft.sink.ManifestSink.compact(s, root, Seq("event_id"))
        val matView = s.sql(
          s"SELECT event_id, user_id, value FROM graft.`$root` ORDER BY event_id")
        val rows = matView.collect()
        val morOk = dvApplied && gen1 == 350L && gen2 == 330L &&
          metaStillRefused && rows.toSeq == dvView
        s.createDataFrame(java.util.Arrays.asList(rows: _*), matView.schema)
          .withColumn("mor_ok", lit(morOk))
      },
      """SELECT event_id, user_id, value, TRUE AS mor_ok FROM events
        |WHERE event_id < 400 AND event_id NOT BETWEEN 100 AND 149
        |  AND event_id NOT BETWEEN 300 AND 319
        |ORDER BY event_id""".stripMargin),
    // MoR-ROUTED SQL DELETE (round 13): DELETE FROM cost-routes
    // between copy-on-write and merge-on-read on the zone-map-priced
    // rewrite: keys spread across EVERY file would make CoW a
    // full-table rewrite, so the router commits a keys-only DV epoch
    // instead — ZERO data writes (zero_ok gates byte-identical
    // lengths+mtimes across the delete), one metadata epoch, and the
    // DV-aware scan keeps the pure-SQL surface live.
    "q_catalog_delete_mor" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cdmor_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("cdmor_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cdmor_src")
        val conf = s.sparkContext.hadoopConfiguration
        def state(): Map[String, (Long, Long)] =
          graft.sink.ManifestSink.manifestFiles(s, root, 1).map { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            val st = p.getFileSystem(conf).getFileStatus(p)
            f -> (st.getLen, st.getModificationTime)
          }.toMap
        val before = state()
        // one key inside each of the 8 files' ranges -> CoW would
        // rewrite the whole table -> the router must go MoR
        s.sql(s"DELETE FROM graft.`$root` WHERE event_id IN " +
          (0 until 8).map(i => i * 50 + 1).mkString("(", ", ", ")"))
        val e = graft.sink.ManifestSink.currentEpoch(s, root)
        val zeroOk = e == 2 &&
          graft.sink.ManifestSink.commitDv(s, root, e).isDefined &&
          state() == before
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |WHERE event_id < 120 ORDER BY event_id""".stripMargin)
          .withColumn("zero_ok", lit(zeroOk))
      },
      """SELECT event_id, user_id, value, TRUE AS zero_ok FROM events
        |WHERE event_id < 120 AND event_id NOT IN (1, 51, 101)
        |ORDER BY event_id""".stripMargin),
    // ROW-LEVEL DML OVER MERGE-ON-READ (round 13): UPDATE and MERGE
    // keep working on a DV-carrying epoch — the row-level scan applies
    // the delete vector (so a rewrite of a file holding hidden rows
    // MATERIALIZES the deletes instead of resurrecting them) and the
    // replace-groups commit carries the vector forward for the
    // untouched files. dml_ok gates: the UPDATE replaced exactly ONE
    // file (runtime group filtering still bounds the rewrite), the
    // replacement file is physically DV-clean, both DML epochs carry
    // the DV and readers keep filtering, the change feed across the
    // UPDATE epoch emits only the update pair (no spurious deletes of
    // hidden rows), and the closing compaction is row-identical.
    "q_catalog_mor_dml" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cmordml_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("cmordml_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cmordml_src")
        // epoch 2: hide keys 100-124 behind a delete vector — they sit
        // in the SAME range file as the key the UPDATE touches next
        graft.sink.ManifestSink.deleteMor(s, root,
          ev.filter(col("event_id").between(100, 124)).select(col("event_id")),
          "event_id")
        // epoch 3: UPDATE rewrites that file; the DV-aware scan keeps
        // the hidden rows out of the replacement bytes
        s.sql(s"UPDATE graft.`$root` SET value = -1.0 WHERE event_id = 130")
        val replaced = graft.sink.ManifestSink.manifestFiles(s, root, 2).toSet --
          graft.sink.ManifestSink.manifestFiles(s, root, 3).toSet
        val added = graft.sink.ManifestSink.manifestFiles(s, root, 3).toSet --
          graft.sink.ManifestSink.manifestFiles(s, root, 2).toSet
        val clean = s.read.parquet(added.toSeq: _*)
          .filter(col("event_id").between(100, 124)).count() == 0
        val feed = graft.sink.ManifestSink.tableChanges(s, root, "event_id", 2, 3)
        val feedOk =
          feed.filter(col("_change_type") === "delete").count() == 0 &&
            feed.filter(col("_change_type").startsWith("update"))
              .select("event_id").collect().map(_.getLong(0)).toSeq == Seq(130L, 130L)
        // epoch 4: MERGE — matched update (key 250, untouched so far,
        // so the fixture row IS the current row) + unmatched insert
        ev.filter(col("event_id") === 250).unionByName(
            s.range(1).select(lit(9999L).as("event_id"),
              lit(9L).as("user_id"), lit(2.5).as("value")))
          .createOrReplaceTempView("cmordml_upd")
        s.sql(
          s"""MERGE INTO graft.`$root` t USING cmordml_upd u
             |ON t.event_id = u.event_id
             |WHEN MATCHED THEN UPDATE SET t.value = u.value + 100.0
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val dvCarried =
          graft.sink.ManifestSink.commitDv(s, root, 3).isDefined &&
            graft.sink.ManifestSink.commitDv(s, root, 4).isDefined
        val dvApplied = {
          s.sql(s"SELECT user_id FROM graft.`$root` WHERE event_id < 200").collect()
          graft.catalog.GraftTable.lastDvApplied
        }
        val dvView = s.sql(
          s"SELECT event_id, user_id, value FROM graft.`$root` ORDER BY event_id")
          .collect().toSeq
        graft.sink.ManifestSink.compact(s, root, Seq("event_id"))
        val matView = s.sql(
          s"SELECT event_id, user_id, value FROM graft.`$root` ORDER BY event_id")
        val rows = matView.collect()
        val dmlOk = replaced.size == 1 && clean && feedOk && dvCarried &&
          dvApplied && rows.toSeq == dvView
        s.createDataFrame(java.util.Arrays.asList(rows: _*), matView.schema)
          .withColumn("dml_ok", lit(dmlOk))
      },
      """SELECT event_id, user_id,
        |  CASE WHEN event_id = 130 THEN -1.0
        |       WHEN event_id = 250 THEN value + 100.0
        |       ELSE value END AS value,
        |  TRUE AS dml_ok
        |FROM events
        |WHERE event_id < 400 AND event_id NOT BETWEEN 100 AND 124
        |UNION ALL
        |SELECT CAST(9999 AS BIGINT), CAST(9 AS BIGINT), 2.5, TRUE
        |ORDER BY event_id""".stripMargin),
    // MERGE-ON-READ UPDATE/MERGE (round 15 — Iceberg's
    // write.update.mode=merge-on-read / Delta's deletion-vector DML,
    // through Spark's own delta-based row-level API): a table that
    // declares its unique merge key (TBLPROPERTIES 'graft.mergeKey')
    // commits UPDATE/MERGE as ONE epoch of [every current file carried
    // BYTE-IDENTICAL] + [keys-only delete vector hiding the pre-image
    // rows] + [delta files holding only the changed rows] — a wide,
    // low-selectivity UPDATE on a 100 TB table writes O(changed rows),
    // not O(touched files). The dv-key cap still rules: an over-cap
    // change falls back to copy-on-write MATERIALIZATION inside the
    // same statement. mor_ok gates: byte-identical carry across both
    // the UPDATE and the MERGE, one DV per MoR epoch, the CDF emitting
    // UPDATE PAIRS (not delete+insert), travel pinning the pre-update
    // snapshot, and the over-cap statement rewriting groups with NO
    // new vector. MorDmlSpec carries the ladder (DELETE-by-predicate
    // as pure metadata, scope stacking over standing DVs, compaction
    // equivalence, mode=cow override).
    "q_catalog_update_mor" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{coalesce, col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cumor_") + "/t"
        val ev = events(s, d).select(
          coalesce(col("event_id"), lit(-1L)).as("event_id"),
          col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("cumor_src")
        s.sql(s"CREATE TABLE graft.`$root` " +
          "TBLPROPERTIES ('graft.mergeKey' = 'event_id') " +
          "AS SELECT * FROM cumor_src")
        val fsys = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def dataState(e: Int): Map[String, (Long, Long)] =
          graft.sink.ManifestSink.manifestFiles(s, root, e).map { f =>
            val st = fsys.getFileStatus(new org.apache.hadoop.fs.Path(f))
            f -> (st.getLen, st.getModificationTime)
          }.toMap
        def carriedIdentical(from: Int, to: Int): Boolean = {
          val a = dataState(from); val b = dataState(to)
          a.forall { case (f, st) => b.get(f).contains(st) }
        }
        // epoch 2: a WIDE low-selectivity UPDATE — every base file
        // holds touched keys, yet none rewrites
        s.sql(s"UPDATE graft.`$root` SET value = -1.0 WHERE event_id % 50 = 3")
        val updCarry = carriedIdentical(1, 2) &&
          graft.sink.ManifestSink.commitDvs(s, root, 2).size == 1 &&
          (dataState(2).keySet -- dataState(1).keySet).nonEmpty
        // the CDF reports UPDATE PAIRS, never delete+insert
        val feed = graft.sink.ManifestSink.tableChanges(s, root, "event_id", 1, 2)
        val pairs = feed.groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val touched = s.sql(s"SELECT count(*) AS c FROM graft.`$root` " +
          "WHERE value = -1.0").collect()(0).getLong(0)
        val feedOk = pairs == Map("update_preimage" -> touched,
          "update_postimage" -> touched)
        val travelOk = s.sql(s"SELECT count(*) AS c FROM graft.`$root` " +
          "VERSION AS OF 1 WHERE value = -1.0").collect()(0).getLong(0) == 0L
        // epoch 3: MoR MERGE — matched update + unmatched insert, one
        // epoch, still zero rewrites
        ev.filter(col("event_id") === 250)
          .withColumn("value", col("value") + 100.0)
          .unionByName(s.range(1).select(lit(9999L).as("event_id"),
            lit(9L).as("user_id"), lit(2.5).as("value")))
          .createOrReplaceTempView("cumor_upd")
        s.sql(
          s"""MERGE INTO graft.`$root` t USING cumor_upd u
             |ON t.event_id = u.event_id
             |WHEN MATCHED THEN UPDATE SET t.value = u.value
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        val mrgCarry = carriedIdentical(2, 3) &&
          graft.sink.ManifestSink.commitDvs(s, root, 3).size == 2
        // epoch 4: OVER-CAP falls back to CoW inside the statement —
        // groups rewrite, no third vector
        s.conf.set("spark.graft.dv.maxKeys", "5")
        try s.sql(s"UPDATE graft.`$root` SET value = -3.0 " +
          "WHERE event_id >= 300 AND event_id < 350")
        finally s.conf.unset("spark.graft.dv.maxKeys")
        val capOk =
          graft.sink.ManifestSink.commitDvs(s, root, 4).size == 2 &&
            (dataState(3).keySet -- dataState(4).keySet).nonEmpty
        val morOk = updCarry && feedOk && travelOk && mrgCarry && capOk
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |ORDER BY event_id""".stripMargin)
          .withColumn("mor_ok", lit(morOk))
      },
      """SELECT event_id, user_id,
        |  CASE WHEN event_id >= 300 AND event_id < 350 THEN -3.0
        |       WHEN event_id % 50 = 3 THEN -1.0
        |       WHEN event_id = 250 THEN value + 100.0
        |       ELSE value END AS value,
        |  TRUE AS mor_ok
        |FROM events WHERE event_id < 400
        |UNION ALL SELECT 9999, 9, 2.5, TRUE
        |ORDER BY event_id""".stripMargin),
    // ATOMIC CTAS / RTAS (round 13, DSv2 StagingTableCatalog): every
    // CREATE [OR REPLACE] TABLE ... AS SELECT stages its data into an
    // attempt-unique epoch dir and becomes visible in ONE commit-marker
    // CAS; a failing statement aborts with the previous table state
    // fully intact, and — unlike Delta's REPLACE — the pre-replace
    // epochs stay time-travelable. rtas_ok gates: the new shape and
    // content landed, VERSION AS OF 1 still reads the OLD shape and
    // count, a failing REPLACE left the table untouched, and the old
    // TBLPROPERTIES were reset by the replace.
    "q_catalog_rtas" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_crtas_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .createOrReplaceTempView("crtas_src")
        s.sql(s"CREATE TABLE graft.`$root` TBLPROPERTIES ('team' = 'iot') " +
          "AS SELECT * FROM crtas_src")
        val before = s.sql(s"SELECT count(*) FROM graft.`$root`")
          .collect()(0).getLong(0)
        s.sql(s"""CREATE OR REPLACE TABLE graft.`$root` AS
                 |SELECT event_id AS id, value * 2 AS dbl FROM crtas_src
                 |WHERE event_id < 200""".stripMargin)
        val v1 = s.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 1")
        val travelOk = v1.columns.toSeq == Seq("event_id", "user_id", "value") &&
          v1.count() == before
        val propsReset = !s.sql(s"SHOW TBLPROPERTIES graft.`$root`")
          .collect().exists(_.getString(0) == "team")
        val abortOk = {
          try s.sql(s"CREATE OR REPLACE TABLE graft.`$root` AS " +
            s"SELECT assert_true(id < 0) AS bad, id FROM graft.`$root`")
          catch { case _: Throwable => () }
          s.table(s"graft.`$root`").columns.toSeq == Seq("id", "dbl") &&
            s.sql(s"SELECT count(*) FROM graft.`$root`")
              .collect()(0).getLong(0) == 200L
        }
        val out = s.sql(s"SELECT id, dbl FROM graft.`$root` ORDER BY id")
        val rows = out.collect()
        val rtasOk = travelOk && propsReset && abortOk
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("rtas_ok", lit(rtasOk))
      },
      """SELECT event_id AS id, value * 2 AS dbl, TRUE AS rtas_ok FROM events
        |WHERE event_id < 200 ORDER BY id""".stripMargin),
    // CONCURRENT-COMMIT CONFLICT RESOLUTION (round 14, hardened round
    // 15 — the Delta ConflictChecker / Iceberg validation-retry
    // discipline): a row-level DML commit that finds the table
    // ADVANCED no longer fails outright — it REBASES onto the new
    // current epoch when every intervening epoch provably changed
    // nothing the operation READ: pure metadata always clears; a
    // racing APPEND clears only when its files' zone maps cannot
    // satisfy the operation's pushed read predicate (ADVICE r14 — a
    // matching appended key would have been read, Delta's
    // ConcurrentAppendException even under WriteSerializable). The
    // demo UPDATE (read set k IN (5, 7)) commits THROUGH a racing
    // disjoint INSERT (zone maps ≥ 9100) injected exactly between its
    // staged write and its epoch CAS (the deterministic race seam —
    // thread timing cannot sit under an oracle) without re-running
    // its scan or rewrite; a MERGE against the same race REFUSES
    // (its read set is keyed by the gone-by-commit-time source — no
    // bound exists). With the engine's own streaming sinks making
    // continuous ingest the normal table state, this is what keeps
    // DML from starving on a hot table at 100x. conc_ok gates epoch
    // arithmetic (CTAS, racing append, rebased update = 3), untouched
    // files carried BY NAME through the rebase, the racing epoch
    // pinned pre-update (its insert visible, the update not), and the
    // MERGE refusal; ConflictSpec carries the full refusal ladder.
    "q_catalog_concurrent" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cconc_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("conc_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM conc_src")
        val before = graft.sink.ManifestSink.manifestFiles(s, root, 1)
          .map(_.split("/").last)
        // the racing DISJOINT append lands between the update's staged
        // write and its epoch CAS; its zone maps (event_id ≥ 9100)
        // provably miss the UPDATE's pushed read set (5, 7), so the
        // append-guard clears it and the commit rebases
        graft.catalog.GraftTable.replaceCommitRaceHook = Some(() =>
          s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 9100, " +
            "user_id, value FROM conc_src WHERE event_id = 3"): Unit)
        try s.sql(s"UPDATE graft.`$root` SET value = -1.0 " +
          "WHERE event_id IN (5, 7)")
        finally graft.catalog.GraftTable.replaceCommitRaceHook = None
        val cur = graft.sink.ManifestSink.currentEpoch(s, root)
        val after = graft.sink.ManifestSink.manifestFiles(s, root, cur)
          .map(_.split("/").last)
        // the racing epoch is pinned PRE-update: insert there, update not
        val pinnedOk = cur == 3 &&
          s.sql(s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 2 " +
            "WHERE value = -1.0").collect()(0).getLong(0) == 0L &&
          s.sql(s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 2 " +
            "WHERE event_id = 9103").collect()(0).getLong(0) == 1L
        // a MERGE cannot bound its read set after the fact — the same
        // race must REFUSE the rebase (Delta's ConcurrentAppendException)
        ev.filter(col("event_id") === 11L).withColumn("value", lit(-2.0))
          .createOrReplaceTempView("conc_updates")
        graft.catalog.GraftTable.replaceCommitRaceHook = Some(() =>
          s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 9200, " +
            "user_id, value FROM conc_src WHERE event_id = 3"): Unit)
        val mergeRefused =
          try {
            s.sql(
              s"""MERGE INTO graft.`$root` t USING conc_updates u
                 |ON t.event_id = u.event_id
                 |WHEN MATCHED THEN UPDATE SET t.value = u.value""".stripMargin)
            false
          } catch {
            case t: Throwable =>
              (t.getMessage != null && t.getMessage.contains("appended")) ||
                (t.getCause != null && t.getCause.getMessage != null &&
                  t.getCause.getMessage.contains("appended"))
          } finally graft.catalog.GraftTable.replaceCommitRaceHook = None
        val concOk = pinnedOk && after.intersect(before).nonEmpty &&
          mergeRefused
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |WHERE event_id < 20 OR event_id >= 9000
                 |ORDER BY event_id""".stripMargin)
          .withColumn("conc_ok", lit(concOk))
      },
      """SELECT event_id, user_id,
        |  CASE WHEN event_id IN (5, 7) THEN -1.0 ELSE value END AS value,
        |  TRUE AS conc_ok
        |FROM events WHERE event_id < 20
        |UNION ALL
        |SELECT event_id + 9100, user_id, value, TRUE FROM events
        |WHERE event_id = 3
        |UNION ALL
        |SELECT event_id + 9200, user_id, value, TRUE FROM events
        |WHERE event_id = 3
        |ORDER BY event_id""".stripMargin),
    // SQL TYPE WIDENING (round 14 — Delta type widening / Iceberg type
    // promotion): `ALTER TABLE ... ALTER COLUMN ... TYPE` commits a
    // PURE-METADATA epoch for safe promotions (int -> wider integral,
    // float -> double, decimal growth) — files keep their narrow
    // parquet encodings and Spark 4's widening promotions decode them
    // straight into the wide vectors, so a 100 TB table re-types
    // without rewriting a byte. Committed zone maps are
    // long-NORMALIZED, so range pruning keeps biting across MIXED
    // narrow/wide files (bounds compared in the widened type — the
    // VERDICT's done-criterion). widen_ok gates byte-identical data
    // files across the ALTER, pruning on both the pre- and
    // post-widening file populations, the pinned narrow shape under
    // VERSION AS OF, and the refusal of a narrowing; WidenSpec adds
    // float/decimal, the HLL sketch drop, and the full refusal ladder.
    "q_catalog_widen" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cwid_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .withColumn("event_id", col("event_id")
            .cast(org.apache.spark.sql.types.IntegerType))
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("wid_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM wid_src")
        val fsys = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def dataState(e: Int): Map[String, (Long, Long)] =
          graft.sink.ManifestSink.manifestFiles(s, root, e).map { f =>
            val st = fsys.getFileStatus(new org.apache.hadoop.fs.Path(f))
            f -> (st.getLen, st.getModificationTime)
          }.toMap
        val before = dataState(1)
        s.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN event_id TYPE BIGINT")
        val metadataOnly = dataState(2) == before
        // post-widening inserts land as int64: the table now mixes
        // narrow and wide encodings under one long schema
        s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 9100, user_id, " +
          "value FROM wid_src WHERE event_id < 50")
        // range pruning across BOTH populations (bounds as longs)
        val (_, hitOld, all) = graft.sink.ManifestSink
          .readPruned(s, root, col("event_id").between(0L, 29L))
        val (_, hitNew, _) = graft.sink.ManifestSink
          .readPruned(s, root, col("event_id").between(9100L, 9129L))
        val travelOk = s.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 1")
          .schema("event_id").dataType ==
          org.apache.spark.sql.types.IntegerType &&
          s.table(s"graft.`$root`").schema("event_id").dataType ==
            org.apache.spark.sql.types.LongType
        val refused =
          try { s.sql(s"ALTER TABLE graft.`$root` ALTER COLUMN event_id TYPE INT")
                false }
          catch { case _: Throwable => true }
        val widenOk = metadataOnly && hitOld < all && hitNew < all &&
          travelOk && refused
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |WHERE event_id < 30 OR (event_id >= 9100 AND event_id < 9130)
                 |ORDER BY event_id""".stripMargin)
          .withColumn("widen_ok", lit(widenOk))
      },
      """SELECT event_id, user_id, value, TRUE AS widen_ok FROM events
        |WHERE event_id < 30
        |UNION ALL
        |SELECT event_id + 9100, user_id, value, TRUE FROM events
        |WHERE event_id < 30
        |ORDER BY event_id""".stripMargin),
    // TIME-TRANSFORM PARTITIONING (round 15 — the Iceberg
    // `days(ts)`/`hours(ts)` transform surface; the reference's own
    // layout is hour-bucketed, `cassandra/init.cql:41-54`): CREATE
    // TABLE PARTITIONED BY (days(ts)) lays every INSERT out into
    // single-day files with committed `__ptime` rows proving it, so
    // (a) ordinary ts zone maps become EXACT partition pruning — a
    // one-day range plans exactly that day's file; (b) the scan
    // reports KeyGroupedPartitioning(days(ts)) through the catalog's
    // V2 `days` function and two same-layout tables STORAGE-PARTITION-
    // JOIN on ts with zero shuffles; (c) appends lay out only the
    // batch (prior files carry verbatim) while a CoW rewrite degrades
    // the report honestly. tp_ok gates one-file-per-day, the
    // carried-verbatim append, the <=2-file day scan, and the
    // shuffle-free join.
    "q_catalog_time_layout" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val base = tmpDir("graft_ctp_")
        val (r1, r2) = (s"$base/a", s"$base/b")
        val ev = events(s, d).select(col("event_id"), col("ts"), col("value"))
        ev.filter(col("ts") < lit("2024-01-22")).createOrReplaceTempView("ctp_src")
        s.sql(s"CREATE TABLE graft.`$r1` PARTITIONED BY (days(ts)) " +
          "AS SELECT * FROM ctp_src")
        val spec1 = graft.sink.ManifestSink.ptimeSpec(s, r1, 1)
        val oneFilePerDay = spec1.exists(sp => sp.unit == "days" &&
          sp.fileOrds.values.toSet.size == sp.fileOrds.size)
        // the append lays out ONLY the batch; prior files carry
        ev.filter(col("ts") >= lit("2024-01-22")).createOrReplaceTempView("ctp_b2")
        s.sql(s"INSERT INTO graft.`$r1` SELECT * FROM ctp_b2")
        val e2 = graft.sink.ManifestSink.currentEpoch(s, r1)
        val spec2 = graft.sink.ManifestSink.ptimeSpec(s, r1, e2)
        val appendKept = spec2.isDefined && spec1.get.fileOrds.forall {
          case (f, o) => spec2.get.fileOrds.get(f).contains(o) }
        // day-aligned pruning: a one-day range plans that day's file
        val oneDay = s.sql(s"SELECT count(*) AS c FROM graft.`$r1` " +
          "WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' " +
          "AND ts < TIMESTAMP '2024-01-06 00:00:00'").collect()(0).getLong(0)
        val planned = graft.catalog.GraftTable.lastPlannedFiles
        val total = spec2.get.fileOrds.size
        val pruneOk = oneDay > 0 && planned <= 2 && planned < total
        // storage-partitioned join: same-layout tables join on ts
        // with ZERO shuffles (the V2 `days` function aligns sides)
        ev.filter(col("ts") < lit("2024-01-22"))
          .withColumn("value", col("value") * 2)
          .createOrReplaceTempView("ctp_bsrc")
        s.sql(s"CREATE TABLE graft.`$r2` PARTITIONED BY (days(ts)) " +
          "AS SELECT * FROM ctp_bsrc")
        val spjKeys = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = spjKeys.map { case (k, _) => k -> s.conf.getOption(k) }
        val spjOk =
          try {
            spjKeys.foreach { case (k, v) => s.conf.set(k, v) }
            val j = s.sql(s"SELECT a.ts FROM graft.`$r1` a " +
              s"JOIN graft.`$r2` b ON a.ts = b.ts")
            j.collect()
            graft.plans.PlanProbe.shuffles(j).isEmpty
          } finally prev.foreach {
            case (k, Some(v)) => s.conf.set(k, v)
            case (k, None) => s.conf.unset(k)
          }
        val tpOk = oneFilePerDay && appendKept && pruneOk && spjOk
        s.sql(s"""SELECT CAST(date_trunc('DAY', ts) AS TIMESTAMP) AS day,
                 |  count(*) AS n, min(event_id) AS lo, max(event_id) AS hi
                 |FROM graft.`$r1` GROUP BY 1 ORDER BY day""".stripMargin)
          .withColumn("tp_ok", lit(tpOk))
      },
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n,
        |  min(event_id) AS lo, max(event_id) AS hi, TRUE AS tp_ok
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin),
    // COMPOSED PARTITION SPEC (round 16 — Iceberg's multi-transform
    // `PARTITIONED BY (days(ts), bucket(n, id))`; the reference's own
    // access pattern — device-bucketed rows clustered by hour,
    // `cassandra/init.cql:41-54` — in ONE table instead of a choice):
    // every committed file holds exactly one (day ordinal, bucket)
    // pair, proven by BOTH `__ptime` and `__bucket` stats rows, so
    // (a) a (day, key) point query prunes to the INTERSECTION of the
    // day's files and the key's bucket files; (b) the scan reports a
    // TWO-transform KeyGroupedPartitioning and same-layout tables
    // storage-partition-join on (ts, key) — or on the key alone under
    // allowJoinKeysSubsetOfPartitionKeys — with zero shuffles;
    // (c) appends lay out only the batch, both specs carrying.
    // ml_ok gates the dual spec, the intersected point lookup, the
    // pair SPJ, the subset-key SPJ, and the spec-preserving append.
    "q_catalog_multi_layout" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val base = tmpDir("graft_cml_")
        val (r1, r2) = (s"$base/a", s"$base/b")
        val ev = events(s, d)
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        ev.filter(col("ts") < lit("2024-01-22")).createOrReplaceTempView("cml_src")
        s.sql(s"CREATE TABLE graft.`$r1` " +
          "PARTITIONED BY (days(ts), bucket(4, user_id)) " +
          "AS SELECT * FROM cml_src")
        val bs1 = graft.sink.ManifestSink.bucketSpec(s, r1, 1)
        val ts1 = graft.sink.ManifestSink.ptimeSpec(s, r1, 1)
        val dualSpec = bs1.exists(b => b.keyCol == "user_id" && b.numBuckets == 4) &&
          ts1.exists(t => t.col == "ts" && t.unit == "days") &&
          bs1.get.fileBuckets.keySet == ts1.get.fileOrds.keySet
        // intersected pruning: a (day, key) lookup plans within the
        // day's bucket slice, never the whole day
        val dev = ev.filter(col("ts") < lit("2024-01-02"))
          .select("user_id").head.getLong(0)
        val day0 = ts1.get.fileOrds.values.min
        val want = bs1.get.fileBuckets.count { case (f, b) =>
          b == (dev % 4).toInt && ts1.get.fileOrds(f) == day0 }
        val dayFiles = ts1.get.fileOrds.count(_._2 == day0)
        val hit = s.sql(s"SELECT count(*) AS c FROM graft.`$r1` " +
          s"WHERE user_id = $dev AND ts >= TIMESTAMP '2024-01-01 00:00:00' " +
          "AND ts < TIMESTAMP '2024-01-02 00:00:00'").collect()(0).getLong(0)
        val planned = graft.catalog.GraftTable.lastPlannedFiles
        val pruneOk = hit > 0 && planned >= 1 && planned <= want && want < dayFiles
        // pair SPJ and subset-key SPJ, both shuffle-free
        ev.filter(col("ts") < lit("2024-01-22"))
          .withColumn("value", col("value") * 2)
          .createOrReplaceTempView("cml_bsrc")
        s.sql(s"CREATE TABLE graft.`$r2` " +
          "PARTITIONED BY (days(ts), bucket(4, user_id)) " +
          "AS SELECT * FROM cml_bsrc")
        val spjKeys = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          ("spark.sql.sources.v2.bucketing" +
            ".allowJoinKeysSubsetOfPartitionKeys.enabled") -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = spjKeys.map { case (k, _) => k -> s.conf.getOption(k) }
        def shuffleFree(sql: String): Boolean = {
          val j = s.sql(sql)
          j.collect()
          graft.plans.PlanProbe.shuffles(j).isEmpty
        }
        val (pairSpj, subsetSpj) =
          try {
            spjKeys.foreach { case (k, v) => s.conf.set(k, v) }
            (shuffleFree(s"SELECT a.ts FROM graft.`$r1` a JOIN graft.`$r2` b " +
              "ON a.ts = b.ts AND a.user_id = b.user_id"),
              // a.ts/b.ts stay in the OUTPUT: column pruning that
              // drops the time column invalidates the days(ts) leg of
              // the reported partitioning at the projection, and the
              // subset-key grouping dies with it
              shuffleFree(s"SELECT a.user_id, a.ts, b.ts AS ts2 " +
                s"FROM graft.`$r1` a " +
                s"JOIN graft.`$r2` b ON a.user_id = b.user_id " +
                "WHERE a.ts < TIMESTAMP '2024-01-03 00:00:00' " +
                "AND b.ts < TIMESTAMP '2024-01-03 00:00:00'"))
          } finally prev.foreach {
            case (k, Some(v)) => s.conf.set(k, v)
            case (k, None) => s.conf.unset(k)
          }
        // the append lays out only the batch; BOTH specs carry
        ev.filter(col("ts") >= lit("2024-01-22")).createOrReplaceTempView("cml_b2")
        s.sql(s"INSERT INTO graft.`$r1` SELECT * FROM cml_b2")
        val e2 = graft.sink.ManifestSink.currentEpoch(s, r1)
        val appendKept =
          graft.sink.ManifestSink.bucketSpec(s, r1, e2).isDefined &&
          graft.sink.ManifestSink.ptimeSpec(s, r1, e2).isDefined
        val mlOk = dualSpec && pruneOk && pairSpj && subsetSpj && appendKept
        s.sql(s"""SELECT CAST(date_trunc('DAY', ts) AS TIMESTAMP) AS day,
                 |  user_id % 4 AS b, count(*) AS n,
                 |  min(event_id) AS lo, max(event_id) AS hi
                 |FROM graft.`$r1` GROUP BY 1, 2 ORDER BY day, b""".stripMargin)
          .withColumn("ml_ok", lit(mlOk))
      },
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  user_id % 4 AS b, count(*) AS n,
        |  min(event_id) AS lo, max(event_id) AS hi, TRUE AS ml_ok
        |FROM events GROUP BY 1, 2 ORDER BY day, b""".stripMargin),
    // PARTITION-SPEC EVOLUTION (round 17 — Iceberg's update-spec
    // discipline): `ALTER TABLE ... SET PARTITION SPEC (...)` swaps
    // the declared layout as PURE METADATA — zero data I/O, zero
    // epochs — so NEW writes lay out under the new spec while
    // committed files keep serving under their own (the per-file
    // __ptime/__bucket/__ident rows identify each file's spec). At
    // 100 TB a spec change must never cost a table rewrite; the
    // whole-table KeyGroupedPartitioning report honestly stays off
    // until one spec covers the manifest again, while zone-map
    // pruning keeps biting on BOTH populations. ev_ok gates the
    // zero-epoch evolution, the mixed per-file spec rows, the honest
    // no-single-layout report, and pruning on each population.
    "q_catalog_spec_evolution" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cse_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("ts"), col("value"))
        ev.filter(col("ts") < lit("2024-01-08")).createOrReplaceTempView("cse_src")
        s.sql(s"CREATE TABLE graft.`$root` PARTITIONED BY (days(ts)) " +
          "AS SELECT * FROM cse_src")
        val days = graft.sink.ManifestSink.ptimeSpec(s, root, 1)
        s.sql(s"ALTER TABLE graft.`$root` SET PARTITION SPEC (hours(ts))")
        val metadataOnly =
          graft.sink.ManifestSink.currentEpoch(s, root) == 1 &&
            graft.sink.ManifestSink.ptimeSpec(s, root, 1) == days
        ev.filter(col("ts") >= lit("2024-01-08") && col("ts") < lit("2024-01-09"))
          .createOrReplaceTempView("cse_b2")
        s.sql(s"INSERT INTO graft.`$root` SELECT * FROM cse_b2")
        val specs = graft.sink.SnapshotCache.statRows(s, root, 2).get
          .filter(_.getString(1).startsWith("__ptime:"))
          .map(_.getString(1)).distinct.toSet
        val mixedHonest = specs == Set("__ptime:ts:days", "__ptime:ts:hours") &&
          graft.sink.ManifestSink.ptimeSpec(s, root, 2).isEmpty
        val total = graft.sink.ManifestSink.manifestFiles(s, root, 2).size
        // old population: a one-day scan prunes below the table
        s.sql(s"SELECT count(*) AS c FROM graft.`$root` " +
          "WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' " +
          "AND ts < TIMESTAMP '2024-01-04 00:00:00'").collect()
        val oldPrune = graft.catalog.GraftTable.lastPlannedFiles
        // new population: a one-hour scan prunes to the hour's files
        s.sql(s"SELECT count(*) AS c FROM graft.`$root` " +
          "WHERE ts >= TIMESTAMP '2024-01-08 03:00:00' " +
          "AND ts < TIMESTAMP '2024-01-08 04:00:00'").collect()
        val newPrune = graft.catalog.GraftTable.lastPlannedFiles
        val evOk = metadataOnly && mixedHonest &&
          oldPrune < total && oldPrune <= 2 && newPrune <= 2
        s.sql(s"""SELECT CAST(date_trunc('DAY', ts) AS TIMESTAMP) AS day,
                 |  count(*) AS n, min(event_id) AS lo, max(event_id) AS hi
                 |FROM graft.`$root` GROUP BY 1 ORDER BY day""".stripMargin)
          .withColumn("ev_ok", lit(evOk))
      },
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n,
        |  min(event_id) AS lo, max(event_id) AS hi, TRUE AS ev_ok
        |FROM events WHERE ts < TIMESTAMP '2024-01-09 00:00:00'
        |GROUP BY 1 ORDER BY day""".stripMargin),
    // SCOPED SPEC CONVERGENCE + MIXED-SPEC GROUPED SCANS (round 18 —
    // r17 VERDICT #3/#4): `OPTIMIZE ... CONVERGE PARTITION SPEC`
    // re-lays ONLY the files whose per-file spec rows differ from the
    // declared spec (cost ∝ the stale fraction — a 99%-converged
    // 100 TB table converges for 1% of a full re-lay), restoring the
    // whole-table KeyGroupedPartitioning report; meanwhile a scan
    // PRUNED to the converged population reports that population's
    // layout, so two half-converged tables storage-partition-join on
    // their converged data without waiting. cv_ok gates: honest
    // no-report while mixed, the shuffle-free converged-population
    // join (AQE-aware probe), stale==old-population convergence with
    // converged files carried VERBATIM, the report's return, and the
    // zero-epoch idempotent re-run.
    "q_catalog_spec_converge" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val base = tmpDir("graft_ccv_")
        val (r1, r2) = (s"$base/a", s"$base/b")
        val ev = events(s, d).select(col("event_id"), col("ts"), col("value"))
        ev.filter(col("ts") < lit("2024-01-05")).createOrReplaceTempView("ccv_old")
        ev.filter(col("ts") >= lit("2024-01-05") && col("ts") < lit("2024-01-08"))
          .createOrReplaceTempView("ccv_new")
        Seq(r1, r2).foreach { r =>
          s.sql(s"CREATE TABLE graft.`$r` AS SELECT * FROM ccv_old")
          s.sql(s"ALTER TABLE graft.`$r` SET PARTITION SPEC (days(ts))")
          s.sql(s"INSERT INTO graft.`$r` SELECT * FROM ccv_new")
        }
        val mixedHonest =
          graft.sink.ManifestSink.ptimeSpec(s, r1, 2).isEmpty
        // mixed-spec grouped scan: both sides prune to the CONVERGED
        // population and the join plans zero shuffles
        val spjKeys = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = spjKeys.map { case (k, _) => k -> s.conf.getOption(k) }
        val mixedSpj =
          try {
            spjKeys.foreach { case (k, v) => s.conf.set(k, v) }
            val j = s.sql(s"SELECT a.ts, a.value + b.value AS v " +
              s"FROM graft.`$r1` a JOIN graft.`$r2` b ON a.ts = b.ts " +
              "WHERE a.ts >= TIMESTAMP '2024-01-05 00:00:00' " +
              "AND b.ts >= TIMESTAMP '2024-01-05 00:00:00'")
            j.collect()
            graft.plans.PlanProbe.joins(j).nonEmpty &&
              graft.plans.PlanProbe.shuffles(j).isEmpty
          } finally prev.foreach {
            case (k, Some(v)) => s.conf.set(k, v)
            case (k, None) => s.conf.unset(k)
          }
        val entries = graft.sink.ManifestSink.manifestEntries(s, r1, 2).map(_._1)
        val newPop = entries.filter(_.startsWith("data-epoch=2-")).toSet
        val res = s.sql(s"OPTIMIZE graft.`$r1` CONVERGE PARTITION SPEC")
          .collect()(0)
        val after = graft.sink.ManifestSink.manifestEntries(s, r1, 3).map(_._1).toSet
        val converged =
          res.getInt(2) == entries.size - newPop.size &&
            newPop.subsetOf(after) &&
            graft.sink.ManifestSink.ptimeSpec(s, r1, 3).isDefined
        // idempotent: the second converge commits NO epoch
        val res2 = s.sql(s"OPTIMIZE graft.`$r1` CONVERGE PARTITION SPEC")
          .collect()(0)
        val noop = res2.getInt(2) == 0 &&
          graft.sink.ManifestSink.currentEpoch(s, r1) == 3
        val cvOk = mixedHonest && mixedSpj && converged && noop
        s.sql(s"""SELECT CAST(date_trunc('DAY', ts) AS TIMESTAMP) AS day,
                 |  count(*) AS n, min(event_id) AS lo, max(event_id) AS hi
                 |FROM graft.`$r1` GROUP BY 1 ORDER BY day""".stripMargin)
          .withColumn("cv_ok", lit(cvOk))
      },
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n,
        |  min(event_id) AS lo, max(event_id) AS hi, TRUE AS cv_ok
        |FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
        |GROUP BY 1 ORDER BY day""".stripMargin),
    // IDENTITY PARTITION TRANSFORM (round 17 — `PARTITIONED BY (lang)`,
    // the Iceberg identity transform; the reference's own `location`
    // secondary-index pattern, `cassandra/init.cql:81-82`, as a layout,
    // and the natural corpus-slicing spec for documents.lang/source):
    // every committed file holds exactly one value, proven by
    // `__ident` stats rows, so (a) `WHERE lang = ?` plans EXACTLY that
    // value's files via the ordinary zone maps; (b) the scan reports
    // KeyGroupedPartitioning(identity(lang)) and two same-layout
    // tables storage-partition-join on lang with zero shuffles;
    // (c) appends lay out only the batch; (d) a CoW UPDATE re-lays its
    // replacement files and KEEPS the layout (the round-17 layout-
    // preserving rewrite, VERDICT r16 weak). id_ok gates the committed
    // spec, exact per-value pruning, the shuffle-free SPJ, the
    // spec-preserving append, and the spec-preserving UPDATE.
    "q_catalog_identity_layout" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val base = tmpDir("graft_cid_")
        val (r1, r2) = (s"$base/a", s"$base/b")
        val docs = documents(s, d).select(col("doc_id"), col("lang"))
        docs.filter(col("doc_id") % 5 =!= 0).createOrReplaceTempView("cid_src")
        s.sql(s"CREATE TABLE graft.`$r1` PARTITIONED BY (lang) " +
          "AS SELECT * FROM cid_src")
        val spec1 = graft.sink.ManifestSink.identSpec(s, r1, 1)
        val specOk = spec1.exists(sp => sp.col == "lang" && sp.isString &&
          sp.width.isEmpty)
        // exact per-value pruning: WHERE lang = 'fr' plans exactly the
        // files committed under 'fr'
        val frC = s.sql(s"SELECT count(*) AS c FROM graft.`$r1` " +
          "WHERE lang = 'fr'").collect()(0).getLong(0)
        val frFiles = spec1.get.fileStrs.count(_._2 == "fr")
        val pruneOk = frC > 0 &&
          graft.catalog.GraftTable.lastPlannedFiles == frFiles &&
          frFiles < spec1.get.fileStrs.size
        // the append lays out only the batch; the spec carries
        docs.filter(col("doc_id") % 5 === 0).createOrReplaceTempView("cid_b2")
        s.sql(s"INSERT INTO graft.`$r1` SELECT * FROM cid_b2")
        val spec2 = graft.sink.ManifestSink.identSpec(s, r1, 2)
        val appendKept = spec2.isDefined && spec1.get.fileStrs.forall {
          case (f, v) => spec2.get.fileStrs.get(f).contains(v) }
        // identity SPJ: same-layout tables join on lang shuffle-free
        docs.createOrReplaceTempView("cid_all")
        s.sql(s"CREATE TABLE graft.`$r2` PARTITIONED BY (lang) " +
          "AS SELECT * FROM cid_all")
        val spjKeys = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = spjKeys.map { case (k, _) => k -> s.conf.getOption(k) }
        val spjOk =
          try {
            spjKeys.foreach { case (k, v) => s.conf.set(k, v) }
            val j = s.sql(s"SELECT a.lang, count(*) AS n FROM graft.`$r1` a " +
              s"JOIN graft.`$r2` b ON a.lang = b.lang GROUP BY a.lang")
            j.collect()
            graft.plans.PlanProbe.joins(j).nonEmpty &&
              graft.plans.PlanProbe.joinInputShuffles(j).isEmpty
          } finally prev.foreach {
            case (k, Some(v)) => s.conf.set(k, v)
            case (k, None) => s.conf.unset(k)
          }
        // layout-preserving CoW: an UPDATE keeps the identity spec
        s.sql(s"UPDATE graft.`$r1` SET lang = lang WHERE doc_id < 5")
        val e3 = graft.sink.ManifestSink.currentEpoch(s, r1)
        val cowKept = graft.sink.ManifestSink.identSpec(s, r1, e3)
          .exists(_.col == "lang")
        val idOk = specOk && pruneOk && appendKept && spjOk && cowKept
        s.sql(s"""SELECT lang, count(*) AS n, min(doc_id) AS lo,
                 |  max(doc_id) AS hi
                 |FROM graft.`$r1` GROUP BY lang ORDER BY lang""".stripMargin)
          .withColumn("id_ok", lit(idOk))
      },
      """SELECT lang, count(*) AS n, min(doc_id) AS lo, max(doc_id) AS hi,
        |  TRUE AS id_ok
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    // TRUNCATE PARTITION TRANSFORM (round 17 — Iceberg
    // `truncate(w, col)`): strings lay out by their first-w-char
    // prefix, integers floor to the width's multiple (negatives floor
    // toward -inf, the Iceberg spec), each file single-prefix proven
    // by `__trunc` rows; a join on the FULL key still plans
    // shuffle-free because equal keys share a prefix — SPJ rides the
    // catalog's V2 `truncate` function, declared identically to the
    // write-side placement. tr_ok gates the committed spec, the
    // prefix invariant, the integral floor values, and the
    // shuffle-free full-key SPJ.
    "q_catalog_truncate_layout" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val base = tmpDir("graft_ctr_")
        val (r1, r2) = (s"$base/a", s"$base/b")
        val docs = documents(s, d).select(col("doc_id"), col("source"))
        docs.createOrReplaceTempView("ctr_src")
        s.sql(s"CREATE TABLE graft.`$r1` PARTITIONED BY (truncate(4, source)) " +
          "AS SELECT * FROM ctr_src")
        val spec = graft.sink.ManifestSink.identSpec(s, r1, 1)
        val specOk = spec.exists(sp => sp.col == "source" &&
          sp.width.contains(4) && sp.isString) &&
          spec.get.fileStrs.values.forall(_.length <= 4)
        // integral truncate floors (the Iceberg arithmetic)
        val rI = s"$base/i"
        import s.implicits._
        Seq(-5L, -1L, 0L, 3L, 10L, 19L).toDF("v")
          .createOrReplaceTempView("ctr_ints")
        s.sql(s"CREATE TABLE graft.`$rI` PARTITIONED BY (truncate(10, v)) " +
          "AS SELECT * FROM ctr_ints")
        val intOk = graft.sink.ManifestSink.identSpec(s, rI, 1)
          .exists(_.fileLongs.values.toSet == Set(-10L, 0L, 10L))
        // full-key SPJ through the V2 truncate function
        s.sql(s"CREATE TABLE graft.`$r2` PARTITIONED BY (truncate(4, source)) " +
          "AS SELECT * FROM ctr_src")
        val spjKeys = Seq(
          "spark.sql.sources.v2.bucketing.enabled" -> "true",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
          "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1")
        val prev = spjKeys.map { case (k, _) => k -> s.conf.getOption(k) }
        val spjOk =
          try {
            spjKeys.foreach { case (k, v) => s.conf.set(k, v) }
            val j = s.sql(s"SELECT a.source, count(*) AS n FROM graft.`$r1` a " +
              s"JOIN graft.`$r2` b ON a.source = b.source GROUP BY a.source")
            j.collect()
            graft.plans.PlanProbe.joins(j).nonEmpty &&
              graft.plans.PlanProbe.joinInputShuffles(j).isEmpty
          } finally prev.foreach {
            case (k, Some(v)) => s.conf.set(k, v)
            case (k, None) => s.conf.unset(k)
          }
        val trOk = specOk && intOk && spjOk
        s.sql(s"""SELECT source, count(*) AS n, min(doc_id) AS lo
                 |FROM graft.`$r1` GROUP BY source ORDER BY source""".stripMargin)
          .withColumn("tr_ok", lit(trOk))
      },
      """SELECT source, count(*) AS n, min(doc_id) AS lo, TRUE AS tr_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // WRITE-AUDIT-PUBLISH (round 15 — Iceberg's `spark.wap.id`
    // discipline): an INSERT under `spark.graft.wap.id` STAGES its
    // epoch (data written, layout applied, constraints audited) but
    // publishes NOTHING — readers keep the pre-stage snapshot; the
    // staged increment audits as the `@wap:<id>` table (composable,
    // joins against the live table); `PUBLISH WAP <id>` commits it in
    // ONE CAS, rebasing through racing appends with the live-INSERT
    // ladder (staged files reused verbatim, constraints re-audited
    // per rebase); `DROP WAP` discards to vacuum debris. wap_ok gates
    // pre-publish invisibility, the audit count, and the publish
    // landing ABOVE a racing live insert with all rows intact.
    "q_catalog_wap" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cwap_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 200).createOrReplaceTempView("cwap_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cwap_src")
        s.conf.set("spark.graft.wap.id", "b2")
        try s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 1000, " +
          "user_id, value FROM cwap_src WHERE event_id < 100")
        finally s.conf.unset("spark.graft.wap.id")
        val invisible =
          s.table(s"graft.`$root`").count() == 200L &&
          graft.sink.ManifestSink.currentEpoch(s, root) == 1
        val auditOk = s.sql(s"SELECT count(*) AS c, min(event_id) AS lo " +
          s"FROM graft.`$root@wap:b2`").collect()(0) match {
          case r => r.getLong(0) == 100L && r.getLong(1) == 1000L
        }
        // a LIVE insert races past the stage before it publishes
        s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 2000, user_id, " +
          "value FROM cwap_src WHERE event_id < 50")
        val pub = s.sql(s"PUBLISH WAP b2 ON graft.`$root`").collect()(0)
        val wapOk = invisible && auditOk && pub.getInt(2) == 3
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |ORDER BY event_id""".stripMargin)
          .withColumn("wap_ok", lit(wapOk))
      },
      """SELECT * FROM (
        |  SELECT event_id, user_id, value, TRUE AS wap_ok FROM events
        |  WHERE event_id < 200
        |  UNION ALL
        |  SELECT event_id + 1000, user_id, value, TRUE FROM events
        |  WHERE event_id < 100
        |  UNION ALL
        |  SELECT event_id + 2000, user_id, value, TRUE FROM events
        |  WHERE event_id < 50
        |) ORDER BY event_id""".stripMargin),
    // BRANCH REFS (round 16 — the multi-epoch WAP generalization /
    // Iceberg's writable branch refs): `CREATE BRANCH` opens a
    // writable ref at the current snapshot (base epoch PINNED against
    // vacuum for the ref's life), INSERTs under `spark.graft.branch`
    // stage CUMULATIVELY — an audit PIPELINE of N epochs, reader-
    // invisible, auditable as `@branch:<name>` and listed under
    // `@branches` — and `PUBLISH BRANCH` fast-forwards the whole
    // pipeline onto the live table in ONE commit CAS through the
    // rebase ladder (atomically above any racing live write; racer
    // rows survive). `DROP BRANCH` discards to vacuum debris. br_ok
    // gates two-stage invisibility, the cumulative audit count, the
    // listing, and the publish landing above the race as one epoch.
    "q_catalog_branch" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cbr_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 200).createOrReplaceTempView("cbr_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cbr_src")
        s.sql(s"CREATE BRANCH rel ON graft.`$root`")
        s.conf.set("spark.graft.branch", "rel")
        try {
          s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 1000, " +
            "user_id, value FROM cbr_src WHERE event_id < 100")
          s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 2000, " +
            "user_id, value FROM cbr_src WHERE event_id < 50")
        } finally s.conf.unset("spark.graft.branch")
        // two staged epochs, nothing reader-visible
        val invisible = s.table(s"graft.`$root`").count() == 200L &&
          graft.sink.ManifestSink.currentEpoch(s, root) == 1
        // the cumulative increment audits; the ref lists
        val auditOk = s.sql(s"SELECT count(*) AS c, min(event_id) AS lo " +
          s"FROM graft.`$root@branch:rel`").collect()(0) match {
          case r => r.getLong(0) == 150L && r.getLong(1) == 1000L
        }
        val listOk = s.table(s"graft.`$root@branches`").collect() match {
          case Array(r) => r.getString(0) == "rel" && r.getInt(1) == 1 &&
            r.getInt(2) == 3
          case _ => false
        }
        // a LIVE insert races below the publish; the fast-forward
        // lands the whole pipeline as ONE epoch above it
        s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 3000, user_id, " +
          "value FROM cbr_src WHERE event_id < 20")
        val pub = s.sql(s"PUBLISH BRANCH rel ON graft.`$root`").collect()(0)
        val brOk = invisible && auditOk && listOk &&
          pub.getInt(2) == graft.sink.ManifestSink.currentEpoch(s, root) &&
          pub.getInt(4) == 2 &&
          graft.sink.ManifestSink.liveBranchStages(s, root).isEmpty
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |ORDER BY event_id""".stripMargin)
          .withColumn("br_ok", lit(brOk))
      },
      """SELECT * FROM (
        |  SELECT event_id, user_id, value, TRUE AS br_ok FROM events
        |  WHERE event_id < 200
        |  UNION ALL
        |  SELECT event_id + 1000, user_id, value, TRUE FROM events
        |  WHERE event_id < 100
        |  UNION ALL
        |  SELECT event_id + 2000, user_id, value, TRUE FROM events
        |  WHERE event_id < 50
        |  UNION ALL
        |  SELECT event_id + 3000, user_id, value, TRUE FROM events
        |  WHERE event_id < 20
        |) ORDER BY event_id""".stripMargin),
    // BRANCH DML (round 17 — the fix-up half of the ingest-audit-
    // release pipeline): a keyed DELETE under `spark.graft.branch`
    // stages a MERGE-ON-READ delete vector onto the branch's
    // cumulative state — zero data I/O, zero live-table change — so a
    // curation pipeline expresses "ingest, then take down bad keys,
    // then publish" entirely on the branch. The `@branch` audit shows
    // the NET increment (staged inserts minus staged takedowns,
    // applied reader-side like every MoR scan); the fast-forward
    // publish carries the DV into the live marker SCOPED ABOVE
    // everything pre-publish, so the takedown hits base rows, staged
    // rows, and racing live writes alike. Refusals keep it honest:
    // INSERT after a branch delete (scope ordering), UPDATE/MERGE
    // under a branch (would rewrite the live table). bd_ok gates
    // live-invisibility of the staged delete, the net audit state,
    // both refusals, and the publish landing above the race.
    "q_catalog_branch_dml" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cbd_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 200).createOrReplaceTempView("cbd_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cbd_src")
        s.sql(s"CREATE BRANCH fix ON graft.`$root`")
        s.conf.set("spark.graft.branch", "fix")
        val (audited, refusalsOk) =
          try {
            s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 1000, " +
              "user_id, value FROM cbd_src WHERE event_id < 100")
            s.sql(s"DELETE FROM graft.`$root` " +
              "WHERE event_id IN (5, 1000, 1001)")
            // net audit: 100 staged inserts minus the 2 staged-key
            // takedowns (the base-key takedown applies at publish)
            val a = s.sql(s"SELECT count(*) AS c, min(event_id) AS lo " +
              s"FROM graft.`$root@branch:fix`").collect()(0)
            val insRefused =
              try { s.sql(s"INSERT INTO graft.`$root` " +
                "SELECT * FROM cbd_src WHERE event_id < 3"); false }
              catch { case e: Exception =>
                e.getMessage.contains("INSERT after a branch delete") }
            val updRefused =
              // round 18: branch UPDATE is supported WHEN the table
              // declares its merge key; this table does not, so the
              // statement refuses at the key requirement instead of
              // ever touching the live table
              try { s.sql(s"UPDATE graft.`$root` SET value = 0.0 " +
                "WHERE event_id = 7"); false }
              catch { case e: Exception =>
                e.getMessage.contains("unique merge key") }
            (a.getLong(0) == 98L && a.getLong(1) == 1002L,
              insRefused && updRefused)
          } finally s.conf.unset("spark.graft.branch")
        // the live table saw NOTHING from the staged delete
        val invisible = s.table(s"graft.`$root`").count() == 200L &&
          graft.sink.ManifestSink.commitDvs(s, root,
            graft.sink.ManifestSink.currentEpoch(s, root)).isEmpty
        // a live insert races below the publish; the takedown scopes
        // over it too (event 5's racing copy also vanishes)
        s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 3000, user_id, " +
          "value FROM cbd_src WHERE event_id < 20")
        val pub = s.sql(s"PUBLISH BRANCH fix ON graft.`$root`").collect()(0)
        val bdOk = audited && refusalsOk && invisible && pub.getInt(4) == 2 &&
          graft.sink.ManifestSink.liveBranchStages(s, root).isEmpty
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |ORDER BY event_id""".stripMargin)
          .withColumn("bd_ok", lit(bdOk))
      },
      """SELECT * FROM (
        |  SELECT event_id, user_id, value, TRUE AS bd_ok FROM events
        |  WHERE event_id < 200 AND event_id <> 5
        |  UNION ALL
        |  SELECT event_id + 1000, user_id, value, TRUE FROM events
        |  WHERE event_id < 100 AND event_id >= 2
        |  UNION ALL
        |  SELECT event_id + 3000, user_id, value, TRUE FROM events
        |  WHERE event_id < 20
        |) ORDER BY event_id""".stripMargin),
    // BRANCH UPDATE / MERGE (round 18 — the correction half of branch
    // DML, completing ingest → fix-up → publish): under
    // `spark.graft.branch`, UPDATE and MERGE stage MERGE-ON-READ onto
    // the branch chain — matched keys land in an UPDATE-CLASS vector
    // (`dv-N.u.*`) that at publish hides their BASE and RACING copies
    // while exempting every branch file; branch-private copies of
    // matched keys are rewritten at stage time (bounded by the branch
    // increment). The statement evaluates against the BRANCH-VISIBLE
    // state, so a fix-up corrects staged rows and base rows alike,
    // and the live table sees nothing until the one-CAS publish.
    // bu_ok gates live-invisibility of both corrections, the
    // corrected audit state (staged copy AND base copy show the fix),
    // no live DVs pre-publish, and the consumed ref; the final SELECT
    // hashes the published state — base rows minus hidden copies,
    // corrections, the merge insert, and the racer (whose copy of a
    // corrected key the update vector takes down).
    "q_catalog_branch_update" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cbu_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 200).createOrReplaceTempView("cbu_base")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cbu_base")
        s.sql(s"ALTER TABLE graft.`$root` " +
          "SET TBLPROPERTIES ('graft.mergeKey' = 'event_id')")
        s.sql(s"CREATE BRANCH fixup ON graft.`$root`")
        s.sql("SELECT CAST(9 AS BIGINT) AS sid, -2.0 AS sval " +
          "UNION ALL SELECT CAST(5000 AS BIGINT), 55.5")
          .createOrReplaceTempView("cbu_src")
        s.conf.set("spark.graft.branch", "fixup")
        val auditOk =
          try {
            s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 1000, " +
              "user_id, value FROM cbu_base WHERE event_id < 100")
            // fix-up UPDATE: one base key (7), one branch-staged key
            // (1003) — the branch state sees both
            s.sql(s"UPDATE graft.`$root` SET value = -1.0 " +
              "WHERE event_id IN (7, 1003)")
            // fix-up MERGE: correct base key 9, insert key 5000
            s.sql(s"MERGE INTO graft.`$root` t USING cbu_src s " +
              "ON t.event_id = s.sid " +
              "WHEN MATCHED THEN UPDATE SET value = s.sval " +
              "WHEN NOT MATCHED THEN INSERT (event_id, user_id, value) " +
              "VALUES (s.sid, CAST(0 AS BIGINT), s.sval)")
            val a = s.table(s"graft.`$root@branch:fixup`")
            a.count() == 103L &&
              a.filter(col("event_id") === 1003).collect()(0)
                .getDouble(2) == -1.0 &&
              a.filter(col("event_id") === 7).collect()(0)
                .getDouble(2) == -1.0 &&
              a.filter(col("event_id") === 9).collect()(0)
                .getDouble(2) == -2.0 &&
              a.filter(col("event_id") === 5000).count() == 1L
          } finally s.conf.unset("spark.graft.branch")
        // the live table saw NOTHING from the staged corrections
        val invisible = s.table(s"graft.`$root`").count() == 200L &&
          s.table(s"graft.`$root`").filter(col("event_id") === 7)
            .collect()(0).getDouble(2) != -1.0 &&
          graft.sink.ManifestSink.commitDvs(s, root,
            graft.sink.ManifestSink.currentEpoch(s, root)).isEmpty
        // a live insert races below the publish, including a copy of a
        // corrected key — the update vector takes it down too
        s.sql(s"INSERT INTO graft.`$root` SELECT event_id + 4000, user_id, " +
          "value FROM cbu_base WHERE event_id < 10")
        s.sql(s"INSERT INTO graft.`$root` " +
          "SELECT CAST(7 AS BIGINT), CAST(0 AS BIGINT), 99.9")
        s.sql(s"PUBLISH BRANCH fixup ON graft.`$root`")
        val buOk = auditOk && invisible &&
          graft.sink.ManifestSink.liveBranchStages(s, root).isEmpty &&
          s.table(s"graft.`$root`").filter(col("event_id") === 7)
            .count() == 1L
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |ORDER BY event_id""".stripMargin)
          .withColumn("bu_ok", lit(buOk))
      },
      """SELECT * FROM (
        |  SELECT event_id, user_id, value, TRUE AS bu_ok FROM events
        |  WHERE event_id < 200 AND event_id NOT IN (7, 9)
        |  UNION ALL
        |  SELECT event_id + 1000, user_id, value, TRUE FROM events
        |  WHERE event_id < 100 AND event_id <> 3
        |  UNION ALL
        |  SELECT event_id, user_id, -1.0, TRUE FROM events WHERE event_id = 7
        |  UNION ALL
        |  SELECT event_id + 1000, user_id, -1.0, TRUE FROM events
        |  WHERE event_id = 3
        |  UNION ALL
        |  SELECT event_id, user_id, -2.0, TRUE FROM events WHERE event_id = 9
        |  UNION ALL
        |  SELECT 5000, 0, 55.5, TRUE
        |  UNION ALL
        |  SELECT event_id + 4000, user_id, value, TRUE FROM events
        |  WHERE event_id < 10
        |) ORDER BY event_id""".stripMargin),
    // METADATA TABLES (round 15 — Iceberg's inspection surface,
    // `db.t.files`/`partitions`/`history`, spelled with the same
    // `@`-suffix convention as `@changes`): committed metadata served
    // as composable SQL — `@files` (per-file size/row-count/commit-
    // epoch/layout-partition), `@partitions` (per layout value
    // rollup), `@history` (the audit log). METADATA-ONLY: rows come
    // from the snapshot-cached manifest/stats/markers as a driver
    // LocalScan, zero data-file opens (spec-pinned by poisoning every
    // data file) — at 100 TB the ops questions ("files per day
    // partition", "which epoch grew the table") cost O(manifest),
    // not a scan. meta_ok gates @files totals vs the committed
    // layout, the epoch pin, and the @history log shape.
    "q_catalog_meta_tables" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cmt_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("ts"), col("value"))
        ev.filter(col("ts") < lit("2024-01-08")).createOrReplaceTempView("cmt_src")
        s.sql(s"CREATE TABLE graft.`$root` PARTITIONED BY (days(ts)) " +
          "AS SELECT * FROM cmt_src")
        ev.filter(col("ts") >= lit("2024-01-08") && col("ts") < lit("2024-01-10"))
          .createOrReplaceTempView("cmt_b2")
        s.sql(s"INSERT INTO graft.`$root` SELECT * FROM cmt_b2")
        val spec = graft.sink.ManifestSink.ptimeSpec(s, root, 2).get
        val files = s.sql(s"SELECT * FROM graft.`$root@files`").collect()
        val filesOk = files.length == spec.fileOrds.size &&
          files.map(_.getLong(2)).sum == s.table(s"graft.`$root`").count() &&
          files.map(_.getInt(3)).toSet == Set(1, 2) &&
          files.forall(r => r.getLong(4) == spec.fileOrds(r.getString(0)).toLong)
        val pinOk = s.sql(s"SELECT count(*) AS c FROM graft.`$root@files:1`")
          .collect()(0).getLong(0) < files.length.toLong
        val hist = s.sql(s"SELECT * FROM graft.`$root@history` ORDER BY epoch")
          .collect()
        val histOk = hist.map(_.getInt(0)).toSeq == Seq(1, 2) &&
          hist(0).getInt(4) < hist(1).getInt(4)
        // snapshot tags: travel by name; the pin survives VACUUM
        s.sql(s"CREATE TAG before_b2 ON graft.`$root` AS OF VERSION 1")
        val tagTravel = s.sql(s"SELECT count(*) AS c FROM graft.`$root` " +
          "VERSION AS OF 'before_b2'").collect()(0).getLong(0)
        s.sql(s"VACUUM graft.`$root` RETAIN 1 EPOCHS")
        val tagKept = s.sql(s"SELECT count(*) AS c FROM graft.`$root` " +
          "VERSION AS OF 'before_b2'").collect()(0).getLong(0) == tagTravel
        val tagsOk = tagKept &&
          s.sql(s"SELECT * FROM graft.`$root@tags`").collect()
            .map(r => r.getString(0) -> r.getInt(1)).toSeq ==
            Seq("before_b2" -> 1)
        val metaOk = filesOk && pinOk && histOk && tagsOk
        s.sql(s"""SELECT partition AS day_ord, n_files, row_count
                 |FROM graft.`$root@partitions` ORDER BY partition""".stripMargin)
          .withColumn("meta_ok", lit(metaOk))
      },
      """SELECT CAST(floor(epoch(ts)/86400) AS BIGINT) AS day_ord,
        |  CAST(1 AS BIGINT) AS n_files, count(*) AS row_count,
        |  TRUE AS meta_ok
        |FROM events WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // BATCH CHANGE FEED BY NAME (round 14 — Delta's `table_changes`
    // TVF usable inside any SELECT): the `@changes` metadata table now
    // serves BATCH reads too, with the epoch range and diff key
    // spelled in the identifier for pure SQL
    // (`graft.`/p@changes:event_id:1-4``) or passed as read options.
    // The scan materializes the range's manifest-delta diff ONCE into
    // session-temp staging and plans parquet partitions over it —
    // O(epoch file delta) work, composable under WHERE/JOIN/GROUP BY
    // like any table. The demo drives insert, CoW-update, and
    // MoR-delete epochs and reads the feed purely as batch SQL;
    // tc_ok gates the full-range (snapshot-as-inserts) row count, the
    // per-type aggregate composing over the feed, and the
    // options-driven read matching the SQL spelling.
    "q_catalog_table_changes" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_ctc_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 100)
          .repartitionByRange(4, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("ctc_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM ctc_src")
        ev.filter(col("event_id") >= 100 && col("event_id") < 150)
          .createOrReplaceTempView("ctc_batch2")
        s.sql(s"INSERT INTO graft.`$root` SELECT * FROM ctc_batch2")
        s.sql(s"UPDATE graft.`$root` SET value = -5.0 WHERE event_id < 10")
        s.conf.set("spark.graft.delete.mode", "mor")
        try s.sql(s"DELETE FROM graft.`$root` WHERE event_id = 50")
        finally s.conf.unset("spark.graft.delete.mode")
        // the feed as PURE BATCH SQL, range (1, 4] via the identifier
        val feed = s.sql(
          s"""SELECT _change_type, _commit_epoch, event_id, user_id, value
             |FROM graft.`$root@changes:event_id:1-4`
             |ORDER BY _commit_epoch, _change_type, event_id""".stripMargin)
        val feedCount = feed.count()
        // composability: an aggregate OVER the feed, plain SQL
        val byType = s.sql(
          s"""SELECT _change_type, count(*) AS c
             |FROM graft.`$root@changes:event_id:1-4`
             |GROUP BY _change_type""".stripMargin)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val aggOk = byType == Map("insert" -> 50L, "update_preimage" -> 10L,
          "update_postimage" -> 10L, "delete" -> 1L)
        // full range opens with the snapshot-as-inserts
        val fullCount = s.sql(
          s"SELECT count(*) AS c FROM graft.`$root@changes:event_id`")
          .collect()(0).getLong(0)
        // options-driven batch read = the SQL spelling
        val viaOptions = s.read
          .option("changeFeedKey", "event_id")
          .option("fromEpoch", "1").option("toEpoch", "4")
          .table(s"graft.`$root@changes`").count()
        // the oracle-facing result stays a PLAN over the feed scan
        // (VERDICT r14 minor: no driver-side rebuild)
        val tcOk = aggOk && fullCount == 171L && viaOptions == feedCount
        feed.withColumn("tc_ok", lit(tcOk))
      },
      """SELECT * FROM (
        |  SELECT 'insert' AS _change_type, 2 AS _commit_epoch,
        |         event_id, user_id, value, TRUE AS tc_ok
        |  FROM events WHERE event_id >= 100 AND event_id < 150
        |  UNION ALL
        |  SELECT 'update_preimage', 3, event_id, user_id, value, TRUE
        |  FROM events WHERE event_id < 10
        |  UNION ALL
        |  SELECT 'update_postimage', 3, event_id, user_id, -5.0, TRUE
        |  FROM events WHERE event_id < 10
        |  UNION ALL
        |  SELECT 'delete', 4, event_id, user_id, value, TRUE
        |  FROM events WHERE event_id = 50
        |) ORDER BY _commit_epoch, _change_type, event_id""".stripMargin),
    // EPOCH-SCOPED DELETE VECTORS (round 13): each deleteMor batch
    // commits its OWN dv-N file that hides its keys only in data files
    // committed at epochs < N (the manifest records per-file commit
    // epochs — Iceberg's data-sequence-number discipline), so a key
    // RE-INSERTED after its takedown is visible again: there is no
    // single-key-space contract. scope_ok gates: exactly the
    // re-inserted row is visible (never the old hidden one), a later
    // delete of a different key leaves it alone, travel pins each
    // generation's visibility, the change feed emits the re-insert as
    // an insert, and the closing compaction is row-identical.
    "q_catalog_dv_scope" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cdvscope_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 400)
          .repartitionByRange(8, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("cdvscope_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cdvscope_src")
        // epoch 2: dv-2 hides keys 100-124
        graft.sink.ManifestSink.deleteMor(s, root,
          ev.filter(col("event_id").between(100, 124)).select(col("event_id")),
          "event_id")
        // epoch 3: re-insert key 110 — the appended file's epoch is
        // above dv-2's scope, so the new row is visible
        s.sql(s"INSERT INTO graft.`$root` VALUES (110, 9, -7.0)")
        val reRow = s.sql(
          s"SELECT user_id, value FROM graft.`$root` WHERE event_id = 110").collect()
        val reOk = reRow.length == 1 && reRow(0).getLong(0) == 9L &&
          reRow(0).getDouble(1) == -7.0
        // epoch 4: deleting another key leaves the re-insert alone
        graft.sink.ManifestSink.deleteMor(s, root,
          ev.filter(col("event_id") === 300).select(col("event_id")), "event_id")
        val travelOk =
          s.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 2").count() == 375L &&
            s.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 3").count() == 376L
        val feed = graft.sink.ManifestSink.tableChanges(s, root, "event_id", 2, 3)
          .collect()
        val feedOk = feed.length == 1 &&
          feed(0).getAs[String]("_change_type") == "insert"
        val dvView = s.sql(
          s"SELECT event_id, user_id, value FROM graft.`$root` ORDER BY event_id")
          .collect().toSeq
        graft.sink.ManifestSink.compact(s, root, Seq("event_id"))
        val matView = s.sql(
          s"SELECT event_id, user_id, value FROM graft.`$root` ORDER BY event_id")
        val rows = matView.collect()
        val scopeOk = reOk && travelOk && feedOk && rows.toSeq == dvView
        s.createDataFrame(java.util.Arrays.asList(rows: _*), matView.schema)
          .withColumn("scope_ok", lit(scopeOk))
      },
      """SELECT event_id, user_id, value, TRUE AS scope_ok FROM events
        |WHERE event_id < 400 AND event_id NOT BETWEEN 100 AND 124
        |  AND event_id <> 300
        |UNION ALL
        |SELECT CAST(110 AS BIGINT), CAST(9 AS BIGINT), -7.0, TRUE
        |ORDER BY event_id""".stripMargin),
    // COLUMN MAPPING (round 13): ALTER TABLE RENAME/DROP COLUMN as
    // METADATA-ONLY commits (Delta's column-mapping discipline) —
    // files keep stable PHYSICAL names; the logical rename touches
    // only the committed schema. map_ok gates: data files
    // byte-identical (lengths+mtimes) across rename AND drop, reads/
    // skipping/meta-agg under the new name, travel keeps the old
    // shape, a re-ADDED dropped name reads NULL (fresh physical name
    // — never resurrects), and appends after the rename land
    // correctly.
    "q_catalog_rename" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cren_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 300)
          .repartitionByRange(6, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("cren_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM cren_src")
        val conf = s.sparkContext.hadoopConfiguration
        def state(): Map[String, (Long, Long)] =
          graft.sink.ManifestSink.manifestFiles(s, root, 1).map { f =>
            val p = new org.apache.hadoop.fs.Path(f)
            val st = p.getFileSystem(conf).getFileStatus(p)
            f -> (st.getLen, st.getModificationTime)
          }.toMap
        val before = state()
        s.sql(s"ALTER TABLE graft.`$root` RENAME COLUMN value TO reading")
        s.sql(s"ALTER TABLE graft.`$root` DROP COLUMN user_id")
        val metadataOnly = state() == before
        // meta-agg + skipping under the NEW names
        s.sql(s"SELECT count(*) AS c, max(event_id) AS m FROM graft.`$root`")
          .collect()
        val metaOk = graft.catalog.GraftTable.lastMetaAggOnly
        s.sql(s"SELECT reading FROM graft.`$root` WHERE event_id < 10").collect()
        val total = graft.sink.ManifestSink.manifestEntries(s, root,
          graft.sink.ManifestSink.currentEpoch(s, root)).size
        val skipOk = graft.catalog.GraftTable.lastPlannedFiles < total
        // travel keeps the pre-rename shape
        val travelOk = s.sql(s"SELECT * FROM graft.`$root` VERSION AS OF 1")
          .schema.fieldNames.toSeq == Seq("event_id", "user_id", "value")
        // a re-added dropped name reads NULL (fresh physical name)
        s.sql(s"ALTER TABLE graft.`$root` ADD COLUMNS (user_id BIGINT)")
        val nulls = s.sql(s"SELECT user_id FROM graft.`$root`").collect()
        val noResurrect = nulls.nonEmpty && nulls.forall(_.isNullAt(0))
        // post-rename appends land correctly
        s.sql(s"INSERT INTO graft.`$root` VALUES (900000, 0.25, 42)")
        val appended = s.sql(
          s"SELECT reading FROM graft.`$root` WHERE event_id = 900000")
          .collect()(0).getDouble(0) == 0.25
        val mapOk = metadataOnly && metaOk && skipOk && travelOk &&
          noResurrect && appended
        s.sql(s"""SELECT event_id, reading FROM graft.`$root`
                 |WHERE event_id < 250 ORDER BY event_id""".stripMargin)
          .withColumn("map_ok", lit(mapOk))
      },
      """SELECT event_id, value AS reading, TRUE AS map_ok FROM events
        |WHERE event_id < 250 ORDER BY event_id""".stripMargin),
    // CATALOG DDL COMPLETENESS (round 13): TBLPROPERTIES persisted in
    // the table sidecar (CREATE ... TBLPROPERTIES / SET / UNSET /
    // SHOW), SHOW CREATE TABLE reconstructing the statement, and
    // TRUNCATE TABLE as a METADATA epoch (empty file list; schema
    // pinned; pre-truncate epochs stay travelable until vacuum).
    "q_catalog_ddl" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_cddl_") + "/t"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 150).createOrReplaceTempView("cddl_src")
        s.sql(s"CREATE TABLE graft.`$root` TBLPROPERTIES ('team'='ml') " +
          "AS SELECT * FROM cddl_src")
        s.sql(s"ALTER TABLE graft.`$root` SET TBLPROPERTIES ('tier'='gold')")
        s.sql(s"ALTER TABLE graft.`$root` UNSET TBLPROPERTIES ('team')")
        val props = s.sql(s"SHOW TBLPROPERTIES graft.`$root`").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        val propsOk = props.get("tier").contains("gold") && !props.contains("team")
        val ddl = s.sql(s"SHOW CREATE TABLE graft.`$root`")
          .collect()(0).getString(0)
        val showOk = ddl.contains("CREATE TABLE") && ddl.contains("'tier' = 'gold'")
        s.sql(s"TRUNCATE TABLE graft.`$root`")
        val truncOk =
          s.sql(s"SELECT count(*) AS c FROM graft.`$root`")
            .collect()(0).getLong(0) == 0L &&
          s.sql(s"SELECT count(*) AS c FROM graft.`$root` VERSION AS OF 1")
            .collect()(0).getLong(0) == 150L
        s.sql(s"INSERT INTO graft.`$root` SELECT * FROM cddl_src")
        val ddlOk = propsOk && showOk && truncOk
        s.sql(s"""SELECT event_id, user_id, value FROM graft.`$root`
                 |WHERE event_id < 100 ORDER BY event_id""".stripMargin)
          .withColumn("ddl_ok", lit(ddlOk))
      },
      """SELECT event_id, user_id, value, TRUE AS ddl_ok FROM events
        |WHERE event_id < 100 ORDER BY event_id""".stripMargin),
    // CHANGE FEED BY TABLE NAME (round 13): the Iceberg-style
    // `@changes` metadata table — `readStream.table("graft.`/p@changes`")`
    // streams the row-level CDF with NO format()/path side-channel:
    // opening batch = snapshot-as-inserts, a mid-stream CoW UPDATE
    // arrives as an update_preimage/update_postimage pair, a MoR
    // delete landing while the stream is DOWN arrives after restart as
    // exactly its delete row (checkpointed epoch offsets — no snapshot
    // replay; exactly-once). cdf_ok gates the restart emitting ONLY
    // the missed delete.
    "q_catalog_stream_cdf" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val base = tmpDir("graft_ccdf_")
        val root = s"$base/t"
        val ckpt = s"$base/ckpt"
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        ev.filter(col("event_id") < 100)
          .repartitionByRange(4, col("event_id"))
          .sortWithinPartitions("event_id")
          .createOrReplaceTempView("ccdf_src")
        s.sql(s"CREATE TABLE graft.`$root` AS SELECT * FROM ccdf_src")
        val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
        def start() = s.readStream
          .option("changeFeedKey", "event_id")
          .table(s"graft.`$root@changes`")
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val rows = b.select("event_id", "_change_type").collect()
            seen.synchronized {
              seen ++= rows.map(r => (r.getLong(0), r.getString(1)))
            }; ()
          }.start()
        val q1 = start()
        try {
          q1.processAllAvailable()
          s.sql(s"UPDATE graft.`$root` SET value = -1.0 WHERE event_id = 7")
          q1.processAllAvailable()
        } finally q1.stop()
        // a MoR delete lands while no stream runs; the restart resumes
        // from the checkpoint and emits exactly the missed delete
        graft.sink.ManifestSink.deleteMor(s, root,
          ev.filter(col("event_id") === 3).select(col("event_id")), "event_id")
        val before = seen.size
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
        val fresh = seen.drop(before).toSet
        val cdfOk = fresh == Set((3L, "delete"))
        import s.implicits._
        seen.toSeq.toDF("event_id", "_change_type")
          .withColumn("cdf_ok", lit(cdfOk))
          .orderBy(col("event_id"), col("_change_type"))
      },
      """SELECT event_id, _change_type, TRUE AS cdf_ok FROM (
        |  SELECT event_id, 'insert' AS _change_type FROM events WHERE event_id < 100
        |  UNION ALL SELECT 7, 'update_preimage'
        |  UNION ALL SELECT 7, 'update_postimage'
        |  UNION ALL SELECT 3, 'delete')
        |ORDER BY event_id, _change_type""".stripMargin),
    // MERGE-ON-READ DELETES (round 11): Iceberg equality-delete
    // parity — deleteMor commits the SAME file list plus a keys-only
    // delete vector (pure metadata + a KB write; zero data I/O), read
    // applies it as one broadcast anti join, appends CARRY the DV by
    // reference, and compact MATERIALIZES it away (rewrite-data-files
    // + drop-deletes). mor_ok gates epoch-pinned travel (epoch 2 sees
    // only the first DV generation) and that the closing compaction
    // really dropped the DV line while preserving content.
    "q_manifest_mor" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_mmor_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        graft.sink.ManifestSink.deleteMor(s, root,
          ev.filter(col("event_id").between(50, 99)).select(col("event_id")),
          "event_id")
        graft.sink.ManifestSink.deleteMor(s, root,
          ev.filter(col("event_id") % 10 === 7).select(col("event_id")),
          "event_id")
        graft.sink.ManifestSink.publish(
          ev.filter(col("event_id") < 10)
            .select((col("event_id") + 1000000L).as("event_id"),
              col("user_id"), col("value")),
          root, 4, graft.sink.ManifestSink.WriteSpec(Seq("event_id")), append = true)
        val travel = graft.sink.ManifestSink.read(s, root, 2)
        val travelOk =
          travel.filter(col("event_id").between(50, 99)).count() == 0 &&
            travel.filter(col("event_id") % 10 === 7 && col("event_id") < 50).count() > 0
        val c4 = graft.sink.ManifestSink.read(s, root).count()
        graft.sink.ManifestSink.compact(s, root, Seq("event_id"))
        val matOk = graft.sink.ManifestSink.commitDv(s, root, 5).isEmpty &&
          graft.sink.ManifestSink.read(s, root).count() == c4
        graft.sink.ManifestSink.read(s, root)
          .withColumn("mor_ok", lit(travelOk && matOk))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS mor_ok FROM events
        |WHERE event_id NOT BETWEEN 50 AND 99 AND event_id % 10 <> 7
        |UNION ALL
        |SELECT event_id + 1000000, user_id, value, TRUE FROM events
        |WHERE event_id < 10
        |ORDER BY event_id""".stripMargin),
    // CONTINUOUS MATERIALIZED VIEW (round 11): the change feed
    // streams through the graft-manifest source and every micro-batch
    // folds into the per-user (count, sum) view as one atomic epoch
    // carrying the batchId txn — exactly-once under the demo's
    // crash-after-view-commit replay (a double-applied delta would
    // double-count every changed key and break the hash). ivm_ok
    // gates epochs == 3 batches (no replay epoch) and attempts == 4
    // (the crash really ran).
    "q_stream_ivm" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val (frame, epochs, attempts) = graft.streaming.StreamIvm.demo(s, d)
        frame.select(col("user_id"), col("cnt"),
            col("sum_value").cast("double").as("sum_value"))
          .withColumn("ivm_ok", lit(epochs == 3 && attempts == 4))
      },
      """WITH final AS (
        |  SELECT user_id,
        |    CASE WHEN event_id < 100 THEN value + 2 ELSE value END AS value
        |  FROM events WHERE event_id NOT BETWEEN 200 AND 299
        |)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DECIMAL(38,4)) AS DOUBLE)
        |    AS sum_value,
        |  TRUE AS ivm_ok
        |FROM final GROUP BY user_id ORDER BY user_id""".stripMargin),
    // WAP EXPECTATIONS (round 11): the audit step of
    // write-audit-publish made real — expect-or-drop (DLT quarantine):
    // rows failing a CHECK land in the sibling quarantine table tagged
    // with the failed expectation names, passing rows publish. The
    // output unions both dispositions, so a row leaking to the wrong
    // side (or the tag misnaming its expectation) breaks the hash. The
    // never-failing uid expectation pins that only FALSE violates
    // (NULL passes, SQL CHECK semantics). The strict reject path
    // (publishExpect) is spec-pinned: a violating batch throws and the
    // table still reads the prior epoch.
    "q_manifest_expect" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, concat, lit}
        val root = tmpDir("graft_mexp_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publishQuarantine(ev, root, 1, Seq(
          "no_mod3" -> (col("event_id") % 10 =!= 3),
          "uid_present" -> col("user_id").isNotNull))
        graft.sink.ManifestSink.read(s, root)
          .withColumn("disposition", lit("published"))
          .unionByName(graft.sink.ManifestSink.quarantine(s, root)
            .select(col("event_id"), col("user_id"), col("value"),
              concat(lit("quarantined:"), col("_violations")).as("disposition")))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value,
        |  CASE WHEN event_id % 10 = 3 THEN 'quarantined:no_mod3'
        |       ELSE 'published' END AS disposition
        |FROM events ORDER BY event_id""".stripMargin),
    // SCHEMA EVOLUTION (round 11): Delta's mergeSchema — the evolving
    // append commits the UNION schema into its marker (schema-in-log:
    // reads plan from metadata, no footer-inference job) and
    // pre-evolution files surface the added column as NULL with zero
    // rewrite. Epoch 3 then CoW-merges THROUGH the evolution — its
    // survivor rewrite reads old files under the evolved schema — so
    // the final table mixes null-filled, batch-written, and
    // merge-updated rows in one frame.
    "q_manifest_evolve" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val root = tmpDir("graft_mevo_")
        val ev = events(s, d)
        graft.sink.ManifestSink.publish(
          ev.select(col("event_id"), col("value"))
            .filter(col("event_id") % 5 === 0)
            .repartitionByRange(4, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        graft.sink.ManifestSink.publish(
          ev.select(col("event_id"), col("value"), col("user_id"))
            .filter(col("event_id") % 5 === 1),
          root, 2, graft.sink.ManifestSink.WriteSpec(Seq("event_id")), evolve = true)
        graft.sink.ManifestSink.mergeCow(s,
          root,
          ev.select(col("event_id"), (col("value") + 10).as("value"), col("user_id"))
            .filter(col("event_id") % 5 === 0 && col("event_id") < 100),
          "event_id", Seq("event_id"))
        graft.sink.ManifestSink.read(s, root).orderBy("event_id")
      },
      """SELECT event_id, value + 10 AS value, user_id
        |FROM events WHERE event_id % 5 = 0 AND event_id < 100
        |UNION ALL
        |SELECT event_id, value, CAST(NULL AS BIGINT) AS user_id
        |FROM events WHERE event_id % 5 = 0 AND event_id >= 100
        |UNION ALL
        |SELECT event_id, value, user_id
        |FROM events WHERE event_id % 5 = 1
        |ORDER BY event_id""".stripMargin),
    // CATALYST-INTEGRATED data skipping (round 11): the Delta
    // TahoeFileIndex pattern — a plain SQL `WHERE` over a table the
    // ManifestSink API published pushes its range into the catalog
    // scan, whose ManifestFileIndex answers at PLANNING time with only
    // the zone-map-overlapping files. No side API: the query is
    // ordinary SQL text, and `GraftTable.lastPlannedFiles` (the scan's
    // own planned file count) is the evidence. planner_pruned gates
    // that planning selected at least one and strictly fewer files
    // than the epoch holds (q_manifest_skipping runs the same range
    // through `readPruned`; PlanShapeSpec pins the executed scan's
    // file count).
    "q_manifest_table_skip" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.catalog.GraftCatalog].getName)
        val root = tmpDir("graft_mtbl_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        val out = s.sql(
          s"""SELECT event_id, user_id, value FROM graft.`$root`
             |WHERE event_id BETWEEN 100 AND 599 ORDER BY event_id""".stripMargin)
        val rows = out.collect()  // bounded: a 500-key slice
        val total = graft.sink.ManifestSink.manifestFiles(s, root, 1).size
        val planned = graft.catalog.GraftTable.lastPlannedFiles
        s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
          .withColumn("planner_pruned", lit(planned >= 1 && planned < total))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS planner_pruned FROM events
        |WHERE event_id BETWEEN 100 AND 599 ORDER BY event_id""".stripMargin),
    // Z-ORDER + MULTI-COLUMN ZONE MAPS (round 11): range-clustering
    // serves ONE column's pruning; laying the write out on the Morton
    // curve of (event_id, user_id) makes the per-file stats tight in
    // BOTH dimensions at once — each file covers a compact rectangle
    // of the key space, so a slab predicate on EITHER column prunes
    // the file list (the lakehouse answer to multi-dimensional
    // secondary indexes at 100 TB). The row gates on both dimensions'
    // pruned reads touching strictly fewer files than the epoch holds.
    "q_manifest_zorder" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit, min, max}
        import org.apache.spark.sql.types.LongType
        val root = tmpDir("graft_mzorder_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        val Array(eMin, eMax, uMin, uMax) =
          ev.agg(min(col("event_id")), max(col("event_id")),
              min(col("user_id")), max(col("user_id")))
            .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
        def scale(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
          if (hi == lo) lit(0L)
          else (c.cast(LongType) - lit(lo)) * 255L / lit(hi - lo)
        graft.sink.ManifestSink.publish(
          ev.withColumn("__z", graft.functions.VectorFns.zorder2(
              scale(col("event_id"), eMin, eMax).cast(LongType),
              scale(col("user_id"), uMin, uMax).cast(LongType)))
            .repartitionByRange(16, col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id", "user_id")))
        val (df, h1, t1) = graft.sink.ManifestSink
          .readPruned(s, root, col("event_id").between(100L, 299L))
        val (_, h2, t2) = graft.sink.ManifestSink
          .readPruned(s, root, col("user_id").between(uMin, uMin + (uMax - uMin) / 5))
        df.withColumn("zorder_prunes_both", lit(h1 < t1 && h2 < t2))
          .orderBy("event_id", "user_id")
      },
      """SELECT event_id, user_id, value, TRUE AS zorder_prunes_both
        |FROM events WHERE event_id BETWEEN 100 AND 299
        |ORDER BY event_id, user_id""".stripMargin),
    // COPY-ON-WRITE DELETE (round 11): the takedown / right-to-
    // erasure primitive a training-data lakehouse needs — deleting a
    // key range rewrites ONLY the files whose zone map overlaps it
    // (cow_ok gates >=6 of 8 files carried untouched), atomically,
    // with the pre-delete epoch pinned for audit until vacuum. Same
    // CoW machinery as the merge, minus the insert.
    "q_manifest_delete" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_mdel_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        val (_, _, carried) = graft.sink.ManifestSink.deleteCow(s, root,
          ev.filter(col("event_id").between(100, 199)).select(col("event_id")),
          "event_id", Seq("event_id"))
        graft.sink.ManifestSink.read(s, root)
          .withColumn("cow_ok", lit(carried >= 6))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS cow_ok FROM events
        |WHERE event_id NOT BETWEEN 100 AND 199 ORDER BY event_id""".stripMargin),
    // ROLLBACK (round 11): restore a pre-mistake epoch as a NEW
    // commit — history is never rewritten, the rollback itself is an
    // auditable epoch (the Iceberg rollback-as-snapshot discipline),
    // and it is pure metadata (data files are shared). The row
    // publishes, CoW-deletes half the table ("the mistake"), rolls
    // back, and the oracle is the ORIGINAL full table; rollback_ok
    // gates that three epochs actually exist and zone maps survived
    // the restore (the pruned read still bites).
    "q_manifest_rollback" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_mroll_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.repartitionByRange(8, col("event_id"))
            .sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        graft.sink.ManifestSink.deleteCow(s, root,
          ev.filter(col("event_id") % 2 === 0).select(col("event_id")),
          "event_id", Seq("event_id"))
        graft.sink.ManifestSink.rollback(s, root, to = 1)
        val cur = graft.sink.ManifestSink.currentEpoch(s, root)
        val (_, hit, total) = graft.sink.ManifestSink
          .readPruned(s, root, col("event_id").between(100L, 599L))
        graft.sink.ManifestSink.read(s, root)
          .withColumn("rollback_ok", lit(cur == 3 && hit < total))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS rollback_ok FROM events
        |ORDER BY event_id""".stripMargin),
    // TIME TRAVEL (round 11): pin a historical epoch by its commit —
    // the read resolves commit-1 -> its manifest -> exactly the files
    // published then, regardless of the appends and merges that
    // followed. The row publishes epoch 1, appends epoch 2, then
    // CoW-merges epoch 3 (doubling a key range), and reads epoch 1
    // back: the oracle is the original epoch-1 SELECT — any leakage
    // from later epochs (the merge's doubled values would be the
    // loudest) breaks the hash. travel_ok gates that the table really
    // moved on (current epoch = 3).
    "q_manifest_timetravel" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_travel_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        graft.sink.ManifestSink.publish(
          ev.filter(col("event_id") % 5 === 0)
            .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
          root, 1, graft.sink.ManifestSink.WriteSpec(Seq("event_id")))
        graft.sink.ManifestSink.publish(
          ev.filter(col("event_id") % 5 === 1)
            .repartitionByRange(4, col("event_id")).sortWithinPartitions("event_id"),
          root, 2, graft.sink.ManifestSink.WriteSpec(Seq("event_id")), append = true)
        graft.sink.ManifestSink.mergeCow(s, root,
          ev.filter(col("event_id").between(100, 199) && col("event_id") % 5 <= 1)
            .select(col("event_id"), col("user_id"), (col("value") * 2).as("value")),
          "event_id", Seq("event_id"))
        val cur = graft.sink.ManifestSink.currentEpoch(s, root)
        graft.sink.ManifestSink.read(s, root, epoch = 1)
          .withColumn("travel_ok", lit(cur == 3))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS travel_ok FROM events
        |WHERE event_id % 5 = 0 ORDER BY event_id""".stripMargin),
    // Manifest table compaction (round 10): append commits leave one
    // file set per batch; `compact` reads the committed view, rewrites
    // it range-clustered, and publishes the rewrite as a fresh epoch
    // with fresh zone maps — readers never see an intermediate state,
    // pre-compaction epochs stay pinned until vacuum. The row builds a
    // 3-append table (12 small files), compacts to 4, and gates on the
    // file count actually dropping AND the zone maps still pruning on
    // the compacted epoch; content identity is the oracle's SELECT.
    "q_manifest_compact" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, lit}
        val root = tmpDir("graft_mcompact_")
        val ev = events(s, d).select(col("event_id"), col("user_id"), col("value"))
        for ((m, e) <- Seq(0, 1, 2).zip(Seq(1, 2, 3)))
          graft.sink.ManifestSink.publish(
            ev.filter(col("event_id") % 3 === m)
              .repartitionByRange(4, col("event_id"))
              .sortWithinPartitions("event_id"),
            root, e, graft.sink.ManifestSink.WriteSpec(Seq("event_id")), append = true)
        val before = graft.sink.ManifestSink
          .manifestFiles(s, root, 3).size
        graft.sink.ManifestSink.compact(s, root, Seq("event_id"), numFiles = 4)
        val after = graft.sink.ManifestSink
          .manifestFiles(s, root, graft.sink.ManifestSink.currentEpoch(s, root)).size
        val (_, hit, total) = graft.sink.ManifestSink
          .readPruned(s, root, col("event_id").between(100L, 599L))
        graft.sink.ManifestSink.read(s, root)
          .withColumn("compacted", lit(after < before))
          .withColumn("still_prunes", lit(hit < total))
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, value, TRUE AS compacted,
        |  TRUE AS still_prunes
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- aggregation & windowing (A1-A4) ----
    "q_hourly_agg" -> q(
      (s, d) => EventPipeline.hourlyAgg(events(s, d)),
      s"""SELECT user_id,
         |  CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_bucket,
         |  ${dsum(s"CAST(value AS $dec4)")} / COUNT(*) AS avg_value,
         |  MAX(value) AS max_value, MIN(value) AS min_value,
         |  CAST(COUNT(*) AS INT) AS event_count
         |FROM events GROUP BY 1, 2 ORDER BY user_id, hour_bucket""".stripMargin),

    // ---- analytical / bench headliners ----
    "q_pricing_summary" -> q(
      (s, d) => Analytics.pricingSummary(lineitem(s, d)),
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum(s"CAST(l_quantity AS $dec4)")} AS sum_qty,
         |  ${dsum(s"CAST(l_extendedprice AS $dec4)")} AS sum_base_price,
         |  ${dsum(s"CAST(l_extendedprice AS $dec4) * ${oneMinus("l_discount")}")} AS sum_disc_price,
         |  ${dsum(s"CAST(l_extendedprice AS $dec4) * ${oneMinus("l_discount")} * ${onePlus("l_tax")}")} AS sum_charge,
         |  ${dsum(s"CAST(l_quantity AS $dec4)")} / COUNT(*) AS avg_qty,
         |  ${dsum(s"CAST(l_extendedprice AS $dec4)")} / COUNT(*) AS avg_price,
         |  ${dsum(s"CAST(l_discount AS $dec4)")} / COUNT(*) AS avg_disc,
         |  CAST(COUNT(*) AS BIGINT) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "q_revenue_by_nation" -> q(
      (s, d) => Analytics.revenueByNation(lineitem(s, d), orders(s, d), customer(s, d), nation(s, d)),
      s"""SELECT n_name,
         |  ${dsum(s"CAST(l_extendedprice AS $dec4) * ${oneMinus("l_discount")}")} AS revenue,
         |  CAST(COUNT(*) AS BIGINT) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin),
    "q_market_share" -> q(
      (s, d) => Analytics.marketShare(lineitem(s, d), orders(s, d), customer(s, d),
        nation(s, d), region(s, d)),
      s"""WITH j AS (
         |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, n_name,
         |    CAST(l_extendedprice AS $dec4) * ${oneMinus("l_discount")} AS rev
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'ASIA')
         |SELECT o_year,
         |  ${dsum("CASE WHEN n_name = 'NATION_2' THEN rev END")} AS nation_revenue,
         |  ${dsum("rev")} AS region_revenue,
         |  ${dsum("CASE WHEN n_name = 'NATION_2' THEN rev END")} / ${dsum("rev")} AS share
         |FROM j GROUP BY o_year ORDER BY o_year""".stripMargin),
    "q_top_parts" -> q(
      (s, d) => Analytics.topParts(lineitem(s, d), part(s, d)),
      s"""SELECT l_partkey, p_name, total_qty, n_lines FROM (
         |  SELECT l_partkey,
         |    ${dsum(s"CAST(l_quantity AS $dec4)")} AS total_qty,
         |    CAST(COUNT(*) AS BIGINT) AS n_lines
         |  FROM lineitem GROUP BY l_partkey
         |  ORDER BY total_qty DESC, l_partkey LIMIT 25)
         |JOIN part ON l_partkey = p_partkey
         |ORDER BY total_qty DESC, l_partkey""".stripMargin),
    "q_late_priority" -> q(
      (s, d) => Analytics.latePriority(orders(s, d), lineitem(s, d)),
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
        |              AND l_shipdate > TIMESTAMP '2000-01-01 00:00:00')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    "q_segment_revenue" -> q(
      (s, d) => Analytics.segmentRevenue(orders(s, d), customer(s, d)),
      s"""SELECT c_mktsegment, o_orderstatus,
         |  ${dsum(s"CAST(o_totalprice AS $dec4)")} AS total_price,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment, o_orderstatus
         |ORDER BY c_mktsegment, o_orderstatus""".stripMargin),
    "q_orders_by_month" -> q(
      (s, d) => Analytics.ordersByMonth(orders(s, d)),
      s"""SELECT date_trunc('month', o_orderdate) AS month,
         |  ${dsum(s"CAST(o_totalprice AS $dec4)")} AS total_price,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders
         |FROM orders GROUP BY 1 ORDER BY month""".stripMargin),

    "q_percentiles" -> q(
      (s, d) => Analytics.valuePercentiles(events(s, d)),
      """SELECT event_type,
        |  ROUND(quantile_cont(value, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 4) AS p90,
        |  ROUND(quantile_cont(value, 0.99), 4) AS p99,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // approx_percentile (the mergeable quantile sketch) under its rank
    // theorem, checked ON RANKS (value-band spellings break when a
    // group is small enough that the eps-band is narrower than one
    // rank step): the returned value must occupy some rank within
    // n/accuracy (+1 tie slop) of the target rank. Exact p50 is
    // value-compared; the sketch enters only via the gate.
    "q_approx_percentile" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{broadcast, col, count, expr, lit, sum, when}
        val acc = 1000
        val base = events(s, d).select(col("event_type"), col("value"))
        val agg1 = base.groupBy(col("event_type")).agg(
          expr("round(percentile(value, 0.5), 4)").as("p50_exact"),
          expr(s"approx_percentile(value, 0.5, $acc)").as("pa"),
          count(lit(1)).as("n"))
        val ranks = base
          .join(broadcast(agg1.select(col("event_type"), col("pa"))), Seq("event_type"))
          .groupBy(col("event_type")).agg(
            sum(when(col("value") <= col("pa"), 1L).otherwise(0L)).as("rank_le"),
            sum(when(col("value") < col("pa"), 1L).otherwise(0L)).as("rank_lt"))
        agg1.join(ranks, Seq("event_type"))
          .select(col("event_type"), col("p50_exact"), col("n"),
            (col("rank_lt") <= lit(0.5) * col("n") + col("n") / acc + 1 &&
              col("rank_le") >= lit(0.5) * col("n") - col("n") / acc - 1)
              .as("approx_within_rank_eps"))
          .orderBy("event_type")
      },
      """SELECT event_type, ROUND(quantile_cont(value, 0.5), 4) AS p50_exact,
        |  CAST(COUNT(*) AS BIGINT) AS n, TRUE AS approx_within_rank_eps
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Heavy hitters: exact frequent-token set value-compared; the
    // one-pass distributed sketch enters via its superset theorem gate.
    "q_heavy_hitters" -> q(
      (s, d) => TextOps.heavyHitters(documents(s, d)),
      """WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tk)
        |SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt, TRUE AS sketch_superset_ok
        |FROM tk, tot GROUP BY tok, n HAVING COUNT(*) > 0.02 * n
        |ORDER BY tok""".stripMargin),
    // The exact side is value-checked; the HLL estimate is checked as a
    // relative-error BOUND (rsd=0.02 sketch against a 5% gate) — the
    // sketch itself is deterministic in Spark but not replicable in
    // DuckDB, the bound is.
    "q_approx_distinct" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{abs, col}
        Analytics.approxDistinct(lineitem(s, d))
          .select(col("l_returnflag"), col("exact_parts"), col("n_rows"),
            (abs(col("approx_parts") - col("exact_parts")) / col("exact_parts") <= 0.05)
              .as("hll_within_5pct"))
      },
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows, TRUE AS hll_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // Mergeable-sketch rollup: engines' sketch internals differ, so —
    // like q_approx_distinct — the ERROR-BOUND CHECK is what gets
    // oracle-compared (TRUE literal), alongside fully-exact columns.
    "q_sketch_merge" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{abs, col, countDistinct}
        val merged = Analytics.sketchMerge(events(s, d))
        val exact = events(s, d).groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        merged.join(exact, Seq("event_type"))
          .select(col("event_type"), col("exact_users"), col("n_days"),
            (abs(col("merged_estimate") - col("exact_users")) / col("exact_users") <= 0.05)
              .as("merged_within_5pct"))
          .orderBy("event_type")
      },
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
        |  TRUE AS merged_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Incremental-refresh merge == full recompute (the oracle IS the
    // full recompute, so the merge discipline is what is checked).
    "q_incremental_agg" -> q(
      (s, d) => Analytics.incrementalAgg(events(s, d)),
      s"""SELECT user_id,
         |  ${dsum(s"CAST(value AS $dec4)")} AS total_value,
         |  CAST(COUNT(*) AS BIGINT) AS n_events
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    "q_histogram" -> q(
      (s, d) => Analytics.histogram(lineitem(s, d)),
      s"""SELECT l_returnflag,
         |  CAST(LEAST(FLOOR(l_quantity / 5.0), 9) AS INT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  ${dsum(s"CAST(l_quantity AS $dec4)")} AS sum_qty
         |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, bucket""".stripMargin),

    // ---- alternative source formats (S12) ----
    "q_csv_roundtrip" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val dir = tmpDir("graft_csv_demo_")
        val e = events(s, d).select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        e.write.mode("overwrite").option("header", "true").csv(dir)
        s.read.option("header", "true")
          .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
          .csv(dir)
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id""".stripMargin),
    "q_json_roundtrip" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val dir = tmpDir("graft_json_demo_")
        val e = events(s, d).select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        e.write.mode("overwrite").json(dir)
        s.read.schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
          .json(dir)
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, event_type, value FROM events ORDER BY event_id""".stripMargin),

    // ---- multimodal / map columns (X5) ----
    "q_props_map" -> q(
      (s, d) => EventPipeline.propsMap(events(s, d)),
      """SELECT event_id, json_extract_string(props, '$.k') AS k_str,
        |  CAST(len(json_keys(props)) AS INT) AS n_keys
        |FROM events ORDER BY event_id""".stripMargin),
    "q_media_meta" -> q(
      (s, d) => Multimodal.mediaMeta(documents(s, d)),
      """SELECT doc_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin),
    // REAL codec round trip: the engine encodes actual binary PGM (P5)
    // images and parses them back with a real header/raster parser; the
    // oracle recomputes the statistics from the shared pixel formula.
    // Any encoder/parser defect (header bytes, raster offset, pixel
    // order) breaks the hash match.
    "q_media_decode" -> q(
      (s, d) => Multimodal.pgmStats(s, documents(s, d)),
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 9 AS INT) AS width,
        |    CAST(8 + doc_id % 7 AS INT) AS height
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, width, height, unnest(range(width * height)) AS i
        |  FROM d
        |)
        |SELECT doc_id, width, height,
        |  CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |  CAST(SUM((doc_id * 31 + i * 7) % 256) AS BIGINT) AS pixel_sum,
        |  CAST(MAX((doc_id * 31 + i * 7) % 256) AS BIGINT) AS pixel_max
        |FROM px GROUP BY doc_id, width, height
        |ORDER BY doc_id""".stripMargin),
    // REAL WAV/PCM decode under the oracle: the engine encodes actual
    // RIFF/WAV bytes (JDK AudioSystem writer), decodes them with the
    // JDK's WAV reader, and computes integer signal features from the
    // DECODED 16-bit samples; the oracle replays the generating sample
    // formula. A header, endianness, or sample-unpack defect breaks
    // the hash match.
    "q_media_audio" -> q(
      (s, d) => Multimodal.audioFeatures(s, documents(s, d)),
      """WITH d AS (
        |  SELECT doc_id, CAST(64 + doc_id % 33 AS INT) AS n_samples FROM documents
        |), sm AS (
        |  SELECT doc_id, n_samples, unnest(range(n_samples)) AS i FROM d
        |), v AS (
        |  SELECT doc_id, n_samples, i,
        |    (doc_id * 37 + i * 11) % 4001 - 2000 AS v,
        |    CASE WHEN i > 0 THEN (doc_id * 37 + (i - 1) * 11) % 4001 - 2000 END AS pv
        |  FROM sm
        |)
        |SELECT doc_id, n_samples, CAST(8000 AS INT) AS sample_rate,
        |  CAST(1 AS INT) AS n_channels,
        |  CAST(SUM(ABS(v)) AS BIGINT) AS abs_sum,
        |  CAST(MAX(ABS(v)) AS BIGINT) AS peak,
        |  CAST(COALESCE(SUM(CASE WHEN v * pv < 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        |    AS zero_crossings
        |FROM v GROUP BY doc_id, n_samples ORDER BY doc_id""".stripMargin),
    // Audio resample (the audio analog of image resize): decode ->
    // box-FIR low-pass fused with the stride (each output sample =
    // floor-mean of its 4-sample block — anti-aliased decimation, not a
    // bare stride) -> RE-ENCODE at 2000 Hz -> RE-DECODE, stats from the
    // resampled container's samples. Oracle replays filter+stride:
    // floor(SUM(block)/len(block)) is integer-exact in both engines
    // (the double division is exact at these magnitudes).
    "q_media_audio_resample" -> q(
      (s, d) => Multimodal.audioResampleQuery(s, documents(s, d)),
      """WITH d AS (
        |  SELECT doc_id, CAST(64 + doc_id % 33 AS INT) AS n FROM documents
        |), sm AS (
        |  SELECT doc_id, n, unnest(range(n)) AS i FROM d
        |), v AS (
        |  SELECT doc_id, i // 4 AS blk,
        |    (doc_id * 37 + i * 11) % 4001 - 2000 AS v
        |  FROM sm
        |), f AS (
        |  SELECT doc_id, blk,
        |    CAST(FLOOR(SUM(v) / COUNT(*)) AS BIGINT) AS fv
        |  FROM v GROUP BY doc_id, blk
        |)
        |SELECT doc_id, CAST(2000 AS INT) AS sample_rate,
        |  CAST(COUNT(*) AS INT) AS n_samples,
        |  CAST(SUM(ABS(fv)) AS BIGINT) AS abs_sum,
        |  CAST(MAX(ABS(fv)) AS BIGINT) AS peak
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // REAL ImageIO decode under the oracle: the engine encodes actual
    // PNG bytes, decodes them with the JDK's PNG reader, and pools the
    // DECODED raster into 8 horizontal-band means; the oracle replays
    // the generating pixel formula. Band means are exact-int divisions
    // (sum/count), so the doubles agree bit-for-bit cross-engine.
    "q_media_features" -> q(
      (s, d) => Multimodal.mediaFeaturesQuery(s, documents(s, d)),
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(16 + doc_id % 17 AS INT) AS width,
         |    CAST(16 + doc_id % 13 AS INT) AS height
         |  FROM documents
         |), px AS (
         |  SELECT doc_id, width, height, unnest(range(width * height)) AS i
         |  FROM d
         |), p AS (
         |  SELECT doc_id, width, height,
         |    (doc_id * 31 + i * 7) % 256 AS v,
         |    ((i // width) * 8) // height AS band
         |  FROM px
         |)
         |SELECT doc_id, width, height,
         |  CAST(COUNT(*) AS BIGINT) AS n_pixels,
         |  CAST(SUM(v) AS BIGINT) AS pixel_sum,
         |  CAST(MAX(v) AS BIGINT) AS pixel_max,
         |${(0 until 8).map(b =>
             s"  CAST(SUM(CASE WHEN band = $b THEN v END) AS DOUBLE)" +
             s" / COUNT(CASE WHEN band = $b THEN 1 END) AS f$b").mkString(",\n")}
         |FROM p GROUP BY doc_id, width, height
         |ORDER BY doc_id""".stripMargin),
    // Nearest-neighbor resize: decode PNG -> downscale (integer-division
    // source mapping) -> RE-ENCODE -> RE-DECODE -> stats; the oracle
    // replays src(x*sw//8, y*sh//8) from the formula.
    "q_media_resize" -> q(
      (s, d) => Multimodal.mediaResizeQuery(s, documents(s, d)),
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(16 + doc_id % 17 AS INT) AS sw,
        |    CAST(16 + doc_id % 13 AS INT) AS sh
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, sw, sh, unnest(range(64)) AS i FROM d
        |), p AS (
        |  SELECT doc_id,
        |    (doc_id * 31 + (((i // 8) * sh // 8) * sw + ((i % 8) * sw // 8)) * 7) % 256 AS v
        |  FROM px
        |)
        |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(SUM(v) AS BIGINT) AS thumb_sum,
        |  CAST(MAX(v) AS BIGINT) AS thumb_max
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Frame sampling = every 4th raster scanline of the decoded image.
    "q_media_frames" -> q(
      (s, d) => Multimodal.frameSampleQuery(s, documents(s, d)),
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(16 + doc_id % 17 AS INT) AS width,
        |    CAST(16 + doc_id % 13 AS INT) AS height
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, width, height, unnest(range(width * height)) AS i FROM d
        |)
        |SELECT doc_id, CAST(i // width AS INT) AS frame_idx, width AS n_px,
        |  CAST(SUM((doc_id * 31 + i * 7) % 256) AS BIGINT) AS row_sum
        |FROM px WHERE (i // width) % 4 = 0
        |GROUP BY doc_id, i // width, width
        |ORDER BY doc_id, frame_idx""".stripMargin),
    // Perceptual-hash image dedup (round 10): dHash over the REAL PNG
    // decode path — 9x8 nearest-neighbor grid, one bit per horizontal
    // gradient sign, carried as FOUR 16-bit bands (no sign-bit
    // surface; the bands ARE the LSH keys: distance <= 2 < 4 bands
    // forces a shared band by pigeonhole, so the engine's banded
    // candidate join is exact). The ORACLE is the opposite algorithm —
    // all-pairs popcount over formula-replayed hashes — so the green
    // hash certifies the pigeonhole theorem AND the full
    // encode->ImageIO-decode->resize->gradient chain.
    "q_media_dhash" -> q(
      (s, d) => Multimodal.dhashNearDupPairs(s, documents(s, d)),
      """WITH d AS (
        |  SELECT doc_id, CAST(16 + doc_id % 17 AS INT) AS sw,
        |    CAST(16 + doc_id % 13 AS INT) AS sh
        |  FROM documents
        |), g AS (SELECT doc_id, sw, sh, unnest(range(72)) AS i FROM d
        |), p AS (
        |  SELECT doc_id, CAST(i // 9 AS INT) AS r, CAST(i % 9 AS INT) AS c,
        |    (doc_id * 31 + (((i // 9) * sh // 8) * sw + ((i % 9) * sw // 9)) * 7) % 256 AS v
        |  FROM g
        |), b AS (
        |  SELECT a.doc_id, a.r * 8 + a.c AS bit,
        |    CASE WHEN a.v < n.v THEN 1 ELSE 0 END AS x
        |  FROM p a JOIN p n ON n.doc_id = a.doc_id AND n.r = a.r AND n.c = a.c + 1
        |  WHERE a.c < 8
        |), h AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN bit // 16 = 0 THEN x * (1 << (bit % 16)) ELSE 0 END) AS b0,
        |    SUM(CASE WHEN bit // 16 = 1 THEN x * (1 << (bit % 16)) ELSE 0 END) AS b1,
        |    SUM(CASE WHEN bit // 16 = 2 THEN x * (1 << (bit % 16)) ELSE 0 END) AS b2,
        |    SUM(CASE WHEN bit // 16 = 3 THEN x * (1 << (bit % 16)) ELSE 0 END) AS b3
        |  FROM b GROUP BY doc_id
        |), pr AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
        |      + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS dist
        |  FROM h x JOIN h y ON x.doc_id < y.doc_id
        |)
        |SELECT doc_a, doc_b, CAST(dist AS INT) AS dist FROM pr
        |WHERE dist <= 2 ORDER BY doc_a, doc_b""".stripMargin),

    // ---- text analysis (X4) ----
    "q_token_count" -> q(
      (s, d) => TextOps.tokenCount(documents(s, d)),
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    "q_text_stats" -> q(
      (s, d) => TextOps.textStats(documents(s, d)),
      s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
         |  ${dsum(s"CAST(length(text) AS $dec4)")} / COUNT(*) AS avg_chars,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
         |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    "q_token_explode" -> q(
      (s, d) => TextOps.tokenExplode(documents(s, d)),
      """SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin),
    "q_lang_id" -> q(
      (s, d) => TextOps.langId(documents(s, d)),
      s"""SELECT doc_id, lang AS lang_declared,
         |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stopwordsSql))) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS en_stop_ratio,
         |  CASE WHEN CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stopwordsSql))) AS DOUBLE)
         |    / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.05
         |    THEN 'en' ELSE 'other' END AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin),
    "q_quality_score" -> q(
      (s, d) => TextOps.qualityScore(documents(s, d)),
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |    CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
         |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stopwordsSql))) AS DOUBLE)
         |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio
         |  FROM documents)
         |SELECT doc_id, n_tokens, avg_word_len, stop_ratio,
         |  (CASE WHEN n_tokens BETWEEN 10 AND 2000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         |  + (CASE WHEN avg_word_len BETWEEN 3.0 AND 10.0 THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
         |  + (CASE WHEN stop_ratio > 0.0 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS quality
         |FROM t ORDER BY doc_id""".stripMargin),
    // Winnowing under the oracle via its deterministic guarantees: the
    // k-gram/window counts are recomputed by DuckDB from byte lengths,
    // and the selection-bound invariants (every window selects a
    // position; a position heads <= w windows; distinct hashes form a
    // nonempty subset of selected positions) ride along as a gate
    // column. The raw fingerprint arrays stay a Scala-API concern
    // (TextOps.fingerprint) — arrays crash the driver comparator.
    "q_fingerprint" -> q(
      (s, d) => TextOps.fingerprintStats(documents(s, d)),
      """SELECT doc_id,
        |  CAST(GREATEST(strlen(text) - 4, 0) AS BIGINT) AS n_grams,
        |  CAST(CASE WHEN strlen(text) - 4 <= 0 THEN 0
        |            WHEN strlen(text) - 4 < 4 THEN 1
        |            ELSE strlen(text) - 7 END AS BIGINT) AS n_windows,
        |  TRUE AS fp_bounds_ok
        |FROM documents ORDER BY doc_id""".stripMargin),
    // PII redaction: the fixture text is digit-free, so the query
    // plants deterministic doc_id-derived contacts first — redaction
    // visibly fires and both engines construct identical inputs.
    "q_pii_redact" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, concat, lit, lpad, substring}
        // narrow scan sorted BEFORE the concat + regex projections
        // (2x-eval rule — see TextOps.sortedDocs)
        val base = documents(s, d)
          .select(col("doc_id"), col("text"))
          .orderBy("doc_id")
          .select(
            col("doc_id"),
            concat(
              substring(col("text"), 1, 40),
              lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or +1-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
              lit("."), ((col("doc_id") * 7) % 256).cast("string")).as("text"))
        TextOps.redactPii(base)
          .select(
            col("doc_id"),
            col("n_emails").cast("long").as("n_emails"),
            col("n_phones").cast("long").as("n_phones"),
            col("n_ips").cast("long").as("n_ips"),
            col("redacted"))
      },
      s"""WITH base AS (
         |  SELECT doc_id,
         |    substring(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '${TextOps.Ipv4Re}')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextOps.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextOps.Ipv4Re}', '<IP>', 'g'),
         |    '${TextOps.PhoneRe}', '<PHONE>', 'g') AS redacted
         |FROM base ORDER BY doc_id""".stripMargin),
    "q_token_bpe" -> q(
      (s, d) => TextOps.tokenCountBpe(documents(s, d)),
      s"""SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextOps.BpeishPattern}')) AS INT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),

    // Benchmark decontamination (the n-gram overlap check run before
    // training): the eval set is carved deterministically from the
    // corpus (doc_id % 40 == 7, tokens 11..40), so both engines build
    // the identical benchmark and the full flag column is exact.
    "q_decontaminate" -> q(
      (s, d) => Curation.decontaminate(documents(s, d)),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |bench AS (
        |  SELECT DISTINCT gram FROM (
        |    SELECT unnest([array_to_string(s[i:i+7], ' ')
        |                   FOR i IN range(1, greatest(len(s)-7, 0) + 1)]) AS gram
        |    FROM (SELECT t[11:40] AS s FROM toks WHERE doc_id % 40 = 7))),
        |grams AS (
        |  SELECT doc_id, unnest([array_to_string(t[i:i+7], ' ')
        |                         FOR i IN range(1, greatest(len(t)-7, 0) + 1)]) AS gram
        |  FROM toks),
        |leaked AS (
        |  SELECT doc_id, COUNT(DISTINCT g.gram) AS n
        |  FROM grams g JOIN bench b ON g.gram = b.gram GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(l.n, 0) AS BIGINT) AS n_leaked_grams,
        |  COALESCE(l.n, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN leaked l ON d.doc_id = l.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // Within-doc repetition stats (Gopher/C4 repetition filters).
    "q_repetition" -> q(
      (s, d) => Curation.repetitionStats(documents(s, d)),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, t,
        |  CASE WHEN len(t) >= 2
        |       THEN [array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]
        |       ELSE [] END AS g2 FROM toks),
        |cnt AS (SELECT doc_id, tok, COUNT(*) AS c
        |        FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY doc_id, tok),
        |top AS (SELECT doc_id, MAX(c) AS top_c FROM cnt GROUP BY doc_id)
        |SELECT g.doc_id,
        |  CASE WHEN len(g.t) > 0
        |       THEN CAST(COALESCE(top.top_c, 0) AS DOUBLE) / len(g.t) ELSE 0.0 END AS top_tok_frac,
        |  CASE WHEN len(g.g2) > 0
        |       THEN 1.0 - CAST(len(list_distinct(g.g2)) AS DOUBLE) / len(g.g2) ELSE 0.0 END AS dup_bigram_frac,
        |  (CASE WHEN len(g.t) > 0
        |        THEN CAST(COALESCE(top.top_c, 0) AS DOUBLE) / len(g.t) ELSE 0.0 END) > 0.2
        |   OR (CASE WHEN len(g.g2) > 0
        |            THEN 1.0 - CAST(len(list_distinct(g.g2)) AS DOUBLE) / len(g.g2) ELSE 0.0 END) > 0.3
        |   AS repetitive
        |FROM g LEFT JOIN top ON g.doc_id = top.doc_id
        |ORDER BY g.doc_id""".stripMargin),
    // Bloom-filter membership (runtime join pruning surfaced as an
    // operator): exact membership is SQL-recomputable; the Bloom
    // verdict enters through the no-false-negative theorem gate and a
    // measured-FPR bound gate.
    "q_bloom_filter" -> q(
      (s, d) => graft.query.BloomMembership.membershipReport(orders(s, d), customer(s, d)),
      """SELECT c.c_custkey,
        |  EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS exact_member,
        |  TRUE AS no_false_negative_ok,
        |  TRUE AS fpr_ok
        |FROM customer c ORDER BY c.c_custkey""".stripMargin),

    // ---- dedup (X1/X2) ----
    "q_dedup_exact" -> q(
      (s, d) => Dedup.exact(documents(s, d)),
      """SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin),
    "q_dedup_first" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = events(s, d).select(col("event_id"), ntz(col("ts")).as("ts"),
          col("user_id"), col("event_type"), col("value"))
        Dedup.keepFirst(e, Seq("user_id", "event_type"), col("ts"), col("event_id"))
          .orderBy("user_id", "event_type")
      },
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
        |ORDER BY user_id, event_type""".stripMargin),
    // MinHash under the recall-gate pattern (round 7): output = the
    // Streaming GRAPH ingest (round 11): the graph twin of
    // q_stream_ann_ingest — micro-batches of vectors flag against the
    // NN-descent graph state at batch start (exact top-3, the beam
    // search over the same state as the recall gate) and absorb via
    // appendToGraph, one atomic CoW-merge epoch per batch on the edge
    // table; the cycle closes with the manifest compaction sweep.
    // MemoryStream pins batch boundaries so the oracle replays the
    // stream as the two-stage exact recompute.
    "q_stream_graph_ingest" -> q(
      (s, d) => graft.streaming.StreamGraphIngest.demo(s, d),
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), s1 AS (
        |  SELECT qy.vec_id AS query_id, c.vec_id,
        |    list_dot_product([y / qy.nrm FOR y IN qy.e], [x / c.nrm FOR x IN c.e]) AS raw_cos
        |  FROM u c JOIN u qy ON qy.vec_id % 10 = 4
        |  WHERE c.vec_id % 10 NOT IN (4, 9)
        |), r1 AS (
        |  SELECT query_id, vec_id, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s1
        |), s2 AS (
        |  SELECT qy.vec_id AS query_id, c.vec_id,
        |    list_dot_product([y / qy.nrm FOR y IN qy.e], [x / c.nrm FOR x IN c.e]) AS raw_cos
        |  FROM u c JOIN u qy ON qy.vec_id % 10 = 9
        |  WHERE c.vec_id % 10 <> 9
        |), r2 AS (
        |  SELECT query_id, vec_id, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s2
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |  ROUND(raw_cos, 4) AS cos_sim, TRUE AS batch_recall_ok
        |FROM (SELECT * FROM r1 WHERE rnk <= 3
        |      UNION ALL SELECT * FROM r2 WHERE rnk <= 3)
        |ORDER BY query_id, rank""".stripMargin),
    // EXACT string-shingle Jaccard pairs at 0.5, spelled with the
    // prefix-filter theorem (prefixPairsCtes) so DuckDB runs it at
    // every SF, plus `minhash_recall_ok` TRUE iff the b=32/r=4 LSH
    // found >= 90% of them. Exact-equality was the old contract and it
    // was only an artifact of small fixtures: minhash recall at the
    // threshold is (1-J^r)^b-probabilistic, and sf0.1 plants pairs
    // near the J=0.5 cliff (measured recall there: 0.98). The raw LSH
    // pair list stays API-accessible (Dedup.minhashPairs, spec-covered
    // including its band-join shape).
    "q_dedup_minhash" -> q(
      (s, d) => Dedup.minhashRecallGate(documents(s, d)),
      s"""WITH ${prefixPairsCtes("0.5")}
         |SELECT doc_a, doc_b, jaccard, TRUE AS minhash_recall_ok FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin),
    // SimHash under the oracle via the recall-gate pattern (like
    // q_ann_lsh): output = the EXACT prefix-filtered n-gram pairs at
    // 0.7 (recomputable in SQL), plus a gate TRUE iff simhash
    // chunk-blocking found >= 90% of them. The raw (doc_a, doc_b,
    // hamming) pairs stay a Scala-API concern (Dedup.simhashPairs,
    // spec-covered) since Hamming over a custom 64-bit simhash is not
    // SQL-portable.
    "q_dedup_simhash" -> q(
      (s, d) => Dedup.simhashRecallGate(documents(s, d)),
      s"""WITH ${prefixPairsCtes("0.7")}
         |SELECT doc_a, doc_b, jaccard, TRUE AS simhash_recall_ok FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin),
    // Prefix-filtered exact n-gram Jaccard join: unlike the minhash
    // oracle above, NO recall caveat is needed — prefix filtering is
    // exact, so result equality with brute force is a theorem, not a
    // parameter-tuning outcome. Same 31-bit-hash-vs-string-shingle
    // equivalence note as q_dedup_minhash.
    "q_dedup_ngram" -> q(
      (s, d) => Dedup.ngramJaccardPairs(documents(s, d)),
      s"""WITH ${prefixPairsCtes("0.5")}
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin),
    // Dedup clustering: min-label connected components over the exact
    // near-dup pair list; the oracle replays it as a recursive CTE
    // (min reachable doc_id per vertex == min id of its component).
    "q_dedup_cluster" -> q(
      (s, d) => Dedup.connectedComponents(
        documents(s, d), Dedup.ngramJaccardPairs(documents(s, d))),
      s"""WITH RECURSIVE ${prefixPairsCtes("0.5")}, edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
         |)
         |SELECT id AS doc_id, MIN(lbl) AS component FROM reach
         |GROUP BY id ORDER BY doc_id""".stripMargin),
    // The dedup pipeline APPLIED: surviving corpus after removing
    // near-dup groups (keep each component's min doc_id), with group
    // sizes — what actually ships to tokenization.
    "q_dedup_apply" -> q(
      (s, d) => Dedup.applyDedup(
        documents(s, d), Dedup.ngramJaccardPairs(documents(s, d))),
      s"""WITH RECURSIVE ${prefixPairsCtes("0.5")}, edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), reach(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
         |), labels AS (
         |  SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id
         |), sizes AS (
         |  SELECT component, CAST(COUNT(*) AS BIGINT) AS group_size
         |  FROM labels GROUP BY component
         |)
         |SELECT d.doc_id, d.lang, d.source, s.group_size
         |FROM documents d
         |JOIN labels l ON d.doc_id = l.doc_id AND d.doc_id = l.component
         |JOIN sizes s ON l.component = s.component
         |ORDER BY d.doc_id""".stripMargin),
    // Incremental dedup: a simulated ingest batch (doc_id % 5 = 0)
    // checked against the standing corpus — exact-dup semi-join +
    // cross-set prefix-filtered near-dup join. The corpus is never
    // self-joined: at 100 TB only the delta's shingles probe it. The
    // session object scans/hashes the corpus ONCE at init and merges
    // delta DF counts into the maintained table per batch (round 7 —
    // DedupSpec pins the batch plan touches no corpus source).
    "q_dedup_incremental" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val all = documents(s, d)
        new Dedup.IncrementalDeduper(all.filter(col("doc_id") % 5 =!= 0))
          .dedupBatch(all.filter(col("doc_id") % 5 === 0))
      },
      incrementalFlagsSql("doc_id % 5 = 0", "doc_id % 5 <> 0") +
        "\nORDER BY d.doc_id"),
    // Streaming ingest against the STANDING dedup state (round 9):
    // micro-batches of new documents flow through foreachBatch — each
    // batch is flagged against corpus + all PRIOR batches (the
    // persisted epoch state, never a corpus rescan) and then absorbed.
    // MemoryStream + explicit batch boundaries make the fixed point
    // deterministic, so the oracle replays it as the two-stage batch
    // recompute: batch-1 flags vs the corpus, batch-2 flags vs corpus
    // UNION batch-1.
    "q_stream_dedup_state" -> q(
      (s, d) => graft.streaming.StateDedupIngest.demo(s, d),
      s"""SELECT * FROM (
         |  (${incrementalFlagsSql("doc_id % 10 = 0", "doc_id % 5 <> 0")})
         |  UNION ALL
         |  (${incrementalFlagsSql("doc_id % 10 = 5",
                "doc_id % 5 <> 0 OR doc_id % 10 = 0")})
         |) ORDER BY doc_id""".stripMargin),
    // Streaming vector ingest against the STANDING ANN index (round
    // 10 — the ANN twin of q_stream_dedup_state, closing the dedup/ANN
    // state-lifecycle asymmetry): vector micro-batches flow through
    // foreachBatch — each batch is flagged with its exact top-3
    // neighbors among everything indexed BEFORE it (state at batch
    // start), then appended into the persisted IVF/SQ/IVF-SQ layouts
    // with the existing centroids/grid; the cycle ends with the
    // per-cell compaction sweep. MemoryStream pins the batch
    // boundaries, so the oracle replays the stream as the two-stage
    // batch recompute: batch-1 (vec_id%10=3) vs the corpus
    // (%10 NOT IN (3,7)), batch-2 (%10=7) vs corpus+batch-1 (%10<>7).
    // The routed batch probe of the state enters as batch_recall_ok
    // (>= 0.9 at nProbe=14/rerank=24) — the standard ANN contract.
    "q_stream_ann_ingest" -> q(
      (s, d) => graft.streaming.StreamAnnIngest.demo(s, d),
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), s1 AS (
        |  SELECT qy.vec_id AS query_id, c.vec_id,
        |    list_dot_product([y / qy.nrm FOR y IN qy.e], [x / c.nrm FOR x IN c.e]) AS raw_cos
        |  FROM u c JOIN u qy ON qy.vec_id % 10 = 3
        |  WHERE c.vec_id % 10 NOT IN (3, 7)
        |), r1 AS (
        |  SELECT query_id, vec_id, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s1
        |), s2 AS (
        |  SELECT qy.vec_id AS query_id, c.vec_id,
        |    list_dot_product([y / qy.nrm FOR y IN qy.e], [x / c.nrm FOR x IN c.e]) AS raw_cos
        |  FROM u c JOIN u qy ON qy.vec_id % 10 = 7
        |  WHERE c.vec_id % 10 <> 7
        |), r2 AS (
        |  SELECT query_id, vec_id, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s2
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |  ROUND(raw_cos, 4) AS cos_sim, TRUE AS batch_recall_ok
        |FROM (SELECT * FROM r1 WHERE rnk <= 3
        |      UNION ALL SELECT * FROM r2 WHERE rnk <= 3)
        |ORDER BY query_id, rank""".stripMargin),

    // Distributed PageRank (round 9): the link-authority quality
    // signal a crawl curation pipeline attaches to documents. Each
    // round = one edge-rank join + one hash agg of INTEGER fixed-point
    // (scale 10^-12) BIGINT contributions — `div` splits, 85/100
    // damping, exact integer sums, so no rounding mode exists for the
    // engines to disagree on (the DECIMAL(28,10) first cut lost 4/500
    // nodes to half-way ties). The oracle unrolls the identical
    // integer rounds as CTE stages, so a wrong iteration — not just a
    // slow one — breaks the hash. Demo graph: (id+1) mod N and
    // (id²+3) mod N out-edges — the chain rule keeps every node emitting (no dangling mass) while the quadratic rule is non-bijective, so in-degrees vary and iteration differentiates ranks.
    "q_pagerank" -> q(
      (s, d) => graft.query.PageRank.rank(documents(s, d)),
      s"""WITH ${pageRankCtes(4, demoEdgesSql, dangling = false)}
         |SELECT doc_id, CAST(r AS DOUBLE) / 1000000000000 AS pagerank FROM r4
         |ORDER BY doc_id""".stripMargin),
    // General-contract PageRank (round 10 — verdict task 4): an edge
    // table derived from doc cross-references WITH DANGLING NODES —
    // id%7==0 ∧ id%3!=1 docs (≈9.5%, id=0 among them) emit no edges,
    // so each round redistributes their mass uniformly: the exact
    // BIGINT dangling sum, floored per-node share (dsum // n), added
    // inside the damped term. Same integer fixed-point discipline as
    // q_pagerank — the share is one 1-row aggregate per round
    // broadcast into the node join, and the oracle replays it as a
    // scalar subquery over the previous round's no-out-edge rows.
    "q_pagerank_links" -> q(
      (s, d) => graft.query.PageRank.rankLinks(documents(s, d)),
      s"""WITH ${pageRankCtes(4, linkEdgesSql, dangling = true)}
         |SELECT doc_id, CAST(r AS DOUBLE) / 1000000000000 AS pagerank FROM r4
         |ORDER BY doc_id""".stripMargin),
    // Triangle counting (round 10) — degree-ordered orientation
    // (node-iterator++): every edge directs low-(deg,id) -> high, each
    // triangle has exactly one vertex out-adjacent to the other two,
    // so it is found once; any node's out-degree is O(sqrt |E|), so
    // the deliberate hub (node 0, degree |V|/25 + 4) receives its
    // edges INBOUND and contributes ~no wedges — the skew case that
    // kills unoriented wedge counting on power-law graphs. Exact
    // integer counts + an engine-independent (deg, id) total order =
    // zero cross-engine numeric surface; the oracle replays the same
    // orientation in SQL row-comparisons.
    "q_triangles" -> q(
      (s, d) => graft.query.Graph.triangleDemo(documents(s, d)),
      """WITH ids AS (SELECT doc_id FROM documents),
        |nn AS (SELECT COUNT(*) AS n FROM ids),
        |raw AS (
        |  SELECT doc_id AS src, (doc_id + 1) % nn.n AS dst FROM ids, nn
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 2) % nn.n FROM ids, nn WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id, (doc_id + 3) % nn.n FROM ids, nn WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 0, doc_id FROM ids WHERE doc_id % 25 = 0 AND doc_id <> 0
        |), canon AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM raw WHERE src <> dst
        |), deg AS (
        |  SELECT id, COUNT(*) AS deg FROM (
        |    SELECT a AS id FROM canon UNION ALL SELECT b FROM canon) GROUP BY id
        |), o AS (
        |  SELECT CASE WHEN (da.deg, c.a) < (db.deg, c.b) THEN c.a ELSE c.b END AS u,
        |         CASE WHEN (da.deg, c.a) < (db.deg, c.b) THEN c.b ELSE c.a END AS v,
        |         CASE WHEN (da.deg, c.a) < (db.deg, c.b) THEN db.deg ELSE da.deg END AS dv
        |  FROM canon c JOIN deg da ON da.id = c.a JOIN deg db ON db.id = c.b
        |), w AS (
        |  SELECT o1.u AS u, o1.v AS v, o2.v AS w
        |  FROM o o1 JOIN o o2 ON o1.u = o2.u AND (o1.dv, o1.v) < (o2.dv, o2.v)
        |), t AS (SELECT w.u, w.v, w.w FROM w JOIN o ON o.u = w.v AND o.v = w.w
        |), cnt AS (
        |  SELECT id, COUNT(*) AS triangles FROM (
        |    SELECT u AS id FROM t UNION ALL SELECT v FROM t
        |    UNION ALL SELECT w FROM t) GROUP BY id
        |)
        |SELECT ids.doc_id, COALESCE(deg.deg, 0) AS degree,
        |  COALESCE(cnt.triangles, 0) AS triangles
        |FROM ids LEFT JOIN deg ON deg.id = ids.doc_id
        |LEFT JOIN cnt ON cnt.id = ids.doc_id
        |ORDER BY doc_id""".stripMargin),
    // k-core by synchronized peeling (round 10): 5 unrolled rounds of
    // "drop survivors with survivor-degree < 4" over the citation
    // graph + planted 6-cliques; the chain fabric cascades out in 4
    // rounds, the cliques are the 4-core. `converged` gates that one
    // more round drops nothing — a too-small round budget self-reports
    // instead of passing off a non-fixed-point. Monotone integer
    // peeling => engine-independent fixed point; the oracle unrolls
    // the identical rounds as CTE stages.
    "q_kcore" -> q(
      (s, d) => graft.query.Graph.kCoreDemo(documents(s, d)),
      s"""WITH ${kCoreCtes(rounds = 5, k = 4)}
        |SELECT ids.doc_id, (a5.doc_id IS NOT NULL) AS in_kcore, conv.converged
        |FROM ids LEFT JOIN a5 ON a5.doc_id = ids.doc_id, conv
        |ORDER BY ids.doc_id""".stripMargin),
    // Blocked edit-distance entity resolution (round 10) — PassJoin
    // segment blocking at tau=1 (VLDB'12, public literature): the
    // clean titles (first 5 tokens) index 2 segments each; the dirty
    // variants (every 5th doc, ONE char deleted at a position that
    // walks the string) probe <= 18 shifted substrings; pigeonhole
    // guarantees every true pair shares a (segment, slot, length) key.
    // The ORACLE is deliberately a DIFFERENT algorithm — length-banded
    // brute force over all (dirty, clean) pairs — so a green hash is
    // the pigeonhole completeness theorem holding, not two spellings
    // of one plan agreeing. Verification uses thresholded (banded-DP)
    // levenshtein; distances are exact ints.
    "q_fuzzy_join" -> q(
      (s, d) => graft.llm.FuzzyJoin.titleResolution(documents(s, d)),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |clean AS (
        |  SELECT doc_id AS clean_id, array_to_string(t[1:5], ' ') AS s
        |  FROM toks WHERE len(t) >= 5
        |), dirty AS (
        |  SELECT clean_id AS dirty_id,
        |    substr(s, 1, CAST((clean_id // 5) % length(s) AS INT))
        |      || substr(s, CAST((clean_id // 5) % length(s) AS INT) + 2) AS q
        |  FROM clean WHERE clean_id % 5 = 0
        |), cand AS (
        |  SELECT d.dirty_id, c.clean_id, levenshtein(d.q, c.s) AS dist
        |  FROM dirty d JOIN clean c
        |    ON length(c.s) BETWEEN length(d.q) - 1 AND length(d.q) + 1
        |)
        |SELECT dirty_id, clean_id, CAST(dist AS INT) AS dist
        |FROM cand WHERE dist <= 1 ORDER BY dirty_id, clean_id""".stripMargin),
    // PassJoin at tau=2 (round 10): TWO chained deletions per dirty
    // variant, 3-segment blocking — two edits can hit two different
    // segments and the third must still match verbatim (shifted <= 2).
    // Same contract: the oracle is length-banded brute force, so the
    // green hash is the 3-segment pigeonhole theorem.
    "q_fuzzy_join2" -> q(
      (s, d) => graft.llm.FuzzyJoin.titleResolution2(documents(s, d)),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |clean AS (
        |  SELECT doc_id AS clean_id, array_to_string(t[1:5], ' ') AS s
        |  FROM toks WHERE len(t) >= 5
        |), d1 AS (
        |  SELECT clean_id AS dirty_id,
        |    substr(s, 1, CAST((clean_id // 5) % length(s) AS INT))
        |      || substr(s, CAST((clean_id // 5) % length(s) AS INT) + 2) AS q1
        |  FROM clean WHERE clean_id % 5 = 0
        |), dirty AS (
        |  SELECT dirty_id,
        |    substr(q1, 1, CAST((dirty_id // 7) % length(q1) AS INT))
        |      || substr(q1, CAST((dirty_id // 7) % length(q1) AS INT) + 2) AS q
        |  FROM d1
        |), cand AS (
        |  SELECT d.dirty_id, c.clean_id, levenshtein(d.q, c.s) AS dist
        |  FROM dirty d JOIN clean c
        |    ON length(c.s) BETWEEN length(d.q) - 2 AND length(d.q) + 2
        |)
        |SELECT dirty_id, clean_id, CAST(dist AS INT) AS dist
        |FROM cand WHERE dist <= 2 ORDER BY dirty_id, clean_id""".stripMargin),
    // Star-rounds CC on an adversarial-diameter graph: 50-long doc_id
    // chains, the case where plain min-label propagation needs ~50
    // shuffle rounds and the large-star/small-star alternation needs
    // O(log n). The oracle replays reachability as a recursive CTE, so
    // a wrong contraction (not just a slow one) breaks the hash.
    "q_dedup_cluster_star" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val docs = documents(s, d).select("doc_id")
        val edges = docs
          .filter(col("doc_id") % 50 =!= 49)
          .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
          .join(docs.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        Dedup.connectedComponentsStar(docs, edges)
      },
      """WITH RECURSIVE pairs AS (
        |  SELECT d.doc_id AS doc_a, d.doc_id + 1 AS doc_b
        |  FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
        |  WHERE d.doc_id % 50 <> 49
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM pairs
        |), reach(id, lbl) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        |)
        |SELECT id AS doc_id, MIN(lbl) AS component FROM reach
        |GROUP BY id ORDER BY doc_id""".stripMargin),

    // ---- similarity search (X3) ----
    "q_similarity_topk" -> q(
      (s, d) => Similarity.bruteForceTopK(embeddings(s, d)),
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q_emb)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS raw_cos
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, ROUND(raw_cos, 4) AS cos_sim FROM c
        |ORDER BY raw_cos DESC, vec_id LIMIT 10""".stripMargin),
    // ANN under the oracle via the error-bound pattern (like
    // q_approx_distinct): output = the EXACT brute-force top-10 (oracle
    // recomputes it) + a recall_at_10_ok column that is TRUE iff the
    // ANN index found >= 90% of the true top-10. Index recall
    // regressions flip the boolean and break the hash.
    "q_ann_lsh" -> q(
      (s, d) => {
        val e = embeddings(s, d)
        // 6 tables x (4 planes + Hamming-1): recall 1.0 measured at
        // sf0.001/0.01/0.1 — comfortably above the 0.9 gate. The probe
        // reads the PERSISTED signature table (built once per session+SF,
        // shared with q_ann_batch) instead of re-hashing the corpus.
        val sig = graft.llm.AnnIndex.lshSignatures(s, d, e)
        Similarity.annRecallGate(e,
          Similarity.annLshTopKFromSignatures(sig, numTables = 6))
      },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q_emb)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS raw_cos
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, ROUND(raw_cos, 4) AS cos_sim, TRUE AS recall_at_10_ok FROM c
        |ORDER BY raw_cos DESC, vec_id LIMIT 10""".stripMargin),
    "q_ann_ivf" -> q(
      (s, d) => {
        val e = embeddings(s, d)
        // The fixture corpus is cluster-weak, so IVF needs a high probe
        // fraction for top-k recall; one Lloyd refinement pass moves
        // the hash-sampled seeds to cell centers, and nProbe=12/16
        // measures recall 1.0 at ALL of sf0.001/0.01/0.1 (pre-Lloyd,
        // even 14/16 read 0.9 at sf0.001). (On genuinely clustered
        // data — the IVF use case — a small nProbe suffices; see
        // SimilaritySpec's clustered-corpus tests at nProbe=2 and 4.)
        // The index (broadcast centroid table + cell-partitioned
        // corpus) is built ONCE per session+SF and reused by
        // q_ann_ivf_probe; the probe partition-prunes to 12 of 16
        // cells (AnnIndexSpec pins files-read == probed partitions).
        val idx = graft.llm.AnnIndex.ivfDir(s, d, e)
        Similarity.annRecallGate(e,
          graft.llm.AnnIndex.probeIvf(s, idx, e, queryId = 0L, k = 10, nProbe = 12))
      },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q_emb)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS raw_cos
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, ROUND(raw_cos, 4) AS cos_sim, TRUE AS recall_at_10_ok FROM c
        |ORDER BY raw_cos DESC, vec_id LIMIT 10""".stripMargin),
    // The index-REUSE query: probe the SAME persisted IVF index
    // q_ann_ivf built (memoized per session+SF) with a different query
    // vector — the second probe pays zero training/assignment cost,
    // which is the entire point of index-as-table. Same error-bound
    // oracle pattern (exact brute-force top-10 for vec_id=7 + gate).
    "q_ann_ivf_probe" -> q(
      (s, d) => {
        val e = embeddings(s, d)
        val idx = graft.llm.AnnIndex.ivfDir(s, d, e)
        Similarity.annRecallGate(e,
          graft.llm.AnnIndex.probeIvf(s, idx, e, queryId = 7L, k = 10, nProbe = 12),
          queryId = 7L)
      },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 7),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q_emb)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS raw_cos
        |  FROM embeddings, q WHERE vec_id <> 7)
        |SELECT vec_id, ROUND(raw_cos, 4) AS cos_sim, TRUE AS recall_at_10_ok FROM c
        |ORDER BY raw_cos DESC, vec_id LIMIT 10""".stripMargin),
    // Quantized (int8 SQ) retrieval tier: the whole corpus is first
    // ranked on 4x-smaller dequantized codes, then a rerank*k pool is
    // exactly re-ranked in float — the standard IO lever when the
    // float32 payload IS the 100 TB scan bill. Same error-bound oracle
    // pattern: output = exact brute-force top-10, quantized recall
    // enters as the gate column (measured 1.0 at all three SFs;
    // AnnIndexSpec pins the on-disk compression ratio).
    "q_ann_sq8" -> q(
      (s, d) => {
        val e = embeddings(s, d)
        val idx = graft.llm.AnnIndex.sqDir(s, d, e)
        Similarity.annRecallGate(e,
          graft.llm.AnnIndex.sqTopK(s, idx, e, queryId = 0L, k = 10))
      },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q_emb)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS raw_cos
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, ROUND(raw_cos, 4) AS cos_sim, TRUE AS recall_at_10_ok FROM c
        |ORDER BY raw_cos DESC, vec_id LIMIT 10""".stripMargin),
    // Product-quantized retrieval tier (round 8 — the byte-budget end
    // of the ANN ladder past SQ8): unit vectors cut into 16 subspaces,
    // each coded by its nearest of 32 per-subspace centroids (~10 B
    // packed vs 64 B SQ8 vs 256 B raw). First pass = ADC: the query's
    // dot against every (subspace, centroid) is ONE broadcast m*k
    // lookup row; a corpus row scores with m array lookups + a sum —
    // no float touched until the exact re-rank of the rerank*k pool.
    // Same error-bound oracle as the other ANN tiers (recall gate,
    // measured 1.0 at all SFs for this query at m=16, nCents=32).
    "q_ann_pq" -> q(
      (s, d) => {
        val e = embeddings(s, d)
        val idx = graft.llm.AnnIndex.pqDir(s, d, e)
        Similarity.annRecallGate(e,
          graft.llm.AnnIndex.pqTopK(s, idx, e, queryId = 3L, k = 10),
          queryId = 3L)
      },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 3),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q_emb)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS raw_cos
        |  FROM embeddings, q WHERE vec_id <> 3)
        |SELECT vec_id, ROUND(raw_cos, 4) AS cos_sim, TRUE AS recall_at_10_ok FROM c
        |ORDER BY raw_cos DESC, vec_id LIMIT 10""".stripMargin),
    // The composed IVFPQ probe (round 8): the m-code PQ table written
    // PARTITIONED BY the IVF cell — partition pruning and product
    // quantization multiply, so the first pass ADC-scans nProbe
    // partitions of the SMALLEST code tier (~10 B/vector). Built on
    // the same persisted ivf + pq artifacts the other queries share.
    "q_ann_ivf_pq" -> q(
      (s, d) => {
        val e = embeddings(s, d)
        val ivf = graft.llm.AnnIndex.ivfDir(s, d, e)
        val pq = graft.llm.AnnIndex.pqDir(s, d, e)
        val cpq = graft.llm.AnnIndex.ivfPqDir(s, d, e)
        Similarity.annRecallGate(e,
          graft.llm.AnnIndex.probeIvfPq(s, ivf, pq, cpq, e,
            queryId = 13L, k = 10, nProbe = 12),
          queryId = 13L)
      },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 13),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q_emb)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS raw_cos
        |  FROM embeddings, q WHERE vec_id <> 13)
        |SELECT vec_id, ROUND(raw_cos, 4) AS cos_sim, TRUE AS recall_at_10_ok FROM c
        |ORDER BY raw_cos DESC, vec_id LIMIT 10""".stripMargin),
    // The composed IVF-SQ probe: partition pruning and quantization
    // MULTIPLY — the first pass reads nProbe cell-partitions of the
    // 4x-smaller code table, exact float re-rank touches a rerank*k
    // pool only. Built on the SAME persisted ivf + sq artifacts the
    // other ANN queries share; query vec_id=11 diversifies the gate.
    "q_ann_ivf_sq" -> q(
      (s, d) => {
        val e = embeddings(s, d)
        val ivf = graft.llm.AnnIndex.ivfDir(s, d, e)
        val sq = graft.llm.AnnIndex.sqDir(s, d, e)
        val csq = graft.llm.AnnIndex.ivfSqDir(s, d, e)
        Similarity.annRecallGate(e,
          graft.llm.AnnIndex.probeIvfSq(s, ivf, sq, csq, e,
            queryId = 11L, k = 10, nProbe = 12),
          queryId = 11L)
      },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 11),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q_emb)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS raw_cos
        |  FROM embeddings, q WHERE vec_id <> 11)
        |SELECT vec_id, ROUND(raw_cos, 4) AS cos_sim, TRUE AS recall_at_10_ok FROM c
        |ORDER BY raw_cos DESC, vec_id LIMIT 10""".stripMargin),
    // Batch ANN: top-5 corpus neighbors for EVERY query in a probe set
    // (vec_id % 50 = 0 -> 10/10/40 queries across SFs) as ONE bucket
    // join — the many-queries retrieval shape. Same error-bound
    // pattern as q_ann_lsh: output = exact brute-force batch top-k
    // (oracle recomputes it), ANN bucket-join recall enters as the
    // batch_recall_ok gate column. The corpus side reads the PERSISTED
    // signature table shared with q_ann_lsh — only the (tiny) query
    // side hashes fresh, and here even that is a filter of the index.
    "q_ann_batch" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = embeddings(s, d)
        val sig = graft.llm.AnnIndex.lshSignatures(s, d, e)
        Similarity.annBatchRecallGateFromSignatures(e, sig, col("vec_id") % 50 === 0)
      },
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), qy AS (
        |  SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM u WHERE vec_id % 50 = 0
        |), s AS (
        |  SELECT qy.query_id, u.vec_id,
        |    list_dot_product([y / qy.qn FOR y IN qy.qe], [x / u.nrm FOR x IN u.e]) AS raw_cos
        |  FROM u JOIN qy ON u.vec_id <> qy.query_id
        |), r AS (
        |  SELECT query_id, vec_id, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |  ROUND(raw_cos, 4) AS cos_sim, TRUE AS batch_recall_ok
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // BATCH probe of the persisted IVF-SQ index (round 8 — the
    // production many-queries shape the index exists for): EVERY query
    // of the probe set (vec_id % 50 = 1) gets its nProbe cells from
    // the broadcast-centroid argmax join — zero per-query driver work,
    // the r7-flagged probeCellsFor loop generalized into the plan —
    // then ONE join of the (query_id, cell) probe set against the
    // cell-partitioned int8 code table feeds per-query TopKPerKey
    // pools and an exact float re-rank. Same error-bound contract as
    // q_ann_batch: output = exact brute-force batch top-5 (oracle
    // recomputes it), index recall enters as batch_recall_ok.
    "q_ann_batch_ivf" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = embeddings(s, d)
        val ivf = graft.llm.AnnIndex.ivfDir(s, d, e)
        val sq = graft.llm.AnnIndex.sqDir(s, d, e)
        val csq = graft.llm.AnnIndex.ivfSqDir(s, d, e)
        graft.llm.AnnIndex.batchIvfSqRecallGate(s, ivf, sq, csq, e,
          col("vec_id") % 50 === 1)
      },
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), qy AS (
        |  SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM u WHERE vec_id % 50 = 1
        |), s AS (
        |  SELECT qy.query_id, u.vec_id,
        |    list_dot_product([y / qy.qn FOR y IN qy.qe], [x / u.nrm FOR x IN u.e]) AS raw_cos
        |  FROM u JOIN qy ON u.vec_id <> qy.query_id
        |), r AS (
        |  SELECT query_id, vec_id, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |  ROUND(raw_cos, 4) AS cos_sim, TRUE AS batch_recall_ok
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // Incremental index maintenance (round 8): the corpus minus every
    // 10th vector is indexed (ivf + sq + composed); the held-out tenth
    // is APPENDED with the EXISTING centroid table and quantization
    // grid — delta-only writes, no retrain/rebuild (AnnIndexSpec pins
    // the centroid/params artifacts byte-unchanged). The probe then
    // runs for an APPENDED vector (vec_id=29) over the composed layout:
    // recalling its true top-10 requires both original and appended
    // rows live in the index. Same error-bound oracle as q_ann_ivf.
    "q_ann_ivf_append" -> q(
      (s, d) => {
        val e = embeddings(s, d)
        val dir = graft.llm.AnnIndex.appendDemoDir(s, d, e)
        Similarity.annRecallGate(e,
          graft.llm.AnnIndex.probeIvfSq(s, s"$dir/ivf", s"$dir/sq", s"$dir/csq",
            e, queryId = 29L, k = 10, nProbe = 12),
          queryId = 29L)
      },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 29),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q_emb)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS raw_cos
        |  FROM embeddings, q WHERE vec_id <> 29)
        |SELECT vec_id, ROUND(raw_cos, 4) AS cos_sim, TRUE AS recall_at_10_ok FROM c
        |ORDER BY raw_cos DESC, vec_id LIMIT 10""".stripMargin),
    // IVF cell compaction (round 9): the append path leaves one delta
    // file per append per cell; this query compacts a COPY of the
    // append-demo index (per-cell file budgets, one shuffle,
    // centroids/grid untouched) and gates on (a) recall vs exact as
    // usual, (b) the probe answer surviving the rewrite bit-identical,
    // (c) the data-file count actually dropping in BOTH
    // cell-partitioned trees. Output = exact brute-force top-10 — the
    // same contract as every recall-gated ANN row.
    "q_ann_ivf_compact" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.lit
        val e = embeddings(s, d)
        val dir = graft.llm.AnnIndex.compactDemoDir(s, d, e)
        val post = graft.llm.AnnIndex.probeIvfSq(s, s"$dir/ivf", s"$dir/sq",
          s"$dir/csq", e, queryId = 17L, k = 10, nProbe = 12)
        // 10-row probe answers: bounded collects, spec-class comparison
        val parity = s.read.parquet(s"$dir/probe_pre").collect().toSet ==
          post.collect().toSet
        val r = s.read.parquet(s"$dir/report").collect()(0)
        val reduced = r.getInt(1) < r.getInt(0) && r.getInt(3) < r.getInt(2)
        Similarity.annRecallGate(e, post, queryId = 17L)
          .withColumn("compact_parity_ok", lit(parity))
          .withColumn("files_reduced_ok", lit(reduced))
      },
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 17),
        |c AS (SELECT vec_id,
        |    list_dot_product(CAST(embedding AS DOUBLE[]), q_emb)
        |      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
        |         * sqrt(list_dot_product(q_emb, q_emb))) AS raw_cos
        |  FROM embeddings, q WHERE vec_id <> 17)
        |SELECT vec_id, ROUND(raw_cos, 4) AS cos_sim, TRUE AS recall_at_10_ok,
        |  TRUE AS compact_parity_ok, TRUE AS files_reduced_ok FROM c
        |ORDER BY raw_cos DESC, vec_id LIMIT 10""".stripMargin),
    // BATCH probe of the composed IVFPQ layout (round 8): per-query
    // probe cells AND per-query ADC lookup tables both ride broadcast
    // joins (the single-probe LUT generalized to a (query_id, lut)
    // table), one join against the pruned cells_pq partitions scores
    // every pair with m array lookups. The many-queries shape on the
    // smallest (~10 B/vector) tier. Same error-bound contract as
    // q_ann_batch: output = exact brute-force batch top-5 + gate.
    "q_ann_batch_pq" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = embeddings(s, d)
        val ivf = graft.llm.AnnIndex.ivfDir(s, d, e)
        val pq = graft.llm.AnnIndex.pqDir(s, d, e)
        val cpq = graft.llm.AnnIndex.ivfPqDir(s, d, e)
        // nProbe=14, rerank=24: batch recall 1.0/0.94/0.94 across the
        // three fixture SFs (PQ loses more of a BATCH's hardest
        // queries than a single probe's, so the pool is deeper here)
        graft.llm.AnnIndex.batchIvfPqRecallGate(s, ivf, pq, cpq, e,
          col("vec_id") % 50 === 2, nProbe = 14, rerank = 24)
      },
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), qy AS (
        |  SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM u WHERE vec_id % 50 = 2
        |), s AS (
        |  SELECT qy.query_id, u.vec_id,
        |    list_dot_product([y / qy.qn FOR y IN qy.qe], [x / u.nrm FOR x IN u.e]) AS raw_cos
        |  FROM u JOIN qy ON u.vec_id <> qy.query_id
        |), r AS (
        |  SELECT query_id, vec_id, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |  ROUND(raw_cos, 4) AS cos_sim, TRUE AS batch_recall_ok
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // NN-DESCENT kNN graph (round 11 — the graph-refined rung the
    // LSH/IVF/SQ/PQ ladder lacked, the construction under HNSW-class
    // indexes): "a neighbor of my neighbor is probably my neighbor"
    // iterated as relational joins (the PageRank fixed-point
    // discipline applied to kNN graphs), with deterministic
    // hash-restart probes doing the exploration this near-random
    // fixture denies to pure neighbor expansion (same adversarial
    // shape that forces the IVF rows to 12/16 cells). The persisted
    // graph IS the index — a corpus query's ANN result is one
    // broadcast semi-join onto the edge table, zero query-time vector
    // math. Standard ANN row contract: output = exact brute-force
    // batch top-5 (oracle recomputes it); graph recall@5 (measured
    // 1.0/1.0/0.96 across SFs) enters as graph_recall_ok.
    "q_ann_nndescent" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = embeddings(s, d)
        val dir = graft.llm.NnDescent.graphDir(s, d, e)
        graft.llm.NnDescent.recallGate(e, dir, col("vec_id") % 50 === 3)
      },
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), qy AS (
        |  SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM u WHERE vec_id % 50 = 3
        |), s AS (
        |  SELECT qy.query_id, u.vec_id,
        |    list_dot_product([y / qy.qn FOR y IN qy.qe], [x / u.nrm FOR x IN u.e]) AS raw_cos
        |  FROM u JOIN qy ON u.vec_id <> qy.query_id
        |), r AS (
        |  SELECT query_id, vec_id, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |  ROUND(raw_cos, 4) AS cos_sim, TRUE AS graph_recall_ok
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // GRAPH BEAM SEARCH (round 11): the NN-descent graph's read path
    // for queries that are NOT corpus nodes (HNSW layer-0 search,
    // minus the layers): hash entry points, then rounds of
    // frontier-adjacency expansion scoring ONLY newly visited nodes —
    // per-query cost O(entries + rounds*beam*k), independent of
    // corpus size, which is the point of graph ANN at 100 TB. The
    // wide-beam setting this structure-free fixture needs measures
    // recall@5 = 1.0 at all three SFs. Standard ANN row contract.
    "q_ann_graph_search" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = embeddings(s, d)
        val dir = graft.llm.NnDescent.graphDir(s, d, e)
        graft.llm.NnDescent.searchRecallGate(e, dir, col("vec_id") % 50 === 7)
      },
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), qy AS (
        |  SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM u WHERE vec_id % 50 = 7
        |), s AS (
        |  SELECT qy.query_id, u.vec_id,
        |    list_dot_product([y / qy.qn FOR y IN qy.qe], [x / u.nrm FOR x IN u.e]) AS raw_cos
        |  FROM u JOIN qy ON u.vec_id <> qy.query_id
        |), r AS (
        |  SELECT query_id, vec_id, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |  ROUND(raw_cos, 4) AS cos_sim, TRUE AS search_recall_ok
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // INCREMENTAL graph insert (round 11): the append discipline every
    // other index tier carries, for the NN-descent graph — delta
    // nodes PLACE via beam search over the standing graph (O(beam*k)
    // per node, independent of n), delta-internal pairs brute-force
    // (batch-sized), and reverse refresh re-ranks the touched
    // standing nodes (cosine symmetry recycles the placement scores).
    // The rewrite is a ManifestSink COPY-ON-WRITE merge keyed on src:
    // the index IS a manifest table, maintenance IS a zone-map-
    // bounded merge with atomic visibility and time travel to the
    // pre-append graph. Gate: the appended index must answer the
    // delta queries like a full graph (exact output, recall gate).
    "q_ann_graph_append" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = embeddings(s, d)
        val dir = graft.llm.NnDescent.appendDemoDir(s, d, e)
        graft.llm.NnDescent.recallGate(e, dir, col("vec_id") % 50 === 11)
      },
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), qy AS (
        |  SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM u WHERE vec_id % 50 = 11
        |), s AS (
        |  SELECT qy.query_id, u.vec_id,
        |    list_dot_product([y / qy.qn FOR y IN qy.qe], [x / u.nrm FOR x IN u.e]) AS raw_cos
        |  FROM u JOIN qy ON u.vec_id <> qy.query_id
        |), r AS (
        |  SELECT query_id, vec_id, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |  ROUND(raw_cos, 4) AS cos_sim, TRUE AS graph_recall_ok
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // Semantic decontamination (round 8): flag training vectors whose
    // cosine to ANY eval vector (every 40th, the text-side carve
    // convention) clears 0.4 — paraphrased benchmark leakage n-gram
    // overlap cannot see. Eval side broadcasts; the corpus scan is
    // map-side; max/count aggregates are order-independent, so the
    // report replays exactly.
    "q_decontam_embedding" -> q(
      (s, d) => Similarity.embeddingDecontaminate(embeddings(s, d)),
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), ev AS (SELECT e, nrm FROM u WHERE vec_id % 40 = 0),
        |tr AS (SELECT vec_id, e, nrm FROM u WHERE vec_id % 40 <> 0),
        |p AS (
        |  SELECT tr.vec_id,
        |    list_dot_product([x / tr.nrm FOR x IN tr.e], [y / ev.nrm FOR y IN ev.e]) AS raw_cos
        |  FROM tr, ev
        |)
        |SELECT vec_id,
        |  CAST(SUM(CASE WHEN raw_cos >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_hits,
        |  ROUND(MAX(raw_cos), 4) AS max_eval_cos,
        |  (SUM(CASE WHEN raw_cos >= 0.4 THEN 1 ELSE 0 END) > 0) AS contaminated
        |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    // Hard-negative mining (round 9): for every anchor, the top-5
    // most-similar DIFFERENT-label vectors — the batch retrieval shape
    // contrastive embedding training feeds on. The label-mismatch
    // predicate rides the join (a post-filtered top-k would
    // under-fill). Exact and deterministic (vec_id tie-break), so the
    // oracle replays it fully.
    "q_hard_negatives" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        Similarity.hardNegatives(embeddings(s, d), col("vec_id") % 50 === 2)
      },
      """WITH u AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), qy AS (
        |  SELECT vec_id AS query_id, label AS q_label, e AS qe, nrm AS qn
        |  FROM u WHERE vec_id % 50 = 2
        |), s AS (
        |  SELECT qy.query_id, u.vec_id, u.label,
        |    list_dot_product([y / qy.qn FOR y IN qy.qe], [x / u.nrm FOR x IN u.e]) AS raw_cos
        |  FROM u JOIN qy ON u.vec_id <> qy.query_id AND u.label <> qy.q_label
        |), r AS (
        |  SELECT query_id, vec_id, label, raw_cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s
        |)
        |SELECT query_id, CAST(rnk AS INT) AS rank, vec_id,
        |  label AS neg_label, ROUND(raw_cos, 4) AS cos_sim
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin),
    // RAG context assembly (round 9): the serve-side composition the
    // batch ANN index and the packing ops exist for — each query's
    // top-5 neighbor docs packed in rank order into a 128-token
    // context window (greedy prefix via a monotone window cumsum).
    // Same contract as the batch-ANN rows: output computed over the
    // exact batch top-k, gate = the persisted IVF-SQ probe recovering
    // >= 0.9 of the exact pairs.
    "q_rag_context" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val e = embeddings(s, d)
        val ivf = graft.llm.AnnIndex.ivfDir(s, d, e)
        val sq = graft.llm.AnnIndex.sqDir(s, d, e)
        val csq = graft.llm.AnnIndex.ivfSqDir(s, d, e)
        Curation.ragContext(s, ivf, sq, csq, e, documents(s, d),
          col("vec_id") % 50 === 2, k = 5, tokenBudget = 128,
          nProbe = 14, rerank = 24)
      },
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), qy AS (
        |  SELECT vec_id AS query_id, e AS qe, nrm AS qn FROM u WHERE vec_id % 50 = 2
        |), s AS (
        |  SELECT qy.query_id, u.vec_id,
        |    list_dot_product([y / qy.qn FOR y IN qy.qe], [x / u.nrm FOR x IN u.e]) AS raw_cos
        |  FROM u JOIN qy ON u.vec_id <> qy.query_id
        |), r AS (
        |  SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY raw_cos DESC, vec_id) AS rnk
        |  FROM s
        |), t AS (
        |  SELECT r.query_id, r.vec_id, r.rnk,
        |    len(string_split(d.text, ' ')) AS n_tok
        |  FROM r JOIN documents d ON d.doc_id = r.vec_id WHERE r.rnk <= 5
        |), c AS (
        |  SELECT *, SUM(n_tok) OVER (PARTITION BY query_id ORDER BY rnk) AS cum FROM t
        |)
        |SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_context_tokens,
        |  string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY rnk) AS context_doc_ids,
        |  TRUE AS batch_recall_ok
        |FROM c WHERE cum <= 128 GROUP BY query_id ORDER BY query_id""".stripMargin),
    // ANN-ROUTED decontamination (round 9): the 10^5+-eval scale path
    // the broadcast spelling's docs point to — eval vectors probe the
    // persisted IVF index (ONE broadcast-centroid assignment join,
    // pruned cell scan, per-cell pair work) instead of pairing against
    // every training vector. Range thresholds are harder than top-k
    // for cell probing (a pair at cos 0.4 sits ~66 deg away), so the
    // row follows the standard ANN contract: output = the EXACT
    // contaminated report (restricted to contaminated rows — their
    // global max IS a hit, so both spellings agree there), gate =
    // routed pair-recall >= 0.9 at nProbe=14 (measured 44/46 at sf0.1,
    // complete at sf0.001/0.01).
    "q_decontam_ann" -> q(
      (s, d) => {
        val e = embeddings(s, d)
        graft.llm.AnnIndex.decontaminateRoutedGate(
          s, graft.llm.AnnIndex.ivfDir(s, d, e), e)
      },
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), ev AS (SELECT e, nrm FROM u WHERE vec_id % 40 = 0),
        |tr AS (SELECT vec_id, e, nrm FROM u WHERE vec_id % 40 <> 0),
        |p AS (
        |  SELECT tr.vec_id,
        |    list_dot_product([x / tr.nrm FOR x IN tr.e], [y / ev.nrm FOR y IN ev.e]) AS raw_cos
        |  FROM tr, ev
        |)
        |SELECT vec_id,
        |  CAST(SUM(CASE WHEN raw_cos >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_hits,
        |  ROUND(MAX(raw_cos), 4) AS max_eval_cos, TRUE AS contaminated,
        |  TRUE AS ann_routed_ok
        |FROM p GROUP BY vec_id
        |HAVING SUM(CASE WHEN raw_cos >= 0.4 THEN 1 ELSE 0 END) > 0
        |ORDER BY vec_id""".stripMargin),
    // Oracle = brute-force cosine over all pairs (tractable in DuckDB
    // even at sf0.1 — 2M pairs of 64-dim dots). Valid because the
    // L-tables sign-LSH blocking with SIX independent families +
    // Hamming-1 multiprobe has ~1e-6 miss probability AT the 0.45
    // threshold (3 tables measured one miss in 144 pairs at sf0.1 —
    // a pair at cosine 0.491 slipped all three; 6 tables close it),
    // and the run is deterministic under the fixed seeds —
    // exact-parity verified at sf0.001/0.01/0.1. Both engines
    // normalize each vector first, then dot, then ROUND to 4 dp, so
    // the doubles agree bit-for-bit.
    "q_dedup_embedding" -> q(
      (s, d) => Similarity.embeddingNearDupPairs(embeddings(s, d), numTables = 6),
      """WITH u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_dot_product([x / a.nrm FOR x IN a.e], [y / b.nrm FOR y IN b.e]) AS raw_cos
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id
        |)
        |SELECT id_a, id_b, ROUND(raw_cos, 4) AS cos_sim FROM p
        |WHERE raw_cos >= 0.45 ORDER BY id_a, id_b""".stripMargin),
    // Embedding dedup APPLIED: LSH pairs -> connected components ->
    // one survivor per near-dup group with label + group size (the
    // vector-side q_dedup_apply). Oracle = brute-force pairs (2M
    // 64-dim dots — DuckDB-tractable even at sf0.1) + the recursive-
    // CTE clustering + survivor filter; the 6-table LSH blocking is
    // exact-parity at all SFs (see q_dedup_embedding), so clusters
    // and survivors match bit-for-bit.
    "q_dedup_embedding_apply" -> q(
      (s, d) => Similarity.embeddingDedupApply(embeddings(s, d)),
      """WITH RECURSIVE u AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                          CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |), p AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product([x / a.nrm FOR x IN a.e], [y / b.nrm FOR y IN b.e]) >= 0.45
        |), edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM p
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM p
        |), reach(id, lbl) AS (
        |  SELECT vec_id, vec_id FROM embeddings
        |  UNION
        |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
        |), labels AS (
        |  SELECT id AS vec_id, MIN(lbl) AS component FROM reach GROUP BY id
        |), sizes AS (
        |  SELECT component, CAST(COUNT(*) AS BIGINT) AS group_size
        |  FROM labels GROUP BY component
        |)
        |SELECT em.vec_id, em.label, s.group_size
        |FROM embeddings em
        |JOIN labels l ON em.vec_id = l.vec_id AND em.vec_id = l.component
        |JOIN sizes s ON l.component = s.component
        |ORDER BY em.vec_id""".stripMargin),
    // centroid emitted as 64 double COLUMNS (c00..c63): value-compared
    // by the driver instead of JSON-string-compared, and each element
    // is the decimal-exact sum / count in BOTH engines (scale 10 keeps
    // the unscaled sum < 2^53 where DuckDB's decimal->double cast is
    // exact). The Scala API (Similarity.labelCentroids) keeps the
    // array form.
    "q_label_centroids" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.{col, element_at}
        Similarity.labelCentroids(embeddings(s, d))
          .select(col("label") +: col("n_vecs") +: (0 until 64).map(i =>
            element_at(col("centroid"), i + 1).as(f"c$i%02d")): _*)
      },
      {
        // ROUND before the decimal cast: float32 values are dyadic and
        // CAN land exactly on a .5 boundary at scale 10 (e.g.
        // -0.27392578125), where DuckDB's double->decimal cast rounds
        // half-to-even but Spark HALF_UPs; DuckDB's ROUND is half-away
        // and matches.
        val cols = (0 until 64).map { i =>
          s"CAST(CAST(SUM(CAST(ROUND(CAST(embedding[${i + 1}] AS DOUBLE), 10) AS DECIMAL(28,10)))" +
            f" AS DECIMAL(38,10)) AS DOUBLE) / COUNT(*) AS c$i%02d"
        }.mkString(",\n  ")
        s"""SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           |  $cols
           |FROM embeddings GROUP BY label ORDER BY label""".stripMargin
      }),
    // K-MEANS (round 11): deterministic 2-iteration Lloyd — seeds are
    // the k lowest vec_ids, assignment is a ZERO-shuffle codegen'd
    // projection (argmin via `least` over k broadcast-literal (score,
    // cid) structs), recentering is one decimal-exact groupBy. The
    // DuckDB oracle replays the SAME two iterations (unrolled CTEs),
    // so every assignment decision — including ties and empty-cluster
    // drops — must match bit-for-bit across engines.
    "q_kmeans" -> q(
      (s, d) => graft.llm.Clustering.kmeansAssign(embeddings(s, d), k = 8)
        .orderBy("vec_id"),
      s"""WITH ${kmeansCtes(8)}
         |SELECT vec_id, cid AS cluster FROM g2 ORDER BY vec_id""".stripMargin),
    // SEMDEDUP (round 11, published method: cluster the embedding
    // space, then near-dup search only WITHIN clusters — pair work
    // (n/k)^2 * k, never n^2): flag every vector with a lower-id
    // unit-cosine >= 0.45 neighbor in its own k-means cluster. The
    // oracle replicates the cluster-bounded search (SemDeDup's recall
    // tradeoff is the algorithm, not an approximation), reusing the
    // q_dedup_embedding unit-vector/list_dot_product parity.
    "q_semdedup" -> q(
      (s, d) => graft.llm.Clustering.semDedup(embeddings(s, d), k = 32, tau = 0.45),
      s"""WITH ${kmeansCtes(32)},
         |u AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                          CAST(embedding AS DOUBLE[]))) AS nrm
         |  FROM embeddings
         |),
         |un AS (SELECT vec_id, [x / nrm FOR x IN e] AS uu FROM u),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM g2 a JOIN g2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN un ua ON ua.vec_id = a.vec_id
         |  JOIN un ub ON ub.vec_id = b.vec_id
         |  WHERE list_dot_product(ua.uu, ub.uu) >= 0.45
         |)
         |SELECT g2.vec_id, g2.cid AS cluster,
         |       (dropped.vec_id IS NOT NULL) AS is_dup
         |FROM g2 LEFT JOIN dropped ON g2.vec_id = dropped.vec_id
         |ORDER BY g2.vec_id""".stripMargin),

    // ---- ops/monitoring (monitor.sh row-count sweep analog) ----
    // Footer-based counts (no scan) checked against DuckDB COUNT(*).
    "q_monitor_stats" -> q(
      (s, d) => graft.ops.Monitor.statsReport(s, d),
      Seq("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier")
        .map(t => s"SELECT '$t' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows FROM $t")
        .mkString("", "\nUNION ALL\n", "\nORDER BY table_name")),

    // ---- generator + avro ingest chain (S13, S3/S4) ----
    // The generator's PRF is engine-portable (Lehmer rounds over
    // 2^31-1 in exact BIGINT math, uniforms derived as integer
    // hundredths — see Generator), so the oracle reproduces every
    // generated row bit-for-bit from a bare range() scan: the
    // generator ITSELF is under the hash gate, not just its consumers.
    "q_generate" -> q(
      (s, _) => Generator.sensorEvents(s).orderBy("device_id", "timestamp"),
      generatorSql(numDevices = 100, seconds = 60)),
    "q_generate_devices" -> q(
      (s, _) => Generator.devices(s).orderBy("device_id"),
      s"""SELECT
         |  'device-' || lpad(CAST(id AS VARCHAR), 4, '0') AS device_id,
         |  'Sensor-' || lpad(CAST(id AS VARCHAR), 3, '0') AS device_name,
         |  $citiesSql[CAST((${Generator.mixSql("id", 3)}) % 7 + 1 AS INT)] AS location,
         |  TIMESTAMP '2024-01-01 00:00:00' AS created_at,
         |  TIMESTAMP '2024-01-01 00:00:00' AS last_updated
         |FROM (SELECT range AS id FROM range(0, 100))
         |ORDER BY device_id""".stripMargin),
    // Full produce-side chain under the oracle: generate -> Avro
    // encode (Confluent wire framing) -> decode -> flatten -> event
    // time. The oracle recomputes the INPUT from the portable PRF; any
    // corruption in the binary codec hop surfaces as a row mismatch.
    "q_avro_roundtrip" -> q(
      (s, _) => graft.pipeline.AvroPipeline.roundTrip(s)
        .withColumn("event_time", ntz(org.apache.spark.sql.functions.col("event_time"))),
      generatorSql(numDevices = 50, seconds = 20,
        extraCols = ",\n  make_timestamp((1704067200 + id // 50) * 1000000) AS event_time")),

    // Malformed-input handling (the ingest reality of web-scale
    // corpora): a JSON batch with three deliberately broken lines read
    // in PERMISSIVE mode — broken records land in the corrupt-record
    // column instead of failing the job or silently vanishing, and the
    // good rows aggregate cleanly. Literal-oracle fixed point.
    "q_bad_records" -> q(
      (s, _) => {
        import org.apache.spark.sql.functions.{col, sum, when, lit}
        import s.implicits._
        val dir = tmpDir("graft_badrec_")
        val lines = (0 until 8).map(i => s"""{"id":$i,"v":${i * 10}}""") ++
          Seq("{not json", """{"id":"x","v":}""", "garbage")
        s.createDataset(lines).coalesce(1).write.mode("overwrite").text(dir)
        s.read.schema("id LONG, v LONG, _corrupt STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .json(dir)
          .agg(
            sum(when(col("_corrupt").isNull, 1L).otherwise(0L)).as("n_good"),
            sum(when(col("_corrupt").isNotNull, 1L).otherwise(0L)).as("n_bad"),
            sum(when(col("_corrupt").isNull, col("v")).otherwise(lit(0L))).as("v_total"))
      },
      """SELECT CAST(8 AS BIGINT) AS n_good, CAST(3 AS BIGINT) AS n_bad,
        |  CAST(280 AS BIGINT) AS v_total""".stripMargin),

    // XML: Spark 4 ships the (former spark-xml) data source built in;
    // fourth interchange format through the same round-trip gate.
    "q_xml_roundtrip" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val dir = tmpDir("graft_xml_demo_")
        val e = events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        e.write.mode("overwrite").option("rowTag", "event").xml(dir)
        s.read.schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
          .option("rowTag", "event").xml(dir)
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin),

    // ORC: third batch source format through the same round-trip gate.
    "q_orc_roundtrip" -> q(
      (s, d) => {
        import org.apache.spark.sql.functions.col
        val dir = tmpDir("graft_orc_demo_")
        val e = events(s, d).select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        e.write.mode("overwrite").orc(dir)
        s.read.schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
          .orc(dir)
          .orderBy("event_id")
      },
      """SELECT event_id, user_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin),

    // Size-tier compaction report (the SSTable-histogram analog): a
    // deterministic append layout — 4 files of 500 rows, 2 of 2000,
    // 1 of 4000 — yields a known before-histogram; flat compaction
    // rewrites ~10k rows into one tier-2 file. Tiers key on footer ROW
    // counts (deterministic across encoders), so the oracle is the
    // literal fixed point.
    "q_compaction_tiers" -> q(
      (s, _) => {
        val dir = tmpDir("graft_compaction_") + "/t"
        // SF-independent synthetic batches (the fixture's row count
        // varies with SF; the histogram fixed point must not). Writes
        // run concurrently — parquet append commits are task-file
        // atomic, and each "micro-batch" is independent by design.
        locally {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration._
          implicit val ec: ExecutionContext = ExecutionContext.global
          // one subdir per batch: concurrent jobs must not share one
          // output path's _temporary staging dir
          val writes = Seq(500, 500, 500, 500, 2000, 2000, 4000).zipWithIndex.map {
            case (n, i) =>
              Future(s.range(n).selectExpr("id AS event_id")
                .coalesce(1).write.mode("overwrite").parquet(s"$dir/b$i"))
          }
          writes.foreach(Await.result(_, 120.seconds))
        }
        val before = graft.sink.Compaction.tierHistogram(s, dir, "before")
        graft.sink.Compaction.compactFlat(s, dir, "event_id")
        val after = graft.sink.Compaction.tierHistogram(s, dir, "after")
        before.unionByName(after).orderBy("phase", "tier")
      },
      """SELECT 'after' AS phase, CAST(2 AS INT) AS tier, CAST(1 AS BIGINT) AS n_files
        |UNION ALL SELECT 'before', CAST(0 AS INT), CAST(4 AS BIGINT)
        |UNION ALL SELECT 'before', CAST(1 AS INT), CAST(3 AS BIGINT)
        |ORDER BY phase, tier""".stripMargin),

    // Watermarked stream-stream join surfaced as a batch result under a
    // literal oracle (one reading inside the alert's +/-10min window).
    "q_stream_join" -> q(
      (s, _) => graft.streaming.StreamingDemos.streamJoin(s),
      """SELECT 'd1' AS device_id, TIMESTAMP '2024-01-01 00:05:00' AS r_time,
        |  CAST(30.0 AS FLOAT) AS temperature,
        |  TIMESTAMP '2024-01-01 00:10:00' AS a_time, 'high' AS level""".stripMargin),

    // ---- streaming semantics surfaced as a batch result (A5) ----
    // The demo replays a FIXED event sequence through the real
    // watermarked streaming aggregation, so its finalized windows are a
    // known constant: hour-0 closes with n=2 (the 99-degree straggler
    // is provably dropped — were it counted, avg would be 47.67/n=3)
    // and hour-2 flushes with n=1. The oracle pins that fixed point.
    "q_watermark_late" -> q(
      (s, _) => graft.streaming.StreamingDemos.lateDrop(s),
      """SELECT 'd1' AS device_id, CAST(1704067200 AS BIGINT) AS hour_bucket,
        |  CAST(22.0 AS FLOAT) AS avg_temperature, CAST(24.0 AS FLOAT) AS max_temperature,
        |  CAST(20.0 AS FLOAT) AS min_temperature, CAST(2 AS INT) AS event_count
        |UNION ALL
        |SELECT 'd1', CAST(1704074400 AS BIGINT), CAST(30.0 AS FLOAT),
        |  CAST(30.0 AS FLOAT), CAST(30.0 AS FLOAT), CAST(1 AS INT)
        |ORDER BY hour_bucket""".stripMargin),

    // At-least-once -> effectively-once ingest dedup
    // (dropDuplicatesWithinWatermark) as a fixed point: 5 deliveries,
    // one in-batch dup and one cross-batch redelivery dropped, 3
    // unique readings survive.
    "q_stream_dedup" -> q(
      (s, _) => graft.streaming.StreamingDemos.streamDedup(s),
      """SELECT 'd1' AS device_id, CAST(1704067200000 AS BIGINT) AS "timestamp",
        |  CAST(22.0 AS FLOAT) AS temperature
        |UNION ALL SELECT 'd1', CAST(1704067202000 AS BIGINT), CAST(23.0 AS FLOAT)
        |UNION ALL SELECT 'd2', CAST(1704067201000 AS BIGINT), CAST(25.0 AS FLOAT)
        |ORDER BY device_id, "timestamp"""".stripMargin),

    // Checkpoint recovery (S8) as a literal fixed point: a file-source
    // dedup stream is stopped and a NEW query restarted from the same
    // checkpoint. 3 survivors from 4 deliveries across the restart:
    // file 1 is not re-read (source offsets recovered) and file 2's
    // redelivery of d1@base is dropped (dedup STATE recovered) — a
    // fresh query would emit 5 rows, a replaying one 5-6; either
    // breaks the hash.
    "q_checkpoint_recovery" -> q(
      (s, _) => {
        import org.apache.spark.sql.functions.col
        graft.streaming.StreamingDemos.checkpointRecovery(s)
          .select(col("after_restart"), col("device_id"),
            col("timestamp"), col("temperature"))
      },
      """SELECT FALSE AS after_restart, 'd1' AS device_id,
        |  CAST(1704067200000 AS BIGINT) AS "timestamp", CAST(21.0 AS FLOAT) AS temperature
        |UNION ALL SELECT FALSE, 'd2', CAST(1704067201000 AS BIGINT), CAST(22.0 AS FLOAT)
        |UNION ALL SELECT TRUE, 'd1', CAST(1704067202000 AS BIGINT), CAST(23.0 AS FLOAT)
        |ORDER BY after_restart, device_id, "timestamp"""".stripMargin),
  )

  /** Fresh per-invocation scratch dir: concurrent verify + bench runs
    * must not collide on a shared fixed path. */
  private def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.toString
  }

  private def stopwordsSql: String =
    TextOps.EnStopwords.map(w => s"'$w'").mkString(", ")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map { case (k, v) => k -> v.fn }

  def oracleSql: Map[String, String] =
    defs.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }
}
