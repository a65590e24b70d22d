package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Shared DSL for the SparkEntry query inventory: the (Spark fn,
  * oracle SQL) pair type, exact-money arithmetic, iterative-SQL
  * generators, and the cross-query shared frames (transition cells).
  * Split out of the single-file SparkEntry in round 14 — a pure move
  * EXCEPT two deliberate determinism fixes that landed in the same
  * commit range (for anyone bisecting result changes across the
  * split): q_ltv_cohort moved its per-customer LTV division to
  * INTEGER micro-units under the moneySum DECIMAL discipline, and
  * text_heaps_fit's var_pop degeneracy guard became a 1e-12
  * threshold on both engines (Spark returns exact 0.0 where DuckDB
  * leaves ~1e-28 residue). Both oracles were rewritten to match.
  * Every query family imports this. */
private[graft] object QDsl {


  type QFn = (SparkSession, String) => DataFrame

  final case class Q(fn: QFn, sql: Option[String])

  /** q_basket_pairs basket-size guard: orders with more than this
    * many FREQUENT items are excluded before the quadratic per-order
    * pairing (a giant basket is a bot artifact, and one is enough to
    * blow the pair join up). Far above honest basket sizes (TPC-H ≤7
    * lines/order), so capped and uncapped agree on real data —
    * spec-pinned with a synthetic giant order in RelationalSpec.
    */
  val BasketCap = 100

  /** DuckDB CTE chain for the exact per-qid 5-NN edge list over the
    * full embeddings cross product — the ORACLE-SIDE twin of the
    * engine's bounded-TopK discipline (sf10 flush idiom; shared by
    * ann_knn_graph and emb_hubness).
    *
    * Window (`row_number PARTITION BY qid` over |V|² pairs) and
    * NOT-EXISTS formulations both spilled past the box's disk at
    * sf10 (1e9 rows: the window sorts them; the mark join builds its
    * hash on them). This form needs NO pair-side state: the sort key
    * (round-6dp score in 1e-6 units, shifted non-negative) · 2^40 −
    * nid is STRICTLY decreasing in (score DESC, nid ASC) rank order,
    * so greedy round k is max(key) below the qid's round-(k−1)
    * threshold — the only join is |V|×|V| on qid — and nid decodes
    * arithmetically (s = ⌈key/2^40⌉ in integer form, nid = s·2^40 −
    * key). Each round's |V|-row pick table is MATERIALIZED (plain
    * CTEs would inline and re-run the pair scan 2^rounds−1 times).
    * Measured at sf10 (32k vecs, 1e9 pairs/round): ~90 s/round, zero
    * spill. Emits CTEs g1..gK and `ed(qid, nid)`.
    */
  def knnEdgeCtes(k: Int = 5): String = {
    val B = "1099511627776" // 2^40 > any vec_id
    val key = "(CAST(round(round(list_cosine_similarity(" +
      "e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) * 1000000) " +
      s"AS BIGINT) + 2000000) * $B - e.vec_id"
    def round(r: Int): String =
      if (r == 1)
        s"""g1 AS MATERIALIZED (
           |  SELECT q.vec_id AS qid, max($key) AS k
           |  FROM embeddings e, embeddings q
           |  WHERE e.vec_id <> q.vec_id
           |  GROUP BY 1)""".stripMargin
      else
        s"""g$r AS MATERIALIZED (
           |  SELECT q.vec_id AS qid, max($key) AS k
           |  FROM embeddings e, embeddings q, g${r - 1}
           |  WHERE e.vec_id <> q.vec_id AND g${r - 1}.qid = q.vec_id
           |    AND $key < g${r - 1}.k
           |  GROUP BY 1)""".stripMargin
    def decode(r: Int): String =
      s"""SELECT qid, ((k + $B - 1) // $B) * $B - k AS nid FROM g$r"""
    s"""${(1 to k).map(round).mkString(",\n")},
       |ed AS (${(1 to k).map(decode).mkString("\n  UNION ALL ")})""".stripMargin
  }

  /** Exact money sum: the per-row term rounds to 4dp and sums as
    * DECIMAL, so group totals are ORDER-INVARIANT — a plain double
    * sum's merge-order noise (~1e-8 on 1e5-scale revenue) lands a
    * 2dp round on a half-cent boundary roughly once per few hundred
    * grouped outputs per data generation (q9_profit at sf0.001 was
    * the observed hit). Mirrored textually in every money oracle.
    */
  def moneySumRaw(term: Column): Column =
    sum(round(term, 4).cast("decimal(20,4)"))
  def moneySum(term: Column): Column =
    round(moneySumRaw(term), 2).cast("double")

  // ---------------------------------------------------------------
  // Relational / analytics core (SURVEY §2 #28–31)
  // ---------------------------------------------------------------

  def ts(s: String) = lit(java.sql.Timestamp.valueOf(s))

  // ---------------------------------------------------------------
  // Events: sessionize + tumbling windows (SURVEY §2 #32–33)
  // ---------------------------------------------------------------

  /** Unrolled PageRank iterations as chained CTEs (DuckDB's recursive
    * CTEs reject aggregates in the recursive term, so the fixed
    * iteration count is spelled out — mirrors graph_pagerank's loop
    * term-for-term, including the coalesce for no-inbound nodes).
    */
  def pagerankIterSql(iters: Int): String = (1 to iters).map { k =>
    s"""it$k AS (SELECT n.t, 0.15 / nn.nn + 0.85 * coalesce(
       |  (SELECT sum(e.p * i.r) FROM e JOIN it${k - 1} i ON i.t = e.src
       |   WHERE e.dst = n.t), 0) AS r
       |  FROM nodes n, nn)""".stripMargin
  }.mkString(",\n")

  /** Unrolled Markov power-iteration steps as chained CTEs (same
    * recursive-CTE restriction as pagerankIterSql) — mirrors
    * ev_stationary's loop term-for-term, including the per-round
    * round-to-7 that pins the trajectory across engines.
    */
  def stationaryIterSql(iters: Int): String = (1 to iters).map { k =>
    s"""v$k AS (SELECT c.to_type AS state, round(sum(c.p * v${k - 1}.v), 7) AS v
       |  FROM cells c JOIN v${k - 1} ON v${k - 1}.state = c.from_type
       |  GROUP BY c.to_type)""".stripMargin
  }.mkString(",\n")

  /** Shared DuckDB CTE prefix for the near-dup edge graph (canonical
    * da < db pairs from 5-char-shingle Jaccard over doc_id < lim) —
    * the SAME edge set `Dedup.ngramJaccard(docsUnder(_, _, lim), 5,
    * thr)` builds, so every graph oracle starts from identical edges.
    */
  def dupEdgesSql(lim: Int, thr: Double): String =
    s"""s AS (
       |${graft.text.TextPrimitives.charShinglesSql("documents", "doc_id", "text", 5, s"doc_id < $lim")}),
       |c AS (SELECT doc_id, count(*) AS cnt FROM s GROUP BY doc_id),
       |i AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
       |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY da, db),
       |e0 AS MATERIALIZED (SELECT da, db FROM (
       |    SELECT da, db, ni * 1.0 / (ca.cnt + cb.cnt - ni) AS j
       |    FROM i JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db)
       |  WHERE j >= $thr)""".stripMargin

  /** Unrolled BFS frontier expansions as chained CTEs — mirrors
    * graph_bfs's fixed-round loop exactly (expand the previous
    * round's frontier through nbr, drop already-visited nodes).
    */
  def bfsIterSql(rounds: Int): String = (1 to rounds).map { k =>
    // MATERIALIZED: each round reads the previous twice (frontier +
    // visited filter) — inlining would re-expand the edge build
    s"""d$k AS MATERIALIZED (
       |  SELECT v, depth FROM d${k - 1}
       |  UNION ALL
       |  SELECT DISTINCT nbr.n AS v, CAST($k AS BIGINT) AS depth
       |  FROM nbr JOIN d${k - 1} f ON f.v = nbr.v AND f.depth = ${k - 1}
       |  WHERE nbr.n NOT IN (SELECT v FROM d${k - 1}))""".stripMargin
  }.mkString(",\n")

  /** Unrolled k-core peeling rounds as chained CTEs — mirrors
    * graph_kcore's fixed-round loop exactly (degree filter then
    * edge restriction to surviving endpoints, per round).
    */
  def kcoreIterSql(rounds: Int, k: Int): String = (1 to rounds).map { r =>
    // MATERIALIZED: each round reads the previous twice — inlined
    // CTEs would re-expand the base shingle join 4^rounds times
    s"""k$r AS MATERIALIZED (SELECT v FROM (SELECT da AS v FROM e${r - 1}
       |                 UNION ALL SELECT db AS v FROM e${r - 1})
       |  GROUP BY v HAVING count(*) >= $k),
       |e$r AS MATERIALIZED (SELECT da, db FROM e${r - 1}
       |  WHERE da IN (SELECT v FROM k$r) AND db IN (SELECT v FROM k$r))"""
      .stripMargin
  }.mkString(",\n")

  /** Unrolled synchronous label-propagation rounds as chained CTEs —
    * mirrors graph_label_prop's loop term-for-term: per round each
    * node takes the most frequent label among its neighbors, ties
    * broken by the SMALLEST label (argmax via a max-count join then
    * min(label)), which makes the whole trajectory deterministic.
    */
  def labelPropIterSql(iters: Int): String = (1 to iters).map { k =>
    s"""c$k AS (SELECT nbr.v, l.label, count(*) AS c
       |  FROM nbr JOIN l${k - 1} l ON l.v = nbr.n GROUP BY 1, 2),
       |m$k AS (SELECT v, max(c) AS mc FROM c$k GROUP BY v),
       |l$k AS MATERIALIZED (SELECT c$k.v, min(label) AS label
       |  FROM c$k JOIN m$k ON c$k.v = m$k.v AND c$k.c = m$k.mc
       |  GROUP BY c$k.v)""".stripMargin
  }.mkString(",\n")

  /** Unrolled Holt double-exponential-smoothing steps as chained
    * single-row CTEs — mirrors ts_holt_linear's driver-side fold
    * term-for-term (α=0.3, β=0.1, 7dp per step). Each step LEFT JOINs
    * the day at rank k and passes state through unchanged when the
    * series is shorter than the unroll depth, so the fixed chain is
    * exact for ANY series length ≤ `steps`. (DuckDB's list_reduce is
    * unusable here: its accumulator struct is mutated field-by-field
    * in place from step 2 on, diverging from a pure fold.)
    */
  def holtIterSql(steps: Int): String = (2 to steps).map { k =>
    s"""st$k AS (SELECT
       |  CASE WHEN x.v IS NULL THEN p.l
       |       ELSE round(0.3 * x.v + 0.7 * (p.l + p.b), 7) END AS l,
       |  CASE WHEN x.v IS NULL THEN p.b
       |       ELSE round(0.1 * (round(0.3 * x.v + 0.7 * (p.l + p.b), 7)
       |         - p.l) + 0.9 * p.b, 7) END AS b,
       |  CASE WHEN x.v IS NULL THEN p.sse
       |       ELSE round(p.sse + (x.v - (p.l + p.b))
       |         * (x.v - (p.l + p.b)), 7) END AS sse
       |  FROM st${k - 1} p LEFT JOIN
       |    (SELECT CAST(v AS DOUBLE) AS v FROM dd WHERE rn = $k) x ON TRUE)"""
      .stripMargin
  }.mkString(",\n")

  /** Unrolled eigenvector-centrality power-iteration rounds as chained
    * CTEs (same recursive-CTE restriction as pagerankIterSql) — each
    * round is a neighbor-sum then an L1 renormalization, per-round
    * round-to-7 pinning the trajectory across engines; mirrors
    * graph_eigencentrality's loop term-for-term.
    */
  def eigenIterSql(iters: Int): String = (1 to iters).map { k =>
    s"""r$k AS (SELECT nbr.v AS v, sum(x${k - 1}.c) AS raw
       |  FROM nbr JOIN x${k - 1} ON x${k - 1}.v = nbr.n GROUP BY nbr.v),
       |x$k AS (SELECT v, round(raw / (SELECT sum(raw) FROM r$k), 7) AS c
       |  FROM r$k)""".stripMargin
  }.mkString(",\n")

  /** Unrolled Katz-centrality rounds x ← 1 + α·A·x as chained CTEs —
    * mirrors graph_katz's loop exactly (neighbor sum, damp by α, add
    * the constant injection, round to 7 per round). No normalization:
    * α = 0.1 is far below 1/λmax on the sparse dup graph, so the
    * series converges and the fixed point is the Katz vector.
    */
  def katzIterSql(iters: Int, alpha: Double): String =
    (1 to iters).map { k =>
      s"""x$k AS MATERIALIZED (SELECT n.v,
         |  round(1.0 + $alpha * coalesce(s.sm, 0), 7) AS c
         |  FROM nodes n LEFT JOIN (
         |    SELECT nbr.v, sum(x${k - 1}.c) AS sm
         |    FROM nbr JOIN x${k - 1} ON x${k - 1}.v = nbr.n
         |    GROUP BY nbr.v) s ON s.v = n.v)""".stripMargin
    }.mkString(",\n")

  /** Unrolled MULTI-source BFS frontier expansions (closeness) as
    * chained CTEs — bfsIterSql keyed by (src, nd): every node is a
    * source, the pair table is bounded by |V|² of the bounded dup
    * subgraph, never by document rows.
    */
  def closeIterSql(rounds: Int): String = (1 to rounds).map { k =>
    s"""c$k AS MATERIALIZED (
       |  SELECT src, nd, depth FROM c${k - 1}
       |  UNION ALL
       |  SELECT DISTINCT f.src, nbr.n AS nd, CAST($k AS BIGINT) AS depth
       |  FROM c${k - 1} f JOIN nbr ON nbr.v = f.nd
       |  WHERE f.depth = ${k - 1}
       |    AND NOT EXISTS (SELECT 1 FROM c${k - 1} p
       |                    WHERE p.src = f.src AND p.nd = nbr.n))""".stripMargin
  }.mkString(",\n")

  /** Unrolled power-iteration rounds v ← C·v / ‖C·v‖₁ over the 64×64
    * covariance CELL table as chained CTEs — the top-eigenvalue twin
    * of eigenIterSql on the embedding covariance instead of the dup
    * graph; abs() in the normalizer because eigenvector components of
    * a covariance matrix carry sign.
    */
  def covPowIterSql(iters: Int, cells: String = "cells",
                            p: String = ""): String = (1 to iters).map { k =>
    s"""${p}r$k AS MATERIALIZED (SELECT $cells.a AS i, sum($cells.cv * ${p}v${k - 1}.x) AS raw
       |  FROM $cells JOIN ${p}v${k - 1} ON ${p}v${k - 1}.i = $cells.b GROUP BY $cells.a),
       |${p}v$k AS MATERIALIZED (SELECT i,
       |  round(raw / nullif((SELECT sum(abs(raw)) FROM ${p}r$k), 0), 7) AS x
       |  FROM ${p}r$k)""".stripMargin
  }.mkString(",\n")

  /** Transition-cell counts (from_type, to_type, n) shared by the
    * Markov family (ev_transitions / ev_stationary / graph_pagerank),
    * whose dominant cost is the per-user lead()-over-fact window: one
    * pass per (SparkContext, dir) as a [[Shared]] frame, and the family
    * is projections over it. Rows with to_type NULL (each user's last
    * event) are kept, so `distinct from_type` is `SELECT DISTINCT
    * event_type FROM events` — pagerank's node set must include types
    * that never transition out.
    */
  def transitionCells(s: SparkSession, d: String): DataFrame =
    Shared.frame(s, s"cells|$d") {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("to_type", lead("event_type", 1).over(w))
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
    }

  /** The canonical near-dup edge table, a [[Shared]] frame read by
    * fifteen queries (the graph_* family, the dedup audits,
    * text_selfbleu's neighbor view) that would each pay the shingle
    * self-join for the same ≤C(120,2)-row result; their oracles read
    * the dupEdgesSql CTE prefix.
    */
  def dupEdges(s: SparkSession, d: String): DataFrame =
    Shared.frame(s, s"dup-edges|$d") {
      graft.dedup.Dedup.ngramJaccard(docsUnder(s, d, 120), 5, 0.25)
    }

  /** The duplicate-cluster labels (doc_id, cluster) of the first 200
    * documents, a [[Shared]] frame: map-side MinHash (5-shingles, 8
    * hashes) → banded LSH (2 rows per band) → connected components,
    * built once for every operator that composes on cluster
    * assignments (re-running the pipeline per consumer multiplied its
    * cost).
    */
  def clusterLabels(s: SparkSession, d: String): DataFrame =
    Shared.frame(s, s"cluster-labels|$d") {
      import graft.dedup.Dedup
      val docs = docsUnder(s, d, 200)
      Dedup.connectedComponents(docs,
        Dedup.minhashLshPairs(Dedup.minhashSignaturesMapSide(docs, 5, 8), 8, 2))
    }

  /** A corpus dir's cross-query state, which Bench builds before its
    * clock starts: the collection, the two ANN indexes, the three
    * shared frames.
    */
  val fixtures: Seq[QFn] = Seq(
    graft.store.VectorStore.pointsPartitioned,
    graft.ann.AnnIndex.lshPartitioned(_, _, 6, 64),
    graft.ann.AnnIndex.ivfPartitioned(_, _, 4),
    transitionCells, clusterLabels, dupEdges)

  // ---------------------------------------------------------------
  // Vector store: the reference's Qdrant surface (SURVEY §2 #1–12)
  // ---------------------------------------------------------------

  /** DuckDB-side cosine score identical to VectorFunctions.score. */
  def sqlScore(v: String, q: String): String =
    s"round(list_cosine_similarity($v::DOUBLE[], $q), 6) + 0.0"

  /** Unrolled k-step greedy MMR as chained CTEs over a `cand`
    * (vec_id, sim, emb) CTE — mirrors graft.ann.Mmr.rerank's rounding
    * and id tie-breaks exactly. Caller supplies `cand` and `sel0`.
    */
  def mmrUnrolledSql(k: Int): String = (1 to k).map { n =>
    s"""s$n AS (SELECT c.vec_id, c.sim, c.emb, $n AS rank
       |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${n - 1})
       |  ORDER BY round(0.5 * c.sim - 0.5 * coalesce(
       |    (SELECT max(round(list_cosine_similarity(c.emb, s.emb), 6)) FROM sel${n - 1} s),
       |    0.0), 6) DESC, c.vec_id
       |  LIMIT 1),
       |sel$n AS (SELECT * FROM sel${n - 1} UNION ALL SELECT * FROM s$n)"""
  }.mkString(",\n")

  /** Unrolled greedy k-center as chained CTEs over a `cand`
    * (vec_id, emb) CTE and a `sel1` single-row seed — mirrors
    * graft.ann.Coreset.kCenter's rounding and id tie-breaks exactly.
    */
  def kcenterUnrolledSql(k: Int): String = (2 to k).map { n =>
    s"""s$n AS (SELECT c.vec_id, c.emb, $n AS rank
       |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${n - 1})
       |  ORDER BY (SELECT min(round(1.0 - list_cosine_similarity(c.emb, s.emb), 6))
       |            FROM sel${n - 1} s) DESC, c.vec_id
       |  LIMIT 1),
       |sel$n AS (SELECT * FROM sel${n - 1} UNION ALL SELECT * FROM s$n)"""
      .stripMargin
  }.mkString(",\n")

  // ---------------------------------------------------------------
  // Dedup family (SURVEY §2 #17–22)
  // ---------------------------------------------------------------

  def docsUnder(s: SparkSession, d: String, lim: Int) =
    Tables.documents(s, d).filter(col("doc_id") < lim)

  // ---------------------------------------------------------------
  // ANN: brute force / LSH / IVF (SURVEY §2 #14–16)
  // ---------------------------------------------------------------

  val sqlCos = "round(list_cosine_similarity(%s, %s), 6) + 0.0"

  /** Chained a/h half-step CTEs for graph_hits' unrolled HITS rounds —
    * the eigenIterSql idiom on the DIRECTED transition graph: each
    * authority pass pulls hub mass along edges, each hub pass pulls
    * authority mass against them, both L1-normalized and rounded to 7
    * so the trajectory is pinned identically on both engines.
    */
  def hitsIterSql(iters: Int): String = (1 to iters).map { k =>
    // AS MATERIALIZED: each half-step is referenced twice (the join
    // and its L1-normalizer scalar subquery) — without the hint DuckDB
    // inlines the whole chain, re-expanding the fact scan 2^(2k) times
    val hp = if (k == 1) "h0" else s"h${k - 1}"
    s"""a${k}r AS MATERIALIZED (SELECT e.v AS t, sum(e.wt * $hp.h) AS raw
       |          FROM e JOIN $hp ON $hp.t = e.u GROUP BY e.v),
       |a$k AS MATERIALIZED (SELECT n.t, round(coalesce(r.raw, 0)
       |               / nullif((SELECT sum(raw) FROM a${k}r), 0), 7) AS a
       |        FROM nodes n LEFT JOIN a${k}r r ON r.t = n.t),
       |h${k}r AS MATERIALIZED (SELECT e.u AS t, sum(e.wt * a$k.a) AS raw
       |          FROM e JOIN a$k ON a$k.t = e.v GROUP BY e.u),
       |h$k AS MATERIALIZED (SELECT n.t, round(coalesce(r.raw, 0)
       |               / nullif((SELECT sum(raw) FROM h${k}r), 0), 7) AS h
       |        FROM nodes n LEFT JOIN h${k}r r ON r.t = n.t)""".stripMargin
  }.mkString(",\n")

  /** ln Γ(x) for x ≥ 1 as a FIXED closed-form expression (Stirling at
    * x+6 with three correction terms, shift-down product): both
    * engines evaluate the identical tree on identical integer inputs,
    * so parity is structural — deliberately NOT DuckDB's built-in
    * lgamma, whose libm differs from anything Spark can express.
    * Absolute error < 1e-9 over the whole support.
    */
  private[graft] def lgammaCol(x: Column): Column = {
    val z = x + lit(6.0)
    val z5 = z * z * z * z * z
    (z - 0.5) * log(z) - z + lit(0.9189385332046727) +
      lit(1.0) / (lit(12.0) * z) - lit(1.0) / (lit(360.0) * z * z * z) +
      lit(1.0) / (lit(1260.0) * z5) -
      log(x * (x + 1) * (x + 2) * (x + 3) * (x + 4) * (x + 5))
  }
  private[graft] def lfCol(x: Column): Column = lgammaCol(x + lit(1.0))

  /** The same Stirling ln Γ(e+1) (log-factorial) as SQL text.
    * The argument is forced to DOUBLE first: DuckDB types the `1.0`
    * literal as DECIMAL, so with a BIGINT argument the shift-down
    * product x·(x+1)·…·(x+5) ran in DECIMAL(38) — margins⁶ fit at
    * sf10 (1.1e37) and OVERFLOWED at sf30 (8e39, the flush catch).
    * The engine's lfCol is pure double, so the cast also makes the
    * parity structural (identical IEEE tree), which the decimal
    * product only approximated. */
  def sqlLf(e: String): String = {
    val x = s"(CAST(($e) AS DOUBLE) + 1.0)"
    val z = s"(CAST(($e) AS DOUBLE) + 7.0)"
    s"(($z - 0.5) * ln($z) - $z + 0.9189385332046727" +
      s" + 1.0/(12.0*$z) - 1.0/(360.0*$z*$z*$z)" +
      s" + 1.0/(1260.0*($z*$z*$z*$z*$z))" +
      s" - ln($x*($x+1)*($x+2)*($x+3)*($x+4)*($x+5)))"
  }

  /** Unrolled Holt–Winters (additive, m = 7) steps as chained CTEs —
    * mirrors ts_holt_winters' driver fold exactly: 6dp-pinned level/
    * trend/seasonal updates, 7dp-pinned SSE, NULL-carry past the end
    * of the series, the seasonal ring rotating via list slice+append.
    */
  def holtWintersIterSql(steps: Int): String = (15 to steps).map { k =>
    val lNew = s"round(0.3 * (x.v - p.s[1]) + 0.7 * (p.l + p.b), 6)"
    s"""st$k AS (SELECT
       |  CASE WHEN x.v IS NULL THEN p.l ELSE $lNew END AS l,
       |  CASE WHEN x.v IS NULL THEN p.b
       |       ELSE round(0.1 * ($lNew - p.l) + 0.9 * p.b, 6) END AS b,
       |  CASE WHEN x.v IS NULL THEN p.sse
       |       ELSE round(p.sse + (x.v - (p.l + p.b + p.s[1]))
       |         * (x.v - (p.l + p.b + p.s[1])), 7) END AS sse,
       |  CASE WHEN x.v IS NULL THEN p.s
       |       ELSE p.s[2:7] || [round(0.2 * (x.v - $lNew) + 0.8 * p.s[1], 6)]
       |  END AS s
       |  FROM st${k - 1} p LEFT JOIN
       |    (SELECT CAST(v AS DOUBLE) AS v FROM dd WHERE rn = $k) x ON TRUE)"""
      .stripMargin
  }.mkString(",\n")

  // -----------------------------------------------------------------
  // Shared doc-quality oracle helpers (hoisted in round 15 from the
  // block scopes of the former QRound10a/QRound12a files so the
  // regrouped thematic files can all reference them)
  // -----------------------------------------------------------------

  /** SQL list literal of the engine's stopword lexicon. */
  lazy val stopListSql: String =
    graft.text.TextAnalytics.Stopwords.map(w => s"'$w'").mkString(",")

  /** Oracle CTE: (doc_id, lang, source, quality) with the 4dp-rounded
    * quality score — the bounded-distinct-value grid the distribution
    * metrics aggregate on. */
  lazy val qualityCteSql: String =
    s"""q AS (
       |  SELECT doc_id, lang, source,
       |         round((least(n_tok, 100) / 100.0) *
       |               (1.0 - punct_cnt * 1.0 / greatest(n_chars, 1)) *
       |               (0.2 + 0.8 * (stop_cnt * 1.0 / greatest(n_tok, 1))), 4) AS quality
       |  FROM (
       |    SELECT doc_id, lang, source, length(text) AS n_chars,
       |           len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tok,
       |           len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |               t -> t IN ($stopListSql))) AS stop_cnt,
       |           len(regexp_extract_all(text, '[.,;:!?]')) AS punct_cnt
       |    FROM documents))""".stripMargin

  /** Variant of [[qualityCteSql]] restricted to doc_id < 200 and
    * keeping n_tok (the former QRound12a block's local twin). */
  lazy val qualityCteD200Sql: String =
    s"""q AS (
       |  SELECT doc_id, lang, source,
       |         CAST(n_tok AS BIGINT) AS n_tok,
       |         round((least(n_tok, 100) / 100.0) *
       |               (1.0 - punct_cnt * 1.0 / greatest(n_chars, 1)) *
       |               (0.2 + 0.8 * (stop_cnt * 1.0 / greatest(n_tok, 1))), 4) AS quality
       |  FROM (
       |    SELECT doc_id, lang, source, length(text) AS n_chars,
       |           len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tok,
       |           len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |               t -> t IN ($stopListSql))) AS stop_cnt,
       |           len(regexp_extract_all(text, '[.,;:!?]')) AS punct_cnt
       |    FROM documents WHERE doc_id < 200))""".stripMargin

  /** Spark twin of [[qualityCteSql]]: per-doc quality joined with the
    * lang/source labels. */
  def qualityWithLabels(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    graft.text.TextAnalytics.qualityScores(docs).drop("n_tok")
      .join(docs.select("doc_id", "lang", "source"), "doc_id")
  }
}
