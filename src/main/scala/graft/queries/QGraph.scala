package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.store.VectorStore
import graft.store.VectorStore.pointsSql
import graft.QDsl._

/** Graph centralities and structure over the event/dup graphs — SparkEntry query family (regrouped from the round-named
  * inventory files in round 15; same query names, same bodies —
  * SparkEntry assembles the full map and the driver contract). */
private[graft] object QGraph {

  val graphQ: Seq[(String, Q)] = Seq(
      // average local clustering coefficient (Watts–Strogatz) of the
      // near-dup graph: per-node Cᵢ = 2·triᵢ/(degᵢ(degᵢ−1)) averaged
      // over deg≥2 nodes — "do my neighbors know each other", the
      // node-level complement to graph_triangles' global transitivity.
      // Same bounded edge build + degree-oriented wedge join; each
      // closed triangle credits all three corners via one explode.
      "graph_local_cc" -> Q(
        (s, d) => {
          val e0 = dupEdges(s, d)
            .select(col("da"), col("db"))
            .localCheckpoint(eager = false) // degrees + orientation + closure
          val deg = e0.select(explode(array(col("da"), col("db"))).as("v"))
            .groupBy("v").agg(count(lit(1)).as("dg"))
          val or_ = e0
            .join(broadcast(deg.select(col("v").as("da"), col("dg").as("dga"))), "da")
            .join(broadcast(deg.select(col("v").as("db"), col("dg").as("dgb"))), "db")
            .select(
              when(col("dga") < col("dgb") ||
                   (col("dga") === col("dgb") && col("da") < col("db")),
                struct(col("da").as("u"), col("db").as("w")))
                .otherwise(struct(col("db").as("u"), col("da").as("w"))).as("e"))
            .select(col("e.u").as("u"), col("e.w").as("w"))
          val tri = or_.select(col("u"), col("w").as("v1"))
            .join(or_.select(col("u"), col("w").as("v2")), "u")
            .filter(col("v1") < col("v2"))
            .join(e0, col("v1") === col("da") && col("v2") === col("db"))
            .select(col("u"), col("v1"), col("v2"))
          val perNode = tri
            .select(explode(array(col("u"), col("v1"), col("v2"))).as("v"))
            .groupBy("v").agg(count(lit(1)).as("t"))
          deg.filter(col("dg") >= 2)
            .join(perNode, Seq("v"), "left")
            .na.fill(0L, Seq("t"))
            .select((col("t") * 2.0 / (col("dg") * (col("dg") - 1))).as("cc"))
            .agg(count(lit(1)).as("n_deg2_nodes"),
                 round(avg("cc"), 4).as("avg_local_cc"))
        },
        Some(s"""WITH s AS (
                |${graft.text.TextPrimitives.charShinglesSql("documents", "doc_id", "text", 5, "doc_id < 120")}),
                |c AS (SELECT doc_id, count(*) AS cnt FROM s GROUP BY doc_id),
                |i AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
                |      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY da, db),
                |edges AS (SELECT da, db FROM (
                |    SELECT da, db, ni * 1.0 / (ca.cnt + cb.cnt - ni) AS j
                |    FROM i JOIN c ca ON ca.doc_id = da JOIN c cb ON cb.doc_id = db)
                |  WHERE j >= 0.25),
                |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS dg FROM (
                |    SELECT da AS v FROM edges UNION ALL SELECT db FROM edges)
                |  GROUP BY v),
                |orient AS (SELECT CASE WHEN a.dg < b.dg OR (a.dg = b.dg AND da < db)
                |                  THEN da ELSE db END AS u,
                |                  CASE WHEN a.dg < b.dg OR (a.dg = b.dg AND da < db)
                |                  THEN db ELSE da END AS w
                |           FROM edges JOIN deg a ON a.v = da JOIN deg b ON b.v = db),
                |tri AS (SELECT w1.u, w1.w AS v1, w2.w AS v2
                |        FROM orient w1 JOIN orient w2 ON w1.u = w2.u AND w1.w < w2.w
                |        JOIN edges ON w1.w = da AND w2.w = db),
                |pn AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM (
                |    SELECT u AS v FROM tri UNION ALL SELECT v1 FROM tri
                |    UNION ALL SELECT v2 FROM tri)
                |  GROUP BY v)
                |SELECT CAST(count(*) AS BIGINT) AS n_deg2_nodes,
                |       round(avg(coalesce(t, 0) * 2.0 / (dg * (dg - 1))), 4) AS avg_local_cc
                |FROM deg LEFT JOIN pn USING (v) WHERE dg >= 2""".stripMargin)),

    // degree distribution of the near-dup graph: log2-bucketed degree
    // histogram + the discrete Hill/MLE power-law exponent
    // α = 1 + n/Σ ln(dᵢ/(d_min−½)) with d_min = 1 — is dup-degree
    // heavy-tailed (one mega-cluster) or thin (pairwise dups)?
    // Shares the bounded edge build every graph_* query uses; the
    // 1-row α frame broadcasts onto the ≤log2(n)-row histogram.
    "graph_degree_dist" -> Q(
      (s, d) => {
        val e0 = dupEdges(s, d)
          .select(col("da"), col("db"))
          .localCheckpoint(eager = false) // degrees read by hist AND alpha
        val deg = e0.select(explode(array(col("da"), col("db"))).as("v"))
          .groupBy("v").agg(count(lit(1)).as("dg"))
          .localCheckpoint(eager = false)
        val alpha = deg.agg(count(lit(1)).as("n_nodes"),
            round(lit(1.0) + count(lit(1)) /
              sum(log(col("dg") / lit(0.5))), 4).as("alpha_hill"))
        deg.groupBy(floor(log2(col("dg"))).cast("long").as("deg_bucket"))
          .agg(count(lit(1)).as("n_in_bucket"))
          .crossJoin(broadcast(alpha))
          .select(col("deg_bucket"), col("n_in_bucket"),
                  col("n_nodes"), col("alpha_hill"))
          .orderBy("deg_bucket")
      },
      Some(s"""WITH ${dupEdgesSql(120, 0.25)},
              |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS dg
              |        FROM (SELECT da AS v FROM e0 UNION ALL SELECT db AS v FROM e0)
              |        GROUP BY v),
              |al AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
              |              round(1.0 + count(*) / sum(ln(dg / 0.5)), 4) AS alpha_hill
              |       FROM deg)
              |SELECT CAST(floor(log2(dg)) AS BIGINT) AS deg_bucket,
              |       CAST(count(*) AS BIGINT) AS n_in_bucket, n_nodes, alpha_hill
              |FROM deg, al
              |GROUP BY 1, n_nodes, alpha_hill ORDER BY 1""".stripMargin)),

    // rich-club coefficient φ(k) of the near-dup graph: among nodes
    // of degree > k, the realized fraction of possible edges — "do
    // the hub documents all duplicate each other?" (mega-cluster
    // early warning, complements graph_assort/graph_degree_dist).
    // Degree table is a broadcast |V|-row join-back onto the shared
    // bounded edge build; k sweep is a 3-row literal cross.
    "graph_rich_club" -> Q(
      (s, d) => {
        val e0 = dupEdges(s, d)
          .select(col("da"), col("db"))
          .localCheckpoint(eager = false) // degrees + edge filter
        val deg = e0.select(explode(array(col("da"), col("db"))).as("v"))
          .groupBy("v").agg(count(lit(1)).as("dg"))
          .localCheckpoint(eager = false) // N_k pass + both join-backs
        val ks = s.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(3L)))
          .toDF("k")
        val nk = deg.crossJoin(broadcast(ks)).filter(col("dg") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("n_k"))
        val ek = e0
          .join(broadcast(deg.select(col("v").as("da"), col("dg").as("dga"))), "da")
          .join(broadcast(deg.select(col("v").as("db"), col("dg").as("dgb"))), "db")
          .crossJoin(broadcast(ks))
          .filter(col("dga") > col("k") && col("dgb") > col("k"))
          .groupBy("k").agg(count(lit(1)).as("e_k"))
        nk.join(ek, Seq("k"), "left")
          .select(col("k"), col("n_k"), coalesce(col("e_k"), lit(0L)).as("e_k"),
            when(col("n_k") >= 2,
              round(lit(2.0) * coalesce(col("e_k"), lit(0L)) /
                (col("n_k") * (col("n_k") - 1)), 4))
              .otherwise(lit(null).cast("double")).as("phi"))
          .orderBy("k")
      },
      Some(s"""WITH ${dupEdgesSql(120, 0.25)},
              |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS dg
              |        FROM (SELECT da AS v FROM e0 UNION ALL SELECT db AS v FROM e0)
              |        GROUP BY v),
              |ks AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS k),
              |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_k
              |       FROM deg, ks WHERE dg > k GROUP BY k),
              |ek AS (SELECT k, CAST(count(*) AS BIGINT) AS e_k
              |       FROM e0 JOIN deg a ON a.v = da JOIN deg b ON b.v = db, ks
              |       WHERE a.dg > k AND b.dg > k GROUP BY k)
              |SELECT k, n_k, coalesce(e_k, 0) AS e_k,
              |       CASE WHEN n_k >= 2
              |            THEN round(2.0 * coalesce(e_k, 0) / (n_k * (n_k - 1)), 4)
              |       END AS phi
              |FROM nk LEFT JOIN ek USING (k) ORDER BY k""".stripMargin)),

    // eigenvector centrality of the near-dup graph: 6 unrolled
    // power-iteration rounds (neighbor-sum + L1 renormalization,
    // per-round round-to-7 pinning the trajectory — the ev_stationary
    // idiom on the dup graph), top-10 hub documents. Unlike degree,
    // this scores being connected to OTHER hubs — the doc family a
    // curator should read first. Corpus-scale work = the one shared
    // shingle-join edge build; each round is O(E) shuffle.
    "graph_eigencentrality" -> Q(
      (s, d) => {
        // r17: the 6 power rounds fold DRIVER-side over the collected
        // bounded edge list (≤C(120,2) rows by construction — the
        // graph_pagerank / emb_top_eigen altitude); the in-plan form
        // paid ~18 jobs (join + agg + total + checkpoint per round)
        // of ~100 ms scheduling floor each for |V|-row products.
        // Same arithmetic: unrounded neighbor sums, global L1 total,
        // round-7 per round (order pinned by the rounding, as the
        // DuckDB twin's different summation order already requires).
        val es = dupEdges(s, d)
          .select(col("da"), col("db")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val nbrs = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          .groupBy(_._1).map { case (v, g) => v -> g.map(_._2).sorted }
        val nodes = nbrs.keys.toSeq.sorted
        def r7(x: Double) = graft.embed.CovMoments.r(x, 7)
        val nn = nodes.length.toDouble
        var x: Map[Long, Double] = nodes.map(_ -> r7(1.0 / nn)).toMap
        for (_ <- 1 to 6) {
          val raw = nodes.map(v => v -> nbrs(v).map(x).sum)
          val t = raw.map(_._2).sum
          x = raw.map { case (v, rw) => v -> r7(rw / t) }.toMap
        }
        import s.implicits._
        x.toSeq.sortBy(_._1).toDF("v", "c")
          .orderBy(col("c").desc, col("v")).limit(10)
          .select(col("v").as("doc_id"), col("c").as("centrality"))
      },
      Some(s"""WITH ${dupEdgesSql(120, 0.25)},
              |nbr AS (SELECT da AS v, db AS n FROM e0
              |        UNION ALL SELECT db AS v, da AS n FROM e0),
              |nodes AS (SELECT DISTINCT v FROM nbr),
              |x0 AS (SELECT v, round(1.0 / (SELECT CAST(count(*) AS DOUBLE)
              |                              FROM nodes), 7) AS c
              |       FROM nodes),
              |${eigenIterSql(6)}
              |SELECT v AS doc_id, c AS centrality
              |FROM x6 ORDER BY c DESC, v LIMIT 10""".stripMargin)),

    // HITS hubs & authorities on the DIRECTED event-type transition
    // graph (the undirected eigencentrality can't separate "sends
    // users onward" from "receives users"): 4 unrolled rounds of
    // a <- M'h / h <- Ma off the SHARED transitionCells table -
    // corpus-scale work is the one materialized lead() pass; every
    // iteration is joins over <= |types|^2 cells. L1-normalized and
    // rounded to 7 per half-step so the trajectory is engine-pinned.
    "graph_hits" -> Q(
      (s, d) => {
        // r17: the 4 a/h rounds fold DRIVER-side over the collected
        // ≤|types|² cells (the ev_stationary rewrite's twin) — the
        // in-plan form paid ~24 jobs (two half-steps, each join + agg
        // + total + checkpoint). Arithmetic replicated: L1 total over
        // the reached side, missing nodes contribute raw 0, round-7
        // per half-step. The in-plan sm=0→null branch is unreachable
        // on a nonempty cell table (wt ≥ 1, h₀ = 1, and each
        // normalized vector keeps L1 mass ~1 on the source side), so
        // the positive path is the whole behavior.
        val e = transitionCells(s, d)
          .filter(col("to_type").isNotNull && col("from_type").isNotNull)
          .select(col("from_type"), col("to_type"), col("n").cast("double"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
        val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
        def r7(x: Double) = graft.embed.CovMoments.r(x, 7)
        val byV = e.groupBy(_._2)
        val byU = e.groupBy(_._1)
        var h: Map[String, Double] = nodes.map(_ -> 1.0).toMap
        var a: Map[String, Double] = Map.empty
        for (_ <- 1 to 4) {
          val ar = byV.map { case (v, g) =>
            v -> g.sortBy(_._1).map(t => t._3 * h(t._1)).sum }
          val at = ar.toSeq.sortBy(_._1).map(_._2).sum
          a = nodes.map(t => t -> r7(ar.getOrElse(t, 0.0) / at)).toMap
          val hr = byU.map { case (u, g) =>
            u -> g.sortBy(_._2).map(t => t._3 * a(t._2)).sum }
          val ht = hr.toSeq.sortBy(_._1).map(_._2).sum
          h = nodes.map(t => t -> r7(hr.getOrElse(t, 0.0) / ht)).toMap
        }
        import s.implicits._
        nodes.map(t => (t, h(t), a(t))).toSeq
          .toDF("event_type", "hub", "authority")
          .orderBy("event_type")
      },
      Some(s"""WITH tr AS (
              |  SELECT event_type AS u,
              |         lead(event_type, 1) OVER (PARTITION BY user_id
              |           ORDER BY ts, event_id) AS v
              |  FROM events),
              |e AS MATERIALIZED (SELECT u, v, CAST(count(*) AS DOUBLE) AS wt
              |      FROM tr WHERE u IS NOT NULL AND v IS NOT NULL GROUP BY 1, 2),
              |nodes AS MATERIALIZED (SELECT DISTINCT t
              |          FROM (SELECT u AS t FROM e UNION ALL SELECT v FROM e)),
              |h0 AS MATERIALIZED (SELECT t, 1.0 AS h FROM nodes),
              |${hitsIterSql(4)}
              |SELECT h4.t AS event_type, h4.h AS hub, a4.a AS authority
              |FROM h4 JOIN a4 ON a4.t = h4.t ORDER BY event_type""".stripMargin)),

    // Katz centrality of the near-dup graph (x = Σ α^k A^k 1): unlike
    // degree it credits being near hubs, unlike eigencentrality it
    // doesn't starve nodes outside the dominant component — 6 unrolled
    // x ← 1 + α·A·x rounds (α=0.1 << 1/λmax so the series converges)
    // on the SHARED bounded edge build; every iteration is a join over
    // the |E|-row neighbor table, rounded to 7 per round.
    "graph_katz" -> Q(
      (s, d) => {
        // r17: 6 rounds folded DRIVER-side over the collected bounded
        // edge list (see graph_eigencentrality above — same altitude,
        // same ~18-job in-plan cost removed). Every node has ≥1
        // neighbor by construction of nbr, so the left-join fill(0)
        // path is the getOrElse below; round-7 per round pins the
        // trajectory.
        val es = dupEdges(s, d)
          .select(col("da"), col("db")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val nbrs = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          .groupBy(_._1).map { case (v, g) => v -> g.map(_._2).sorted }
        val nodes = nbrs.keys.toSeq.sorted
        def r7(x: Double) = graft.embed.CovMoments.r(x, 7)
        var x: Map[Long, Double] = nodes.map(_ -> 1.0).toMap
        for (_ <- 1 to 6)
          x = nodes.map { v =>
            v -> r7(1.0 + 0.1 * nbrs(v).map(x).sum) }.toMap
        import s.implicits._
        x.toSeq.sortBy(_._1).toDF("v", "c")
          .orderBy(col("c").desc, col("v")).limit(10)
          .select(col("v").as("doc_id"), col("c").as("katz"))
      },
      Some(s"""WITH ${dupEdgesSql(120, 0.25)},
              |nbr AS MATERIALIZED (SELECT da AS v, db AS n FROM e0
              |        UNION ALL SELECT db AS v, da AS n FROM e0),
              |nodes AS MATERIALIZED (SELECT DISTINCT v FROM nbr),
              |x0 AS MATERIALIZED (SELECT v, CAST(1.0 AS DOUBLE) AS c FROM nodes),
              |${katzIterSql(6, 0.1)}
              |SELECT v AS doc_id, c AS katz
              |FROM x6 ORDER BY c DESC, v LIMIT 10""".stripMargin)),

    // harmonic closeness within 4 hops, EVERY node a source: 4
    // unrolled multi-source BFS rounds keyed by (src, node) — the
    // graph_bfs frontier loop on a pair table bounded by |V|² of the
    // bounded dup subgraph (never by document rows). Harmonic form
    // (Σ 1/d) so disconnected pairs contribute 0 instead of ∞ —
    // truncation at 4 hops is exact on this graph class because
    // near-dup components are shallow.
    "graph_closeness" -> Q(
      (s, d) => {
        // r17: the 4 multi-source BFS rounds fold DRIVER-side over the
        // collected bounded edge list — frontier expansion, distinct
        // and the seen-set anti-join are exact set operations, so the
        // (src, nd, depth) table is EXACTLY the in-plan one with ~12
        // jobs (join + distinct + anti-join + checkpoint per round)
        // removed. The harmonic sum adds 1/depth terms (depth ∈ 1..4)
        // per src; round-4 pins the total as before.
        val es = dupEdges(s, d)
          .select(col("da"), col("db")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val nbrs = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          .groupBy(_._1).map { case (v, g) => v -> g.map(_._2).distinct }
        def r4(x: Double) = graft.embed.CovMoments.r(x, 4)
        import s.implicits._
        nbrs.keys.toSeq.sorted.map { src =>
          var seen = Map(src -> 0L)
          var frontier = Seq(src)
          for (k <- 1 to 4) {
            val nxt = frontier.flatMap(nbrs(_)).distinct
              .filterNot(seen.contains)
            seen = seen ++ nxt.map(_ -> k.toLong)
            frontier = nxt
          }
          val reached = seen.toSeq.filter(_._2 > 0).sortBy(_._1)
          (src, reached.size.toLong,
            r4(reached.map(1.0 / _._2).sum))
        }.toDF("src", "n_reached", "harmonic")
          .orderBy(col("harmonic").desc, col("src"))
          .limit(10)
          .select(col("src").as("doc_id"), col("n_reached"), col("harmonic"))
      },
      Some(s"""WITH ${dupEdgesSql(120, 0.25)},
              |nbr AS MATERIALIZED (SELECT da AS v, db AS n FROM e0
              |        UNION ALL SELECT db AS v, da AS n FROM e0),
              |c0 AS MATERIALIZED (SELECT v AS src, v AS nd, CAST(0 AS BIGINT) AS depth
              |       FROM (SELECT DISTINCT v FROM nbr)),
              |${closeIterSql(4)}
              |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS n_reached,
              |       round(sum(1.0 / depth), 4) AS harmonic
              |FROM c4 WHERE depth > 0 GROUP BY src
              |ORDER BY harmonic DESC, doc_id LIMIT 10""".stripMargin)),

    // modularity of the CC-COMMUNITY partition on the LSH near-dup
    // graph (the companion to graph_modularity, which scores the
    // SOURCE partition on the jaccard graph): every LSH edge is
    // intra-community by construction, so Q = 1 − Σ_c (d_c/2m)² —
    // how far the dup clustering is from one hairball (Q→0 = one
    // giant component, the signal that the banding is too loose).
    // Degrees from the bounded pair table, labels from the SHARED
    // cluster table (the CC pass stays amortized).
    "graph_cc_modularity" -> Q(
      (s, d) => {
        import graft.dedup.Dedup
        val pairs = Dedup.minhashLshPairs(
          Dedup.minhashSignaturesMapSide(docsUnder(s, d, 200), 5, 8), 8, 2)
          .localCheckpoint(eager = false) // m + degrees
        val labels = clusterLabels(s, d)
        val deg = pairs.select(col("da").as("doc_id"))
          .union(pairs.select(col("db").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("deg"))
        val m = pairs.agg(count(lit(1)).cast("double").as("m"))
        deg.join(labels, "doc_id")
          .groupBy("cluster").agg(sum("deg").cast("double").as("dc"))
          .crossJoin(broadcast(m))
          .agg(max(col("m")).cast("long").as("n_edges"),
               count(lit(1)).as("n_communities"),
               round(lit(1.0) - sum(pow(col("dc") / (lit(2.0) * col("m")), 2)), 6)
                 .as("modularity"))
      },
      Some(s"""WITH RECURSIVE sig AS (
              |${graft.dedup.Dedup.minhashSigSql(5, 8, "doc_id < 200")}),
              |bands AS (${(0 until 4).map(b =>
                 s"SELECT doc_id, $b AS b, concat_ws('_', m${2 * b}, m${2 * b + 1}) AS bv FROM sig")
                 .mkString(" UNION ALL ")}),
              |pairs AS (
              |  SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db
              |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id),
              |edges AS (SELECT da, db FROM pairs UNION ALL SELECT db, da FROM pairs),
              |reach(src, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 200
              |  UNION
              |  SELECT e.da, r.lbl FROM reach r JOIN edges e ON e.db = r.src),
              |cc AS (SELECT src AS doc_id, min(lbl) AS cluster FROM reach GROUP BY src),
              |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS deg
              |        FROM (SELECT da AS doc_id FROM pairs
              |              UNION ALL SELECT db FROM pairs)
              |        GROUP BY doc_id),
              |m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM pairs),
              |dc AS (SELECT cluster, CAST(sum(deg) AS DOUBLE) AS dc
              |       FROM deg JOIN cc USING (doc_id) GROUP BY cluster)
              |SELECT CAST(max(m) AS BIGINT) AS n_edges,
              |       CAST(count(*) AS BIGINT) AS n_communities,
              |       round(1.0 - sum(pow(dc / (2.0 * m), 2)), 6) AS modularity
              |FROM dc, m""".stripMargin)),

    // Weighted reciprocity of the event-type transition graph —
    // min(w_ij, w_ji)/Σw_ij over the off-diagonal edges (Squartini
    // et al. 2013's weighted form): do flows come back, or is the
    // journey one-way? Runs on the ≤|types|² shared transition-cell
    // table — zero additional fact scans.
    "graph_reciprocity" -> Q(
      (s, d) => {
        val e = transitionCells(s, d).filter(col("to_type").isNotNull)
          .filter(col("from_type") =!= col("to_type"))
          .select(col("from_type").as("a"), col("to_type").as("b"),
            col("n"))
          .localCheckpoint(eager = false) // both sides of the reverse join
        e.join(e.select(col("a").as("b"), col("b").as("a"),
            col("n").as("nr")), Seq("a", "b"), "left")
          .agg(count(lit(1)).as("n_edges"),
            sum("n").cast("long").as("w_total"),
            sum(least(col("n"), coalesce(col("nr"), lit(0L))))
              .cast("long").as("w_recip"),
            sum(when(col("nr").isNotNull, 1L).otherwise(0L))
              .as("e_recip"))
          .select(col("n_edges"), col("w_total"),
            round(col("w_recip") / col("w_total").cast("double"), 4)
              .as("w_reciprocity"),
            round(col("e_recip") / col("n_edges").cast("double"), 4)
              .as("e_reciprocity"))
      },
      Some("""WITH tr AS (
             |  SELECT event_type AS a,
             |         lead(event_type) OVER (PARTITION BY user_id
             |           ORDER BY ts, event_id) AS b
             |  FROM events),
             |e AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
             |      FROM tr WHERE b IS NOT NULL AND a <> b GROUP BY 1, 2),
             |j AS (SELECT e.a, e.b, e.n, r.n AS nr
             |      FROM e LEFT JOIN e r ON e.a = r.b AND e.b = r.a)
             |SELECT CAST(count(*) AS BIGINT) AS n_edges,
             |       CAST(sum(n) AS BIGINT) AS w_total,
             |       round(sum(least(n, coalesce(nr, 0)))
             |             / CAST(sum(n) AS DOUBLE), 4) AS w_reciprocity,
             |       round(sum(CASE WHEN nr IS NOT NULL THEN 1 ELSE 0 END)
             |             / CAST(count(*) AS DOUBLE), 4) AS e_reciprocity
             |FROM j""".stripMargin)),

    // Conductance of the source partition on the near-dup graph —
    // φ(S) = cut(S)/min(vol(S), vol(rest)): how LEAKY is each
    // source's duplicate neighborhood? The cut-based companion to
    // graph_modularity's null-model score on the SAME bounded edge
    // set (cut = d_sum − 2·l_intra, all exact integers).
    "graph_conductance" -> Q(
      (s, d) => {
        val docs = docsUnder(s, d, 120)
        val e0 = graft.dedup.Dedup.ngramJaccard(docs, 5, 0.25)
          .select(col("da"), col("db"))
        val src = docs.select(col("doc_id"), col("source"))
        val lab = e0
          .join(src.select(col("doc_id").as("da"), col("source").as("sa")), "da")
          .join(src.select(col("doc_id").as("db"), col("source").as("sb")), "db")
          .localCheckpoint(eager = false) // deg, intra, and m
        val mTot = lab.agg(count(lit(1)).as("m"))
        val degS = lab.select(col("sa").as("source"))
          .union(lab.select(col("sb").as("source")))
          .groupBy("source").agg(count(lit(1)).as("vol"))
        val intra = lab.filter(col("sa") === col("sb"))
          .groupBy(col("sa").as("source")).agg(count(lit(1)).as("l_intra"))
        degS.join(intra, Seq("source"), "left")
          .na.fill(0L, Seq("l_intra"))
          .crossJoin(broadcast(mTot))
          .select(col("source"), col("vol"),
            (col("vol") - lit(2L) * col("l_intra")).as("cut"),
            round((col("vol") - lit(2L) * col("l_intra"))
              / nullif(least(col("vol"), lit(2L) * col("m") - col("vol"))
                .cast("double"), lit(0.0)), 4).as("phi"))
          .orderBy("source")
      },
      Some(s"""WITH ${dupEdgesSql(120, 0.25)},
              |lab AS (SELECT da, db, sa.source AS sa, sb.source AS sb
              |        FROM e0 JOIN documents sa ON e0.da = sa.doc_id
              |                JOIN documents sb ON e0.db = sb.doc_id),
              |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lab),
              |degs AS (SELECT source, CAST(count(*) AS BIGINT) AS vol FROM (
              |           SELECT sa AS source FROM lab
              |           UNION ALL SELECT sb AS source FROM lab)
              |         GROUP BY source),
              |intra AS (SELECT sa AS source, CAST(count(*) AS BIGINT) AS l_intra
              |          FROM lab WHERE sa = sb GROUP BY sa)
              |SELECT degs.source AS source, vol,
              |       vol - 2 * coalesce(l_intra, 0) AS cut,
              |       round((vol - 2 * coalesce(l_intra, 0))
              |             / nullif(CAST(least(vol, 2 * m - vol) AS DOUBLE), 0.0), 4)
              |         AS phi
              |FROM degs LEFT JOIN intra ON degs.source = intra.source
              |CROSS JOIN m ORDER BY degs.source""".stripMargin)),

    // Synchronous label propagation (4 rounds) on the shared near-dup
    // graph — the COMMUNITY view beside graph_modularity's score and
    // graph_conductance's cut: each node adopts its neighborhood's
    // most frequent label, ties to the SMALLEST label, so the whole
    // trajectory is deterministic (no random order, no oscillation
    // damping needed at this depth). Per-round state is |V| rows;
    // every step is a bounded-edge join + grouped argmax. Output is
    // the community size profile.
    "graph_label_prop" -> Q(
      (s, d) => {
        // r17: 4 rounds folded DRIVER-side over the collected bounded
        // edge list — pure integer semantics (neighbor-label counts,
        // max, min tie-break), so the fold is EXACTLY the in-plan
        // result with ~16 jobs (join + 3 aggregates + checkpoint per
        // round) removed. Every node keeps a label each round (all
        // neighbors are labeled nodes), matching the join closure.
        val es = dupEdges(s, d)
          .select(col("da"), col("db")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val nbrs = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          .groupBy(_._1).map { case (v, g) => v -> g.map(_._2) }
        var lab: Map[Long, Long] = nbrs.keys.map(v => v -> v).toMap
        for (_ <- 1 to 4)
          lab = nbrs.map { case (v, ns) =>
            val cnt = ns.map(lab).groupBy(identity)
              .map { case (l, g) => l -> g.size }
            val mc = cnt.values.max
            v -> cnt.collect { case (l, c) if c == mc => l }.min
          }
        import s.implicits._
        lab.values.groupBy(identity)
          .map { case (l, g) => (l, g.size.toLong) }.toSeq
          .toDF("community", "size")
          .orderBy(col("size").desc, col("community"))
      },
      Some(s"""WITH ${dupEdgesSql(120, 0.25)},
              |nbr AS MATERIALIZED (SELECT da AS v, db AS n FROM e0
              |        UNION ALL SELECT db AS v, da AS n FROM e0),
              |l0 AS MATERIALIZED (SELECT DISTINCT v, v AS label FROM nbr),
              |${labelPropIterSql(4)}
              |SELECT label AS community, CAST(count(*) AS BIGINT) AS size
              |FROM l4 GROUP BY 1 ORDER BY size DESC, community""".stripMargin)),

    // Deterministic node2vec-style random walks on the near-dup graph
    // (4 steps from every node, md5-seeded next-hop choice over the
    // row_number-indexed adjacency) + skip-gram co-visit pair counts
    // within window 2 — the walk-corpus prep behind DeepWalk/node2vec
    // graph embeddings, reproducible because the "randomness" is the
    // md5 convention every sampler here uses. Four frontier joins
    // over the |V|-row walk table; the pair fan-out is the fixed
    // 7-slot window grid. Top-20 co-visited pairs.
    "graph_node2vec" -> Q(
      (s, d) => {
        // r17: the four frontier joins fold DRIVER-side over the one
        // collected bounded edge list (the graph_label_prop idiom) —
        // the in-plan form paid 4 × (two joins + a window) over a
        // walk table bounded at |V| ≤ 120 rows. The md5-seeded hop is
        // Md5Hash.hash60, the exact function the md5Long expression
        // compiles to, over the identical concat string; every other
        // step is integer arithmetic — bit-identical output.
        val es = dupEdges(s, d)
          .select(col("da"), col("db")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        // adjacency sorted ascending by neighbor = the row_number idx
        val adj = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
          .groupBy(_._1).map { case (v, g) => v -> g.map(_._2).sorted }
        def hop(p0: Long, k: Int, cur: Long): Long = {
          val ns = adj(cur)
          val h = graft.functions.Md5Hash.hash60(
            org.apache.spark.unsafe.types.UTF8String.fromString(
              s"n2v:$p0:$k:$cur"))
          ns((h % ns.length).toInt)
        }
        val walks = adj.keys.toSeq.map { v =>
          val w = new Array[Long](5)
          w(0) = v
          for (k <- 1 to 4) w(k) = hop(v, k, w(k - 1))
          w
        }
        val pairs = for {
          w <- walks
          i <- 0 to 4; j <- i + 1 to math.min(i + 2, 4)
          if w(i) != w(j)
        } yield (math.min(w(i), w(j)), math.max(w(i), w(j)))
        import s.implicits._
        pairs.groupBy(identity).toSeq
          .map { case ((a, b), g) => (a, b, g.size.toLong) }
          .sortBy { case (a, b, n) => (-n, a, b) }.take(20)
          .toDF("doc_a", "doc_b", "co_visits")
      },
      Some {
        def key(k: Int, cur: String) =
          s"('0x' || substr(md5('n2v:' || CAST(p0 AS VARCHAR) || ':$k:' || CAST($cur AS VARCHAR)), 1, 15))::BIGINT"
        def step(k: Int): String = {
          val prev = s"p${k - 1}"
          val prevW = s"w${k - 1}"
          val keep = (0 until k).map(i => s"$prevW.p$i").mkString(", ")
          s"""w$k AS (SELECT $keep, ad.w AS p$k
             |  FROM $prevW
             |  JOIN dg ON dg.v = $prevW.$prev
             |  JOIN ad ON ad.v = $prevW.$prev
             |   AND ad.idx = ${key(k, s"$prevW.$prev")} % dg.dg)""".stripMargin
        }
        s"""WITH ${dupEdgesSql(120, 0.25)},
           |ad AS (SELECT v, w,
           |         row_number() OVER (PARTITION BY v ORDER BY w) - 1 AS idx
           |       FROM (SELECT da AS v, db AS w FROM e0
           |             UNION ALL SELECT db AS v, da AS w FROM e0)),
           |dg AS (SELECT v, CAST(count(*) AS BIGINT) AS dg FROM ad GROUP BY v),
           |w0 AS (SELECT v AS p0 FROM dg),
           |${step(1)},
           |${step(2)},
           |${step(3)},
           |${step(4)},
           |pr AS (SELECT least(p0, p1) AS a, greatest(p0, p1) AS b FROM w4
           |  UNION ALL SELECT least(p0, p2), greatest(p0, p2) FROM w4
           |  UNION ALL SELECT least(p1, p2), greatest(p1, p2) FROM w4
           |  UNION ALL SELECT least(p1, p3), greatest(p1, p3) FROM w4
           |  UNION ALL SELECT least(p2, p3), greatest(p2, p3) FROM w4
           |  UNION ALL SELECT least(p2, p4), greatest(p2, p4) FROM w4
           |  UNION ALL SELECT least(p3, p4), greatest(p3, p4) FROM w4)
           |SELECT a AS doc_a, b AS doc_b,
           |       CAST(count(*) AS BIGINT) AS co_visits
           |FROM pr WHERE a <> b GROUP BY a, b
           |ORDER BY co_visits DESC, doc_a, doc_b LIMIT 20""".stripMargin
      })
  )
}
