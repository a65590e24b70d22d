package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.store.VectorStore
import graft.store.VectorStore.pointsSql
import graft.QDsl._

/** Corpus-level text profiles and retrieval evaluation — SparkEntry query family (regrouped from the round-named
  * inventory files in round 15; same query names, same bodies —
  * SparkEntry assembles the full map and the driver contract). */
private[graft] object QTextCorpus {

  val textCorpusQA: Seq[(String, Q)] = Seq(
      // NDCG@10 of embedding search as a RETRIEVAL-QUALITY metric:
      // for query docs 1–5, rank the corpus by exact cosine (raw
      // signed-bucket sums — bit-reproducible in SQL), relevance =
      // same-language-as-query, ideal DCG from the corpus-wide
      // relevant count. Complements the recall evals (ann_jl_recall,
      // dedup_lsh_eval) with a graded-ranking metric. The per-query
      // candidate set is the whole (small) corpus here; at scale the
      // ranking input swaps for the partition-pruned ANN paths and
      // this metric is unchanged downstream.
      "text_ndcg" -> Q(
        (s, d) => {
          import graft.functions.VectorFunctions.score
          val docs = Tables.documents(s, d)
          val raw = graft.embed.HashEmbedder.embedDocsRaw(docs, "doc_id", "text", 64)
            .join(docs.select("doc_id", "lang"), "doc_id")
          val qs = raw.filter(col("doc_id") <= 5)
            .select(col("doc_id").as("qid"), col("embedding").as("qv"),
                    col("lang").as("qlang"))
          val scored = raw.crossJoin(broadcast(qs))
            .filter(col("doc_id") =!= col("qid"))
            .select(col("qid"), col("qlang"), col("doc_id"), col("lang"),
              score(col("embedding"), col("qv")).as("sc"))
          // top-10 per query via the bounded TopK partial aggregate —
          // a row_number window here would sort the ENTIRE scored
          // corpus on |queries| reducers (5 partitions at any scale);
          // the aggregate shuffles ≤10 rows/partition/query instead.
          // relevance rides the id's low bit (eid = doc_id·2 + rel is
          // monotone in doc_id, so the (sc desc, eid asc) comparator
          // keeps the window formulation's doc_id tie-break).
          val tk = graft.ops.TopK.topk(10)
          // r17: the TopK buffer and the corpus-wide relevant count are
          // BOTH per-qid aggregates over `scored` — fusing them into one
          // groupBy halves the embed+score subtree (Catalyst does not
          // dedup the common subtree across a self-join) and removes
          // the top⨝rel join exchange. Both are order-invariant
          // (bounded TopK comparator / integer sum) — results identical.
          val top = scored
            .select(col("qid"), col("sc"),
              (col("doc_id") * 2 +
                when(col("lang") === col("qlang"), 1L).otherwise(0L)).as("eid"),
              when(col("lang") === col("qlang"), 1L).otherwise(0L).as("relflag"))
            .groupBy("qid").agg(tk(col("sc"), col("eid")).as("top"),
              sum("relflag").as("n_rel"))
            .select(col("qid"), col("n_rel"), posexplode(col("top")))
            .select(col("qid"), col("n_rel"), (col("pos") + 1).as("rnk"),
              (col("col.id") % 2).as("rel"))
            .groupBy("qid")
            .agg(sum("rel").as("n_rel_top10"),
              sum(when(col("rel") === 1,
                lit(1.0) / log2(col("rnk") + 1)).otherwise(0.0)).as("dcg"),
              max("n_rel").as("n_rel"))
          top
            .withColumn("idcg", expr(
              "aggregate(sequence(1, int(least(10, n_rel))), 0D, (a, i) -> a + 1.0 / log2(i + 1))"))
            .select(col("qid"), col("n_rel_top10"),
              when(col("n_rel") === 0, lit(null).cast("double"))
                .otherwise(round(col("dcg") / col("idcg"), 4)).as("ndcg"))
            .orderBy("qid")
        },
        Some {
          val (dot, na, nb) = graft.embed.HashEmbedder.cosineTermsSql(64)
          s"""WITH sums AS (
             |${graft.embed.HashEmbedder.rawSumsSql(64)}),
             |lg AS (SELECT doc_id, lang FROM documents),
             |qs AS (SELECT sums.doc_id AS qid, lang AS qlang, sums.*
             |       FROM sums JOIN lg USING (doc_id) WHERE doc_id <= 5),
             |sc AS (SELECT ss.qid, ss.qlang, ss.doc_id, lg.lang,
             |              round(CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
             |                         ELSE dot / sqrt(na * nb) END, 6) + 0.0 AS sc
             |       FROM (SELECT s.doc_id, q.qid, q.qlang, ($dot) AS dot,
             |                    ($na) AS na, ($nb) AS nb
             |             FROM sums s JOIN qs q ON s.doc_id <> q.qid) ss
             |       JOIN lg ON ss.doc_id = lg.doc_id),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sc DESC, doc_id) AS rnk
             |       FROM sc),
             |top AS (SELECT qid,
             |          CAST(sum(CASE WHEN lang = qlang THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_top10,
             |          sum(CASE WHEN lang = qlang THEN 1.0 / log2(rnk + 1) ELSE 0.0 END) AS dcg
             |        FROM rk WHERE rnk <= 10 GROUP BY qid),
             |rel AS (SELECT qid, CAST(sum(CASE WHEN lang = qlang THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
             |        FROM sc GROUP BY qid),
             |id_ AS (SELECT qid, sum(1.0 / log2(i + 1)) AS idcg
             |        FROM rel, LATERAL (SELECT unnest(generate_series(1, CAST(least(10, n_rel) AS BIGINT))) AS i)
             |        GROUP BY qid)
             |SELECT top.qid, n_rel_top10,
             |       CASE WHEN n_rel = 0 THEN NULL
             |            ELSE round(dcg / idcg, 4) END AS ndcg
             |FROM top JOIN rel USING (qid) LEFT JOIN id_ USING (qid)
             |ORDER BY qid""".stripMargin
        }),

      // TextRank keyphrase extraction: weighted PageRank over the
      // word co-occurrence graph (window ≤2 on the stopword-filtered
      // token stream), vocab bounded to the top-150 tokens by
      // frequency so the graph is ≤150 nodes at ANY corpus size —
      // the corpus-scale work is one token count + one pair count,
      // both map-side-combinable; the 4 power iterations run on the
      // collected bounded graph (same altitude call as
      // graph_pagerank's |event-types| chain). Per-iteration round
      // to 7dp pins the trajectory across engines.
      "text_textrank" -> Q(
        (s, d) => {
          import graft.text.TextAnalytics
          val stopArr = typedlit(TextAnalytics.Stopwords)
          val toksRaw = graft.text.TextPrimitives.tokens(col("text"))
          val content = filter(toksRaw, t => !array_contains(stopArr, t))
          val docs = Tables.documents(s, d).select(content.as("a"))
            .localCheckpoint(eager = false) // vocab + two pair streams
          val vocab = docs.select(explode(col("a")).as("tok"))
            .groupBy("tok").agg(count(lit(1)).as("freq"))
            .orderBy(col("freq").desc, col("tok")).limit(150)
          // r17: the vocab is collected ONCE (the driver loop needs the
          // node list anyway) and membership becomes a 150-element
          // InSet filter — each broadcast join previously re-ran the
          // vocab aggregate as its own broadcast-exchange job. The two
          // offset streams fuse into ONE explode over the concatenated
          // zip arrays (halves the pass over the checkpointed token
          // arrays) and pairs ride as structs instead of concat +
          // re-split strings. Same pair multiset, same integer counts.
          val nodes = vocab.select("tok").collect().map(_.getString(0)).sorted
          def zp(k: Int) = zip_with(
            slice(col("a"), lit(1), greatest(size(col("a")) - k, lit(0))),
            slice(col("a"), lit(k + 1), greatest(size(col("a")) - k, lit(0))),
            (x, y) => struct(x.as("x"), y.as("y")))
          val e0 = docs.select(explode(concat(zp(1), zp(2))).as("p"))
            .select(col("p.x").as("x"), col("p.y").as("y"))
            .filter(col("x") =!= col("y"))
            .select(least(col("x"), col("y")).as("src"),
                    greatest(col("x"), col("y")).as("dst"))
            .filter(col("src").isin(nodes: _*) && col("dst").isin(nodes: _*))
            .groupBy("src", "dst").agg(count(lit(1)).as("w"))
          val canon = e0.collect()
            .map(r => (r.getAs[String]("src"), r.getAs[String]("dst"), r.getAs[Long]("w")))
            .sortBy(t => (t._1, t._2))
          val bi = canon.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
          val wa = bi.groupBy(_._1).map { case (a, es) => a -> es.map(_._3).sum }
          val edges = bi.map { case (a, b, w) =>
            (a, b, BigDecimal(w.toDouble / wa(a))
              .setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble) }
          val nN = nodes.length
          def r7(x: Double) =
            BigDecimal(x).setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble
          var rank = nodes.map(t => t -> r7(1.0 / nN)).toMap
          for (_ <- 1 to 4) {
            val in = edges.groupBy(_._2).map { case (dst, es) =>
              dst -> es.sortBy(_._1).map(e => e._3 * rank(e._1)).sum }
            rank = nodes.map(t => t -> r7(0.15 / nN + 0.85 * in.getOrElse(t, 0.0))).toMap
          }
          import s.implicits._
          rank.toSeq.sortBy(_._1).toDF("tok", "r0")
            .select(col("tok"), round(col("r0"), 5).as("pr"))
            .orderBy(col("pr").desc, col("tok")).limit(15)
        },
        Some {
          val iters = (1 to 4).map { k =>
            s"""it$k AS (SELECT n.t, round(0.15 / nn.nn + 0.85 * coalesce(
               |  (SELECT sum(e.p * i.r) FROM e JOIN it${k - 1} i ON i.t = e.src
               |   WHERE e.dst = n.t), 0), 7) AS r
               |  FROM nodes n, nn)""".stripMargin
          }.mkString(",\n")
          s"""WITH content AS (
             |  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
             |                     t -> t NOT IN ($stopListSql)) AS a
             |  FROM documents),
             |vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
             |          FROM (SELECT unnest(a) AS tok FROM content)
             |          GROUP BY tok ORDER BY freq DESC, tok LIMIT 150),
             |p1 AS (SELECT a[i] AS x, a[i+1] AS y FROM (
             |         SELECT a, unnest(generate_series(1, len(a) - 1)) AS i FROM content)),
             |p2 AS (SELECT a[i] AS x, a[i+2] AS y FROM (
             |         SELECT a, unnest(generate_series(1, len(a) - 2)) AS i FROM content)),
             |e0 AS (SELECT least(x, y) AS src, greatest(x, y) AS dst,
             |              CAST(count(*) AS BIGINT) AS w
             |       FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
             |       WHERE x <> y AND least(x, y) IN (SELECT tok FROM vocab)
             |         AND greatest(x, y) IN (SELECT tok FROM vocab)
             |       GROUP BY src, dst),
             |bi AS (SELECT src AS a, dst AS b, w FROM e0
             |       UNION ALL SELECT dst, src, w FROM e0),
             |deg AS (SELECT a, CAST(sum(w) AS BIGINT) AS wa FROM bi GROUP BY a),
             |e AS (SELECT a AS src, b AS dst, round(w * 1.0 / wa, 7) AS p
             |      FROM bi JOIN deg USING (a)),
             |nodes AS (SELECT tok AS t FROM vocab),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
             |it0 AS (SELECT t, round(1.0 / nn, 7) AS r FROM nodes, nn),
             |$iters
             |SELECT t AS tok, round(r, 5) AS pr FROM it4
             |ORDER BY pr DESC, tok LIMIT 15""".stripMargin
        }),

      // Chao1 species-richness estimate of the vocabulary: how many
      // word types remain UNSEEN given the singleton/doubleton profile
      // — the "is more data worth scanning" complement to the Heaps
      // fit. Bias-corrected form V + f1(f1−1)/(2(f2+1)) (no f2=0
      // division), plus Good–Turing sample coverage 1 − f1/N. The
      // whole estimator is two aggregates over the term-frequency
      // histogram the vocab build already produces.
      "text_chao1" -> Q(
        (s, d) => {
          val freqs = Tables.documents(s, d)
            .select(explode(graft.text.TextPrimitives.tokens(col("text"))).as("tok"))
            .groupBy("tok").agg(count(lit(1)).as("f"))
          freqs.agg(count(lit(1)).as("v_obs"),
              sum(when(col("f") === 1, 1L).otherwise(0L)).as("f1"),
              sum(when(col("f") === 2, 1L).otherwise(0L)).as("f2"),
              sum("f").as("n_tokens"))
            .select(col("v_obs"), col("f1"), col("f2"), col("n_tokens"),
              round(col("v_obs") + col("f1").cast("double") * (col("f1") - 1)
                / ((col("f2") + 1) * 2.0), 2).as("chao1"),
              round(lit(1.0) - col("f1") / col("n_tokens").cast("double"), 6)
                .as("coverage"))
        },
        Some("""WITH fr AS (
               |  SELECT tok, CAST(count(*) AS BIGINT) AS f FROM (
               |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
               |    FROM documents)
               |  GROUP BY tok)
               |SELECT CAST(count(*) AS BIGINT) AS v_obs,
               |       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               |       CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
               |       CAST(sum(f) AS BIGINT) AS n_tokens,
               |       round(count(*) + sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
               |               * CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) - 1 AS DOUBLE)
               |               / (2.0 * (sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) + 1)), 2) AS chao1,
               |       round(1.0 - sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
               |               / CAST(sum(f) AS DOUBLE), 6) AS coverage
               |FROM fr""".stripMargin)),

    // Dirichlet query-likelihood retrieval (Zhai & Lafferty 2001) —
    // the probabilistic LM complement to BM25 over the same
    // one-explode shuffle; zero-tf query terms contribute the
    // smoothed collection mass so scores are comparable across docs
    "text_lmir" -> Q(
      (s, d) => graft.text.Bm25.dirichletQL(
        Tables.documents(s, d), Seq("spark", "hash", "merge"), 10),
      Some("""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
             |              FROM documents),
             |dl AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks),
             |tc AS (SELECT sum(dl) AS t_coll FROM dl),
             |hits AS (SELECT doc_id, tok
             |         FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
             |         WHERE tok IN ('spark', 'hash', 'merge')),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf
             |       FROM hits GROUP BY 1, 2),
             |cf AS (SELECT tok, CAST(count(*) AS DOUBLE) AS cf FROM hits GROUP BY 1),
             |m AS (SELECT DISTINCT doc_id FROM tf),
             |terms AS (SELECT unnest(['spark', 'hash', 'merge']) AS tok)
             |SELECT doc_id,
             |       CAST(sum(CASE WHEN tf.tf IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_hit_terms,
             |       round(sum(ln((coalesce(tf.tf, 0.0) + 2000.0 * cf / t_coll) /
             |                    (dl + 2000.0))), 4) AS ql
             |FROM m CROSS JOIN terms
             |LEFT JOIN tf USING (doc_id, tok)
             |JOIN cf USING (tok) JOIN dl USING (doc_id), tc
             |GROUP BY doc_id ORDER BY ql DESC, doc_id LIMIT 10""".stripMargin)),

    // lexicon-based sentiment scoring per language: mean token
    // valence over matched terms per doc, rolled up per lang — the
    // cheap quality/tone signal next to text_quality. The 4-term
    // valence lexicon is a broadcast literal on both engines; docs
    // with no lexicon hit are excluded from the doc average (counted
    // separately) rather than imputed 0.
    "text_sentiment" -> Q(
      (s, d) => {
        import graft.text.TextPrimitives
        val lex = s.createDataFrame(Seq(
          ("fast", 2.0), ("slow", -2.0), ("big", 1.0), ("small", -1.0)))
          .toDF("tok", "val")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
                  explode(TextPrimitives.tokens(col("text"))).as("tok"))
        val perDoc = toks.join(broadcast(lex), "tok")
          .groupBy("doc_id", "lang")
          .agg(round(avg("val"), 6).as("sent"), count(lit(1)).as("n_hits"))
        val nd = Tables.documents(s, d).groupBy("lang")
          .agg(count(lit(1)).as("n_docs"))
        perDoc.groupBy("lang")
          .agg(count(lit(1)).as("n_scored"),
               round(avg("sent"), 4).as("mean_sentiment"),
               sum(when(col("sent") > 0, 1L).otherwise(0L)).as("n_positive"))
          .join(broadcast(nd), "lang")
          .select(col("lang"), col("n_docs"), col("n_scored"),
                  col("mean_sentiment"), col("n_positive"))
          .orderBy("lang")
      },
      Some("""WITH lex AS (SELECT * FROM (VALUES ('fast', 2.0), ('slow', -2.0),
             |                                   ('big', 1.0), ('small', -1.0))
             |             AS t(tok, val)),
             |toks AS (SELECT doc_id, lang, unnest(
             |           regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |         FROM documents),
             |pd AS (SELECT doc_id, lang, round(avg(val), 6) AS sent,
             |              CAST(count(*) AS BIGINT) AS n_hits
             |       FROM toks JOIN lex USING (tok) GROUP BY 1, 2),
             |nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
             |       FROM documents GROUP BY 1)
             |SELECT lang, n_docs, CAST(count(*) AS BIGINT) AS n_scored,
             |       round(avg(sent), 4) AS mean_sentiment,
             |       CAST(sum(CASE WHEN sent > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_positive
             |FROM pd JOIN nd USING (lang)
             |GROUP BY lang, n_docs ORDER BY lang""".stripMargin)),

    // vocabulary diversity indices per source: Simpson's D = Σpᵢ²
    // (repeat probability), Berger–Parker dominance = max pᵢ, and
    // Pielou evenness J = H/ln V — the one-pass diversity triple the
    // data card reports next to raw entropy. Two hash aggregates
    // ((source,tok) counts → per-source moments), no windows.
    "text_diversity" -> Q(
      (s, d) => {
        import graft.text.TextPrimitives
        val tc = Tables.documents(s, d)
          .select(col("source"), explode(TextPrimitives.tokens(col("text"))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).cast("double").as("c"))
        tc.groupBy("source")
          .agg(sum("c").as("n_tok"), count(lit(1)).as("v_types"),
               sum(col("c") * col("c")).as("sq"),
               max("c").as("mx"),
               sum(col("c") * log(col("c"))).as("clc"))
          .select(col("source"), col("n_tok").cast("long").as("n_tok"),
                  col("v_types"),
                  round(col("sq") / (col("n_tok") * col("n_tok")), 6).as("simpson_d"),
                  round(col("mx") / col("n_tok"), 6).as("berger_parker"),
                  when(col("v_types") > 1,
                       round((log(col("n_tok")) - col("clc") / col("n_tok")) /
                             log(col("v_types").cast("double")), 4))
                    .otherwise(lit(null).cast("double")).as("evenness"))
          .orderBy("source")
      },
      Some("""WITH tc AS (
             |  SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
             |  FROM (SELECT source, unnest(
             |          regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY 1, 2),
             |m AS (SELECT source, sum(c) AS n_tok,
             |             CAST(count(*) AS BIGINT) AS v_types,
             |             sum(c * c) AS sq, max(c) AS mx,
             |             sum(c * ln(c)) AS clc
             |      FROM tc GROUP BY 1)
             |SELECT source, CAST(n_tok AS BIGINT) AS n_tok, v_types,
             |       round(sq / (n_tok * n_tok), 6) AS simpson_d,
             |       round(mx / n_tok, 6) AS berger_parker,
             |       CASE WHEN v_types > 1
             |            THEN round((ln(n_tok) - clc / n_tok) /
             |                       ln(CAST(v_types AS DOUBLE)), 4)
             |       END AS evenness
             |FROM m ORDER BY source""".stripMargin)),

    // Yule's characteristic K per source — the classic vocabulary
    // repeat-rate constant K = 10⁴·(Σc² − N)/N² (Yule 1944), scale-
    // invariant unlike raw TTR, so sources of different sizes compare
    // directly. Same two hash aggregates as text_diversity (the
    // (source,tok) count table), different invariant.
    "text_yule_k" -> Q(
      (s, d) => {
        import graft.text.TextPrimitives
        Tables.documents(s, d)
          .select(col("source"), explode(TextPrimitives.tokens(col("text"))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).cast("double").as("c"))
          .groupBy("source")
          .agg(sum("c").as("n_tok"), count(lit(1)).as("v_types"),
               sum(col("c") * col("c")).as("s2"))
          .select(col("source"), col("n_tok").cast("long").as("n_tok"),
                  col("v_types"),
                  round(lit(10000.0) * (col("s2") - col("n_tok")) /
                        (col("n_tok") * col("n_tok")), 4).as("yule_k"))
          .orderBy("source")
      },
      Some("""WITH tc AS (
             |  SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
             |  FROM (SELECT source, unnest(
             |          regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY 1, 2)
             |SELECT source, CAST(sum(c) AS BIGINT) AS n_tok,
             |       CAST(count(*) AS BIGINT) AS v_types,
             |       round(10000.0 * (sum(c * c) - sum(c)) / (sum(c) * sum(c)), 4)
             |         AS yule_k
             |FROM tc GROUP BY source ORDER BY source""".stripMargin)),

    // MAP@10 + MRR of embedding search (relevance = same-lang, the
    // text_ndcg protocol) — the order-sensitive precision companion
    // to NDCG's graded gain: AP averages precision at each relevant
    // hit, RR scores only the first. Same bounded 5-query broadcast
    // scoring pass; the per-query running-precision sum is a ≤10-row
    // window inside the top-10 slice.
    "text_map_mrr" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.score
        val docs = Tables.documents(s, d)
        val raw = graft.embed.HashEmbedder.embedDocsRaw(docs, "doc_id", "text", 64)
          .join(docs.select("doc_id", "lang"), "doc_id")
        val qs = raw.filter(col("doc_id") <= 5)
          .select(col("doc_id").as("qid"), col("embedding").as("qv"),
                  col("lang").as("qlang"))
        val scored = raw.crossJoin(broadcast(qs))
          .filter(col("doc_id") =!= col("qid"))
          .select(col("qid"), col("qlang"), col("doc_id"), col("lang"),
            score(col("embedding"), col("qv")).as("sc"))
        // top-10 per query via the bounded TopK partial aggregate (the
        // text_ndcg shape: ≤10 rows/partition/query shuffled, never a
        // corpus-wide row_number sort on |queries| reducers); the
        // running-precision sum then walks the ≤10-element ARRAY with
        // one aggregate HOF — no window at all. relevance rides the
        // id's low bit (eid = doc_id·2 + rel keeps the doc_id
        // tie-break under the (sc desc, eid asc) comparator).
        val tk = graft.ops.TopK.topk(10)
        val top = scored
          .select(col("qid"), col("sc"),
            (col("doc_id") * 2 +
              when(col("lang") === col("qlang"), 1L).otherwise(0L)).as("eid"))
          .groupBy("qid").agg(tk(col("sc"), col("eid")).as("top"))
          .select(col("qid"), expr(
            """aggregate(
              |  transform(top, (x, i) -> struct(CAST(x.id % 2 AS DOUBLE) AS rel,
              |                                  CAST(i + 1 AS DOUBLE) AS rnk)),
              |  named_struct('cum', 0D, 'apn', 0D,
              |               'rr', CAST(NULL AS DOUBLE), 'nrel', CAST(0 AS BIGINT)),
              |  (s, x) -> named_struct(
              |    'cum', s.cum + x.rel,
              |    'apn', s.apn + IF(x.rel = 1.0D, (s.cum + 1.0D) / x.rnk, 0D),
              |    'rr', coalesce(s.rr, IF(x.rel = 1.0D, 1.0D / x.rnk,
              |                            CAST(NULL AS DOUBLE))),
              |    'nrel', s.nrel + CAST(x.rel AS BIGINT))) AS st""".stripMargin))
          .select(col("qid"), col("st.apn").as("ap_num"),
            col("st.rr").as("rr_raw"), col("st.nrel").as("n_rel_top10"))
        val rel = scored.groupBy("qid")
          .agg(sum(when(col("lang") === col("qlang"), 1L).otherwise(0L)).as("n_rel"))
        top.join(rel, "qid")
          .select(col("qid"), col("n_rel_top10"),
            when(col("n_rel") === 0, lit(null).cast("double"))
              .otherwise(round(col("ap_num") / least(lit(10L), col("n_rel")), 4))
              .as("ap10"),
            coalesce(round(col("rr_raw"), 4), lit(0.0)).as("rr"))
          .orderBy("qid")
      },
      Some {
        val (dot, na, nb) = graft.embed.HashEmbedder.cosineTermsSql(64)
        s"""WITH sums AS (
           |${graft.embed.HashEmbedder.rawSumsSql(64)}),
           |lg AS (SELECT doc_id, lang FROM documents),
           |qs AS (SELECT sums.doc_id AS qid, lang AS qlang, sums.*
           |       FROM sums JOIN lg USING (doc_id) WHERE doc_id <= 5),
           |sc AS (SELECT ss.qid, ss.qlang, ss.doc_id, lg.lang,
           |              round(CASE WHEN na = 0.0 OR nb = 0.0 THEN 0.0
           |                         ELSE dot / sqrt(na * nb) END, 6) + 0.0 AS sc
           |       FROM (SELECT s.doc_id, q.qid, q.qlang, ($dot) AS dot,
           |                    ($na) AS na, ($nb) AS nb
           |             FROM sums s JOIN qs q ON s.doc_id <> q.qid) ss
           |       JOIN lg ON ss.doc_id = lg.doc_id),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sc DESC, doc_id) AS rnk
           |       FROM sc),
           |top AS (SELECT qid, rnk,
           |          CASE WHEN lang = qlang THEN 1 ELSE 0 END AS rel,
           |          sum(CASE WHEN lang = qlang THEN 1 ELSE 0 END) OVER (
           |            PARTITION BY qid ORDER BY rnk
           |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rel
           |        FROM rk WHERE rnk <= 10),
           |ag AS (SELECT qid,
           |         sum(CASE WHEN rel = 1 THEN CAST(cum_rel AS DOUBLE) / rnk
           |                  ELSE 0.0 END) AS ap_num,
           |         max(CASE WHEN rel = 1 THEN 1.0 / rnk END) AS rr_raw,
           |         CAST(sum(rel) AS BIGINT) AS n_rel_top10
           |       FROM top GROUP BY qid),
           |rel AS (SELECT qid, CAST(sum(CASE WHEN lang = qlang THEN 1 ELSE 0 END) AS BIGINT) AS n_rel
           |        FROM sc GROUP BY qid)
           |SELECT ag.qid, n_rel_top10,
           |       CASE WHEN n_rel = 0 THEN NULL
           |            ELSE round(ap_num / least(10, n_rel), 4) END AS ap10,
           |       coalesce(round(rr_raw, 4), 0.0) AS rr
           |FROM ag JOIN rel USING (qid) ORDER BY ag.qid""".stripMargin
      }),

    // ARI + Coleman–Liau readability per doc — the character-based
    // indices next to the syllable-based Flesch (text_readability):
    // no syllable heuristic, so they transfer across languages
    // better. Same map-side regex-count shape; words=0 guarded NULL.
    "text_ari" -> Q(
      (s, d) => {
        val words = size(graft.text.TextPrimitives.tokens(col("text"))).cast("double")
        val sents = greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"),
          lit(0))), lit(1)).cast("double")
        val chars = length(regexp_replace(col("text"), "\\s", "")).cast("double")
        // + 1e-9 before the round: the raw indices land EXACTLY on
        // 4-decimal ties (0.5·words/sents is .5-granular), where
        // Spark's string-decimal HALF_UP and DuckDB's numeric round
        // disagree about the same double; the identical nudge on both
        // engines moves every tie off the boundary
        Tables.documents(s, d).filter(col("doc_id") < 100)
          .select(col("doc_id"), chars.cast("long").as("n_chars_ns"),
                  words.cast("long").as("n_words"), sents.cast("long").as("n_sent"),
                  when(words > 0, round(lit(4.71) * (chars / words)
                    + lit(0.5) * (words / sents) - lit(21.43) + lit(1e-9), 4))
                    .otherwise(lit(null).cast("double")).as("ari"),
                  when(words > 0, round(lit(0.0588) * (chars / words * 100)
                    - lit(0.296) * (sents / words * 100) - lit(15.8) + lit(1e-9), 4))
                    .otherwise(lit(null).cast("double")).as("coleman_liau"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(chars AS BIGINT) AS n_chars_ns,
             |       CAST(words AS BIGINT) AS n_words, CAST(sents AS BIGINT) AS n_sent,
             |       CASE WHEN words > 0
             |            THEN round(4.71 * (chars / words) + 0.5 * (words / sents)
             |                       - 21.43 + 1e-9, 4) END AS ari,
             |       CASE WHEN words > 0
             |            THEN round(0.0588 * (chars / words * 100)
             |                       - 0.296 * (sents / words * 100) - 15.8 + 1e-9, 4)
             |       END AS coleman_liau
             |FROM (
             |  SELECT doc_id,
             |         CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS chars,
             |         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS words,
             |         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS sents
             |  FROM documents WHERE doc_id < 100)
             |ORDER BY doc_id""".stripMargin)),

    // extractive summarization (SumBasic-style): per doc, the top-3
    // sentences by mean corpus token frequency — the "what to show a
    // labeler" primitive. Sentence split + scoring are map-side over
    // the bounded subset; the frequency table is a broadcast join;
    // the pick is a per-doc bounded window. Scores are rounded BEFORE
    // ranking so order ties break identically on both engines.
    "text_extract_summary" -> Q(
      (s, d) => {
        val sub = Tables.documents(s, d).filter(col("doc_id") < 100)
        val sents = sub.select(col("doc_id"),
            posexplode(split(col("text"), "[.!?]+")).as(Seq("pos", "sent")))
          .withColumn("sent", trim(col("sent")))
          .filter(length(col("sent")) > 0)
        val stok = sents.select(col("doc_id"), col("pos"),
            explode(graft.text.TextPrimitives.tokens(col("sent"))).as("tok"))
          .filter(length(col("tok")) > 0)
          .localCheckpoint(eager = false) // vocab + the scoring join
        val freq = stok.groupBy("tok").agg(count(lit(1)).as("tf"))
        val scored = stok.join(broadcast(freq), "tok")
          .groupBy("doc_id", "pos")
          .agg(count(lit(1)).as("n_tok_sent"),
               round(avg(col("tf").cast("double")), 4).as("score"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("pos"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk").cast("long").as("rk"),
            col("pos").cast("long").as("sent_pos"), col("n_tok_sent"),
            col("score"))
          .orderBy("doc_id", "rk")
      },
      Some("""WITH sub AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
             |sents AS (
             |  SELECT doc_id, i - 1 AS pos, trim(arr[i]) AS sent
             |  FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
             |        FROM (SELECT doc_id, regexp_split_to_array(text, '[.!?]+') AS arr
             |              FROM sub))
             |  WHERE length(trim(arr[i])) > 0),
             |stok AS (
             |  SELECT doc_id, pos, tok
             |  FROM (SELECT doc_id, pos,
             |          unnest(regexp_split_to_array(lower(trim(sent)), '\s+')) AS tok
             |        FROM sents)
             |  WHERE length(tok) > 0),
             |freq AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf
             |         FROM stok GROUP BY tok),
             |scored AS (
             |  SELECT doc_id, pos, CAST(count(*) AS BIGINT) AS n_tok_sent,
             |         round(avg(CAST(tf AS DOUBLE)), 4) AS score
             |  FROM stok JOIN freq USING (tok) GROUP BY doc_id, pos)
             |SELECT doc_id, CAST(rk AS BIGINT) AS rk,
             |       CAST(pos AS BIGINT) AS sent_pos, n_tok_sent, score
             |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
             |        ORDER BY score DESC, pos) AS rk
             |      FROM scored)
             |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // n-gram novelty by crawl order: what share of each doc's
    // 3-token shingles appear for the FIRST time at that doc — the
    // "is more crawl still adding content" curve, bucketed by doc_id
    // decile. The shingle table is DISTINCT per (doc, sh), so the
    // per-doc novelty count is a second tiny aggregate OVER the
    // first-occurrence table (group the winners by their doc) — the
    // round-10 form re-joined the full gram fan-out against it, a
    // second full-width shuffle that carried no information the
    // winners' own doc ids didn't already have. Per-doc gram counts
    // come map-side off the same checkpointed grams; the only
    // corpus-width shuffle left is the min-per-shingle aggregate.
    "text_ngram_novelty" -> Q(
      (s, d) => {
        // shingle duplicates only exist WITHIN a doc, so the distinct
        // (doc, sh) set is computable row-locally with array_distinct —
        // tokenShingles' .distinct() would shuffle the full gram
        // fan-out for the same result
        val docs = Tables.documents(s, d)
          .select(col("doc_id"),
            graft.text.TextPrimitives.tokens(col("text")).as("toks"))
          .select(col("doc_id"), array_distinct(transform(
            sequence(lit(0), greatest(size(col("toks")) - 3, lit(0))),
            i => concat_ws(" ", slice(col("toks"), i + lit(1), lit(3))))).as("shs"))
          .localCheckpoint(eager = false) // first-occurrence + per-doc n
        val novPer = docs.select(col("doc_id"), explode(col("shs")).as("sh"))
          .groupBy("sh").agg(min("doc_id").as("fd"))
          .groupBy(col("fd").as("doc_id")).agg(count(lit(1)).as("nov"))
        val perDoc = docs.select(col("doc_id"), size(col("shs")).cast("long").as("n"))
          .join(novPer, Seq("doc_id"), "left")
          .na.fill(0L, Seq("nov"))
          .localCheckpoint(eager = false) // max + bucket rollup
        val mx = perDoc.agg(max("doc_id").as("mx"))
        perDoc.crossJoin(broadcast(mx))
          .withColumn("bucket", expr("(doc_id * 10) div (mx + 1)"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), sum("n").as("n_grams"),
               round(sum("nov") / sum("n").cast("double"), 4).as("novelty_rate"))
          .orderBy("bucket")
      },
      Some(s"""WITH g AS (
              |${graft.text.TextPrimitives.tokenShinglesSql("documents", "doc_id", "text", 3)}),
              |fo AS (SELECT sh, CAST(min(doc_id) AS BIGINT) AS fd FROM g GROUP BY sh),
              |nv AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS nov
              |       FROM fo GROUP BY fd),
              |np AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
              |       FROM g GROUP BY doc_id),
              |pd AS (SELECT np.doc_id, np.n, coalesce(nv.nov, 0) AS nov
              |       FROM np LEFT JOIN nv USING (doc_id)),
              |mx AS (SELECT max(doc_id) AS mx FROM pd)
              |SELECT (doc_id * 10) // (mx + 1) AS bucket,
              |       CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(n) AS BIGINT) AS n_grams,
              |       round(sum(nov) / CAST(sum(n) AS DOUBLE), 4) AS novelty_rate
              |FROM pd, mx GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // dedup impact report per source: docs/tokens before vs after
    // canonical (min-id) dedup on the SHARED cluster-label table —
    // "what did dedup cost each source" is the number a data-mix
    // owner signs off on. Labels are computed once (the
    // dedup_clusters materialization); this query is two grouped
    // passes over the bounded labeled subset.
    "text_dedup_impact" -> Q(
      (s, d) => {
        val docs200 = docsUnder(s, d, 200)
        val lbl = clusterLabels(s, d)
        val t = docs200.select(col("doc_id"), col("source"),
          size(graft.text.TextPrimitives.tokens(col("text"))).cast("long")
            .as("n_tok"))
        t.join(lbl, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               countDistinct("cluster").as("n_kept"),
               sum("n_tok").as("tokens_total"),
               sum(when(col("doc_id") === col("cluster"), col("n_tok"))
                 .otherwise(0L)).as("tokens_kept"))
          .select(col("source"), col("n_docs"), col("n_kept"),
            (col("n_docs") - col("n_kept")).as("n_removed"),
            col("tokens_total"), col("tokens_kept"),
            round((col("tokens_total") - col("tokens_kept"))
              / col("tokens_total").cast("double"), 4)
              .as("token_removed_share"))
          .orderBy("source")
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
              |cl AS (SELECT src AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster
              |       FROM reach GROUP BY src),
              |t AS (SELECT doc_id, source,
              |        CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tok
              |      FROM documents WHERE doc_id < 200)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(count(DISTINCT cluster) AS BIGINT) AS n_kept,
              |       CAST(count(*) - count(DISTINCT cluster) AS BIGINT) AS n_removed,
              |       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
              |       CAST(sum(CASE WHEN doc_id = cluster THEN n_tok ELSE 0 END) AS BIGINT)
              |         AS tokens_kept,
              |       round((sum(n_tok) - sum(CASE WHEN doc_id = cluster THEN n_tok ELSE 0 END))
              |             / CAST(sum(n_tok) AS DOUBLE), 4) AS token_removed_share
              |FROM t JOIN cl USING (doc_id)
              |GROUP BY source ORDER BY source""".stripMargin))
  )

  val textCorpusQB: Seq[(String, Q)] = Seq(
    // Burrows' Delta stylometric distance between sources (the
    // authorship-attribution classic): per-source relative
    // frequencies of the top-50 corpus words, z-scored per word
    // across sources, Δ(a,b) = mean |z_a − z_b| — which sources
    // "write alike" (near-duplicate FEEDS, not documents). Corpus
    // work is two hash aggregates; the vocab is TakeOrdered-bounded
    // at 50 and the pair frame is |sources|²·50.
    "text_burrows_delta" -> Q(
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("source"),
            explode(graft.text.TextPrimitives.tokens(col("text"))).as("tok"))
          .localCheckpoint(eager = false) // vocab + per-source counts
        val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cf"))
          .orderBy(col("cf").desc, col("tok")).limit(50)
          .select("tok")
        val stot = tok.groupBy("source").agg(count(lit(1)).as("nt"))
        val f = tok.join(broadcast(vocab), "tok")
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .join(broadcast(stot), "source")
          .select(col("source"), col("tok"),
            round(col("c") * 1000.0 / col("nt"), 6).as("f"))
          .localCheckpoint(eager = false) // stats + both pair sides
        val st = f.groupBy("tok")
          .agg(avg("f").as("mu"), sqrt(var_pop("f")).as("sg"))
          .filter(col("sg") > 0)
        val z = f.join(broadcast(st), "tok")
          .select(col("source"), col("tok"),
            round((col("f") - col("mu")) / col("sg"), 6).as("z"))
          .localCheckpoint(eager = false)
        z.select(col("source").as("sa"), col("tok"), col("z").as("za"))
          .join(z.select(col("source").as("sb"), col("tok"), col("z").as("zb")),
            Seq("tok"))
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb")
          .agg(count(lit(1)).as("n_terms"),
               round(avg(abs(col("za") - col("zb"))), 4).as("delta"))
          .orderBy(col("delta"), col("sa"), col("sb"))
          .limit(15)
      },
      Some("""WITH tok AS (
             |  SELECT source,
             |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |  FROM documents),
             |vocab AS (SELECT tok FROM (
             |    SELECT tok, count(*) AS cf FROM tok GROUP BY tok
             |    ORDER BY cf DESC, tok LIMIT 50)),
             |stot AS (SELECT source, CAST(count(*) AS BIGINT) AS nt
             |         FROM tok GROUP BY source),
             |f AS MATERIALIZED (
             |  SELECT source, tok, round(c * 1000.0 / nt, 6) AS f
             |  FROM (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
             |        FROM tok JOIN vocab USING (tok) GROUP BY 1, 2)
             |  JOIN stot USING (source)),
             |st AS (SELECT tok, avg(f) AS mu, sqrt(var_pop(f)) AS sg
             |       FROM f GROUP BY tok HAVING sqrt(var_pop(f)) > 0),
             |z AS MATERIALIZED (
             |  SELECT source, f.tok, round((f - mu) / sg, 6) AS z
             |  FROM f JOIN st ON st.tok = f.tok)
             |SELECT a.source AS sa, b.source AS sb,
             |       CAST(count(*) AS BIGINT) AS n_terms,
             |       round(avg(abs(a.z - b.z)), 4) AS delta
             |FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
             |GROUP BY 1, 2 ORDER BY delta, sa, sb LIMIT 15""".stripMargin)),

    // unbiased Simpson diversity 1 − Σc(c−1)/(n(n−1)) of the token
    // distribution per language — the concentration complement to
    // text_entropy/text_ttr, EXACT in integers (no float sums to
    // order-pin). Two hash aggregates.
    "text_simpson" -> Q(
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("lang"),
            explode(graft.text.TextPrimitives.tokens(col("text"))).as("tok"))
        tok.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
          .groupBy("lang")
          .agg(sum("c").as("n"), sum(col("c") * (col("c") - 1)).as("rep"))
          .filter(col("n") > 1)
          .select(col("lang"), col("n").as("n_tok"),
            round(lit(1.0) - col("rep") / (col("n") * (col("n") - 1))
              .cast("double"), 6).as("simpson"))
          .orderBy("lang")
      },
      Some("""WITH tc AS (
             |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT lang,
             |          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY lang, tok),
             |ag AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n,
             |              CAST(sum(c * (c - 1)) AS BIGINT) AS rep
             |       FROM tc GROUP BY lang)
             |SELECT lang, n AS n_tok,
             |       round(1.0 - rep / CAST(n * (n - 1) AS DOUBLE), 6) AS simpson
             |FROM ag WHERE n > 1 ORDER BY lang""".stripMargin)),

    // C4-style intra-document dedup audit: per doc, sentence units
    // (normalized) vs distinct units — the "repeated boilerplate
    // inside one page" counter that precedes cross-doc dedup in every
    // web-corpus pipeline. Pure map-side array math, exact integers.
    "text_para_dedup" -> Q(
      (s, d) => {
        val units = transform(split(col("text"), "\\. "),
          x => trim(lower(x)))
        docsUnder(s, d, 200)
          .select(col("doc_id"), size(units).cast("long").as("n_units"),
            (size(units) - size(array_distinct(units))).cast("long")
              .as("n_dup_units"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |       CAST(len(us) AS BIGINT) AS n_units,
             |       CAST(len(us) - len(list_distinct(us)) AS BIGINT) AS n_dup_units
             |FROM (SELECT doc_id,
             |        list_transform(regexp_split_to_array(text, '\. '),
             |          x -> trim(lower(x))) AS us
             |      FROM documents WHERE doc_id < 200)
             |ORDER BY doc_id""".stripMargin)),

    // cross-document boilerplate phrase mining: the token 8-grams
    // shared by the most documents (df ≥ 3) — the REPORT twin of
    // dedup_span_ngrams (which rewrites docs; this surfaces WHAT the
    // boilerplate is, for a cleaning rule). One shingle explode + one
    // hash aggregate; top-15 by document frequency, full-gram
    // tiebreak so the limit cut is engine-deterministic.
    "text_boilerplate" -> Q(
      (s, d) => graft.text.TextPrimitives
        .tokenShingles(Tables.documents(s, d), "doc_id", "text", 8)
        .groupBy("sh")
        .agg(countDistinct("doc_id").as("df"))
        .filter(col("df") >= 3)
        .orderBy(col("df").desc, col("sh"))
        .limit(15)
        .select(substring(col("sh"), 1, 40).as("gram_prefix"), col("df")),
      Some(s"""SELECT substr(sh, 1, 40) AS gram_prefix, df FROM (
              |  SELECT sh, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              |  FROM (
              |${graft.text.TextPrimitives.tokenShinglesSql("documents", "doc_id", "text", 8)})
              |  GROUP BY sh HAVING count(DISTINCT doc_id) >= 3
              |  ORDER BY df DESC, sh LIMIT 15)""".stripMargin)),

    // hapax-legomena profile per language: share of vocabulary seen
    // exactly once (+ dis legomena) — the lexical-richness tail that
    // TTR and Heaps' K summarize away, and the practical "is this
    // corpus big enough for its vocabulary" gauge. Two hash
    // aggregates, exact integers.
    "text_hapax" -> Q(
      (s, d) => Tables.documents(s, d)
        .select(col("lang"),
          explode(graft.text.TextPrimitives.tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("dis"))
        .select(col("lang"), col("vocab"), col("hapax"), col("dis"),
          round(col("hapax") / col("vocab").cast("double"), 4)
            .as("hapax_share"))
        .orderBy("lang"),
      Some("""WITH tc AS (
             |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT lang,
             |          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY lang, tok)
             |SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
             |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
             |       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
             |       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             |             / CAST(count(*) AS DOUBLE), 4) AS hapax_share
             |FROM tc GROUP BY lang ORDER BY lang""".stripMargin)),

    // Per-token successor entropy for the 20 highest-flow tokens —
    // the branching-factor view of the corpus LM surface (how
    // predictable is the next token after "the"?), complementing
    // text_entropy's doc-level unigram H and text_lm_score's bigram
    // probabilities: H(next|w1) = ln n₁ − Σ c·ln c / n₁ off the
    // bigram counts, exact integers into one libm ln (round-4).
    "text_successor_entropy" -> Q(
      (s, d) => {
        val toks = graft.text.TextPrimitives.tokens(col("text"))
        Tables.documents(s, d)
          .select(explode(zip_with(
            slice(toks, lit(1), size(toks) - 1),
            slice(toks, lit(2), size(toks) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
          .groupBy("w1")
          .agg(sum("c").as("total"), count(lit(1)).as("n_next"),
            round(log(sum("c").cast("double"))
              - sum(col("c") * log(col("c").cast("double"))) / sum("c"), 4)
              .as("h_next"))
          .orderBy(col("total").desc, col("w1"))
          .limit(20)
      },
      Some("""WITH toks AS (
             |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
             |  FROM documents),
             |pairs AS (
             |  SELECT t[i] AS w1, t[i + 1] AS w2
             |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
             |        FROM toks WHERE len(t) >= 2)),
             |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
             |       FROM pairs GROUP BY 1, 2)
             |SELECT w1, CAST(sum(c) AS BIGINT) AS total,
             |       CAST(count(*) AS BIGINT) AS n_next,
             |       round(ln(CAST(sum(c) AS DOUBLE))
             |             - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 4)
             |         AS h_next
             |FROM bc GROUP BY 1
             |ORDER BY total DESC, w1 LIMIT 20""".stripMargin)),

    // Windowed co-occurrence PMI: token pairs within ±3 positions
    // (the word2vec/GloVe context window), canonicalized unordered,
    // PMI off the pair multiset's own marginals — the association
    // view text_pmi's ADJACENT bigrams can't see. Map-side ≤3×
    // fan-out per token (the shingle-explode class), two hash aggs,
    // exact integers into one ln.
    "text_cooc_window" -> Q(
      (s, d) => {
        val toks = graft.text.TextPrimitives.tokens(col("text"))
        // greatest(·,0) guards the slice length: a doc shorter than
        // the offset yields an EMPTY pair array, not an error
        def shifted(k: Int) = zip_with(
          slice(toks, lit(1), greatest(size(toks) - k, lit(0))),
          slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0))),
          (a, b) => struct(least(a, b).as("w1"), greatest(a, b).as("w2")))
        val pairs = Tables.documents(s, d)
          .select(explode(concat(shifted(1), shifted(2), shifted(3))).as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("cp"))
          .localCheckpoint(eager = false) // marginals + total + report
        val marg = pairs.select(col("w1").as("w"), col("cp"))
          .union(pairs.select(col("w2").as("w"), col("cp")))
          .groupBy("w").agg(sum("cp").as("cw"))
        val tot = pairs.agg(sum("cp").as("t2"))
        pairs
          .join(marg.select(col("w").as("w1"), col("cw").as("c1")), "w1")
          .join(marg.select(col("w").as("w2"), col("cw").as("c2")), "w2")
          .crossJoin(broadcast(tot))
          .select(col("w1"), col("w2"), col("cp").as("n_pair"),
            round(log((col("cp") * lit(4.0) * col("t2"))
              / (col("c1") * col("c2")).cast("double")), 4).as("pmi"))
          .orderBy(col("n_pair").desc, col("w1"), col("w2"))
          .limit(20)
      },
      Some("""WITH toks AS (
             |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
             |  FROM documents),
             |pr AS (
             |  SELECT least(t[i], t[i + k]) AS w1,
             |         greatest(t[i], t[i + k]) AS w2
             |  FROM toks,
             |       LATERAL (SELECT unnest(generate_series(1, len(t))) AS i),
             |       LATERAL (SELECT unnest(generate_series(1, 3)) AS k)
             |  WHERE i + k <= len(t)),
             |pairs AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cp
             |          FROM pr GROUP BY 1, 2),
             |marg AS (SELECT w, CAST(sum(cp) AS BIGINT) AS cw FROM (
             |           SELECT w1 AS w, cp FROM pairs
             |           UNION ALL SELECT w2 AS w, cp FROM pairs)
             |         GROUP BY 1),
             |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS t2 FROM pairs)
             |SELECT w1, w2, cp AS n_pair,
             |       round(ln((cp * 4.0 * t2) / CAST(c1.cw * c2.cw AS DOUBLE)), 4)
             |         AS pmi
             |FROM pairs
             |JOIN marg c1 ON pairs.w1 = c1.w
             |JOIN marg c2 ON pairs.w2 = c2.w
             |CROSS JOIN tot
             |ORDER BY n_pair DESC, w1, w2 LIMIT 20""".stripMargin)),

    // Interpolated Kneser–Ney bigram perplexity of the corpus over
    // its own bigram table (d = 0.75) — the LM quality signal CCNet-
    // style pipelines bin documents by, beside text_lm_score's add-k
    // unigram surprise: continuation counts N1+(·w) give rare-but-
    // productive tokens their real probability mass. Everything is
    // exact integer count tables joined once; the entropy sum is one
    // aggregate over bigram TYPES (weighted by count), never a
    // per-token pass.
    "text_kn_perplexity" -> Q(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(graft.text.TextPrimitives.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
        val bg = toks.select(explode(transform(
            sequence(lit(0), size(col("toks")) - 2),
            i => struct(
              element_at(col("toks"), (i + 1).cast("int")).as("v"),
              element_at(col("toks"), (i + 2).cast("int")).as("w"))))
            .as("p"))
          .select(col("p.v").as("v"), col("p.w").as("w"))
        val cvw = bg.groupBy("v", "w").agg(count(lit(1)).as("c"))
          .localCheckpoint(eager = false) // read 4×: cv, nb, bt, terms
        val cv = cvw.groupBy("v")
          .agg(sum("c").as("cvt"), count(lit(1)).as("n1f"))
        val nb = cvw.groupBy("w").agg(count(lit(1)).as("n1b"))
        val bt = cvw.agg(count(lit(1)).as("btypes"), sum("c").as("btok"))
        cvw.join(cv, "v").join(nb, "w").crossJoin(broadcast(bt))
          .withColumn("pkn",
            greatest(col("c") - lit(0.75), lit(0.0)) / col("cvt")
              + lit(0.75) * col("n1f") / col("cvt")
                * (col("n1b").cast("double") / col("btypes")))
          .groupBy("btypes", "btok")
          .agg(sum(col("c") * log(col("pkn"))).as("ll"))
          .select(col("btok").as("n_bigrams"),
            col("btypes").as("n_bigram_types"),
            round(-col("ll") / col("btok"), 4).as("cross_entropy"),
            round(exp(-col("ll") / col("btok")), 2).as("perplexity"))
      },
      Some("""WITH t AS (
             |  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             |  FROM documents
             |  WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 2),
             |bg AS (SELECT toks[i] AS v, toks[i + 1] AS w
             |       FROM t, LATERAL (SELECT unnest(
             |         generate_series(1, len(toks) - 1)) AS i)),
             |cvw AS (SELECT v, w, CAST(count(*) AS BIGINT) AS c
             |        FROM bg GROUP BY 1, 2),
             |cv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cvt,
             |              CAST(count(*) AS BIGINT) AS n1f
             |       FROM cvw GROUP BY 1),
             |nb AS (SELECT w, CAST(count(*) AS BIGINT) AS n1b
             |       FROM cvw GROUP BY 1),
             |bt AS (SELECT CAST(count(*) AS BIGINT) AS btypes,
             |              CAST(sum(c) AS BIGINT) AS btok
             |       FROM cvw),
             |p AS (SELECT c, btypes, btok,
             |             greatest(c - 0.75, 0.0) / cvt
             |               + 0.75 * n1f / cvt
             |                 * (CAST(n1b AS DOUBLE) / btypes) AS pkn
             |      FROM cvw JOIN cv USING (v) JOIN nb USING (w), bt)
             |SELECT btok AS n_bigrams, btypes AS n_bigram_types,
             |       round(-sum(c * ln(pkn)) / btok, 4) AS cross_entropy,
             |       round(exp(-sum(c * ln(pkn)) / btok), 2) AS perplexity
             |FROM p GROUP BY btypes, btok""".stripMargin)),

    // Three rounds of actual BPE training (Sennrich et al. 2016) on
    // the count-weighted vocabulary: adjacent-symbol pair counts →
    // merge the winner → recount — the real tokenizer-learning loop,
    // where text_bpe_pairs only reports round-0 counts. The trainer
    // runs on the TakeOrdered top-2000 word types (the Heaps'-bounded
    // vocab altitude: types, never tokens), driver-side like
    // graph_pagerank; the merge itself is the delimiter-safe
    // double-replace (two leftmost-nonoverlap passes — pass 1 misses
    // every second occurrence of an adjacent run because matches
    // share a delimiter; the survivors are never adjacent, so pass 2
    // is exact), identical string semantics on both engines.
    "text_bpe_merges" -> Q(
      (s, d) => {
        val vocab = Tables.documents(s, d)
          .select(explode(graft.text.TextPrimitives.tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("wc"))
          .orderBy(col("wc").desc, col("w")).limit(2000)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        var seqs = vocab.map { case (w, c) =>
          (" " + w.toCharArray.mkString(" ") + " ", c) }
        val merges = Seq.newBuilder[(Long, String, Long)]
        for (round <- 1 to 3) {
          val counts = scala.collection.mutable.Map.empty[String, Long]
          seqs.foreach { case (sq, c) =>
            val syms = sq.trim.split(" ")
            var i = 0
            while (i < syms.length - 1) {
              val p = syms(i) + " " + syms(i + 1)
              counts.update(p, counts.getOrElse(p, 0L) + c)
              i += 1
            }
          }
          if (counts.nonEmpty) {
            val (best, n) = counts.toSeq.sortBy { case (p, cnt) => (-cnt, p) }.head
            merges += ((round.toLong, best.replace(" ", "+"), n))
            val from = " " + best + " "
            val to = " " + best.replace(" ", "") + " "
            seqs = seqs.map { case (sq, c) =>
              (sq.replace(from, to).replace(from, to), c) }
          }
        }
        import s.implicits._
        merges.result().toDF("round", "merge", "pair_count")
          .orderBy("round")
      },
      Some {
        def roundCte(k: Int) =
          s"""p$k AS (
             |  SELECT arr[i] || ' ' || arr[i + 1] AS p, CAST(sum(wc) AS BIGINT) AS n
             |  FROM (SELECT string_split(trim(sq), ' ') AS arr, wc FROM w${k - 1}),
             |       LATERAL (SELECT unnest(range(1, len(arr))) AS i)
             |  GROUP BY 1),
             |m$k AS (SELECT p, n FROM p$k ORDER BY n DESC, p LIMIT 1),
             |w$k AS (
             |  SELECT replace(replace(sq, ' ' || m$k.p || ' ',
             |             ' ' || replace(m$k.p, ' ', '') || ' '),
             |           ' ' || m$k.p || ' ',
             |           ' ' || replace(m$k.p, ' ', '') || ' ') AS sq, wc
             |  FROM w${k - 1}, m$k)""".stripMargin
        s"""WITH vocab AS (
           |  SELECT t AS w, CAST(count(*) AS BIGINT) AS wc FROM (
           |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
           |    FROM documents)
           |  GROUP BY t ORDER BY wc DESC, w LIMIT 2000),
           |w0 AS (SELECT ' ' || array_to_string(regexp_split_to_array(w, ''), ' ')
           |              || ' ' AS sq, wc
           |       FROM vocab),
           |${roundCte(1)},
           |${roundCte(2)},
           |${roundCte(3)}
           |SELECT CAST(1 AS BIGINT) AS round, replace(p, ' ', '+') AS merge,
           |       n AS pair_count FROM m1
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), replace(p, ' ', '+'), n FROM m2
           |UNION ALL
           |SELECT CAST(3 AS BIGINT), replace(p, ' ', '+'), n FROM m3
           |ORDER BY round""".stripMargin
      }),

    // BPE APPLY at corpus scale (r15 ask 5): train 6 merges on the
    // count-weighted top-2000 word types (the text_bpe_merges trainer,
    // driver-side, bounded), then ENCODE the whole corpus into token
    // ids — the step every pretraining pipeline runs between curation
    // and packing. Scale shape (graft.text.Bpe): every string op runs
    // once per DISTINCT word type (Heaps-bounded), the token stream
    // only joins finished per-type encodings, ids are lexicographic
    // symbol ranks (binary collation — engine-identical). The report
    // pins the full encoding per lang: token counts, vocab size, and
    // an order-sensitive integer checksum Σ wp·Σ(sp·id) over exact
    // BIGINTs, so any id/merge/order divergence flips the hash gate.
    "text_bpe_encode" -> Q(
      (s, d) => {
        import graft.text.Bpe
        val toks = Bpe.tokenPositions(Tables.documents(s, d))
          .localCheckpoint(eager = false) // read 2×: types + doc agg
        val types = Bpe.wordTypes(toks)
          .localCheckpoint(eager = false) // read 2×: trainer top + encode
        val top = types.orderBy(col("wc").desc, col("w")).limit(2000)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val rules = Bpe.trainMerges(top, 6)
        val enc = Bpe.encodeTypes(types, rules)
          .localCheckpoint(eager = false) // read 2×: vocab + per-type ids
        val sid = Bpe.symbolIds(enc)
          .localCheckpoint(eager = false) // read 2×: id join + vocab size
        val wenc = enc
          .select(col("w"), posexplode(col("arr")).as(Seq("sp", "sym")))
          .join(broadcast(sid), "sym")
          .groupBy("w")
          .agg(count(lit(1)).as("n_syms"),
               sum((col("sp") + 1) * col("id")).as("wsum"))
        val docagg = toks.join(wenc, "w")
          .groupBy("doc_id", "lang")
          .agg(sum("n_syms").as("ntok"), sum(col("wp") * col("wsum")).as("ck"))
        val vs = sid.agg(count(lit(1)).as("vocab_size"))
        docagg.crossJoin(broadcast(vs))
          .groupBy("lang", "vocab_size")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
               sum("ck").as("checksum"))
          .select(col("lang"), col("n_docs"), col("n_tokens"),
                  col("vocab_size"), col("checksum"))
          .orderBy("lang")
      },
      Some {
        // trainer rounds (identical to text_bpe_merges' CTEs) ...
        def roundCte(k: Int) =
          s"""p$k AS (
             |  SELECT arr[i] || ' ' || arr[i + 1] AS p, CAST(sum(wc) AS BIGINT) AS n
             |  FROM (SELECT string_split(trim(sq), ' ') AS arr, wc FROM w${k - 1}),
             |       LATERAL (SELECT unnest(range(1, len(arr))) AS i)
             |  GROUP BY 1),
             |m$k AS (SELECT p, n FROM p$k ORDER BY n DESC, p LIMIT 1),
             |w$k AS (
             |  SELECT replace(replace(sq, ' ' || m$k.p || ' ',
             |             ' ' || replace(m$k.p, ' ', '') || ' '),
             |           ' ' || m$k.p || ' ',
             |           ' ' || replace(m$k.p, ' ', '') || ' ') AS sq, wc
             |  FROM w${k - 1}, m$k)""".stripMargin
        // ... and the same double-replace APPLIED to every word type
        def applyCte(k: Int) =
          s"""e$k AS (
             |  SELECT w, replace(replace(sq, ' ' || m$k.p || ' ',
             |             ' ' || replace(m$k.p, ' ', '') || ' '),
             |           ' ' || m$k.p || ' ',
             |           ' ' || replace(m$k.p, ' ', '') || ' ') AS sq
             |  FROM e${k - 1}, m$k)""".stripMargin
        val rounds = 1 to 6
        s"""WITH tokraw AS (
           |  SELECT doc_id, lang,
           |         regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
           |  FROM documents),
           |tok AS (
           |  SELECT doc_id, lang, CAST(i AS BIGINT) AS wp, toks[i] AS w
           |  FROM tokraw, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
           |  WHERE toks[i] <> ''),
           |types AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM tok GROUP BY w),
           |vocab AS (SELECT w, wc FROM types ORDER BY wc DESC, w LIMIT 2000),
           |w0 AS (SELECT ' ' || array_to_string(regexp_split_to_array(w, ''), ' ')
           |              || ' ' AS sq, wc
           |       FROM vocab),
           |${rounds.map(roundCte).mkString(",\n")},
           |e0 AS (SELECT w, ' ' || array_to_string(regexp_split_to_array(w, ''), ' ')
           |              || ' ' AS sq
           |       FROM types),
           |${rounds.map(applyCte).mkString(",\n")},
           |syms AS (SELECT w, string_split(trim(sq), ' ') AS arr FROM e6),
           |sid AS (SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS id
           |        FROM (SELECT DISTINCT unnest(arr) AS sym FROM syms)),
           |wsym AS (SELECT w, i, arr[i] AS sym
           |         FROM syms, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i)),
           |wenc AS (SELECT w, CAST(count(*) AS BIGINT) AS n_syms,
           |                CAST(sum(i * id) AS BIGINT) AS wsum
           |         FROM wsym JOIN sid USING (sym) GROUP BY w),
           |docagg AS (SELECT t.doc_id, t.lang,
           |                  CAST(sum(e.n_syms) AS BIGINT) AS ntok,
           |                  CAST(sum(t.wp * e.wsum) AS BIGINT) AS ck
           |           FROM tok t JOIN wenc e USING (w) GROUP BY 1, 2),
           |vs AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM sid)
           |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(sum(ntok) AS BIGINT) AS n_tokens,
           |       vs.vocab_size,
           |       CAST(sum(ck) AS BIGINT) AS checksum
           |FROM docagg, vs
           |GROUP BY lang, vs.vocab_size
           |ORDER BY lang""".stripMargin
      }),

    // Held-out OOV-rate curve: vocabulary learned on the md5 half,
    // token coverage measured on the OTHER half at top-{1k, 5k, 20k}
    // — text_vocab_coverage's in-sample curve flatters the vocab;
    // this is the number a tokenizer actually ships with. Vocab ranks
    // are TakeOrdered-bounded; the held-out join is a broadcast.
    "text_oov_rate" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val toks = Tables.documents(s, d)
          .withColumn("h",
            md5Long(concat(lit("ov:"), col("doc_id").cast("string"))) % 2)
          .select(col("h"),
            explode(graft.text.TextPrimitives.tokens(col("text"))).as("tok"))
          .localCheckpoint(eager = false) // train vocab + held-out scan
        val vocab = toks.filter(col("h") === 0)
          .groupBy("tok").agg(count(lit(1)).as("wc"))
          .orderBy(col("wc").desc, col("tok")).limit(20000)
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("wc").desc, col("tok"))))
          .select(col("tok"), col("rnk"))
        val held = toks.filter(col("h") === 1)
          .join(broadcast(vocab), Seq("tok"), "left")
        held.agg(count(lit(1)).as("n_held"),
            sum(when(col("rnk").isNotNull && col("rnk") <= 1000, 1L)
              .otherwise(0L)).as("in1k"),
            sum(when(col("rnk").isNotNull && col("rnk") <= 5000, 1L)
              .otherwise(0L)).as("in5k"),
            sum(when(col("rnk").isNotNull, 1L).otherwise(0L)).as("in20k"))
          .select(col("n_held"),
            round(lit(1.0) - col("in1k") / col("n_held").cast("double"), 4)
              .as("oov_1k"),
            round(lit(1.0) - col("in5k") / col("n_held").cast("double"), 4)
              .as("oov_5k"),
            round(lit(1.0) - col("in20k") / col("n_held").cast("double"), 4)
              .as("oov_20k"))
      },
      Some("""WITH t AS (
             |  SELECT ('0x' || substr(md5('ov:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS h,
             |         unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |  FROM documents),
             |v AS (SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rnk
             |      FROM t WHERE h = 0 GROUP BY tok
             |      ORDER BY count(*) DESC, tok LIMIT 20000),
             |hd AS (SELECT t.tok, v.rnk FROM t LEFT JOIN v USING (tok)
             |       WHERE t.h = 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_held,
             |       round(1.0 - sum(CASE WHEN rnk <= 1000 THEN 1 ELSE 0 END)
             |             / CAST(count(*) AS DOUBLE), 4) AS oov_1k,
             |       round(1.0 - sum(CASE WHEN rnk <= 5000 THEN 1 ELSE 0 END)
             |             / CAST(count(*) AS DOUBLE), 4) AS oov_5k,
             |       round(1.0 - sum(CASE WHEN rnk IS NOT NULL THEN 1 ELSE 0 END)
             |             / CAST(count(*) AS DOUBLE), 4) AS oov_20k
             |FROM hd""".stripMargin)),

    // Quality drift along crawl order: mean quality score per doc_id
    // decile — the "is the crawl tail getting worse" monitor that
    // pairs with text_ngram_novelty's content-freshness curve (fresh
    // but junky is a real failure mode the two catch together).
    // Quality is 4dp, so per-doc scores convert to exact integer
    // 1e-4 units and every decile mean is exact-sum arithmetic.
    "text_quality_drift" -> Q(
      (s, d) => {
        val dec = "decimal(38,0)"
        val q = graft.text.TextAnalytics.qualityScores(Tables.documents(s, d))
          .select(col("doc_id"),
            round(col("quality") * 1e4, 0).cast("long").as("qu"))
          .localCheckpoint(eager = false) // max + bucket rollup
        val mx = q.agg(max("doc_id").as("mx"))
        q.crossJoin(broadcast(mx))
          .withColumn("bucket", expr("(doc_id * 10) div (mx + 1)"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"),
            round(sum(col("qu").cast(dec)).cast("double")
              / count(lit(1)) / 1e4, 4).as("mean_quality"))
          .orderBy("bucket")
      },
      Some {
        val stopList = graft.text.TextAnalytics.Stopwords
          .map(w => s"'$w'").mkString(",")
        s"""WITH q0 AS (
           |  SELECT doc_id,
           |         CAST(round(round((least(n_tok, 100) / 100.0) *
           |               (1.0 - punct_cnt * 1.0 / greatest(n_chars, 1)) *
           |               (0.2 + 0.8 * (stop_cnt * 1.0 / greatest(n_tok, 1))), 4)
           |             * 1e4) AS BIGINT) AS qu
           |  FROM (
           |    SELECT doc_id, length(text) AS n_chars,
           |           len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tok,
           |           len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
           |               t -> t IN ($stopList))) AS stop_cnt,
           |           len(regexp_extract_all(text, '[.,;:!?]')) AS punct_cnt
           |    FROM documents)),
           |mx AS (SELECT max(doc_id) AS mx FROM q0)
           |SELECT (doc_id * 10) // (mx + 1) AS bucket,
           |       CAST(count(*) AS BIGINT) AS n_docs,
           |       round(CAST(sum(qu) AS DOUBLE) / count(*) / 1e4, 4) AS mean_quality
           |FROM q0, mx GROUP BY 1 ORDER BY bucket""".stripMargin
      }),

    // hapax-legomena profile per source: vocabulary size, fraction of
    // once-only types, and once-only token mass — the classic "is
    // this source noisy OCR / boilerplate or natural text" signal
    // (natural corpora run ~40-60% hapax types). Two hash aggregates
    // off the (source, tok) count table.
    "text_hapax_ratio" -> Q(
      (s, d) => {
        import graft.text.TextPrimitives
        Tables.documents(s, d)
          .select(col("source"), explode(TextPrimitives.tokens(col("text"))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(count(lit(1)).as("vocab"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
            sum("c").as("n_tok"))
          .select(col("source"), col("vocab"), col("hapax"),
            round(col("hapax").cast("double") / col("vocab"), 4).as("hapax_type_ratio"),
            round(col("hapax").cast("double") / col("n_tok"), 4).as("hapax_token_ratio"))
          .orderBy("source")
      },
      Some("""WITH tc AS (
             |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT source, unnest(
             |          regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY 1, 2)
             |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
             |       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
             |       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 4) AS hapax_type_ratio,
             |       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |             / sum(c), 4) AS hapax_token_ratio
             |FROM tc GROUP BY source ORDER BY source""".stripMargin))
  )

  val textCorpusQC: Seq[(String, Q)] = Seq(
    // Simpson diversity of the vocabulary per source: 1 − Σc(c−1) /
    // N(N−1) — the repeat-collision complement to text_yule_k (K is
    // the same Σc² invariant scaled; Simpson is the probability two
    // sampled tokens DIFFER). Exact integer numerators off the same
    // two hash aggregates.
    "text_simpson_div" -> Q(
      (s, d) => {
        import graft.text.TextPrimitives
        val dec = "decimal(38,0)"
        Tables.documents(s, d)
          .select(col("source"), explode(TextPrimitives.tokens(col("text"))).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum(col("c")).as("n_tok"),
            sum((col("c") * (col("c") - 1)).cast(dec)).as("coll"))
          .select(col("source"), col("n_tok"),
            round(lit(1.0) - col("coll").cast("double")
              / (col("n_tok").cast("double") * (col("n_tok") - 1).cast("double")), 6)
              .as("simpson_d"))
          .orderBy("source")
      },
      Some("""WITH tc AS (
             |  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT source, unnest(
             |          regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY 1, 2)
             |SELECT source, CAST(sum(c) AS BIGINT) AS n_tok,
             |       round(1.0 - CAST(sum(c * (c - 1)) AS DOUBLE)
             |             / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) - 1 AS DOUBLE)), 6)
             |         AS simpson_d
             |FROM tc GROUP BY source ORDER BY source""".stripMargin)),

    // sentence-shape profile per source: sentences/doc and
    // tokens/sentence — the readability-adjacent structure stats a
    // data card reports beside length (fragmentary OCR shows as
    // 1-token "sentences", run-on boilerplate as 100-token ones).
    // Pure map + one hash aggregate.
    "text_sentence_stats" -> Q(
      (s, d) => {
        import graft.text.TextPrimitives
        Tables.documents(s, d)
          .select(col("source"),
            size(filter(split(col("text"), "[.!?]"),
              x => trim(x) =!= "")).cast("long").as("n_sent"),
            size(TextPrimitives.tokens(col("text"))).cast("long").as("n_tok"))
          .groupBy("source")
          .agg(count(lit(1)).as("docs"), sum("n_sent").as("sents"),
               sum("n_tok").as("toks"))
          .select(col("source"), col("docs"), col("sents"),
            round(col("sents").cast("double") / col("docs"), 4).as("sent_per_doc"),
            when(col("sents") === 0, lit(null).cast("double"))
              .otherwise(round(col("toks").cast("double") / col("sents"), 4))
              .as("tok_per_sent"))
          .orderBy("source")
      },
      Some("""WITH f AS (
             |  SELECT source,
             |         CAST(len(list_filter(regexp_split_to_array(text, '[.!?]'),
             |                              s -> trim(s) <> '')) AS BIGINT) AS n_sent,
             |         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
             |  FROM documents)
             |SELECT source, CAST(count(*) AS BIGINT) AS docs,
             |       CAST(sum(n_sent) AS BIGINT) AS sents,
             |       round(CAST(sum(n_sent) AS DOUBLE) / count(*), 4) AS sent_per_doc,
             |       CASE WHEN sum(n_sent) = 0 THEN NULL
             |            ELSE round(CAST(sum(n_tok) AS DOUBLE) / sum(n_sent), 4) END
             |         AS tok_per_sent
             |FROM f GROUP BY source ORDER BY source""".stripMargin)),

    // code-switching profile per source: rank each doc's 4 lexicon
    // hit counts (the text_langid lexica), mix = second/(first+second)
    // — flags documents blending two languages, which single-label
    // language-ID silently mislabels and which split training corpora
    // by lang WRONGLY. Sorted-array ranking is tie-robust; pure map +
    // one hash aggregate.
    "text_code_switch" -> Q(
      (s, d) => {
        import graft.text.{TextAnalytics, TextPrimitives}
        val toks = TextPrimitives.tokens(col("text"))
        val hitArr = array_sort(array(TextAnalytics.Lexica.map { case (_, w) =>
          size(filter(toks, t => t.isin(w: _*))).cast("long") }: _*))
        val f = Tables.documents(s, d)
          .select(col("source"),
            element_at(hitArr, -1).as("s1"), element_at(hitArr, -2).as("s2"))
          .withColumn("mix",
            when(col("s1") + col("s2") === 0, lit(null).cast("double"))
              .otherwise(col("s2").cast("double") / (col("s1") + col("s2"))))
        f.groupBy("source")
          .agg(count(lit(1)).as("docs"),
            sum(when(col("mix") >= 0.3 && col("s2") >= 2, 1L).otherwise(0L))
              .as("n_mixed"),
            round(avg("mix"), 4).as("avg_mix"))
          .orderBy("source")
      },
      Some {
        import graft.text.TextAnalytics
        val cnts = TextAnalytics.Lexica.map { case (_, w) =>
          s"len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), " +
            s"t -> t IN (${w.map(x => s"'$x'").mkString(",")})))"
        }
        s"""WITH h AS (
           |  SELECT source,
           |         list_sort([${cnts.mkString(", ")}]) AS hits
           |  FROM documents),
           |f AS (SELECT source,
           |             CAST(hits[4] AS BIGINT) AS s1, CAST(hits[3] AS BIGINT) AS s2,
           |             CASE WHEN hits[4] + hits[3] = 0 THEN NULL
           |                  ELSE CAST(hits[3] AS DOUBLE) / (hits[4] + hits[3]) END AS mix
           |      FROM h)
           |SELECT source, CAST(count(*) AS BIGINT) AS docs,
           |       CAST(sum(CASE WHEN mix >= 0.3 AND s2 >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_mixed,
           |       round(avg(mix), 4) AS avg_mix
           |FROM f GROUP BY source ORDER BY source""".stripMargin
      })
  )

  val textCorpusQ: Seq[(String, Q)] = textCorpusQA ++ textCorpusQB ++ textCorpusQC
}
