package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.store.VectorStore
import graft.store.VectorStore.pointsSql
import graft.QDsl._

/** Sampling/splits, pipeline curation ops, and feature transforms — SparkEntry query family (regrouped from the round-named
  * inventory files in round 15; same query names, same bodies —
  * SparkEntry assembles the full map and the driver contract). */
private[graft] object QSampling {

  val samplingQA: Seq[(String, Q)] = Seq(
    // time-based train/test split with leakage audit: events before
    // the calendar midpoint train, after test — and the number the
    // split REALLY hinges on: what share of test users was seen in
    // training (temporal splits leak identity even when rows don't
    // overlap). One fact pass + two per-side distinct-user sets.
    "samp_time_split" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("day", expr("ts div 86400000000000"))
          .localCheckpoint(eager = false) // bounds + both sides
        val bounds = ev.agg(min("day").as("mn"), max("day").as("mx"))
        val tagged = ev.crossJoin(broadcast(bounds))
          .withColumn("test", (col("day") >= expr("(mn + mx + 1) div 2")).cast("long"))
        val users = tagged.select(col("user_id"), col("test")).distinct()
          .groupBy("user_id")
          .agg(max(when(col("test") === 0, 1L).otherwise(0L)).as("in_train"),
               max(when(col("test") === 1, 1L).otherwise(0L)).as("in_test"))
        val rows = tagged.agg(
          sum(lit(1L) - col("test")).as("n_train_rows"),
          sum(col("test")).as("n_test_rows"))
        val u = users.agg(
          sum("in_train").as("n_train_users"),
          sum("in_test").as("n_test_users"),
          sum(col("in_train") * col("in_test")).as("n_seen_users"))
        rows.crossJoin(u)
          .select(col("n_train_rows"), col("n_test_rows"),
            col("n_train_users"), col("n_test_users"), col("n_seen_users"),
            when(col("n_test_users") > 0,
              round(col("n_seen_users") / col("n_test_users").cast("double"), 4))
              .otherwise(lit(null).cast("double")).as("leakage_rate"))
      },
      Some("""WITH ev AS (SELECT user_id, ts // 86400000000000 AS day FROM events),
             |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ev),
             |tg AS (SELECT user_id,
             |              CASE WHEN day >= (mn + mx + 1) // 2 THEN 1 ELSE 0 END AS test
             |       FROM ev, b),
             |rows_ AS (SELECT CAST(sum(1 - test) AS BIGINT) AS n_train_rows,
             |                 CAST(sum(test) AS BIGINT) AS n_test_rows
             |          FROM tg),
             |us AS (SELECT user_id,
             |              max(CASE WHEN test = 0 THEN 1 ELSE 0 END) AS in_train,
             |              max(CASE WHEN test = 1 THEN 1 ELSE 0 END) AS in_test
             |       FROM (SELECT DISTINCT user_id, test FROM tg) GROUP BY 1),
             |u AS (SELECT CAST(sum(in_train) AS BIGINT) AS n_train_users,
             |             CAST(sum(in_test) AS BIGINT) AS n_test_users,
             |             CAST(sum(in_train * in_test) AS BIGINT) AS n_seen_users
             |      FROM us)
             |SELECT n_train_rows, n_test_rows, n_train_users, n_test_users,
             |       n_seen_users,
             |       CASE WHEN n_test_users > 0
             |            THEN round(n_seen_users / CAST(n_test_users AS DOUBLE), 4)
             |       END AS leakage_rate
             |FROM rows_, u""".stripMargin)),

    // effective sample size of the DSIR importance weights
    // (samp_importance's hashed-unigram LLR model): ESS =
    // (sum w)^2 / sum w^2 per source, w = exp(llr - max llr) - the
    // "how many uniform docs is this weighted corpus worth" diagnostic
    // that decides whether importance-weighted training is viable or
    // the weights have collapsed onto a few docs. Per-doc log-weights
    // are rounded to 4 BEFORE exp (and the shift is the broadcast
    // global max) so the exponentials are engine-pinned; the per-source
    // rollup is one hash aggregate.
    "samp_ess" -> Q(
      (s, d) => {
        val t = graft.text.TextPrimitives.tokens(col("text"))
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang"), explode(t).as("tok"))
          .withColumn("b", graft.functions.VectorFunctions.md5Long(col("tok")) % 64)
        val src = tok.groupBy("b").agg(count(lit(1)).as("cs"))
        val tgt = tok.filter(col("lang") === "en")
          .groupBy("b").agg(count(lit(1)).as("ct"))
        val probs = src.join(tgt, Seq("b"), "left")
          .na.fill(0L, Seq("ct"))
          .crossJoin(broadcast(src.agg(sum("cs").as("ts"))))
          .crossJoin(broadcast(tgt.agg(sum("ct").as("tt"))))
          .select(col("b"),
            (log((col("ct") + lit(1.0)) / (col("tt") + lit(64.0)))
             - log((col("cs") + lit(1.0)) / (col("ts") + lit(64.0)))).as("llr"))
        val docw = tok.join(broadcast(probs), "b")
          .groupBy("doc_id", "source")
          .agg(round(sum("llr"), 4).as("lw"))
          .localCheckpoint(eager = false) // global max + per-source rollup
        val mx = docw.agg(max("lw").as("m"))
        docw.crossJoin(broadcast(mx))
          .withColumn("w", round(exp(col("lw") - col("m")), 8))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("w").as("sw"),
               sum(col("w") * col("w")).as("sw2"))
          .select(col("source"), col("n_docs"),
            when(col("sw2") > 0,
              round(col("sw") * col("sw") / col("sw2"), 4)).as("ess"),
            when(col("sw2") > 0,
              round(col("sw") * col("sw") / col("sw2") / col("n_docs"), 4))
              .as("ess_ratio"))
          .orderBy("source")
      },
      Some("""WITH tb AS (
             |  SELECT doc_id, source, lang,
             |         ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS b
             |  FROM (SELECT doc_id, source, lang,
             |               unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |        FROM documents)),
             |src AS (SELECT b, CAST(count(*) AS BIGINT) AS cs FROM tb GROUP BY b),
             |tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct
             |        FROM tb WHERE lang = 'en' GROUP BY b),
             |tot AS (SELECT (SELECT CAST(sum(cs) AS BIGINT) FROM src) AS ts,
             |               (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS tt),
             |probs AS (SELECT b,
             |                 ln((coalesce(ct, 0) + 1.0) / (tt + 64.0))
             |               - ln((cs + 1.0) / (ts + 64.0)) AS llr
             |          FROM src LEFT JOIN tgt USING (b), tot),
             |docw AS (SELECT doc_id, source, round(sum(llr), 4) AS lw
             |         FROM tb JOIN probs USING (b) GROUP BY 1, 2),
             |mx AS (SELECT max(lw) AS m FROM docw),
             |ws AS (SELECT source, round(exp(lw - m), 8) AS w FROM docw, mx)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |       CASE WHEN sum(w*w) > 0
             |            THEN round(sum(w)*sum(w) / sum(w*w), 4) END AS ess,
             |       CASE WHEN sum(w*w) > 0
             |            THEN round(sum(w)*sum(w) / sum(w*w) / count(*), 4)
             |       END AS ess_ratio
             |FROM ws GROUP BY source ORDER BY source""".stripMargin)),

    // deterministic 5-fold cross-validation assignment + balance
    // audit: folds are md5(doc_id) — stable under re-runs and
    // repartitioning (the samp_hash_split contract) — and the audit
    // reports what fold assignment actually controls: doc share,
    // token share, and per-fold drift of the en-language share vs the
    // corpus. ONE map-side projection + one grouped pass; the corpus
    // share is a broadcast 1-row aggregate.
    "samp_kfold" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val t = Tables.documents(s, d).select(
          pmod(md5Long(concat(lit("kfold:"), col("doc_id").cast("string"))),
            lit(5)).as("fold"),
          size(graft.text.TextPrimitives.tokens(col("text"))).cast("long")
            .as("n_tok"),
          when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
          .localCheckpoint(eager = false) // global share + per-fold rollup
        val g = t.agg((sum("is_en") / count(lit(1))).as("g_en"),
                      sum("n_tok").as("g_tok"))
        t.groupBy("fold")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
               (sum("is_en") / count(lit(1))).as("en_s"))
          .crossJoin(broadcast(g))
          .select(col("fold"), col("n_docs"), col("n_tokens"),
            round(col("n_tokens") / col("g_tok").cast("double"), 4)
              .as("tok_share"),
            round(col("en_s"), 4).as("en_share"),
            round(abs(col("en_s") - col("g_en")), 4).as("en_dev"))
          .orderBy("fold")
      },
      Some("""WITH t AS (
             |  SELECT ('0x' || substr(md5('kfold:' || doc_id::VARCHAR), 1, 15))::BIGINT
             |           % 5 AS fold,
             |         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok,
             |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
             |  FROM documents),
             |g AS (SELECT sum(is_en) * 1.0 / count(*) AS g_en,
             |             CAST(sum(n_tok) AS BIGINT) AS g_tok FROM t)
             |SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             |       round(sum(n_tok) / CAST(g_tok AS DOUBLE), 4) AS tok_share,
             |       round(sum(is_en) * 1.0 / count(*), 4) AS en_share,
             |       round(abs(sum(is_en) * 1.0 / count(*) - g_en), 4) AS en_dev
             |FROM t, g GROUP BY fold, g_tok, g_en ORDER BY fold""".stripMargin)),

    // post-stratified estimation: a 10% hash sample's mean tokens/doc
    // re-weighted so language strata match the corpus margins (the
    // one-step raking every survey-grade metric pipeline applies
    // before quoting sampled numbers) — reported NEXT to the naive
    // sample mean and the true value, so the variance reduction is
    // auditable. Margins are a |langs|-row broadcast; the sample scan
    // is the only doc-scale pass.
    "samp_poststratify" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val t = Tables.documents(s, d).select(col("doc_id"), col("lang"),
          size(graft.text.TextPrimitives.tokens(col("text"))).cast("double")
            .as("n_tok"))
          .localCheckpoint(eager = false) // margins + truth + the sample
        val marg = t.groupBy("lang").agg(count(lit(1)).cast("double").as("nl"))
        val truth = t.agg(count(lit(1)).as("nn"),
          round(avg("n_tok"), 4).as("truth"))
        val samp = t.filter(
          pmod(md5Long(concat(lit("ps:"), col("doc_id").cast("string"))),
            lit(10)) === 0)
        val perLang = samp.groupBy("lang")
          .agg(count(lit(1)).cast("double").as("ml"),
               avg("n_tok").as("mean_l"))
        val est = perLang.join(broadcast(marg), "lang")
          .crossJoin(broadcast(truth))
          .agg(sum("ml").cast("long").as("n_sample"),
               round(sum(col("ml") * col("mean_l")) / sum("ml"), 4)
                 .as("est_unweighted"),
               round(sum(col("nl") * col("mean_l")) / sum("nl"), 4)
                 .as("est_poststrat"),
               max("truth").as("truth"))
        est.select(col("n_sample"), col("est_unweighted"),
          col("est_poststrat"), col("truth"),
          round(abs(col("est_unweighted") - col("truth")), 4).as("err_unw"),
          round(abs(col("est_poststrat") - col("truth")), 4).as("err_ps"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, lang,
             |         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS n_tok
             |  FROM documents),
             |marg AS (SELECT lang, CAST(count(*) AS DOUBLE) AS nl FROM t GROUP BY lang),
             |tr AS (SELECT round(avg(n_tok), 4) AS truth FROM t),
             |s AS (SELECT * FROM t
             |      WHERE ('0x' || substr(md5('ps:' || doc_id::VARCHAR), 1, 15))::BIGINT
             |            % 10 = 0),
             |pl AS (SELECT lang, CAST(count(*) AS DOUBLE) AS ml,
             |              avg(n_tok) AS mean_l
             |       FROM s GROUP BY lang),
             |e AS (SELECT CAST(sum(ml) AS BIGINT) AS n_sample,
             |             round(sum(ml * mean_l) / sum(ml), 4) AS est_unweighted,
             |             round(sum(nl * mean_l) / sum(nl), 4) AS est_poststrat,
             |             max(truth) AS truth
             |      FROM pl JOIN marg USING (lang), tr)
             |SELECT n_sample, est_unweighted, est_poststrat, truth,
             |       round(abs(est_unweighted - truth), 4) AS err_unw,
             |       round(abs(est_poststrat - truth), 4) AS err_ps
             |FROM e""".stripMargin)),

    // Lincoln-Petersen / Chapman capture-recapture estimate of corpus
    // size from TWO independent 10% hash samples — the "how big is
    // the population really" estimator a crawler uses when it can
    // only sample (and the sanity check that two sampling frames
    // agree). Both marks and the overlap come from ONE map-side
    // conditional aggregate; the Chapman correction removes the
    // classic small-overlap bias. Reported next to the true count so
    // the estimator's error is auditable.
    "samp_capture_recapture" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val t = Tables.documents(s, d).select(
          (pmod(md5Long(concat(lit("cra:"), col("doc_id").cast("string"))),
            lit(10)) === 0).cast("long").as("a"),
          (pmod(md5Long(concat(lit("crb:"), col("doc_id").cast("string"))),
            lit(10)) === 0).cast("long").as("b"))
        t.agg(count(lit(1)).as("n_true"),
            sum("a").as("n1"), sum("b").as("n2"),
            sum(col("a") * col("b")).as("n12"))
          .select(col("n_true"), col("n1"), col("n2"), col("n12"),
            when(col("n12") > 0,
              round(col("n1") * col("n2") / col("n12").cast("double"), 2))
              .as("n_lincoln"),
            round((col("n1") + 1) * (col("n2") + 1)
              / (col("n12") + 1).cast("double") - 1, 2).as("n_chapman"),
            when(col("n12") > 0,
              round(abs((col("n1") + 1) * (col("n2") + 1)
                / (col("n12") + 1).cast("double") - 1 - col("n_true"))
                / col("n_true"), 4)).as("rel_err_chapman"))
      },
      Some("""WITH t AS (
             |  SELECT CASE WHEN ('0x' || substr(md5('cra:' || doc_id::VARCHAR), 1, 15))::BIGINT
             |                   % 10 = 0 THEN 1 ELSE 0 END AS a,
             |         CASE WHEN ('0x' || substr(md5('crb:' || doc_id::VARCHAR), 1, 15))::BIGINT
             |                   % 10 = 0 THEN 1 ELSE 0 END AS b
             |  FROM documents)
             |SELECT CAST(count(*) AS BIGINT) AS n_true,
             |       CAST(sum(a) AS BIGINT) AS n1, CAST(sum(b) AS BIGINT) AS n2,
             |       CAST(sum(a * b) AS BIGINT) AS n12,
             |       CASE WHEN sum(a * b) > 0
             |            THEN round(sum(a) * sum(b) / CAST(sum(a * b) AS DOUBLE), 2)
             |       END AS n_lincoln,
             |       round((sum(a) + 1) * (sum(b) + 1)
             |             / CAST(sum(a * b) + 1 AS DOUBLE) - 1, 2) AS n_chapman,
             |       CASE WHEN sum(a * b) > 0 THEN
             |         round(abs((sum(a) + 1) * (sum(b) + 1)
             |               / CAST(sum(a * b) + 1 AS DOUBLE) - 1 - count(*))
             |               / count(*), 4)
             |       END AS rel_err_chapman
             |FROM t""".stripMargin)),

    // per-source KL(source ‖ corpus) over 64 hashed unigram buckets
    // with add-one smoothing — "how far is this source's language
    // from the mix" in nats, the divergence twin of samp_importance's
    // LLR weights (same bucket basis). Per-source work is a 64-row
    // broadcast join; the corpus side aggregates once.
    "samp_kl" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val tok = Tables.documents(s, d)
          .select(col("source"),
            explode(graft.text.TextPrimitives.tokens(col("text"))).as("tok"))
          .withColumn("b", md5Long(col("tok")) % 64)
        // NOT checkpointed: the exploded token table is corpus-sized —
        // recomputing the map-side explode for the corpus and
        // per-source passes is far cheaper at 100 TB than
        // materializing it (the samp_importance precedent)
        val corpus0 = tok.groupBy("b").agg(count(lit(1)).as("cc"))
        // smooth over the OCCUPIED bucket support (nb ≤ 64, and a
        // small-vocab corpus occupies far fewer): add-one over a
        // fixed 64 would leave both distributions sub-normalized on
        // the dense grid and Gibbs' KL ≥ 0 silently breaks
        val corpus = corpus0.crossJoin(broadcast(
          corpus0.agg(sum("cc").as("tc"), count(lit(1)).as("nb"))))
        val bySrc = tok.groupBy("source", "b").agg(count(lit(1)).as("cs"))
        val tot = bySrc.groupBy("source").agg(sum("cs").as("ts"))
        // DENSE source × occupied-bucket grid (≤ |sources|·64 rows):
        // smoothing assigns mass to a source's EMPTY buckets too —
        // dropping those terms also breaks KL ≥ 0
        tot.crossJoin(broadcast(corpus))
          .join(bySrc, Seq("source", "b"), "left").na.fill(0L, Seq("cs"))
          .select(col("source"), col("ts"),
            (((col("cs") + 1.0) / (col("ts") + col("nb"))) *
             (log((col("cs") + 1.0) / (col("ts") + col("nb")))
              - log((col("cc") + 1.0) / (col("tc") + col("nb"))))).as("term"))
          .groupBy("source")
          .agg(max("ts").as("n_tok"), round(sum("term"), 6).as("kl"))
          .orderBy("source")
      },
      Some("""WITH tb AS (
             |  SELECT source,
             |         ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS b
             |  FROM (SELECT source,
             |          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |        FROM documents)),
             |corpus AS (SELECT b, CAST(count(*) AS BIGINT) AS cc FROM tb GROUP BY b),
             |ctot AS (SELECT CAST(sum(cc) AS BIGINT) AS tc,
             |                CAST(count(*) AS BIGINT) AS nb FROM corpus),
             |bysrc AS (SELECT source, b, CAST(count(*) AS BIGINT) AS cs
             |          FROM tb GROUP BY source, b),
             |stot AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ts
             |         FROM bysrc GROUP BY source),
             |dense AS (SELECT source, ts, b, cc, tc, nb FROM stot, corpus, ctot),
             |j AS (SELECT dense.*, coalesce(cs, 0) AS cs
             |      FROM dense LEFT JOIN bysrc USING (source, b))
             |SELECT source, CAST(max(ts) AS BIGINT) AS n_tok,
             |       round(sum(((cs + 1.0) / (ts + nb)) *
             |         (ln((cs + 1.0) / (ts + nb))
             |          - ln((cc + 1.0) / (tc + nb)))), 6) AS kl
             |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // Chao1 richness estimator per language: D + F1²/(2·F2) (or the
    // bias-corrected F1(F1−1)/2 form when F2 = 0) — how many MORE
    // types the corpus would surface with unbounded sampling; pairs
    // with text_heaps_fit's growth-curve view off the same counts.
    "samp_chao1" -> Q(
      (s, d) => Tables.documents(s, d)
        .select(col("lang"),
          explode(graft.text.TextPrimitives.tokens(col("text"))).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("double").as("dv"),
          sum(when(col("c") === 1, 1.0).otherwise(0.0)).as("f1"),
          sum(when(col("c") === 2, 1.0).otherwise(0.0)).as("f2"))
        .select(col("lang"), col("dv").cast("long").as("vocab"),
          col("f1").cast("long").as("f1"), col("f2").cast("long").as("f2"),
          round(when(col("f2") > 0,
              col("dv") + col("f1") * col("f1") / (lit(2.0) * col("f2")))
            .otherwise(col("dv")
              + col("f1") * (col("f1") - 1) / 2.0), 2).as("chao1"))
        .orderBy("lang"),
      Some("""WITH tc AS (
             |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM (SELECT lang,
             |          unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY lang, tok),
             |f AS (SELECT lang, CAST(count(*) AS DOUBLE) AS dv,
             |             sum(CASE WHEN c = 1 THEN 1.0 ELSE 0.0 END) AS f1,
             |             sum(CASE WHEN c = 2 THEN 1.0 ELSE 0.0 END) AS f2
             |      FROM tc GROUP BY lang)
             |SELECT lang, CAST(dv AS BIGINT) AS vocab,
             |       CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
             |       round(CASE WHEN f2 > 0 THEN dv + f1 * f1 / (2.0 * f2)
             |                  ELSE dv + f1 * (f1 - 1) / 2.0 END, 2) AS chao1
             |FROM f ORDER BY lang""".stripMargin)),

    // Iterative proportional fitting (raking) of the source × lang
    // cell table to UNIFORM source and lang margins — the survey-
    // weighting primitive behind balanced training mixes: 3 row/col
    // scaling rounds on the bounded ≤|sources|×|langs| cell grid,
    // run driver-side on collected cells (the graph_pagerank
    // bounded-collect altitude), weights pinned to 7dp per step so
    // the DuckDB twin's chained MATERIALIZED CTEs reproduce them
    // bit-for-bit.
    "samp_raking" -> Q(
      (s, d) => {
        import s.implicits._
        val rows = Tables.documents(s, d)
          .groupBy("source", "lang").agg(count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val srcs = rows.map(_._1).distinct.sorted
        val langs = rows.map(_._2).distinct.sorted
        val total = rows.map(_._3).sum.toDouble
        val tRow = total / srcs.length
        val tCol = total / langs.length
        def r7(x: Double) = graft.embed.CovMoments.r(x, 7)
        var w = rows.map { case (s0, l0, n0) => ((s0, l0), n0.toDouble) }.toMap
        for (_ <- 1 to 3) {
          val rowSums = w.groupBy(_._1._1).map { case (k, m) => k -> m.values.sum }
          w = w.map { case ((s0, l0), v) => ((s0, l0), r7(v * tRow / rowSums(s0))) }
          val colSums = w.groupBy(_._1._2).map { case (k, m) => k -> m.values.sum }
          w = w.map { case ((s0, l0), v) => ((s0, l0), r7(v * tCol / colSums(l0))) }
        }
        rows.map { case (s0, l0, n0) =>
          (s0, l0, n0, graft.embed.CovMoments.r(w((s0, l0)) / n0, 4))
        }.toSeq.sortBy(t => (t._1, t._2))
          .toDF("source", "lang", "n_docs", "rake_weight")
      },
      Some("""WITH c0 AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
             |                   CAST(count(*) AS DOUBLE) AS w
             |            FROM documents GROUP BY 1, 2),
             |m AS (SELECT CAST(sum(n) AS DOUBLE) AS tot,
             |             CAST(count(DISTINCT source) AS DOUBLE) AS ns,
             |             CAST(count(DISTINCT lang) AS DOUBLE) AS nl
             |      FROM c0),
             |r1 AS MATERIALIZED (
             |  SELECT source, lang, n,
             |         round(w * (tot / ns) / sum(w) OVER (PARTITION BY source), 7) AS w
             |  FROM c0, m),
             |c1 AS MATERIALIZED (
             |  SELECT source, lang, n,
             |         round(w * ((SELECT tot / nl FROM m)) / sum(w) OVER (PARTITION BY lang), 7) AS w
             |  FROM r1),
             |r2 AS MATERIALIZED (
             |  SELECT source, lang, n,
             |         round(w * ((SELECT tot / ns FROM m)) / sum(w) OVER (PARTITION BY source), 7) AS w
             |  FROM c1),
             |c2 AS MATERIALIZED (
             |  SELECT source, lang, n,
             |         round(w * ((SELECT tot / nl FROM m)) / sum(w) OVER (PARTITION BY lang), 7) AS w
             |  FROM r2),
             |r3 AS MATERIALIZED (
             |  SELECT source, lang, n,
             |         round(w * ((SELECT tot / ns FROM m)) / sum(w) OVER (PARTITION BY source), 7) AS w
             |  FROM c2),
             |c3 AS MATERIALIZED (
             |  SELECT source, lang, n,
             |         round(w * ((SELECT tot / nl FROM m)) / sum(w) OVER (PARTITION BY lang), 7) AS w
             |  FROM r3)
             |SELECT source, lang, n AS n_docs,
             |       round(w / n, 4) AS rake_weight
             |FROM c3 ORDER BY source, lang""".stripMargin)),

    // Centered systematic PPS sampling (size = n_chars, 50 points at
    // (k+0.5)·total/50 along the doc_id-ordered size axis) — the
    // classic design-based alternative to samp_weighted's A-ES draw:
    // deterministic, spread evenly over the stream, and giant docs
    // surface with multiplicity n_hits. The global size cumsum is
    // Packing.boundedCumSum (two-level scan, never a corpus-wide
    // window partition); the point-in-interval count is exact integer
    // floor division in both engines.
    "samp_pps_systematic" -> Q(
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars").cast("long").as("sz"))
        val cum = graft.ops.Packing.boundedCumSum(
          docs, "doc_id", "sz", 1L << 20, "cum")
        val tot = cum.agg(max("cum").as("tot"))
        cum.crossJoin(broadcast(tot))
          .withColumn("n_hits", expr(
            "(100 * cum + tot) div (2 * tot) - (100 * (cum - sz) + tot) div (2 * tot)"))
          .filter(col("n_hits") >= 1)
          .select(col("doc_id"), col("sz").as("n_chars"), col("n_hits"),
            round(least(lit(1.0), lit(50.0) * col("sz") / col("tot")), 6)
              .as("pi"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (
             |  SELECT doc_id, CAST(n_chars AS BIGINT) AS sz,
             |         sum(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id) AS cum
             |  FROM documents),
             |t AS (SELECT max(cum) AS tot FROM c)
             |SELECT doc_id, sz AS n_chars,
             |       CAST((100 * cum + tot) // (2 * tot)
             |         - (100 * (cum - sz) + tot) // (2 * tot) AS BIGINT) AS n_hits,
             |       round(least(1.0, 50.0 * sz / tot), 6) AS pi
             |FROM c, t
             |WHERE (100 * cum + tot) // (2 * tot)
             |        - (100 * (cum - sz) + tot) // (2 * tot) >= 1
             |ORDER BY doc_id""".stripMargin)),

    // Delete-a-group jackknife SE of the mean order value: G = 10
    // md5-hash groups, θ̂₍g₎ = mean excluding group g, and
    // Var = (G−1)/G · Σ(θ̂₍g₎ − θ̄)² — the survey-statistics way to put
    // an honest CI on ANY pipeline statistic without rescanning (one
    // grouped pass + G-row arithmetic; Poisson bootstrap's ×32
    // fan-out is the row-level alternative). Cents are exact, each
    // leave-one-out mean is pinned to micro-units, and the spread
    // uses the all-integer G·Σt² − (Σt)² form — no float sum anywhere.
    "samp_jackknife" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val dec = "decimal(38,0)"
        val grp = Tables.orders(s, d)
          .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
            (md5Long(concat(lit("jk:"), col("o_orderkey").cast("string"))) % 10)
              .as("grp"))
          .groupBy("grp")
          .agg(count(lit(1)).as("ng"), sum(col("cents").cast(dec)).as("sg"))
          .localCheckpoint(eager = false) // total + leave-one-out rows
        val tot = grp.agg(sum(col("ng")).as("n"), sum(col("sg")).as("s"))
        val loo = grp.crossJoin(broadcast(tot))
          .select(round((col("s") - col("sg")).cast("double")
            / (col("n") - col("ng")).cast("double") / 100.0 * 1e6, 0)
            .cast(dec).as("t"))
        loo.agg(count(lit(1)).as("gn"),
            sum(col("t")).as("st"),
            sum(col("t") * col("t")).as("qt"))
          .crossJoin(broadcast(tot))
          .select(col("n").as("n_orders"),
            round(col("s").cast("double") / col("n") / 100.0, 4).as("mean_price"),
            round(sqrt((col("gn") - 1).cast("double")
              * (col("gn") * col("qt") - col("st") * col("st")).cast("double"))
              / col("gn").cast("double") / 1e6, 6).as("jk_se"))
          .select(col("n_orders"), col("mean_price"), col("jk_se"),
            round(col("mean_price") - col("jk_se") * 1.96, 4).as("ci_lo"),
            round(col("mean_price") + col("jk_se") * 1.96, 4).as("ci_hi"))
      },
      Some("""WITH o AS (
             |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |         ('0x' || substr(md5('jk:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 10 AS grp
             |  FROM orders),
             |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS ng, sum(cents) AS sg
             |      FROM o GROUP BY grp),
             |t AS (SELECT CAST(sum(ng) AS BIGINT) AS n, sum(sg) AS s FROM g),
             |loo AS (
             |  SELECT CAST(round(CAST(t.s - g.sg AS DOUBLE)
             |           / CAST(t.n - g.ng AS DOUBLE) / 100.0 * 1e6) AS HUGEINT) AS tt
             |  FROM g, t),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS gn, sum(tt) AS st,
             |             sum(tt * tt) AS qt
             |      FROM loo),
             |se AS (
             |  SELECT t.n AS n_orders,
             |         round(CAST(t.s AS DOUBLE) / t.n / 100.0, 4) AS mean_price,
             |         round(sqrt(CAST(a.gn - 1 AS DOUBLE)
             |           * CAST(a.gn * a.qt - a.st * a.st AS DOUBLE))
             |           / CAST(a.gn AS DOUBLE) / 1e6, 6) AS jk_se
             |  FROM a, t)
             |SELECT n_orders, mean_price, jk_se,
             |       round(mean_price - jk_se * 1.96, 4) AS ci_lo,
             |       round(mean_price + jk_se * 1.96, 4) AS ci_hi
             |FROM se""".stripMargin)),

    // Neyman optimal stratified allocation: a 500-doc annotation /
    // eval budget split across source strata ∝ N_h·S_h (population ×
    // within-stratum sd of doc length) next to the proportional split
    // — the variance-minimizing sample design for any labeling or
    // human-eval pass over the corpus. One grouped pass of exact
    // integer power sums; the N·S weights are pinned to micro-units
    // so the shares divide identical integers on both engines.
    "samp_neyman" -> Q(
      (s, d) => {
        val dec = "decimal(38,0)"
        val g = Tables.documents(s, d)
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars").cast(dec)).as("s1"),
            sum((col("n_chars") * col("n_chars")).cast(dec)).as("s2"))
          .filter(col("n") > 1)
          .select(col("source"), col("n"),
            round(sqrt((col("n") * col("s2") - col("s1") * col("s1"))
                .cast("double") / (col("n").cast("double") * (col("n") - 1))), 6)
              .as("sd"))
          .select(col("source"), col("n"), col("sd"),
            round(col("n") * col("sd") * 1e6, 0).cast("long").as("w_u"))
          .localCheckpoint(eager = false) // total + per-stratum rows
        val tot = g.agg(sum(col("w_u").cast(dec)).as("tw"),
          sum(col("n")).as("tn"))
        g.crossJoin(broadcast(tot))
          .select(col("source"), col("n").as("n_pop"), col("sd").as("sd_len"),
            round(col("w_u").cast("double") * 500.0
              / col("tw").cast("double"), 0).cast("long").as("alloc_neyman"),
            round(col("n").cast("double") * 500.0
              / col("tn").cast("double"), 0).cast("long").as("alloc_prop"))
          .orderBy("source")
      },
      Some("""WITH g0 AS (
             |  SELECT source, CAST(count(*) AS BIGINT) AS n,
             |         round(sqrt(CAST(count(*) * sum(n_chars * n_chars)
             |               - sum(n_chars) * sum(n_chars) AS DOUBLE)
             |             / (CAST(count(*) AS DOUBLE) * (count(*) - 1))), 6) AS sd
             |  FROM documents GROUP BY source
             |  HAVING count(*) > 1),
             |g AS (SELECT source, n, sd,
             |             CAST(round(n * sd * 1e6) AS BIGINT) AS w_u
             |      FROM g0),
             |t AS (SELECT sum(w_u) AS tw, CAST(sum(n) AS BIGINT) AS tn FROM g)
             |SELECT source, n AS n_pop, sd AS sd_len,
             |       CAST(round(CAST(w_u AS DOUBLE) * 500.0
             |            / CAST(tw AS DOUBLE)) AS BIGINT) AS alloc_neyman,
             |       CAST(round(CAST(n AS DOUBLE) * 500.0
             |            / CAST(tn AS DOUBLE)) AS BIGINT) AS alloc_prop
             |FROM g, t ORDER BY source""".stripMargin)),

    // Simple-random-sample estimator audit with the finite-population
    // correction: a deterministic 5% md5 sample of orders estimates
    // the mean order value, SE = s·√((1−f)/n) — what a sampled QA /
    // human-eval pass should quote instead of the naive SE (the FPC
    // matters exactly when the sample is a large share of a small
    // stratum). ONE conditional pass over orders produces population
    // and sample moments; exact cents sums end-to-end, and the
    // coverage flag checks the CI against the true mean it brackets.
    "samp_srs_ci" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val dec = "decimal(38,0)"
        val o = Tables.orders(s, d)
          .select(round(col("o_totalprice") * 100, 0).cast("long").as("c"),
            (md5Long(concat(lit("sr:"), col("o_orderkey").cast("string"))) % 20
              === 0).as("ins"))
        o.agg(count(lit(1)).as("np"),
            sum(col("c").cast(dec)).as("sp"),
            sum(when(col("ins"), 1L).otherwise(0L)).as("n"),
            sum(when(col("ins"), col("c")).otherwise(0L).cast(dec)).as("sc"),
            sum(when(col("ins"), col("c") * col("c")).otherwise(0L).cast(dec))
              .as("qc"))
          .select(col("np").as("n_pop"), col("n").as("n_sample"),
            round(col("sc").cast("double") / col("n") / 100.0, 4)
              .as("mean_sample"),
            round(col("sp").cast("double") / col("np") / 100.0, 4)
              .as("mean_true"),
            round(sqrt(((col("n") * col("qc") - col("sc") * col("sc"))
                .cast("double")
                / (col("n").cast("double") * (col("n") - 1)))
              * (lit(1.0) - col("n").cast("double") / col("np"))
              / col("n")) / 100.0, 6).as("se_fpc"))
          .select(col("n_pop"), col("n_sample"), col("mean_sample"),
            round(col("mean_sample") - col("se_fpc") * 1.96, 4).as("ci_lo"),
            round(col("mean_sample") + col("se_fpc") * 1.96, 4).as("ci_hi"),
            col("se_fpc"), col("mean_true"))
          .withColumn("covered",
            (col("ci_lo") <= col("mean_true") &&
             col("mean_true") <= col("ci_hi")).cast("long"))
      },
      Some("""WITH o AS (
             |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
             |         ('0x' || substr(md5('sr:' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT % 20 = 0 AS ins
             |  FROM orders),
             |a AS (
             |  SELECT CAST(count(*) AS BIGINT) AS np, sum(c) AS sp,
             |         CAST(sum(CASE WHEN ins THEN 1 ELSE 0 END) AS BIGINT) AS n,
             |         sum(CASE WHEN ins THEN c ELSE 0 END) AS sc,
             |         sum(CASE WHEN ins THEN c * c ELSE 0 END) AS qc
             |  FROM o),
             |e AS (
             |  SELECT np AS n_pop, n AS n_sample,
             |         round(CAST(sc AS DOUBLE) / n / 100.0, 4) AS mean_sample,
             |         round(CAST(sp AS DOUBLE) / np / 100.0, 4) AS mean_true,
             |         round(sqrt((CAST(n * qc - sc * sc AS DOUBLE)
             |                 / (CAST(n AS DOUBLE) * (n - 1)))
             |               * (1.0 - CAST(n AS DOUBLE) / np) / n) / 100.0, 6) AS se_fpc
             |  FROM a)
             |SELECT n_pop, n_sample, mean_sample,
             |       round(mean_sample - se_fpc * 1.96, 4) AS ci_lo,
             |       round(mean_sample + se_fpc * 1.96, 4) AS ci_hi,
             |       se_fpc, mean_true,
             |       CAST(round(mean_sample - se_fpc * 1.96, 4) <= mean_true
             |            AND mean_true <= round(mean_sample + se_fpc * 1.96, 4)
             |            AS BIGINT) AS covered
             |FROM e""".stripMargin))
  )

  val samplingQB: Seq[(String, Q)] = Seq(
    // 1:1 matched-pairs treatment estimate (coarsened exact matching
    // on activity quartiles): within each band, treated and control
    // users pair by deterministic rank, and the per-band ATT is the
    // mean spend difference over pairs — the matching-based causal
    // companion to ev_ipw's weighting (matching shows WHERE support
    // is thin: bands with few pairs). Spend in exact 4dp decimal
    // (moneySum discipline); band cutoffs one tiny percentile
    // aggregate (type-7 parity), broadcast back.
    "samp_matched_pairs" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val u = Tables.events(s, d)
          .filter(col("value").isNotNull && !isnan(col("value")))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_ev"),
            sum(round(col("value"), 4).cast("decimal(20,4)")).as("spend"))
          .withColumn("arm",
            md5Long(concat(lit("mp:"), col("user_id").cast("string"))) % 2)
          .localCheckpoint(eager = false) // cutoffs + banding
        val cuts = u.agg(
          round(expr("percentile(n_ev, 0.25D)"), 6).as("c1"),
          round(expr("percentile(n_ev, 0.5D)"), 6).as("c2"),
          round(expr("percentile(n_ev, 0.75D)"), 6).as("c3"))
        // rank within (band, arm) via the bounded two-level scan — a
        // plain per-band row_number would put a quarter of ALL users
        // through one window task at scale; boundedRowNumber's result
        // is identical, so the oracle keeps the plain window form
        val banded = u.crossJoin(broadcast(cuts))
          .withColumn("band",
            when(col("n_ev") <= col("c1"), 0L)
              .when(col("n_ev") <= col("c2"), 1L)
              .when(col("n_ev") <= col("c3"), 2L).otherwise(3L))
        val b = graft.ops.Packing.boundedRowNumber(
          banded, Seq("band", "arm"), "user_id", 1L << 20, "rn")
        val t = b.filter(col("arm") === 1)
          .select(col("band"), col("rn"), col("spend").as("st"))
        val c = b.filter(col("arm") === 0)
          .select(col("band"), col("rn"), col("spend").as("sc"))
        t.join(c, Seq("band", "rn"))
          .groupBy("band")
          .agg(count(lit(1)).as("n_pairs"),
            round(sum(col("st") - col("sc")).cast("double")
              / count(lit(1)), 4).as("att"))
          .orderBy("band")
      },
      Some("""WITH u AS (
             |  SELECT user_id,
             |         ('0x' || substr(md5('mp:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
             |         CAST(count(*) AS BIGINT) AS n_ev,
             |         sum(CAST(round(value, 4) AS DECIMAL(20,4))) AS spend
             |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
             |  GROUP BY 1, 2),
             |cuts AS (SELECT round(quantile_cont(n_ev, 0.25), 6) AS c1,
             |                round(quantile_cont(n_ev, 0.5), 6) AS c2,
             |                round(quantile_cont(n_ev, 0.75), 6) AS c3
             |         FROM u),
             |b AS (SELECT *,
             |        CASE WHEN n_ev <= c1 THEN 0 WHEN n_ev <= c2 THEN 1
             |             WHEN n_ev <= c3 THEN 2 ELSE 3 END AS band
             |      FROM u, cuts),
             |r AS (SELECT *, row_number() OVER (PARTITION BY band, arm
             |               ORDER BY user_id) AS rn
             |      FROM b),
             |p AS (SELECT t.band, t.spend AS st, c.spend AS sc
             |      FROM (SELECT * FROM r WHERE arm = 1) t
             |      JOIN (SELECT * FROM r WHERE arm = 0) c USING (band, rn))
             |SELECT CAST(band AS BIGINT) AS band,
             |       CAST(count(*) AS BIGINT) AS n_pairs,
             |       round(CAST(sum(st - sc) AS DOUBLE) / count(*), 4) AS att
             |FROM p GROUP BY band ORDER BY band""".stripMargin)),

    // Two-stage cluster-sampling design effect: if evaluation samples
    // USERS and takes all their events, correlated within-user values
    // shrink the information content — DEFF = 1 + (m̄−1)·ICC and
    // n_eff = n/DEFF is the honest sample size (the survey-design
    // companion to samp_ess's weight-based N_eff). Values pinned to
    // exact cents; every between/within sum-of-squares term is a
    // per-user integer pinned BEFORE the global sum, so ICC is
    // engine-exact at 3000+ clusters where stat_icc's 20-source
    // double sums would start to wobble.
    "samp_two_stage" -> Q(
      (s, d) => {
        val dec = "decimal(38,0)"
        val u = Tables.events(s, d)
          .filter(col("value").isNotNull && !isnan(col("value")))
          .select(col("user_id"), round(col("value") * 100, 0).cast("long").as("v"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("ni"),
            sum(col("v").cast(dec)).as("si"),
            sum((col("v") * col("v")).cast(dec)).as("qi"))
          .select(col("ni"), col("qi"), col("si"),
            round(col("si").cast("double") * col("si").cast("double")
              / col("ni"), 0).cast(dec).as("ti"))
        u.agg(count(lit(1)).as("k"), sum(col("ni")).as("nn"),
            sum(col("si")).as("st"), sum(col("qi")).as("sst"),
            sum(col("ti")).as("sb"),
            sum((col("ni") * col("ni")).cast(dec)).as("n2"))
          .select(col("k"), col("nn"),
            ((col("sb").cast("double") - col("st").cast("double")
              * col("st").cast("double") / col("nn").cast("double"))
              / (col("k") - 1)).as("msb"),
            ((col("sst") - col("sb")).cast("double")
              / (col("nn") - col("k")).cast("double")).as("msw"),
            ((col("nn").cast("double") - col("n2").cast("double")
              / col("nn").cast("double")) / (col("k") - 1)).as("k0"))
          .select(col("nn").as("n_events"), col("k").as("n_users"),
            round((col("msb") - col("msw"))
              / (col("msb") + (col("k0") - 1) * col("msw")), 4).as("icc"))
          .withColumn("deff",
            round(lit(1.0) + (col("n_events").cast("double") / col("n_users")
              - 1.0) * col("icc"), 4))
          .withColumn("n_eff",
            round(col("n_events") / col("deff"), 0).cast("long"))
      },
      Some("""WITH v AS (
             |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v
             |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
             |u AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS ni,
             |         sum(v) AS si, sum(v * v) AS qi
             |  FROM v GROUP BY user_id),
             |uu AS (SELECT ni, qi, si,
             |              CAST(round(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
             |                / ni) AS HUGEINT) AS ti
             |       FROM u),
             |a AS (
             |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ni) AS BIGINT) AS nn,
             |         sum(si) AS st, sum(qi) AS sst, sum(ti) AS sb,
             |         sum(ni * ni) AS n2
             |  FROM uu),
             |m AS (
             |  SELECT k, nn,
             |         (CAST(sb AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
             |            / CAST(nn AS DOUBLE)) / (k - 1) AS msb,
             |         CAST(sst - sb AS DOUBLE) / CAST(nn - k AS DOUBLE) AS msw,
             |         (CAST(nn AS DOUBLE) - CAST(n2 AS DOUBLE)
             |            / CAST(nn AS DOUBLE)) / (k - 1) AS k0
             |  FROM a),
             |i AS (SELECT nn AS n_events, k AS n_users,
             |             round((msb - msw) / (msb + (k0 - 1) * msw), 4) AS icc
             |      FROM m)
             |SELECT n_events, n_users, icc,
             |       round(1.0 + (CAST(n_events AS DOUBLE) / n_users - 1.0)
             |             * icc, 4) AS deff,
             |       CAST(round(n_events / round(1.0
             |         + (CAST(n_events AS DOUBLE) / n_users - 1.0) * icc, 4))
             |         AS BIGINT) AS n_eff
             |FROM i""".stripMargin)),

    // Poisson-bootstrap CI of the ARM DIFFERENCE in mean purchase
    // value — stat_bootstrap intervals one mean; experiments ship on
    // the difference, whose bootstrap must resample both arms
    // TOGETHER (same ×32 map-side replicate fan-out, conditional
    // per-arm sums inside each replicate). significant = the interval
    // excludes 0.
    "samp_bootstrap_diff" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val ev = Tables.events(s, d)
          .filter(col("value").isNotNull && !isnan(col("value")))
          .filter(col("event_type") === "purchase")
          .withColumn("arm",
            md5Long(concat(lit("ab:"), col("user_id").cast("string"))) % 2)
        val u = (pmod(md5Long(concat(lit("bd:"),
            col("event_id").cast("string"), lit(":"), col("b").cast("string"))),
            lit(1000000)).cast("double") + 0.5) / 1000000.0
        val w = when(u < 0.367879, 0).when(u < 0.735759, 1)
          .when(u < 0.919699, 2).when(u < 0.981012, 3)
          .when(u < 0.996340, 4).when(u < 0.999406, 5).otherwise(6)
        val reps = ev
          .withColumn("b", explode(sequence(lit(0L), lit(31L))))
          .withColumn("w", w.cast("double"))
          .groupBy("b")
          .agg(
            sum(when(col("arm") === 1, col("w") * col("value"))
              .otherwise(0.0)).as("svt"),
            sum(when(col("arm") === 1, col("w")).otherwise(0.0)).as("swt"),
            sum(when(col("arm") === 0, col("w") * col("value"))
              .otherwise(0.0)).as("svc"),
            sum(when(col("arm") === 0, col("w")).otherwise(0.0)).as("swc"))
          .filter(col("swt") > 0 && col("swc") > 0)
          .select(round(col("svt") / col("swt")
            - col("svc") / col("swc"), 6).as("db"))
        val obs = ev.agg(
          round(avg(when(col("arm") === 1, col("value"))), 6).as("mt"),
          round(avg(when(col("arm") === 0, col("value"))), 6).as("mc"))
          .select(round(col("mt") - col("mc"), 6).as("obs_diff"))
        obs.crossJoin(broadcast(reps.agg(
            expr("percentile(db, array(0.025D, 0.975D))").as("ps"))))
          .select(col("obs_diff"),
            round(element_at(col("ps"), 1), 4).as("ci_lo"),
            round(element_at(col("ps"), 2), 4).as("ci_hi"))
          .withColumn("significant",
            (col("ci_lo") > 0.0 || col("ci_hi") < 0.0).cast("long"))
      },
      Some("""WITH ev AS (
             |  SELECT event_id, value,
             |         ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm
             |  FROM events
             |  WHERE value IS NOT NULL AND NOT isnan(value)
             |    AND event_type = 'purchase'),
             |reps AS (
             |  SELECT b, arm, value,
             |    CASE WHEN u < 0.367879 THEN 0 WHEN u < 0.735759 THEN 1
             |         WHEN u < 0.919699 THEN 2 WHEN u < 0.981012 THEN 3
             |         WHEN u < 0.996340 THEN 4 WHEN u < 0.999406 THEN 5
             |         ELSE 6 END AS w
             |  FROM (SELECT event_id, value, arm, CAST(b AS BIGINT) AS b,
             |          ((('0x' || substr(md5('bd:' || CAST(event_id AS VARCHAR)
             |            || ':' || CAST(b AS VARCHAR)), 1, 15))::BIGINT % 1000000)
             |           + 0.5) / 1000000.0 AS u
             |        FROM ev, unnest(generate_series(0, 31)) AS t(b))),
             |db AS (
             |  SELECT round(sum(CASE WHEN arm = 1 THEN w * value ELSE 0 END)
             |           / sum(CASE WHEN arm = 1 THEN w ELSE 0 END)
             |         - sum(CASE WHEN arm = 0 THEN w * value ELSE 0 END)
             |           / sum(CASE WHEN arm = 0 THEN w ELSE 0 END), 6) AS db
             |  FROM reps GROUP BY b
             |  HAVING sum(CASE WHEN arm = 1 THEN w ELSE 0 END) > 0
             |     AND sum(CASE WHEN arm = 0 THEN w ELSE 0 END) > 0),
             |o AS (SELECT round(round(avg(CASE WHEN arm = 1 THEN value END), 6)
             |             - round(avg(CASE WHEN arm = 0 THEN value END), 6), 6)
             |        AS obs_diff
             |      FROM ev),
             |ci AS (SELECT round(quantile_cont(db, 0.025), 4) AS ci_lo,
             |              round(quantile_cont(db, 0.975), 4) AS ci_hi
             |       FROM db)
             |SELECT obs_diff, ci_lo, ci_hi,
             |       CAST(ci_lo > 0.0 OR ci_hi < 0.0 AS BIGINT) AS significant
             |FROM o, ci""".stripMargin)),

    // tokenizer fertility per language: BPE-ish tokens per whitespace
    // word and bytes per BPE token — the "how expensive is this
    // language for the tokenizer" table (fertility >> 1 means the
    // vocab underserves the language). Reuses text_token_count's two
    // tokenizations in ONE grouped map-side pass.
    "pipe_tokenizer_fertility" -> Q(
      (s, d) => {
        val t = graft.text.TextAnalytics.tokenCounts(Tables.documents(s, d))
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("n_chars"))
          .join(t, "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
               sum("n_ws").as("n_ws_tokens"),
               sum("n_bpe").as("n_bpe_tokens"),
               sum("n_chars").as("n_chars"))
          .select(col("lang"), col("n_docs"), col("n_ws_tokens"),
            col("n_bpe_tokens"),
            round(col("n_bpe_tokens") / col("n_ws_tokens").cast("double"), 4)
              .as("fertility"),
            round(col("n_chars") / col("n_bpe_tokens").cast("double"), 4)
              .as("chars_per_token"))
          .orderBy("lang")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
             |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws,
             |         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe
             |  FROM documents)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(n_ws) AS BIGINT) AS n_ws_tokens,
             |       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
             |       round(sum(n_bpe) / CAST(sum(n_ws) AS DOUBLE), 4) AS fertility,
             |       round(sum(n_chars) / CAST(sum(n_bpe) AS DOUBLE), 4) AS chars_per_token
             |FROM t GROUP BY lang ORDER BY lang""".stripMargin)),

    // data-contract audit of the events table — the rules a feed
    // owner would declare, checked in ONE conditional map-side
    // aggregate: null keys, unknown enum values, out-of-range
    // measures, NaN poisoning, malformed JSON payloads, timestamps
    // outside the believable window. The wide one-row report is what
    // a pipeline gate consumes; any nonzero cell is an alert.
    "pipe_contract_events" -> Q(
      (s, d) => {
        val known = Seq("click", "view", "purchase", "signup", "error")
        Tables.events(s, d).agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("event_type").isNull, 1L).otherwise(0L))
            .as("n_null_type"),
          sum(when(col("event_type").isNotNull &&
            !col("event_type").isin(known: _*), 1L).otherwise(0L))
            .as("n_unknown_type"),
          sum(when(col("user_id").isNull, 1L).otherwise(0L))
            .as("n_null_user"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
          sum(when(isnan(col("value")), 1L).otherwise(0L)).as("n_nan_value"),
          sum(when(col("value") < 0 || col("value") > 1000, 1L).otherwise(0L))
            .as("n_value_range"),
          sum(when(col("props").isNotNull && !col("props").like("{%"), 1L)
            .otherwise(0L)).as("n_bad_props"),
          sum(when(col("ts") < lit(1577836800000000000L) ||
            col("ts") > lit(1893456000000000000L), 1L).otherwise(0L))
            .as("n_ts_range"))
          .withColumn("n_violations",
            col("n_null_type") + col("n_unknown_type") + col("n_null_user") +
            col("n_null_value") + col("n_nan_value") + col("n_value_range") +
            col("n_bad_props") + col("n_ts_range"))
      },
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_type,
             |  CAST(sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
             |    ('click', 'view', 'purchase', 'signup', 'error')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_type,
             |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_user,
             |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
             |  CAST(sum(CASE WHEN isnan(value) THEN 1 ELSE 0 END) AS BIGINT) AS n_nan_value,
             |  CAST(sum(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_value_range,
             |  CAST(sum(CASE WHEN props IS NOT NULL AND props NOT LIKE '{%'
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_props,
             |  CAST(sum(CASE WHEN ts < 1577836800000000000 OR ts > 1893456000000000000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_ts_range,
             |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
             |    + sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
             |        ('click', 'view', 'purchase', 'signup', 'error') THEN 1 ELSE 0 END)
             |    + sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
             |    + sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
             |    + sum(CASE WHEN isnan(value) THEN 1 ELSE 0 END)
             |    + sum(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END)
             |    + sum(CASE WHEN props IS NOT NULL AND props NOT LIKE '{%' THEN 1 ELSE 0 END)
             |    + sum(CASE WHEN ts < 1577836800000000000 OR ts > 1893456000000000000
             |        THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
             |FROM events""".stripMargin)),

    // order-invariant dataset fingerprint per source: bit_xor of a
    // per-row content hash + exact counts — the reproducibility
    // manifest entry a training run pins ("same data?" answers in one
    // scan, invariant to partitioning/file order/executor count,
    // unlike any first-N or concatenation scheme). ONE hash aggregate.
    "pipe_dataset_hash" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val h = md5Long(concat_ws("#", col("doc_id").cast("string"),
          coalesce(col("lang"), lit("")), coalesce(col("text"), lit(""))))
        Tables.documents(s, d)
          .select(col("source"), h.as("h"), col("n_chars"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               expr("bit_xor(h)").as("fingerprint"),
               sum("n_chars").as("n_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(bit_xor(('0x' || substr(md5(concat_ws('#',
             |         CAST(doc_id AS VARCHAR), coalesce(lang, ''),
             |         coalesce(text, ''))), 1, 15))::BIGINT) AS BIGINT)
             |         AS fingerprint,
             |       CAST(sum(n_chars) AS BIGINT) AS n_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // what dedup buys: token counts before vs after canonical-doc
    // selection on the SHARED cluster-label table (one CC pass,
    // reused by dedup_clusters/keep_best/cluster_sizes — this row is
    // ~free) — the headline number a dedup stage reports upward.
    "pipe_dedup_savings" -> Q(
      (s, d) => {
        val labels = clusterLabels(s, d)
        val toks = docsUnder(s, d, 200).select(col("doc_id"),
          size(graft.text.TextPrimitives.tokens(col("text"))).cast("long")
            .as("nt"))
        labels.join(toks, "doc_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") === col("cluster"), 1L).otherwise(0L))
              .as("n_kept"),
            sum("nt").as("tok_raw"),
            sum(when(col("doc_id") === col("cluster"), col("nt"))
              .otherwise(0L)).as("tok_kept"))
          .select(col("n_docs"), col("n_kept"), col("tok_raw"),
            col("tok_kept"),
            round(lit(1.0) - col("tok_kept") / col("tok_raw").cast("double"), 4)
              .as("savings_pct"))
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
              |tk AS (SELECT doc_id,
              |         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS nt
              |       FROM documents WHERE doc_id < 200)
              |SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(CASE WHEN doc_id = cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |       CAST(sum(nt) AS BIGINT) AS tok_raw,
              |       CAST(sum(CASE WHEN doc_id = cluster THEN nt ELSE 0 END) AS BIGINT) AS tok_kept,
              |       round(1.0 - sum(CASE WHEN doc_id = cluster THEN nt ELSE 0 END)
              |             / CAST(sum(nt) AS DOUBLE), 4) AS savings_pct
              |FROM cc JOIN tk USING (doc_id)""".stripMargin)),

    // documents data contract: the quality gate a landing zone runs
    // before promotion — ONE conditional aggregate (plus the Expand
    // distinct for id uniqueness) over the scan, no joins. The
    // events-side twin is pipe_contract_events.
    "pipe_contract_docs" -> Q(
      (s, d) => Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1L)
          .otherwise(0L)).as("null_or_empty_text"),
        sum(when(col("n_chars") =!= length(col("text")), 1L)
          .otherwise(0L)).as("bad_n_chars"),
        sum(when(!col("lang").isin("en", "de", "fr", "es", "zh"), 1L)
          .otherwise(0L)).as("unknown_lang"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("dup_ids"),
        sum(when(col("n_chars") < 0 || col("n_chars") > 1000000, 1L)
          .otherwise(0L)).as("out_of_range_len")),
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(sum(CASE WHEN text IS NULL OR length(text) = 0
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS null_or_empty_text,
             |       CAST(sum(CASE WHEN n_chars <> length(text)
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS bad_n_chars,
             |       CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS unknown_lang,
             |       CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS dup_ids,
             |       CAST(sum(CASE WHEN n_chars < 0 OR n_chars > 1000000
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS out_of_range_len
             |FROM documents""".stripMargin)),

    // Incremental-processing shard diff: fingerprint the corpus into
    // 16 stable hash shards (the pipe_shard_manifest keying), diff
    // TODAY's manifest against a simulated YESTERDAY (docs with
    // doc_id % 97 ≠ 0 — the deterministic stand-in for the previous
    // snapshot), and report per-shard changed/unchanged — the ledger
    // that lets a 100 TB daily pipeline re-process ONLY the shards
    // whose content hash moved. Fingerprint = Σ md5Long(text) mod p
    // per shard (exact bounded integers, order-invariant).
    "pipe_incremental_shards" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val p = 1000000007L
        def manifest(df: DataFrame) = df
          .withColumn("shard",
            md5Long(concat(lit("shard:"), col("doc_id").cast("string"))) % 16)
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(md5Long(col("text")) % p).as("fp"))
        val now = Tables.documents(s, d)
        val prev = now.filter(col("doc_id") % 97 =!= 0)
        manifest(now).toDF("shard", "n_now", "fp_now")
          .join(manifest(prev).toDF("shard", "n_prev", "fp_prev"),
            Seq("shard"), "full_outer")
          .select(col("shard"),
            coalesce(col("n_now"), lit(0L)).as("n_now"),
            coalesce(col("n_prev"), lit(0L)).as("n_prev"),
            (coalesce(col("fp_now"), lit(-1L)) =!=
              coalesce(col("fp_prev"), lit(-1L))).cast("long").as("changed"))
          .orderBy("shard")
      },
      Some("""WITH nowm AS (
             |  SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             |           % 16 AS shard,
             |         CAST(count(*) AS BIGINT) AS n_docs,
             |         CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT
             |           % 1000000007) AS BIGINT) AS fp
             |  FROM documents GROUP BY 1),
             |prevm AS (
             |  SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
             |           % 16 AS shard,
             |         CAST(count(*) AS BIGINT) AS n_docs,
             |         CAST(sum(('0x' || substr(md5(text), 1, 15))::BIGINT
             |           % 1000000007) AS BIGINT) AS fp
             |  FROM documents WHERE doc_id % 97 <> 0 GROUP BY 1)
             |SELECT coalesce(n.shard, p.shard) AS shard,
             |       coalesce(n.n_docs, 0) AS n_now,
             |       coalesce(p.n_docs, 0) AS n_prev,
             |       CAST(coalesce(n.fp, -1) <> coalesce(p.fp, -1) AS BIGINT)
             |         AS changed
             |FROM nowm n FULL OUTER JOIN prevm p ON n.shard = p.shard
             |ORDER BY shard""".stripMargin)),

    // Stratified balanced sharding: round-robin within each
    // (source, lang) stratum (rank ordered by doc_id, mod 8) — the
    // anti-skew alternative to pipe_shard_manifest's pure hash
    // shards: every shard gets an equal slice of EVERY stratum, so
    // no shard is all-en or all-one-source. The in-stratum rank is
    // Packing.boundedRowNumber (id-block two-level scan), so a hot
    // stratum never funnels one window partition. Per-shard
    // composition report; balance (max−min ≤ #strata) is spec-pinned.
    "pipe_stratified_shards" -> Q(
      (s, d) => {
        graft.ops.Packing.boundedRowNumber(
            Tables.documents(s, d), Seq("source", "lang"), "doc_id",
            1L << 20, "r")
          .withColumn("shard", ((col("r") - 1) % 8).cast("int"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct("source").as("n_sources"),
            countDistinct("lang").as("n_langs"),
            sum("n_chars").as("n_bytes"))
          .orderBy("shard")
      },
      Some("""WITH a AS (
             |  SELECT source, lang, n_chars,
             |         (row_number() OVER (PARTITION BY source, lang
             |            ORDER BY doc_id) - 1) % 8 AS shard
             |  FROM documents)
             |SELECT CAST(shard AS INT) AS shard,
             |       CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             |       CAST(sum(n_chars) AS BIGINT) AS n_bytes
             |FROM a GROUP BY 1 ORDER BY shard""".stripMargin)),

    // Temperature-annealed domain-mixture schedule: epoch e of 5
    // reweights each source by n^(1-e/4) — proportional sampling at
    // epoch 0 annealing to uniform by epoch 4, the standard curriculum
    // for rebalancing low-resource domains across a training run
    // (beside pipe_epoch_mix's fixed mix). The whole grid is
    // |sources|×5 rows; allocations come off the 4dp-rounded weight so
    // both engines place identical doc budgets.
    "pipe_mixture_schedule" -> Q(
      (s, d) => {
        val src = Tables.documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n_docs"))
        val tot = src.agg(sum("n_docs").as("total"))
        val g = src.crossJoin(s.range(0, 5).toDF("epoch"))
          .withColumn("tau", lit(1.0) - col("epoch") / lit(4.0))
          .withColumn("wraw", pow(col("n_docs").cast("double"), col("tau")))
        val wt = g.groupBy("epoch").agg(sum("wraw").as("wtot"))
        g.join(broadcast(wt), "epoch").crossJoin(broadcast(tot))
          .withColumn("mix_weight", round(col("wraw") / col("wtot"), 4))
          .select(col("epoch"), col("source"), col("n_docs"),
            col("mix_weight"),
            floor(col("mix_weight") * col("total") + lit(0.5)).cast("long")
              .as("alloc_docs"))
          .orderBy("epoch", "source")
      },
      Some("""WITH src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |             FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM src),
             |g AS (SELECT source, n_docs, e AS epoch,
             |             pow(CAST(n_docs AS DOUBLE), 1.0 - e / 4.0) AS wraw
             |      FROM src, (SELECT unnest(generate_series(0, 4)) AS e)),
             |wt AS (SELECT epoch, sum(wraw) AS wtot FROM g GROUP BY 1)
             |SELECT CAST(g.epoch AS BIGINT) AS epoch, source, n_docs,
             |       round(wraw / wtot, 4) AS mix_weight,
             |       CAST(floor(round(wraw / wtot, 4) * total + 0.5) AS BIGINT)
             |         AS alloc_docs
             |FROM g JOIN wt ON g.epoch = wt.epoch, tot
             |ORDER BY epoch, source""".stripMargin)),

    // Quality × dedup ablation grid: docs and tokens by (quality
    // tercile × canonical-vs-duplicate) on the shared cluster-label
    // frame — the "what does each filter actually cost, and do they
    // overlap" planning table every curation pipeline wants before
    // committing to thresholds (cheap docs that are ALSO dups get
    // dropped once, not twice). Tercile cutoffs are one tiny
    // percentile aggregate (type-7 parity), broadcast back, binned
    // map-side.
    "pipe_quality_ablation" -> Q(
      (s, d) => {
        val docs = docsUnder(s, d, 200)
        val q = graft.text.TextAnalytics.qualityScores(docs)
        val labels = clusterLabels(s, d)
        val cuts = q.agg(
          round(expr("percentile(quality, 0.3333333333333333D)"), 6).as("c1"),
          round(expr("percentile(quality, 0.6666666666666666D)"), 6).as("c2"))
        q.join(labels, "doc_id").crossJoin(broadcast(cuts))
          .withColumn("tercile",
            when(col("quality") <= col("c1"), "1_low")
              .when(col("quality") <= col("c2"), "2_mid")
              .otherwise("3_high"))
          .withColumn("canonical",
            (col("doc_id") === col("cluster")).cast("long"))
          .groupBy("tercile", "canonical")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok").cast("long")).as("n_tokens"))
          .orderBy("tercile", "canonical")
      },
      Some(s"""WITH RECURSIVE sig AS (
              |${graft.dedup.Dedup.minhashSigSql(5, 8, "doc_id < 200")}),
              |bands AS (${(0 until 4).map(b =>
                 s"SELECT doc_id, $b AS b, concat_ws('_', m${2 * b}, m${2 * b + 1}) AS bv FROM sig")
                 .mkString(" UNION ALL ")}),
              |prs AS (
              |  SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db
              |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id),
              |edges AS (SELECT da, db FROM prs UNION ALL SELECT db, da FROM prs),
              |reach(src, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 200
              |  UNION
              |  SELECT e.da, r.lbl FROM reach r JOIN edges e ON e.db = r.src),
              |cc AS (SELECT src AS doc_id, min(lbl) AS cluster FROM reach GROUP BY src),
              |$qualityCteD200Sql,
              |cuts AS (SELECT round(quantile_cont(quality, 0.3333333333333333), 6) AS c1,
              |                round(quantile_cont(quality, 0.6666666666666666), 6) AS c2
              |         FROM q)
              |SELECT CASE WHEN quality <= c1 THEN '1_low'
              |            WHEN quality <= c2 THEN '2_mid'
              |            ELSE '3_high' END AS tercile,
              |       CAST(CASE WHEN q.doc_id = cc.cluster THEN 1 ELSE 0 END
              |            AS BIGINT) AS canonical,
              |       CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
              |FROM q JOIN cc USING (doc_id), cuts
              |GROUP BY 1, 2 ORDER BY tercile, canonical""".stripMargin))
  )

  val samplingQC: Seq[(String, Q)] = Seq(
    // Padding-waste report: what length-sorted batching saves over
    // arrival-order batching at batch size 8 — tokens padded to each
    // batch's max, the number that decides whether pipe_bucket_batches
    // is worth its shuffle. Global ranks come from the distributed
    // range-sort + zipWithIndex (Ranking.withGlobalRank — never a
    // single-partition window); the oracle states the same ranks as
    // plain row_number.
    "pipe_padding_waste" -> Q(
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            size(graft.text.TextPrimitives.tokens(col("text"))).cast("long")
              .as("nt"))
          .localCheckpoint(eager = false) // ranked twice, two strategies
        def waste(strategy: String, ranked: DataFrame) =
          ranked.withColumn("b", expr("(r - 1) DIV 8"))
            .groupBy("b")
            .agg(count(lit(1)).as("c"), sum("nt").as("st"), max("nt").as("mx"))
            .agg(count(lit(1)).as("n_batches"),
              sum("st").as("tok_total"),
              sum(col("mx") * col("c")).as("tok_padded"))
            .select(lit(strategy).as("strategy"), col("n_batches"),
              col("tok_total"), col("tok_padded"),
              round(lit(1.0) - col("tok_total")
                / col("tok_padded").cast("double"), 4).as("waste_pct"))
        val byArrival = graft.ops.Ranking.withGlobalRank(
          toks, "r", col("doc_id"))
        val byLength = graft.ops.Ranking.withGlobalRank(
          toks, "r", col("nt"), col("doc_id"))
        waste("1_arrival", byArrival).unionAll(waste("2_sorted", byLength))
          .orderBy("strategy")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id,
              |         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
              |              AS BIGINT) AS nt
              |  FROM documents),
              |ra AS (SELECT nt, row_number() OVER (ORDER BY doc_id) AS r FROM toks),
              |rl AS (SELECT nt, row_number() OVER (ORDER BY nt, doc_id) AS r FROM toks),
              |ba AS (SELECT (r - 1) // 8 AS b, CAST(count(*) AS BIGINT) AS c,
              |              CAST(sum(nt) AS BIGINT) AS st,
              |              CAST(max(nt) AS BIGINT) AS mx
              |       FROM ra GROUP BY 1),
              |bl AS (SELECT (r - 1) // 8 AS b, CAST(count(*) AS BIGINT) AS c,
              |              CAST(sum(nt) AS BIGINT) AS st,
              |              CAST(max(nt) AS BIGINT) AS mx
              |       FROM rl GROUP BY 1),
              |wa AS (SELECT '1_arrival' AS strategy,
              |              CAST(count(*) AS BIGINT) AS n_batches,
              |              CAST(sum(st) AS BIGINT) AS tok_total,
              |              CAST(sum(mx * c) AS BIGINT) AS tok_padded
              |       FROM ba),
              |wl AS (SELECT '2_sorted', CAST(count(*) AS BIGINT),
              |              CAST(sum(st) AS BIGINT), CAST(sum(mx * c) AS BIGINT)
              |       FROM bl),
              |u AS (SELECT * FROM wa UNION ALL SELECT * FROM wl)
              |SELECT strategy, n_batches, tok_total, tok_padded,
              |       round(1.0 - tok_total / CAST(tok_padded AS DOUBLE), 4)
              |         AS waste_pct
              |FROM u ORDER BY strategy""".stripMargin)),

    // Distributed-dataloader balance audit: deterministic epoch-1
    // shuffle assigns every doc to one of 16 workers by md5, and the
    // report is each worker's doc/token load plus its deviation from
    // the mean — the straggler check a multi-GPU training job runs
    // before trusting a sharding function. Pure map + one agg; exact
    // integer token sums.
    "pipe_loader_balance" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val dec = "decimal(38,0)"
        val w = Tables.documents(s, d)
          .select(
            (md5Long(concat(lit("ep1:"), col("doc_id").cast("string"))) % 16)
              .as("worker"),
            size(graft.text.TextPrimitives.tokens(col("text"))).cast("long")
              .as("nt"))
          .groupBy("worker")
          .agg(count(lit(1)).as("n_docs"), sum(col("nt").cast(dec)).as("tok"))
          .localCheckpoint(eager = false) // totals + per-worker rows
        val tot = w.agg(sum(col("tok")).as("tt"), count(lit(1)).as("nw"))
        w.crossJoin(broadcast(tot))
          .select(col("worker"), col("n_docs"),
            col("tok").cast("long").as("tokens"),
            round(col("tok").cast("double")
              / (col("tt").cast("double") / col("nw")) - 1.0, 4).as("dev_pct"))
          .orderBy("worker")
      },
      Some("""WITH t AS (
             |  SELECT ('0x' || substr(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS worker,
             |         CAST(len(regexp_split_to_array(lower(trim(text)), '\s+'))
             |              AS BIGINT) AS nt
             |  FROM documents),
             |w AS (SELECT worker, CAST(count(*) AS BIGINT) AS n_docs,
             |             sum(nt) AS tok
             |      FROM t GROUP BY worker),
             |tt AS (SELECT sum(tok) AS tt, CAST(count(*) AS BIGINT) AS nw FROM w)
             |SELECT worker, n_docs, CAST(tok AS BIGINT) AS tokens,
             |       round(CAST(tok AS DOUBLE)
             |             / (CAST(tt AS DOUBLE) / nw) - 1.0, 4) AS dev_pct
             |FROM w, tt ORDER BY worker""".stripMargin)),

    // Count-preserving dedup audit: keep one canonical doc per
    // near-dup cluster but WEIGHT it by cluster size (the LM-training
    // alternative to hard dropping), and report how well the weighted
    // token mass reproduces the raw corpus — the relative error is
    // exactly the within-cluster length spread, i.e. what the "weight
    // instead of drop" shortcut silently assumes away. Runs on the
    // shared cluster-label table; exact integer sums.
    "pipe_dedup_weights" -> Q(
      (s, d) => {
        val docs = docsUnder(s, d, 200)
        val labels = clusterLabels(s, d)
        val toks = docs.select(col("doc_id"),
          size(graft.text.TextPrimitives.tokens(col("text"))).cast("long")
            .as("nt"))
        val sz = labels.groupBy("cluster").agg(count(lit(1)).as("w"))
        labels.join(toks, "doc_id").join(sz, "cluster")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("doc_id") === col("cluster"), 1L).otherwise(0L))
              .as("n_kept"),
            sum(col("nt")).as("tok_raw"),
            sum(when(col("doc_id") === col("cluster"), col("nt") * col("w"))
              .otherwise(0L)).as("tok_weighted"))
          .withColumn("rel_err",
            round(abs(col("tok_weighted") - col("tok_raw"))
              / col("tok_raw").cast("double"), 4))
      },
      Some(s"""WITH RECURSIVE sig AS (
              |${graft.dedup.Dedup.minhashSigSql(5, 8, "doc_id < 200")}),
              |bands AS (${(0 until 4).map(b =>
                 s"SELECT doc_id, $b AS b, concat_ws('_', m${2 * b}, m${2 * b + 1}) AS bv FROM sig")
                 .mkString(" UNION ALL ")}),
              |prs AS (
              |  SELECT DISTINCT a.doc_id AS da, b2.doc_id AS db
              |  FROM bands a JOIN bands b2 ON a.b = b2.b AND a.bv = b2.bv AND a.doc_id < b2.doc_id),
              |edges AS (SELECT da, db FROM prs UNION ALL SELECT db, da FROM prs),
              |reach(src, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 200
              |  UNION
              |  SELECT e.da, r.lbl FROM reach r JOIN edges e ON e.db = r.src),
              |cc AS (SELECT src AS doc_id, min(lbl) AS cluster FROM reach GROUP BY src),
              |tk AS (SELECT doc_id,
              |         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS nt
              |       FROM documents WHERE doc_id < 200),
              |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS w FROM cc GROUP BY cluster),
              |j AS (SELECT cc.doc_id, cc.cluster, tk.nt, sz.w
              |      FROM cc JOIN tk USING (doc_id) JOIN sz USING (cluster))
              |SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |       CAST(sum(CASE WHEN doc_id = cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |       CAST(sum(nt) AS BIGINT) AS tok_raw,
              |       CAST(sum(CASE WHEN doc_id = cluster THEN nt * w ELSE 0 END) AS BIGINT) AS tok_weighted,
              |       round(abs(sum(CASE WHEN doc_id = cluster THEN nt * w ELSE 0 END)
              |                 - sum(nt)) / CAST(sum(nt) AS DOUBLE), 4) AS rel_err
              |FROM j""".stripMargin)),

    // Epoch-shuffle independence audit: Pearson correlation between
    // two md5 epoch orders (seeds ep1/ep2) over every doc — if
    // consecutive epochs correlate, the "reshuffled" curriculum is a
    // lie and batch composition repeats. Exact integer hash units
    // into the all-integer correlation form; the companion to
    // stat_hash_uniformity's marginal check (uniform marginals can
    // still be jointly dependent).
    "pipe_shuffle_independence" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val dec = "decimal(38,0)"
        val h = Tables.documents(s, d)
          .select(
            pmod(md5Long(concat(lit("ep1:"), col("doc_id").cast("string"))),
              lit(1000000)).as("a"),
            pmod(md5Long(concat(lit("ep2:"), col("doc_id").cast("string"))),
              lit(1000000)).as("b"))
        h.agg(count(lit(1)).as("n"),
            sum(col("a").cast(dec)).as("sa"), sum(col("b").cast(dec)).as("sb"),
            sum((col("a") * col("a")).cast(dec)).as("saa"),
            sum((col("b") * col("b")).cast(dec)).as("sbb"),
            sum((col("a") * col("b")).cast(dec)).as("sab"))
          .select(col("n").as("n_docs"),
            round((col("n") * col("sab") - col("sa") * col("sb")).cast("double")
              / (sqrt((col("n") * col("saa") - col("sa") * col("sa"))
                  .cast("double"))
                * sqrt((col("n") * col("sbb") - col("sb") * col("sb"))
                  .cast("double"))), 6).as("pearson_r"))
          .withColumn("independent_ok",
            (abs(col("pearson_r")) < lit(3.0)
              / sqrt(col("n_docs").cast("double"))).cast("long"))
      },
      Some("""WITH h AS (
             |  SELECT ('0x' || substr(md5('ep1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS a,
             |         ('0x' || substr(md5('ep2:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 AS b
             |  FROM documents),
             |s AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n, sum(a) AS sa, sum(b) AS sb,
             |         sum(a * a) AS saa, sum(b * b) AS sbb, sum(a * b) AS sab
             |  FROM h),
             |r AS (
             |  SELECT n AS n_docs,
             |         round(CAST(n * sab - sa * sb AS DOUBLE)
             |               / (sqrt(CAST(n * saa - sa * sa AS DOUBLE))
             |                  * sqrt(CAST(n * sbb - sb * sb AS DOUBLE))), 6)
             |           AS pearson_r
             |  FROM s)
             |SELECT n_docs, pearson_r,
             |       CAST(abs(pearson_r) < 3.0 / sqrt(CAST(n_docs AS DOUBLE))
             |            AS BIGINT) AS independent_ok
             |FROM r""".stripMargin)),

    // dedup-method overlap audit on the bounded subset: every doc
    // classified by (exact-dup?, near-dup?) — the 2×2 that says
    // whether MinHash-style near-dup is actually catching anything
    // beyond byte-identical copies (if only_near ≈ 0, the cheap exact
    // pass suffices for this corpus). Reuses the shared edge build.
    "pipe_dedup_overlap" -> Q(
      (s, d) => {
        val docs = docsUnder(s, d, 120)
        val exactDup = docs.groupBy(md5(col("text")).as("h"))
          .agg(count(lit(1)).as("c"), collect_list("doc_id").as("ids"))
          .filter(col("c") > 1)
          .select(explode(col("ids")).as("doc_id"), lit(1L).as("is_exact"))
        val e0 = graft.dedup.Dedup.ngramJaccard(docs, 5, 0.25)
          .select(col("da"), col("db"))
        val nearDup = e0.select(explode(array(col("da"), col("db"))).as("doc_id"))
          .distinct().withColumn("is_near", lit(1L))
        docs.select("doc_id")
          .join(exactDup, Seq("doc_id"), "left")
          .join(nearDup, Seq("doc_id"), "left")
          .groupBy(coalesce(col("is_exact"), lit(0L)).as("is_exact"),
                   coalesce(col("is_near"), lit(0L)).as("is_near"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("is_exact", "is_near")
      },
      Some(s"""WITH ${dupEdgesSql(120, 0.25)},
              |ex AS (SELECT doc_id, 1 AS is_exact FROM documents
              |       WHERE doc_id < 120 AND md5(text) IN (
              |         SELECT md5(text) FROM documents WHERE doc_id < 120
              |         GROUP BY 1 HAVING count(*) > 1)),
              |nr AS (SELECT DISTINCT v AS doc_id, 1 AS is_near FROM (
              |         SELECT da AS v FROM e0 UNION ALL SELECT db AS v FROM e0)),
              |cls AS (SELECT d.doc_id,
              |               coalesce(ex.is_exact, 0) AS is_exact,
              |               coalesce(nr.is_near, 0) AS is_near
              |        FROM (SELECT doc_id FROM documents WHERE doc_id < 120) d
              |        LEFT JOIN ex USING (doc_id) LEFT JOIN nr USING (doc_id))
              |SELECT CAST(is_exact AS BIGINT) AS is_exact,
              |       CAST(is_near AS BIGINT) AS is_near,
              |       CAST(count(*) AS BIGINT) AS n_docs
              |FROM cls GROUP BY 1, 2 ORDER BY is_exact, is_near""".stripMargin)),

    // smoothed target encoding per event_type (the m-estimate,
    // m = 20): the categorical-feature encoder a tabular model
    // pipeline ships — raw rate vs the prior-shrunk rate that
    // doesn't let rare categories memorize the target. ONE grouped
    // pass + a broadcast 1-row prior.
    "feat_target_encode" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
          .withColumn("y", when(col("value") > 50.0, 1.0).otherwise(0.0))
        val prior = ev.agg(round(avg("y"), 6).as("prior"))
        ev.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("y").as("s"))
          .crossJoin(broadcast(prior))
          .select(col("event_type"), col("n"),
            round(col("s") / col("n"), 6).as("raw_rate"),
            round((col("s") + lit(20.0) * col("prior")) / (col("n") + lit(20.0)), 6)
              .as("te_smooth"),
            col("prior"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
             |                   CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END AS y
             |            FROM events),
             |pr AS (SELECT round(avg(y), 6) AS prior FROM ev),
             |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(y) AS s
             |      FROM ev GROUP BY 1)
             |SELECT event_type, n, round(s / n, 6) AS raw_rate,
             |       round((s + 20.0 * prior) / (n + 20.0), 6) AS te_smooth, prior
             |FROM g, pr ORDER BY event_type""".stripMargin)),

    // hashing-trick collision audit: distinct vocabulary hashed into
    // 1024 feature buckets (md5 mod), reporting load factor, max
    // bucket, and the collision rate — the "is 2^k buckets enough"
    // check in front of hashed bag-of-words features. Two hash aggs
    // over the distinct vocab; nothing touches raw doc rows twice.
    "feat_hash_buckets" -> Q(
      (s, d) => {
        import graft.functions.VectorFunctions.md5Long
        val g = Tables.documents(s, d)
          .select(explode(graft.text.TextPrimitives.tokens(col("text"))).as("tok"))
          .distinct()
          .withColumn("bucket", pmod(md5Long(col("tok")), lit(1024)))
          .groupBy("bucket").agg(count(lit(1)).as("n_toks"))
        g.agg(count(lit(1)).as("n_buckets_used"),
              sum("n_toks").as("n_tokens"),
              max("n_toks").as("max_bucket"),
              sum(when(col("n_toks") > 1, col("n_toks") - 1).otherwise(0L))
                .as("n_collided"))
          .select(col("n_tokens"), col("n_buckets_used"), col("max_bucket"),
            col("n_collided"),
            round(col("n_collided") / col("n_tokens").cast("double"), 6)
              .as("collision_rate"))
      },
      Some("""WITH v AS (SELECT DISTINCT unnest(
             |             regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
             |           FROM documents),
             |g AS (SELECT ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS bucket,
             |             CAST(count(*) AS BIGINT) AS n_toks
             |      FROM v GROUP BY 1)
             |SELECT CAST(sum(n_toks) AS BIGINT) AS n_tokens,
             |       CAST(count(*) AS BIGINT) AS n_buckets_used,
             |       CAST(max(n_toks) AS BIGINT) AS max_bucket,
             |       CAST(sum(CASE WHEN n_toks > 1 THEN n_toks - 1 ELSE 0 END) AS BIGINT) AS n_collided,
             |       round(sum(CASE WHEN n_toks > 1 THEN n_toks - 1 ELSE 0 END)
             |             / CAST(sum(n_toks) AS DOUBLE), 6) AS collision_rate
             |FROM g""".stripMargin)),

    // Weight-of-evidence encoding of source predicting the English
    // label — the interpretable cousin of feat_target_encode:
    // WOE_s = ln(((pos_s+.5)/pos)/((neg_s+.5)/neg)) with the
    // information-value contribution per source; the standard
    // credit-scoring screen for "which categories carry signal"
    // (here: which sources skew English — the routing signal a
    // lang-targeted training mix keys on). Exact integer counts into
    // one ln per source (round-4); smoothing keeps empty cells finite.
    "feat_woe" -> Q(
      (s, d) => {
        val g = Tables.documents(s, d).groupBy("source")
          .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"),
            sum(when(col("lang") === "en", 0L).otherwise(1L)).as("neg"))
        val tot = g.agg(sum("pos").as("pt"), sum("neg").as("nt"))
        g.crossJoin(broadcast(tot))
          .withColumn("pd", (col("pos") + 0.5) / (col("pt") + 0.5))
          .withColumn("pn", (col("neg") + 0.5) / (col("nt") + 0.5))
          .select(col("source"), col("pos").as("n_en"),
            col("neg").as("n_other"),
            round(log(col("pd") / col("pn")), 4).as("woe"),
            round((col("pd") - col("pn")) * log(col("pd") / col("pn")), 6)
              .as("iv_term"))
          .orderBy("source")
      },
      Some("""WITH g AS (
             |  SELECT source,
             |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |           AS BIGINT) AS pos,
             |         CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
             |           AS BIGINT) AS neg
             |  FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(pos) AS BIGINT) AS pt,
             |             CAST(sum(neg) AS BIGINT) AS nt FROM g)
             |SELECT source, pos AS n_en, neg AS n_other,
             |       round(ln(((pos + 0.5) / (pt + 0.5))
             |                / ((neg + 0.5) / (nt + 0.5))), 4) AS woe,
             |       round(((pos + 0.5) / (pt + 0.5) - (neg + 0.5) / (nt + 0.5))
             |             * ln(((pos + 0.5) / (pt + 0.5))
             |                  / ((neg + 0.5) / (nt + 0.5))), 6) AS iv_term
             |FROM g, t ORDER BY source""".stripMargin))
  )

  val samplingQ: Seq[(String, Q)] = samplingQA ++ samplingQB ++ samplingQC
}
