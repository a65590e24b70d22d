package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.store.VectorStore
import graft.store.VectorStore.pointsSql
import graft.QDsl._

/** SparkEntry query family (split from the single-file inventory
  * in round 14 — same query names, same bodies; SparkEntry
  * assembles the full map and the driver contract). */
private[graft] object QExperiments {


  // ---------------------------------------------------------------
  // Experimentation statistics (SURVEY §2 #277–281): the checks an
  // A/B platform runs beside ev_ab_test — assignment health (SRM),
  // causal estimates (diff-in-diff), multiple-testing control
  // (Benjamini–Hochberg), honest uncertainty (Wilson, jackknife).
  // All collapse the fact stream to O(users) or O(|types|) in ONE
  // grouped pass; every window runs on the collapsed frame.
  // ---------------------------------------------------------------

  val experimentsQ: Seq[(String, Q)] = {
    import graft.functions.VectorFunctions.md5Long

    Seq(
    // sample-ratio-mismatch gate: the first thing to check before
    // reading ANY experiment result. Deterministic md5 arm (the
    // ev_ab_test assignment), expected 50/50; chi2 with 1 df
    // simplifies to (n_t-n_c)^2/n. Flag at the 0.001 level (10.828)
    // — SRM checks use a strict alpha because a true mismatch is a
    // pipeline bug, not noise. O(users) after one distinct.
    "ev_srm" -> Q(
      (s, d) => Tables.events(s, d)
        .select("user_id").distinct()
        .withColumn("arm",
          md5Long(concat(lit("ab:"), col("user_id").cast("string"))) % 2)
        .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
             sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"))
        .select(col("n_t"), col("n_c"),
          when(col("n_t") + col("n_c") === 0, lit(null).cast("double"))
            .otherwise(round((col("n_t") - col("n_c"))
              * (col("n_t") - col("n_c"))
              / (col("n_t") + col("n_c")).cast("double"), 4)).as("chi2"),
          when(col("n_t") + col("n_c") === 0, lit(null).cast("long"))
            .otherwise(((col("n_t") - col("n_c")) * (col("n_t") - col("n_c"))
              / (col("n_t") + col("n_c")).cast("double") > 10.828)
              .cast("long")).as("srm_flag")),
      Some("""WITH u AS (
             |  SELECT DISTINCT user_id,
             |         ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm
             |  FROM events),
             |a AS (SELECT CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             |             CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c
             |      FROM u)
             |SELECT n_t, n_c,
             |       CASE WHEN n_t + n_c = 0 THEN NULL
             |            ELSE round((n_t - n_c) * (n_t - n_c) / CAST(n_t + n_c AS DOUBLE), 4) END AS chi2,
             |       CASE WHEN n_t + n_c = 0 THEN NULL
             |            ELSE CAST(((n_t - n_c) * (n_t - n_c) / CAST(n_t + n_c AS DOUBLE)) > 10.828 AS BIGINT)
             |       END AS srm_flag
             |FROM a""".stripMargin)),

    // difference-in-differences on a repeated cross-section: pre/post
    // split at the corpus midpoint day, md5 arm per user, outcome =
    // per-user purchase count in the period. The facts collapse ONCE
    // to the (user, day) frame (checkpointed: bounds + bucketing both
    // read it); the global cut is a broadcast single-row join, never
    // a second fact scan. DiD is computed from the ROUNDED cell
    // means so both engines difference identical values.
    "ev_diff_in_diff" -> Q(
      (s, d) => {
        val ud = Tables.events(s, d)
          .groupBy(col("user_id"), expr("ts div 86400000000000").as("day"))
          .agg(sum(when(col("event_type") === "purchase", 1L)
            .otherwise(0L)).as("p"))
          .localCheckpoint(eager = false) // bounds + bucketing
        val bounds = ud.agg(min("day").as("mn"), max("day").as("mx"))
        val up = ud.crossJoin(broadcast(bounds))
          // div not /: Spark's long `/` is double division, which
          // would ceil the midpoint when mn+mx+1 is odd while the
          // oracle's `//` floors it
          .withColumn("post",
            (col("day") >= expr("(mn + mx + 1) div 2")).cast("long"))
          .withColumn("arm",
            md5Long(concat(lit("ab:"), col("user_id").cast("string"))) % 2)
          .groupBy("user_id", "arm", "post")
          .agg(sum("p").as("p"))
        up.agg(
            sum(when(col("arm") === 1 && col("post") === 0, 1L).otherwise(0L)).as("n_t_pre"),
            sum(when(col("arm") === 1 && col("post") === 1, 1L).otherwise(0L)).as("n_t_post"),
            sum(when(col("arm") === 0 && col("post") === 0, 1L).otherwise(0L)).as("n_c_pre"),
            sum(when(col("arm") === 0 && col("post") === 1, 1L).otherwise(0L)).as("n_c_post"),
            round(avg(when(col("arm") === 1 && col("post") === 0, col("p"))), 6).as("y_t_pre"),
            round(avg(when(col("arm") === 1 && col("post") === 1, col("p"))), 6).as("y_t_post"),
            round(avg(when(col("arm") === 0 && col("post") === 0, col("p"))), 6).as("y_c_pre"),
            round(avg(when(col("arm") === 0 && col("post") === 1, col("p"))), 6).as("y_c_post"))
          .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
            col("y_t_pre"), col("y_t_post"), col("y_c_pre"), col("y_c_post"),
            round(col("y_t_post") - col("y_t_pre")
              - (col("y_c_post") - col("y_c_pre")), 6).as("did"))
      },
      Some("""WITH ud AS (
             |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS p
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT min(day) AS mn, max(day) AS mx FROM ud),
             |up AS (
             |  SELECT user_id,
             |         ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm,
             |         CASE WHEN day >= (mn + mx + 1) // 2 THEN 1 ELSE 0 END AS post,
             |         CAST(sum(p) AS BIGINT) AS p
             |  FROM ud, b GROUP BY 1, 2, 3),
             |c AS (SELECT
             |  CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
             |  CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
             |  CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
             |  CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
             |  round(avg(CASE WHEN arm = 1 AND post = 0 THEN p END), 6) AS y_t_pre,
             |  round(avg(CASE WHEN arm = 1 AND post = 1 THEN p END), 6) AS y_t_post,
             |  round(avg(CASE WHEN arm = 0 AND post = 0 THEN p END), 6) AS y_c_pre,
             |  round(avg(CASE WHEN arm = 0 AND post = 1 THEN p END), 6) AS y_c_post
             |  FROM up)
             |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
             |       y_t_pre, y_t_post, y_c_pre, y_c_post,
             |       round(y_t_post - y_t_pre - (y_c_post - y_c_pre), 6) AS did
             |FROM c""".stripMargin)),

    // Benjamini–Hochberg FDR over per-metric A/B tests: one Welch z
    // per event_type (mean `value`, md5 arms), p from the
    // Abramowitz–Stegun 7.1.26 erf polynomial (identical closed-form
    // arithmetic on both engines; z is rounded to 6 BEFORE the
    // polynomial so both sides feed it the same argument). The BH
    // step-up runs on the ≤|types|-row frame: rank by p, k = max
    // rank with p <= rank/m*alpha, reject ranks <= k. One fact scan.
    "stat_fdr" -> Q(
      (s, d) => {
        val g = Tables.events(s, d)
          .filter(col("value").isNotNull && !isnan(col("value")) &&
                  col("event_type").isNotNull)
          .withColumn("arm",
            md5Long(concat(lit("ab:"), col("user_id").cast("string"))) % 2)
          .groupBy("event_type")
          .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
               sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
               avg(when(col("arm") === 1, col("value"))).as("m_t"),
               avg(when(col("arm") === 0, col("value"))).as("m_c"),
               var_samp(when(col("arm") === 1, col("value"))).as("v_t"),
               var_samp(when(col("arm") === 0, col("value"))).as("v_c"))
          .withColumn("se2", col("v_t") / col("n_t") + col("v_c") / col("n_c"))
          .withColumn("z",
            when(col("n_t") < 2 || col("n_c") < 2 || col("se2") <= 0.0,
                 lit(null).cast("double"))
              .otherwise(round((col("m_t") - col("m_c")) / sqrt(col("se2")), 6)))
          // p = 1 - erf(|z|/sqrt(2)) via A&S 7.1.26 (two-sided)
          .withColumn("x", abs(col("z")) / sqrt(lit(2.0)))
          .withColumn("t1", lit(1.0) / (lit(1.0) + lit(0.3275911) * col("x")))
          .withColumn("p",
            when(col("z").isNull, lit(null).cast("double")).otherwise(round(
              col("t1") * (lit(0.254829592) + col("t1") * (lit(-0.284496736)
                + col("t1") * (lit(1.421413741) + col("t1") * (lit(-1.453152027)
                + col("t1") * lit(1.061405429)))))
              * exp(-col("x") * col("x")), 6)))
        val m = g.filter(col("p").isNotNull)
          .select(col("event_type"), col("n_t"), col("n_c"), col("z"), col("p"))
        val wR = Window.orderBy(col("p"), col("event_type"))
        val wAll = Window.partitionBy(lit(1))
        m.withColumn("rank", row_number().over(wR))
          .withColumn("m", count(lit(1)).over(wAll))
          .withColumn("thr", round(col("rank") * lit(0.05) / col("m"), 6))
          .withColumn("k", max(when(col("p") <= col("thr"), col("rank"))
            .otherwise(lit(0))).over(wAll))
          .select(col("event_type"), col("n_t"), col("n_c"), col("z"), col("p"),
            col("rank").cast("long").as("rank"), col("thr"),
            (col("rank") <= col("k")).cast("long").as("reject"))
          .orderBy("rank")
      },
      Some("""WITH e AS (
             |  SELECT event_type, value,
             |         ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm
             |  FROM events
             |  WHERE value IS NOT NULL AND NOT isnan(value) AND event_type IS NOT NULL),
             |g AS (
             |  SELECT event_type,
             |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             |         avg(CASE WHEN arm = 1 THEN value END) AS m_t,
             |         avg(CASE WHEN arm = 0 THEN value END) AS m_c,
             |         var_samp(CASE WHEN arm = 1 THEN value END) AS v_t,
             |         var_samp(CASE WHEN arm = 0 THEN value END) AS v_c
             |  FROM e GROUP BY event_type),
             |z AS (
             |  SELECT *, CASE WHEN n_t < 2 OR n_c < 2 OR v_t / n_t + v_c / n_c <= 0.0 THEN NULL
             |                 ELSE round((m_t - m_c) / sqrt(v_t / n_t + v_c / n_c), 6) END AS z
             |  FROM g),
             |p AS (
             |  SELECT event_type, n_t, n_c, z,
             |         CASE WHEN z IS NULL THEN NULL ELSE round(
             |           (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
             |            * (0.254829592 + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
             |             * (-0.284496736 + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
             |              * (1.421413741 + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
             |               * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))))
             |                * 1.061405429))))
             |           * exp(-(abs(z) / sqrt(2.0)) * (abs(z) / sqrt(2.0))), 6) END AS p
             |  FROM z),
             |r AS (
             |  SELECT event_type, n_t, n_c, z, p,
             |         CAST(row_number() OVER (ORDER BY p, event_type) AS BIGINT) AS rank,
             |         count(*) OVER () AS m
             |  FROM p WHERE p IS NOT NULL),
             |t AS (
             |  SELECT *, round(rank * 0.05 / m, 6) AS thr FROM r),
             |k AS (
             |  SELECT *, max(CASE WHEN p <= thr THEN rank ELSE 0 END) OVER () AS k FROM t)
             |SELECT event_type, n_t, n_c, z, p, rank, thr,
             |       CAST(rank <= k AS BIGINT) AS reject
             |FROM k ORDER BY rank""".stripMargin)),

    // Wilson score interval per event_type: of the users who ever
    // emit the type, what share converts (any purchase), with the
    // interval that stays honest at small n and extreme rates where
    // the Wald interval collapses. The fact stream collapses ONCE to
    // per-user (conv flag, type set); explode of the per-user type
    // set replaces the second scan a distinct-pairs join would cost.
    "stat_wilson_ci" -> Q(
      (s, d) => {
        val u = Tables.events(s, d)
          .groupBy("user_id")
          .agg((sum(when(col("event_type") === "purchase", 1L)
                 .otherwise(0L)) >= 13).cast("long").as("conv"),
               collect_set(when(col("event_type").isNotNull, col("event_type")))
                 .as("types"))
        u.select(explode(col("types")).as("event_type"), col("conv"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_users"), sum("conv").as("x_conv"))
          .withColumn("ph", col("x_conv") / col("n_users").cast("double"))
          .withColumn("den", lit(1.0) + lit(1.96) * lit(1.96) / col("n_users"))
          .withColumn("ctr",
            (col("ph") + lit(1.96) * lit(1.96) / (lit(2.0) * col("n_users"))) / col("den"))
          .withColumn("half",
            lit(1.96) * sqrt(col("ph") * (lit(1.0) - col("ph")) / col("n_users")
              + lit(1.96) * lit(1.96)
                / (lit(4.0) * col("n_users") * col("n_users"))) / col("den"))
          .select(col("event_type"), col("n_users"), col("x_conv"),
            round(col("ph"), 4).as("rate"),
            round(col("ctr") - col("half"), 4).as("ci_lo"),
            round(col("ctr") + col("half"), 4).as("ci_hi"))
          .orderBy("event_type")
      },
      Some("""WITH u AS (
             |  SELECT user_id,
             |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 13 AS BIGINT) AS conv
             |  FROM events GROUP BY user_id),
             |pr AS (SELECT DISTINCT e.user_id, e.event_type FROM events e
             |       WHERE e.event_type IS NOT NULL),
             |g AS (SELECT pr.event_type, CAST(count(*) AS BIGINT) AS n_users,
             |             CAST(sum(u.conv) AS BIGINT) AS x_conv
             |      FROM pr JOIN u ON pr.user_id = u.user_id
             |      GROUP BY pr.event_type),
             |w AS (SELECT *, x_conv / CAST(n_users AS DOUBLE) AS ph,
             |             1.0 + 1.96 * 1.96 / n_users AS den
             |      FROM g)
             |SELECT event_type, n_users, x_conv, round(ph, 4) AS rate,
             |       round((ph + 1.96 * 1.96 / (2.0 * n_users)) / den
             |         - 1.96 * sqrt(ph * (1.0 - ph) / n_users
             |             + 1.96 * 1.96 / (4.0 * n_users * n_users)) / den, 4) AS ci_lo,
             |       round((ph + 1.96 * 1.96 / (2.0 * n_users)) / den
             |         + 1.96 * sqrt(ph * (1.0 - ph) / n_users
             |             + 1.96 * 1.96 / (4.0 * n_users * n_users)) / den, 4) AS ci_hi
             |FROM w ORDER BY event_type""".stripMargin)),

    // leave-one-user-out jackknife for a ratio-of-sums metric
    // (purchases per event): the delta-method-free SE every
    // experimentation platform needs for ratio metrics, where
    // user-level averaging is biased. NO per-user recompute pass:
    // R_(i) = (Sx-x_i)/(Sn-n_i) from broadcast totals, so the whole
    // estimator is one O(users) map + var_samp (stable central
    // moments on both engines; Σ(R_i-R̄)² = (K-1)·var_samp).
    "stat_jackknife" -> Q(
      (s, d) => {
        val u = Tables.events(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
               sum(when(col("event_type") === "purchase", 1L)
                 .otherwise(0L)).as("x"))
          .localCheckpoint(eager = false) // totals + leave-one-out
        val tot = u.agg(sum("n").as("sn"), sum("x").as("sx"),
                        count(lit(1)).as("k"))
        u.crossJoin(broadcast(tot))
          .withColumn("ri",
            when(col("sn") === col("n"), lit(null).cast("double"))
              .otherwise((col("sx") - col("x"))
                / (col("sn") - col("n")).cast("double")))
          .agg(first("k").as("k"),
               round(first("sx") / first("sn").cast("double"), 6).as("r"),
               count(col("ri")).as("kk"), var_samp(col("ri")).as("v"))
          .select(col("k"),
            col("r"),
            when(col("kk") < 2, lit(null).cast("double"))
              .otherwise(round(sqrt((col("kk") - 1).cast("double")
                * (col("kk") - 1) / col("kk") * col("v")), 6)).as("se_jack"))
          .withColumn("ci_lo",
            when(col("se_jack").isNull, lit(null).cast("double"))
              .otherwise(round(col("r") - lit(1.96) * col("se_jack"), 6)))
          .withColumn("ci_hi",
            when(col("se_jack").isNull, lit(null).cast("double"))
              .otherwise(round(col("r") + lit(1.96) * col("se_jack"), 6)))
      },
      Some("""WITH u AS (
             |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
             |  FROM events GROUP BY user_id),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS sn, CAST(sum(x) AS BIGINT) AS sx,
             |             CAST(count(*) AS BIGINT) AS k
             |      FROM u),
             |l AS (SELECT u.*, t.sn, t.sx, t.k,
             |             CASE WHEN t.sn = u.n THEN NULL
             |                  ELSE (t.sx - u.x) / CAST(t.sn - u.n AS DOUBLE) END AS ri
             |      FROM u, t),
             |a AS (SELECT max(k) AS k, round(max(sx) / CAST(max(sn) AS DOUBLE), 6) AS r,
             |             CAST(count(ri) AS BIGINT) AS kk, var_samp(ri) AS v
             |      FROM l)
             |SELECT k, r,
             |       CASE WHEN kk < 2 THEN NULL
             |            ELSE round(sqrt(CAST(kk - 1 AS DOUBLE) * (kk - 1) / kk * v), 6) END AS se_jack,
             |       CASE WHEN kk < 2 THEN NULL
             |            ELSE round(r - 1.96 * CASE WHEN kk < 2 THEN NULL
             |              ELSE round(sqrt(CAST(kk - 1 AS DOUBLE) * (kk - 1) / kk * v), 6) END, 6) END AS ci_lo,
             |       CASE WHEN kk < 2 THEN NULL
             |            ELSE round(r + 1.96 * CASE WHEN kk < 2 THEN NULL
             |              ELSE round(sqrt(CAST(kk - 1 AS DOUBLE) * (kk - 1) / kk * v), 6) END, 6) END AS ci_hi
             |FROM a""".stripMargin)))
  }

  val vectorStore: Seq[(String, Q)] = Seq(
    "vs_search_topk" -> Q(
      (s, d) => VectorStore.search(
        VectorStore.pointsPartitioned(s, d), userId = 2,
        qdf = VectorStore.queryVecOf(s, d, 42), limit = 10),
      Some(s"""$pointsSql,
              |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42)
              |SELECT vector_id, doc_id, chunk_id, title, ${sqlScore("p.embedding", "q.qv")} AS score
              |FROM points p, q WHERE p.user_id = 2
              |ORDER BY score DESC, vector_id LIMIT 10""".stripMargin)),

    // multi-tenant batched search: one query per user (vec 40+u),
    // every tenant served by ONE job — user_id equi-join + the
    // map-side-bounded TopK aggregate per user; no global sort
    "vs_search_all" -> Q(
      (s, d) => {
        val qs = Tables.embeddings(s, d)
          .filter(col("vec_id") >= 40 && col("vec_id") < 48)
          .select((col("vec_id") % 8).as("user_id"), col("embedding").as("q"))
        VectorStore.searchAll(VectorStore.pointsPartitioned(s, d), qs, 3)
      },
      Some(s"""$pointsSql,
              |q AS (SELECT vec_id % 8 AS user_id, embedding::DOUBLE[] AS qv
              |      FROM embeddings WHERE vec_id >= 40 AND vec_id < 48),
              |sc AS (SELECT p.user_id, p.vector_id,
              |              ${sqlScore("p.embedding", "q.qv")} AS score
              |       FROM points p JOIN q USING (user_id))
              |SELECT user_id, rnk, vector_id, score FROM (
              |  SELECT *, CAST(row_number() OVER (PARTITION BY user_id
              |              ORDER BY score DESC, vector_id) AS BIGINT) AS rnk
              |  FROM sc)
              |WHERE rnk <= 3 ORDER BY user_id, rnk""".stripMargin)),

    // grouped search (the "search groups" API): best chunk per doc,
    // top-5 docs — per-doc bounded window, never global
    "vs_search_grouped" -> Q(
      (s, d) => VectorStore.searchGrouped(
        VectorStore.pointsPartitioned(s, d), userId = 2,
        qdf = VectorStore.queryVecOf(s, d, 42), groups = 5),
      Some(s"""$pointsSql,
              |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42)
              |SELECT doc_id, vector_id, chunk_id, score FROM (
              |  SELECT doc_id, vector_id, chunk_id, score,
              |         row_number() OVER (PARTITION BY doc_id
              |                            ORDER BY score DESC, vector_id) AS rn
              |  FROM (SELECT p.doc_id, p.vector_id, p.chunk_id,
              |               ${sqlScore("p.embedding", "q.qv")} AS score
              |        FROM points p, q WHERE p.user_id = 2))
              |WHERE rn = 1 ORDER BY score DESC, doc_id LIMIT 5""".stripMargin)),

    // diversified search on the collection path: the reference's
    // search_query + MMR (λ=0.5) over a top-20 pool from the user's
    // partition-pruned collection — "ten near-copy chunks" becomes
    // five relevant-but-distinct ones
    "vs_search_mmr" -> Q(
      (s, d) => {
        val pts = VectorStore.pointsPartitioned(s, d)
          .filter(col("user_id") === 2)
          .select(col("vector_id").as("vec_id"), col("embedding"))
        val q = VectorStore.queryVecOf(s, d, 42).select(col("q").as("qv"))
        graft.ann.Mmr.rerank(pts, q, 20, 5, 0.5)
          .select(col("rank"), col("vec_id").as("vector_id"), col("sim"))
      },
      Some(s"""$pointsSql,
              |qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42),
              |cand AS (SELECT p.vector_id AS vec_id,
              |                ${sqlScore("p.embedding", "qv.qv")} AS sim,
              |                p.embedding::DOUBLE[] AS emb
              |         FROM points p, qv WHERE p.user_id = 2
              |         ORDER BY sim DESC, vec_id LIMIT 20),
              |sel0 AS (SELECT vec_id, sim, emb, 0 AS rank FROM cand WHERE false),
              |${mmrUnrolledSql(5)}
              |SELECT CAST(rank AS BIGINT) AS rank, vec_id AS vector_id, sim
              |FROM sel5 ORDER BY rank""".stripMargin)),

    // recommend by example (positive/negative point ids): query =
    // mean(pos) − mean(neg), association order fixed for the oracle;
    // examples excluded from results
    "vs_recommend" -> Q(
      (s, d) => VectorStore.recommend(
        VectorStore.pointsPartitioned(s, d), userId = 2,
        posIds = Seq(10L, 18L), negIds = Seq(34L), limit = 10),
      Some(s"""$pointsSql,
              |rec AS (
              |  SELECT list_transform(generate_series(1, len(a.embedding)),
              |           i -> (a.embedding[i] + b.embedding[i]) / 2.0 - c.embedding[i]) AS qv
              |  FROM (SELECT embedding FROM embeddings WHERE vec_id = 10) a,
              |       (SELECT embedding FROM embeddings WHERE vec_id = 18) b,
              |       (SELECT embedding FROM embeddings WHERE vec_id = 34) c)
              |SELECT vector_id, doc_id, ${sqlScore("p.embedding", "rec.qv")} AS score
              |FROM points p, rec
              |WHERE p.user_id = 2 AND p.vector_id NOT IN (10, 18, 34)
              |ORDER BY score DESC, vector_id LIMIT 10""".stripMargin)),

    "vs_search_threshold" -> Q(
      (s, d) => VectorStore.searchThreshold(
        VectorStore.pointsPartitioned(s, d), VectorStore.queryVecOf(s, d, 7), 0.15),
      Some(s"""$pointsSql,
              |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7)
              |SELECT * FROM (
              |  SELECT user_id, vector_id, ${sqlScore("p.embedding", "q.qv")} AS score
              |  FROM points p, q)
              |WHERE score >= 0.15 ORDER BY score DESC, vector_id""".stripMargin)),

    "vs_search_on_docs" -> Q(
      (s, d) => VectorStore.search(
        VectorStore.pointsPartitioned(s, d), userId = 2,
        qdf = VectorStore.queryVecOf(s, d, 42), limit = 5,
        docIds = Seq(10L, 26L, 42L)),
      Some(s"""$pointsSql,
              |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42)
              |SELECT vector_id, doc_id, chunk_id, title, ${sqlScore("p.embedding", "q.qv")} AS score
              |FROM points p, q WHERE p.user_id = 2 AND doc_id IN (10, 26, 42)
              |ORDER BY score DESC, vector_id LIMIT 5""".stripMargin)),

    "vs_scroll_collection" -> Q(
      (s, d) => VectorStore.scroll(VectorStore.pointsPartitioned(s, d), 3, 20),
      Some(s"""$pointsSql
              |SELECT vector_id, doc_id, chunk_id, title FROM points
              |WHERE user_id = 3 ORDER BY vector_id LIMIT 20""".stripMargin)),

    "vs_scroll_doc" -> Q(
      (s, d) => VectorStore.scrollDoc(VectorStore.pointsPartitioned(s, d), 7, 7, 20),
      Some(s"""$pointsSql
              |SELECT vector_id, doc_id, chunk_id, title FROM points
              |WHERE user_id = 7 AND doc_id = 7 ORDER BY vector_id LIMIT 20""".stripMargin)),

    // keyset pagination: page 2 of user 3's collection, resuming
    // after cursor vector_id = 100
    "vs_scroll_cursor" -> Q(
      (s, d) => VectorStore.scrollAfter(
        VectorStore.pointsPartitioned(s, d), 3, 100, 20),
      Some(s"""$pointsSql
              |SELECT vector_id, doc_id, chunk_id, title FROM points
              |WHERE user_id = 3 AND vector_id > 100
              |ORDER BY vector_id LIMIT 20""".stripMargin)),

    "vs_scroll_docs" -> Q(
      (s, d) => VectorStore.scrollDocs(VectorStore.pointsPartitioned(s, d), 3,
        Seq(3L, 55L, 99L), 20),
      Some(s"""$pointsSql
              |SELECT vector_id, doc_id, chunk_id, title FROM points
              |WHERE user_id = 3 AND doc_id IN (3, 55, 99)
              |ORDER BY vector_id LIMIT 20""".stripMargin)),

    "vs_delete_doc" -> Q(
      (s, d) => VectorStore.deleteDoc(VectorStore.pointsPartitioned(s, d), 1, 17)
        .agg(count(lit(1)).as("n"), sum("vector_id").as("sum_vid")),
      Some(s"""$pointsSql
              |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(vector_id) AS BIGINT) AS sum_vid
              |FROM points WHERE NOT (user_id = 1 AND doc_id = 17)""".stripMargin)),

    "vs_delete_by_title" -> Q(
      (s, d) => VectorStore.deleteDocByTitle(VectorStore.pointsPartitioned(s, d), 1, "t33")
        .agg(count(lit(1)).as("n"), sum("vector_id").as("sum_vid")),
      Some(s"""$pointsSql
              |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(vector_id) AS BIGINT) AS sum_vid
              |FROM points WHERE NOT (user_id = 1 AND title = 't33')""".stripMargin)),

    "vs_delete_by_ids" -> Q(
      (s, d) => VectorStore.deleteByIds(VectorStore.pointsPartitioned(s, d), 5, Seq(5L, 13L, 21L))
        .agg(count(lit(1)).as("n"), sum("vector_id").as("sum_vid")),
      Some(s"""$pointsSql
              |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(vector_id) AS BIGINT) AS sum_vid
              |FROM points WHERE NOT (user_id = 5 AND vector_id IN (5, 13, 21))""".stripMargin)),

    "vs_upsert_merge" -> Q(
      (s, d) => {
        val pts = VectorStore.pointsPartitioned(s, d)
        val batch = pts.filter(col("user_id") === 2 && col("doc_id") < 20)
          .withColumn("vector_id", col("vector_id") + 10000)
          .withColumn("embedding", transform(col("embedding"), x => -x))
        VectorStore.upsert(pts, batch)
          .agg(count(lit(1)).as("n"), sum("vector_id").as("sum_vid"),
               round(sum(element_at(col("embedding"), 1).cast("double")), 4).as("s1"))
      },
      Some(s"""$pointsSql,
              |batch AS (
              |  SELECT user_id, vector_id + 10000 AS vector_id, doc_id, chunk_id, title,
              |         list_transform(embedding, x -> -x) AS embedding
              |  FROM points WHERE user_id = 2 AND doc_id < 20),
              |u AS (SELECT *, 0 AS _src FROM points UNION ALL SELECT *, 1 AS _src FROM batch),
              |m AS (SELECT *, row_number() OVER (
              |        PARTITION BY user_id, doc_id, chunk_id
              |        ORDER BY _src DESC, vector_id) AS rn FROM u)
              |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(vector_id) AS BIGINT) AS sum_vid,
              |       round(sum(CAST(embedding[1] AS DOUBLE)),4) AS s1
              |FROM m WHERE rn = 1""".stripMargin)),

    "vs_update_vector" -> Q(
      (s, d) => {
        val nv = VectorStore.queryVecOf(s, d, 7)
          .select(transform(col("q"), x => -x).as("newv"))
        VectorStore.pointsPartitioned(s, d).crossJoin(broadcast(nv))
          .withColumn("embedding",
            when(col("user_id") === 2 && col("doc_id") === 42 && col("chunk_id") === 42,
                 col("newv")).otherwise(col("embedding")))
          .agg(count(lit(1)).as("n"),
               round(sum(element_at(col("embedding"), 1).cast("double")), 4).as("s1"))
      },
      Some(s"""$pointsSql
              |SELECT CAST(count(*) AS BIGINT) AS n, round(sum(CAST(e1 AS DOUBLE)),4) AS s1
              |FROM (
              |  SELECT CASE WHEN user_id = 2 AND doc_id = 42 AND chunk_id = 42
              |              THEN list_transform((SELECT embedding FROM embeddings WHERE vec_id = 7), x -> -x)[1]
              |              ELSE embedding[1] END AS e1
              |  FROM points)""".stripMargin)),

    "vs_scroll_chunk" -> Q(
      (s, d) => VectorStore.scrollChunk(VectorStore.pointsPartitioned(s, d), 7, 7, 207, 20),
      Some(s"""$pointsSql
              |SELECT vector_id, doc_id, chunk_id, title FROM points
              |WHERE user_id = 7 AND doc_id = 7 AND chunk_id = 207
              |ORDER BY vector_id LIMIT 20""".stripMargin)),

    "vs_delete_chunk" -> Q(
      (s, d) => VectorStore.deleteChunk(VectorStore.pointsPartitioned(s, d), 7, 7, 207)
        .agg(count(lit(1)).as("n"), sum("vector_id").as("sum_vid")),
      Some(s"""$pointsSql
              |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(vector_id) AS BIGINT) AS sum_vid
              |FROM points WHERE NOT (user_id = 7 AND doc_id = 7 AND chunk_id = 207)""".stripMargin)),

    // delete all data in a collection (reference document_ingestor
    // :260/:277 — drop the whole user partition)
    "vs_delete_all" -> Q(
      (s, d) => VectorStore.deleteCollection(VectorStore.pointsPartitioned(s, d), 4)
        .agg(count(lit(1)).as("n"), sum("vector_id").as("sum_vid"),
             countDistinct("user_id").as("n_users")),
      Some(s"""$pointsSql
              |SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(vector_id) AS BIGINT) AS sum_vid,
              |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              |FROM points WHERE user_id <> 4""".stripMargin)),

    "vs_list_collections" -> Q(
      (s, d) => VectorStore.listCollections(VectorStore.pointsPartitioned(s, d)),
      Some(s"""$pointsSql
              |SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
              |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              |FROM points GROUP BY user_id ORDER BY user_id""".stripMargin)))

  // regrouped from the round-named inventory files in round 15
  // (pure move — same query names, same bodies)
  val vectorStoreR: Seq[(String, Q)] = Seq(
    // payload-filtered search (the reference's Qdrant Filter on
    // payload fields): predicate pushed below scoring so only matching
    // points are scored — PRE-filtering, the semantics qdrant's
    // filtered search has (and the correctness baseline
    // ann_filtered_recall audits the post-filter shortcut against).
    // Here: user 2's collection narrowed to Title prefix 't1'.
    "vs_search_payload" -> Q(
      (s, d) => VectorStore.searchWhere(
        VectorStore.pointsPartitioned(s, d), userId = 2,
        qdf = VectorStore.queryVecOf(s, d, 42), limit = 5,
        predicate = col("title").startsWith("t1")),
      Some(s"""$pointsSql,
              |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42)
              |SELECT vector_id, doc_id, chunk_id, title,
              |       round(list_cosine_similarity(p.embedding::DOUBLE[], q.qv), 6) + 0.0 AS score
              |FROM points p, q
              |WHERE p.user_id = 2 AND title LIKE 't1%'
              |ORDER BY score DESC, vector_id LIMIT 5""".stripMargin)),

    // search_query(with_vectors = True) — the reference flag that
    // returns stored vectors with the scored results (re-rank /
    // recommend chaining without a second scroll). The API returns
    // the untouched stored float array (VectorStoreSpec pins it
    // bit-equal to the stored embedding); the ORACLE-compared output
    // projects it as vecQ6 integer micro-codes because the verify
    // harness cannot hash/sort a raw array column (r12's one red row:
    // pandas factorize rejects ndarrays).
    "vs_search_vectors" -> Q(
      (s, d) => VectorStore.searchWithVectors(
          VectorStore.pointsPartitioned(s, d), userId = 2,
          qdf = VectorStore.queryVecOf(s, d, 42), limit = 5)
        .withColumn("vec_q6", graft.functions.VectorFunctions.vecQ6(col("embedding")))
        .drop("embedding"),
      Some(s"""$pointsSql,
              |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 42)
              |SELECT vector_id, doc_id, chunk_id, title,
              |       round(list_cosine_similarity(p.embedding::DOUBLE[], q.qv), 6) + 0.0 AS score,
              |       ${VectorStore.vecQ6Sql("p.embedding")} AS vec_q6
              |FROM points p, q WHERE p.user_id = 2
              |ORDER BY score DESC, vector_id LIMIT 5""".stripMargin)),

    // scroll(with_vectors = True) — the reference flag on every
    // scroll_* method (document_ingestor.py:414/:429): page the
    // collection out WITH stored vectors (re-embedding / export).
    // Same vecQ6 oracle convention as vs_search_vectors; the raw
    // array API is spec-pinned in VectorStoreSpec.
    "vs_scroll_vectors" -> Q(
      (s, d) => VectorStore.scrollWithVectors(
          VectorStore.pointsPartitioned(s, d), userId = 3, limit = 12)
        .withColumn("vec_q6", graft.functions.VectorFunctions.vecQ6(col("embedding")))
        .drop("embedding"),
      Some(s"""$pointsSql
              |SELECT vector_id, doc_id, chunk_id, title,
              |       ${VectorStore.vecQ6Sql("embedding")} AS vec_q6
              |FROM points WHERE user_id = 3
              |ORDER BY vector_id LIMIT 12""".stripMargin)),

    // Payload-filtered scroll (the reference's scroll with a Qdrant
    // Filter): the title predicate prunes inside the partition-pruned
    // user scan, vector_id paging order preserved — completing the
    // payload-filter surface vs_search_payload opened on the search
    // side.
    "vs_scroll_payload" -> Q(
      (s, d) => {
        val coll = VectorStore.pointsPartitioned(s, d)
        coll.filter(col("user_id") === 3 && col("title").startsWith("t1"))
          .select(col("vector_id"), col("doc_id"), col("chunk_id"), col("title"))
          .orderBy("vector_id").limit(10)
      },
      Some(s"""$pointsSql
              |SELECT vector_id, doc_id, chunk_id, title FROM points
              |WHERE user_id = 3 AND title LIKE 't1%'
              |ORDER BY vector_id LIMIT 10""".stripMargin)),

    // point retrieve by id list (the vector-DB `retrieve` API — the
    // get-by-key read beside scroll/search): partition-pruned scan +
    // id IN-filter, stored vectors along (vecQ6 oracle convention;
    // raw array pinned in VectorStoreSpec). 444 % 8 = 4 keeps every
    // id inside user 4's tenancy.
    "vs_retrieve_ids" -> Q(
      (s, d) => VectorStore.retrieve(
          VectorStore.pointsPartitioned(s, d), 4, Seq(4L, 12L, 20L, 444L))
        .withColumn("vec_q6", graft.functions.VectorFunctions.vecQ6(col("embedding")))
        .drop("embedding"),
      Some(s"""$pointsSql
              |SELECT vector_id, doc_id, chunk_id, title,
              |       ${VectorStore.vecQ6Sql("embedding")} AS vec_q6
              |FROM points WHERE user_id = 4 AND vector_id IN (4, 12, 20, 444)
              |ORDER BY vector_id""".stripMargin)),

    // batched search (the vector-DB `search_batch` API): 3 query
    // vectors against one user's collection through the dense cosine
    // kernel — one partition-pruned scan, the batch broadcast once,
    // ≤k candidates per partition per query merged by the bounded
    // TopK aggregate on one partition (never |queries| separate jobs
    // and never a global sort). Self-exclusion is off: query 42 is a
    // point of user 2 and ranks itself first.
    "vs_search_batch" -> Q(
      (s, d) => VectorStore.searchBatch(
        VectorStore.pointsPartitioned(s, d), 2,
        Tables.embeddings(s, d).filter(col("vec_id").isin(5L, 21L, 42L))
          .select(col("vec_id").as("qid"), col("embedding").as("q")), 5),
      Some(s"""$pointsSql,
              |qs AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
              |       FROM embeddings WHERE vec_id IN (5, 21, 42)),
              |sc AS (SELECT qs.qid, p.vector_id,
              |              ${sqlScore("p.embedding", "qs.qv")} AS score
              |       FROM points p, qs WHERE p.user_id = 2),
              |rk AS (SELECT *, row_number() OVER (
              |         PARTITION BY qid ORDER BY score DESC, vector_id) AS rnk
              |       FROM sc)
              |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vector_id, score
              |FROM rk WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin)),

    // facet counts over a payload field (the vector-DB `facet` API):
    // distinct titles in the user's collection with point counts —
    // ONE partition-pruned hash aggregate, ties broken by value.
    "vs_facet_counts" -> Q(
      (s, d) => VectorStore.facetCounts(
        VectorStore.pointsPartitioned(s, d), 3, "title", 10),
      Some(s"""$pointsSql
              |SELECT title, CAST(count(*) AS BIGINT) AS n_points
              |FROM points WHERE user_id = 3
              |GROUP BY title ORDER BY n_points DESC, title LIMIT 10""".stripMargin)),

    // exact point count with a payload filter (the vector-DB `count`
    // API): matching points per collection for a title predicate —
    // one pruned scan with the predicate pushed below any other work,
    // |users| output rows.
    "vs_count_filtered" -> Q(
      (s, d) => VectorStore.pointsPartitioned(s, d)
        .filter(col("title").startsWith("t1"))
        .groupBy("user_id").agg(count(lit(1)).as("n_points"))
        .orderBy("user_id"),
      Some(s"""$pointsSql
              |SELECT user_id, CAST(count(*) AS BIGINT) AS n_points
              |FROM points WHERE title LIKE 't1%'
              |GROUP BY user_id ORDER BY user_id""".stripMargin))
  )
}
