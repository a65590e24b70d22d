package graft

/** Invariants of the round-10 fourth-wave diagnostics (regression
  * residual audits, internal consistency, directed-graph centrality,
  * importance-weight health) that the DuckDB oracle can't express.
  */
class Round10dOpsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir).collect()

  test("Granger F is non-negative and the full model never fits worse than AR(1)") {
    val r = run("ts_granger").head
    assert(r.getAs[Long]("n_pairs") > 0)
    val f = r.getAs[Double]("f_stat")
    // RSS_restricted >= RSS_full by construction, so F >= 0
    assert(f >= 0.0, s"F = $f")
    val r2 = r.getAs[Double]("r2_full")
    assert(r2 >= 0.0 && r2 <= 1.0)
  }

  test("Durbin-Watson lives in [0, 4] for every event type") {
    val rows = run("stat_durbin_watson")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dw = r.getAs[Double]("dw")
      assert(dw >= 0.0 && dw <= 4.0, s"${r.mkString(",")}")
      assert(r.getAs[Long]("n_days") >= 2)
    }
  }

  test("Breusch-Pagan flags lineitem's price~quantity heteroscedasticity") {
    val r = run("stat_breusch_pagan").head
    val bp = r.getAs[Double]("bp_stat")
    val p = r.getAs[Double]("p_value")
    // LM = n*R^2 of a regression is non-negative and its chi^2_1
    // survival is a probability; the exact values are pinned by the
    // DuckDB oracle (the synthetic lineitem draws price independently
    // of quantity, so no directional claim is data-valid here)
    assert(bp >= 0.0)
    assert(p >= 0.0 && p <= 1.0)
    assert(r.getAs[Long]("n_rows") > 100)
  }

  test("Cronbach's alpha is at most 1 and item variances are non-negative") {
    val r = run("stat_cronbach").head
    assert(r.getAs[Long]("n_docs") > 0)
    Seq("var_len", "var_tok", "var_vocab").foreach { c =>
      assert(r.getAs[Double](c) >= 0.0, c)
    }
    val a = r.getAs[Double]("alpha")
    // alpha <= 1 always; it can be negative when items anti-correlate
    assert(a <= 1.0, s"alpha = $a")
  }

  test("HITS hub and authority vectors are L1-normalized probability-like scores") {
    val rows = run("graph_hits")
    assert(rows.nonEmpty)
    var sh = 0.0; var sa = 0.0
    rows.foreach { r =>
      val h = r.getAs[Double]("hub"); val a = r.getAs[Double]("authority")
      assert(h >= 0.0 && a >= 0.0, s"${r.mkString(",")}")
      sh += h; sa += a
    }
    assert(math.abs(sh - 1.0) < 1e-4, s"hub mass $sh")
    assert(math.abs(sa - 1.0) < 1e-4, s"authority mass $sa")
  }

  test("Katz centrality is at least the injection constant and ranked descending") {
    val rows = run("graph_katz")
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Double]("katz") >= 1.0, r.mkString(",")))
    val ks = rows.map(_.getAs[Double]("katz"))
    assert(ks.zip(ks.tail).forall { case (a, b) => a >= b }, "descending")
  }

  test("harmonic closeness is positive and bounded by reachable-set size") {
    val rows = run("graph_closeness")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val h = r.getAs[Double]("harmonic"); val n = r.getAs[Long]("n_reached")
      assert(h > 0.0 && n >= 1)
      // each reached node contributes at most 1/1 and at least 1/4
      assert(h <= n + 1e-9 && h >= n / 4.0 - 1e-9, s"${r.mkString(",")}")
    }
  }

  test("hubness mean k-occurrence is exactly k and extremes are consistent") {
    val r = run("emb_hubness").head
    val n = r.getAs[Long]("n_vecs")
    assert(n > 5)
    // every query emits exactly 5 edges, so mean in-degree is 5
    assert(r.getAs[Double]("mean_occ") == 5.0, r.mkString(","))
    assert(r.getAs[Long]("max_occ") >= 5L)
    assert(r.getAs[Long]("n_antihubs") + r.getAs[Long]("n_hubs") <= n)
  }

  test("top eigenvalue lies between mean and total variance") {
    val r = run("emb_top_eigen").head
    val tr = r.getAs[Double]("tr_c"); val l1 = r.getAs[Double]("lambda1")
    val dim = r.getAs[Long]("dim")
    assert(dim == 64L)
    // PSD: lambda_max <= trace; max >= mean eigenvalue = tr/dim
    assert(l1 <= tr + 1e-6, s"l1=$l1 tr=$tr")
    assert(l1 >= tr / dim - 1e-6, s"l1=$l1 tr/dim=${tr / dim}")
    val share = r.getAs[Double]("top_share")
    assert(share > 0.0 && share <= 1.0 + 1e-9)
  }

  test("PACF values are correlations in [-1, 1]") {
    val rows = run("ts_pacf")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("pacf_1", "pacf_2", "pacf_3").foreach { c =>
        if (!r.isNullAt(r.fieldIndex(c))) {
          val v = r.getAs[Double](c)
          assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"$c ${r.mkString(",")}")
        }
      }
    }
  }

  test("DP median release is a real grid value with non-negative error") {
    val r = run("priv_dp_quantile").head
    assert(r.getAs[Long]("n_docs") > 0)
    assert(r.getAs[Double]("eps") == 1.0)
    assert(r.getAs[Long]("dp_median") >= 0L)
    assert(r.getAs[Long]("abs_err") >= 0L)
  }

  test("k-fold token shares sum to 1 over exactly 5 folds") {
    val rows = run("samp_kfold")
    assert(rows.length == 5)
    val s = rows.map(_.getAs[Double]("tok_share")).sum
    assert(math.abs(s - 1.0) < 1e-3, s"shares sum $s")
    rows.foreach(r => assert(r.getAs[Double]("en_dev") >= 0.0))
  }

  test("bloom screen has zero false negatives and consistent counts") {
    val r = run("dedup_bloom_incremental").head
    val hits = r.getAs[Long]("n_bloom_hits")
    val dups = r.getAs[Long]("n_exact_dups")
    val fps = r.getAs[Long]("n_false_pos")
    // every true duplicate's 3 positions are in the filter by
    // construction — a bloom NEVER misses
    assert(hits >= dups, s"hits=$hits dups=$dups")
    assert(hits - dups == fps)
    assert(r.getAs[Double]("load_factor") <= 1.0)
  }

  test("conformance rate equals the allowed-transition mass") {
    val rows = run("ev_conformance")
    assert(rows.nonEmpty)
    val rate = rows.head.getAs[Double]("conformance_rate")
    assert(rate >= 0.0 && rate <= 1.0)
    val tot = rows.map(_.getAs[Long]("n")).sum.toDouble
    val ok = rows.filter(_.getAs[Long]("is_allowed") == 1L)
      .map(_.getAs[Long]("n")).sum.toDouble
    assert(math.abs(ok / tot - rate) < 1e-3)
  }

  test("every video keeps at least one keyframe and never more than its frames") {
    val rows = run("mm_video_keyframes")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val kf = r.getAs[Long]("n_keyframes"); val nf = r.getAs[Long]("n_frames")
      assert(kf >= 1 && kf <= nf, r.mkString(","))
      val ratio = r.getAs[Double]("keep_ratio")
      assert(ratio > 0.0 && ratio <= 1.0)
    }
  }

  test("Theil U2 is the ratio of the two reported RMSEs") {
    val rows = run("ts_theil_u")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getAs[Double]("rmse_model"); val n = r.getAs[Double]("rmse_naive")
      assert(m >= 0.0 && n >= 0.0)
      if (!r.isNullAt(r.fieldIndex("theil_u2")) && n > 0) {
        assert(math.abs(r.getAs[Double]("theil_u2") - m / n) < 1e-2,
          r.mkString(","))
      }
    }
  }

  test("runs count is bounded by the sign count and p is a probability") {
    val rows = run("ts_runs_test")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val runs = r.getAs[Long]("n_runs")
      val n = r.getAs[Long]("n_up") + r.getAs[Long]("n_down")
      assert(runs >= 1 && runs <= n, r.mkString(","))
      if (!r.isNullAt(r.fieldIndex("p_value"))) {
        val p = r.getAs[Double]("p_value")
        assert(p >= 0.0 && p <= 1.0)
      }
    }
  }

  test("Fisher's exact p includes the observed table and is a probability") {
    val r = run("stat_fisher_exact").head
    val p = r.getAs[Double]("p_two_sided")
    // the observed table is always in the rejection set, so p > 0;
    // summing a probability mass function keeps p <= 1
    assert(p > 0.0 && p <= 1.0 + 1e-6, s"p=$p")
    assert(r.getAs[Long]("n_t_conv") + r.getAs[Long]("n_t_no") +
      r.getAs[Long]("n_c_conv") + r.getAs[Long]("n_c_no") > 0)
  }

  test("summaries keep at most 3 sentences per doc, ranked by score") {
    val rows = run("text_extract_summary")
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      val byRk = rs.sortBy(_.getAs[Long]("rk"))
      byRk.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi.getAs[Double]("score") >= lo.getAs[Double]("score"),
            s"rank order broken: ${hi.mkString(",")} vs ${lo.mkString(",")}")
        case _ =>
      }
    }
  }

  test("n-gram novelty rates are shares and the first bucket leads") {
    val rows = run("text_ngram_novelty")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nr = r.getAs[Double]("novelty_rate")
      assert(nr >= 0.0 && nr <= 1.0, r.mkString(","))
    }
    val first = rows.minBy(_.getAs[Long]("bucket"))
    val last = rows.maxBy(_.getAs[Long]("bucket"))
    // the earliest crawl bucket can only see dups within itself
    assert(first.getAs[Double]("novelty_rate") >=
      last.getAs[Double]("novelty_rate") - 1e-9)
  }

  test("deflated eigenvalue is dominated by the top one and both are PSD-consistent") {
    val r = run("emb_deflated_eigen").head
    val l1 = r.getAs[Double]("lambda1"); val l2 = r.getAs[Double]("lambda2")
    assert(l1 > 0.0)
    assert(l2 <= l1 + 1e-3, s"l2=$l2 l1=$l1")
    assert(l2 >= -1e-3, s"deflated matrix stays PSD, l2=$l2")
    val s2 = r.getAs[Double]("top2_share")
    assert(s2 > 0.0 && s2 <= 1.0 + 1e-6)
  }

  test("Bayesian A/B probability is proper and sides with the higher rate") {
    val r = run("stat_bayes_ab").head
    val p = r.getAs[Double]("prob_b_beats_a")
    assert(p > 0.0 && p < 1.0, s"p=$p")
    val ra = r.getAs[Double]("rate_a"); val rb = r.getAs[Double]("rate_b")
    // with comparable arm sizes the posterior must lean toward the
    // arm with the higher observed rate
    if (math.abs(ra - rb) > 0.02) assert((rb > ra) == (p > 0.5), r.mkString(","))
  }

  test("SPRT decisions match the cumulative LLR against the ln 19 bounds") {
    val rows = run("stat_sprt")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getAs[Double]("cum_llr"); val dec = r.getAs[String]("decision")
      val expect = if (c >= 2.9444) "accept_h1"
        else if (c <= -2.9444) "accept_h0" else "continue"
      assert(dec == expect, r.mkString(","))
    }
  }

  test("band curve reports the three configs with their theory thresholds") {
    val rows = run("dedup_band_curve")
    assert(rows.length == 3)
    val byB = rows.map(r => r.getAs[Long]("b") ->
      r.getAs[Double]("est_threshold")).toMap
    assert(math.abs(byB(8L) - 0.3536) < 1e-4)
    assert(math.abs(byB(4L) - 0.7071) < 1e-4)
    assert(math.abs(byB(2L) - 0.9170) < 1e-4)
    // the loosest config (b=8, r=2) can only generate MORE candidates
    // than the strictest (b=2, r=8) on the same signatures
    val cand = rows.map(r => r.getAs[Long]("b") -> r.getAs[Long]("n_cand")).toMap
    assert(cand(8L) >= cand(2L), cand.toString)
  }

  test("tokenizer fertility is at least 1 for every language") {
    val rows = run("pipe_tokenizer_fertility")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // every whitespace word yields at least one BPE-ish token
      assert(r.getAs[Double]("fertility") >= 1.0, r.mkString(","))
      assert(r.getAs[Double]("chars_per_token") > 0.0)
    }
  }

  test("all-but-the-top reduces anisotropy") {
    val r = run("emb_abtt").head
    assert(r.getAs[Long]("n_vecs") > 1)
    val before = r.getAs[Double]("aniso_before")
    val after = r.getAs[Double]("aniso_after")
    // removing the mean and the top direction is exactly the
    // correction for common-direction bias: it can't make it worse
    assert(after <= before + 1e-6, s"before=$before after=$after")
    assert(math.abs(r.getAs[Double]("reduction") - (before - after)) < 1e-5)
  }

  test("CMH statistic is non-negative with a positive common odds ratio") {
    val r = run("stat_cmh").head
    assert(r.getAs[Long]("n_strata") >= 1 && r.getAs[Long]("n_strata") <= 7)
    if (!r.isNullAt(r.fieldIndex("chi2"))) {
      assert(r.getAs[Double]("chi2") >= 0.0)
      val p = r.getAs[Double]("p_value")
      assert(p >= 0.0 && p <= 1.0)
    }
    if (!r.isNullAt(r.fieldIndex("or_mh")))
      assert(r.getAs[Double]("or_mh") > 0.0)
  }

  test("TLS slope is steeper than OLS when both variables carry error") {
    val rows = run("stat_deming")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ols = r.getAs[Double]("slope_ols")
      val tls = r.getAs[Double]("slope_tls")
      // attenuation bias: |OLS| <= |TLS| when the x-variance in the
      // TLS direction is positive (equality only for exact fits)
      assert(math.abs(tls) >= math.abs(ols) - 1e-9, r.mkString(","))
    }
  }

  test("ITS reports both segments and a consistent slope change") {
    val r = run("ev_intervention_its").head
    assert(r.getAs[Long]("n_pre") >= 2 && r.getAs[Long]("n_post") >= 2)
    val sc = r.getAs[Double]("slope_change")
    val sp = r.getAs[Double]("slope_pre"); val so = r.getAs[Double]("slope_post")
    assert(math.abs(sc - (so - sp)) < 1e-5)
  }

  test("cointegration t-stat exists and rho implies mean reversion direction") {
    val r = run("ts_cointegration").head
    assert(r.getAs[Long]("n_days") > 2)
    val rho = r.getAs[Double]("rho")
    // Delta-e on lagged-e coefficient of a stationary-ish residual
    // series must be negative (pull back toward the relation)
    assert(rho < 0.5, s"rho=$rho")
    if (!r.isNullAt(r.fieldIndex("adf_t"))) {
      val t = r.getAs[Double]("adf_t")
      assert((t < -2.86) == (r.getAs[Long]("cointegrated_05") == 1L))
    }
  }

  test("Lilliefors D is a distance in [0,1] with a positive critical value") {
    val r = run("stat_lilliefors").head
    val d = r.getAs[Double]("d_stat")
    assert(d >= 0.0 && d <= 1.0)
    assert(r.getAs[Double]("d_crit_05") > 0.0)
    assert(r.getAs[Double]("sigma") > 0.0)
  }

  test("Hosmer-Lemeshow statistic is non-negative with a proper p") {
    val r = run("stat_hosmer_lemeshow").head
    assert(r.getAs[Long]("n_bins") >= 1 && r.getAs[Long]("n_bins") <= 10)
    assert(r.getAs[Double]("hl_chi2") >= 0.0)
    val p = r.getAs[Double]("p_value")
    assert(p >= 0.0 && p <= 1.0)
  }

  test("noisy-max releases exactly one winner") {
    val rows = run("priv_noisy_max")
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("is_released_max")).sum == 1L)
    assert(rows.map(_.getAs[Long]("is_true_max")).sum == 1L)
  }

  test("alignment is non-negative and uniformity is non-positive") {
    val r = run("emb_align_uniform").head
    assert(r.getAs[Long]("n_pairs") > 0)
    assert(r.getAs[Long]("n_align_pairs") <= r.getAs[Long]("n_pairs"))
    // squared distances are >= 0; ln of a mean of exp(-2d2) <= 0
    assert(r.getAs[Double]("alignment") >= 0.0)
    assert(r.getAs[Double]("uniformity") <= 0.0)
  }

  test("event contract audit is internally consistent on clean data") {
    val r = run("pipe_contract_events").head
    val total = r.getAs[Long]("n_violations")
    val parts = Seq("n_null_type", "n_unknown_type", "n_null_user",
      "n_null_value", "n_nan_value", "n_value_range", "n_bad_props",
      "n_ts_range").map(r.getAs[Long])
    assert(parts.sum == total)
    assert(r.getAs[Long]("n_rows") > 0)
    // generated testdata honors its own contract
    assert(total == 0L, s"violations on clean data: ${r.mkString(",")}")
  }

  test("Dunn pairwise tests cover every language pair exactly once") {
    val rows = run("stat_dunn_test")
    val k = rows.flatMap(r => Seq(r.getAs[String]("la"), r.getAs[String]("lb")))
      .distinct.length
    assert(rows.length == k * (k - 1) / 2, s"k=$k pairs=${rows.length}")
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("p"))) {
        val p = r.getAs[Double]("p"); val pb = r.getAs[Double]("p_bonf")
        assert(p >= 0.0 && p <= 1.0)
        assert(pb >= p - 1e-9 && pb <= 1.0, "Bonferroni only inflates")
      }
    }
  }

  test("sign test p is an exact two-sided probability") {
    val r = run("stat_sign_test").head
    assert(r.getAs[Long]("n_up") + r.getAs[Long]("n_down") > 0)
    val p = r.getAs[Double]("p_exact")
    assert(p > 0.0 && p <= 1.0, s"p=$p")
  }

  test("sign test ties are decided exactly, not by float summation noise") {
    // The sf30 escape: a user whose pre/post means are rationally EQUAL
    // must be dropped as a tie, but avg(double) can disagree with
    // itself across addition orders. The crafted trap below fails the
    // float formulation deterministically — (0.1+0.2)/2 is
    // 0.15000000000000002 in IEEE754 while (0.15+0.15)/2 is 0.15, so
    // an avg-based classifier counts user 1 as "up"; the exact
    // cross-multiplied cent-sum idiom (s_post·c_pre vs s_pre·c_post)
    // must call it a tie. User 4 ties across UNEQUAL halves
    // (mean 1.50 from 2 vs 1 observations), pinning the
    // cross-multiplication itself.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val day = 86400000000000L
    val rows = Seq(
      Row(1L, 0L * day, 1L, "view", 0.10, "{}"),
      Row(2L, 0L * day, 1L, "view", 0.20, "{}"),
      Row(3L, 1L * day, 1L, "view", 0.15, "{}"),
      Row(4L, 1L * day, 1L, "view", 0.15, "{}"),
      Row(5L, 0L * day, 2L, "view", 1.00, "{}"),
      Row(6L, 1L * day, 2L, "view", 2.00, "{}"),
      Row(7L, 0L * day, 3L, "view", 2.00, "{}"),
      Row(8L, 1L * day, 3L, "view", 0.50, "{}"),
      Row(9L, 0L * day, 4L, "view", 1.00, "{}"),
      Row(10L, 0L * day, 4L, "view", 2.00, "{}"),
      Row(11L, 1L * day, 4L, "view", 1.50, "{}"))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val dir = SparkSpec.tempDir("graft-signtie").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("stat_sign_test")(spark, dir).head
    assert(r.getAs[Long]("n_up") == 1L, s"tie user counted: $r")
    assert(r.getAs[Long]("n_down") == 1L, r.toString)
    // n=2, kmin=1: p = 2·(C(2,0)+C(2,1))/4 = 1.5 clamped to 1
    assert(r.getAs[Double]("p_exact") == 1.0, r.toString)
  }

  test("stickiness is avg-DAU over MAU and lives in (0, 1]") {
    val rows = run("ev_stickiness")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val st = r.getAs[Double]("stickiness")
      // a window's daily actives never exceed its distinct actives
      assert(st > 0.0 && st <= 1.0 + 1e-9, r.mkString(","))
      assert(r.getAs[Long]("mau") >= r.getAs[Double]("avg_dau") - 1e-9)
    }
  }

  test("post-stratified estimate reweights a real sample toward the truth") {
    val r = run("samp_poststratify").head
    assert(r.getAs[Long]("n_sample") > 0)
    assert(r.getAs[Double]("err_unw") >= 0.0)
    assert(r.getAs[Double]("err_ps") >= 0.0)
    // both estimators are convex combinations of per-lang sample means
    assert(r.getAs[Double]("est_poststrat") > 0.0)
  }

  test("segment migration shares sum to 1 over observed cells") {
    val rows = run("ev_segment_migration")
    assert(rows.nonEmpty)
    val s = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(s - 1.0) < 1e-2, s"share mass $s")
    val segs = Set("none", "one", "repeat")
    rows.foreach { r =>
      assert(segs(r.getAs[String]("seg_pre")) && segs(r.getAs[String]("seg_post")))
    }
  }

  test("seasonal-naive skill compares the two baselines on identical days") {
    val rows = run("ts_backtest_snaive")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val r7 = r.getAs[Double]("rmse_snaive"); val r1 = r.getAs[Double]("rmse_naive1")
      assert(r7 >= 0.0 && r1 >= 0.0)
      if (!r.isNullAt(r.fieldIndex("skill_vs_naive1")) && r1 > 0) {
        assert(math.abs(r.getAs[Double]("skill_vs_naive1") - (1.0 - r7 / r1)) < 1e-2,
          r.mkString(","))
      }
    }
  }

  test("dedup impact keeps at most all docs and removes consistent token mass") {
    val rows = run("text_dedup_impact")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nd = r.getAs[Long]("n_docs"); val nk = r.getAs[Long]("n_kept")
      assert(nk >= 1 && nk <= nd, r.mkString(","))
      assert(r.getAs[Long]("n_removed") == nd - nk)
      assert(r.getAs[Long]("tokens_kept") <= r.getAs[Long]("tokens_total"))
      val share = r.getAs[Double]("token_removed_share")
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  test("modality card covers the three kinds with sane units") {
    val rows = run("mm_modality_card")
    assert(rows.map(_.getAs[String]("modality")).sorted.toSeq ==
      Seq("audio", "text", "video"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_assets") > 0)
      assert(r.getAs[Long]("total_units") > 0)
      val sec = r.getAs[Double]("total_audio_sec")
      if (r.getAs[String]("modality") == "audio") assert(sec > 0.0)
      else assert(sec == 0.0)
    }
  }

  test("Burrows delta is a non-negative distance over the shared vocab") {
    val rows = run("text_burrows_delta")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("delta") >= 0.0)
      assert(r.getAs[Long]("n_terms") <= 50)
      assert(r.getAs[String]("sa") < r.getAs[String]("sb"))
    }
    val ds = rows.map(_.getAs[Double]("delta"))
    assert(ds.zip(ds.tail).forall { case (a, b) => a <= b }, "ascending")
  }

  test("nearest-centroid accuracy is a per-label rate over all vectors") {
    val rows = run("emb_centroid_classifier")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0)
      assert(r.getAs[Long]("n_correct") <= r.getAs[Long]("n"))
    }
  }

  test("overdispersion factor is positive") {
    val r = run("stat_overdispersion").head
    assert(r.getAs[Long]("n_days") > 1)
    val p = r.getAs[Double]("p_pool")
    assert(p > 0.0 && p < 1.0)
    assert(r.getAs[Double]("phi") > 0.0)
  }

  test("Hampel flag rate is a proper share of scored days") {
    val rows = run("ts_hampel")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rate = r.getAs[Double]("flag_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_flagged") <= r.getAs[Long]("n_days_scored"))
    }
  }

  test("covariate balance reports 3 covariates with hash arms balanced") {
    val rows = run("ev_covariate_balance")
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_t") > 1 && r.getAs[Long]("n_c") > 1)
      if (!r.isNullAt(r.fieldIndex("smd"))) {
        // md5 arms are real randomization: imbalance beyond |SMD|=0.5
        // would mean the hash assignment is broken
        assert(math.abs(r.getAs[Double]("smd")) < 0.5, r.mkString(","))
      }
    }
  }

  test("Stirling log-factorial matches exact ln k! to 1e-9 over the whole support") {
    import org.apache.spark.sql.functions._
    val s = spark
    // exact ln k! by summed logs (error ~ k ulps, far below the bound)
    val exact = (0 to 300).scanLeft(0.0)((acc, k) =>
      if (k == 0) 0.0 else acc + math.log(k)).tail
    val got = s.range(301).select(col("id").cast("double").as("k"),
        SparkEntry.lfCol(col("id").cast("double")).as("lf"))
      .collect().map(r => r.getAs[Double]("k").toInt -> r.getAs[Double]("lf"))
      .toMap
    (1 to 300).foreach { k =>
      val err = math.abs(got(k) - exact(k))
      assert(err < 1e-9, s"k=$k err=$err")
    }
    assert(math.abs(got(0)) < 1e-9, s"lf(0)=ln 0! must be 0, got ${got(0)}")
  }

  test("capture-recapture estimates land near the true corpus size") {
    val r = run("samp_capture_recapture").head
    val nt = r.getAs[Long]("n_true")
    assert(nt > 0)
    assert(r.getAs[Long]("n12") <= math.min(r.getAs[Long]("n1"),
      r.getAs[Long]("n2")))
    // Chapman is defined even with zero overlap and is never negative
    assert(r.getAs[Double]("n_chapman") >= 0.0)
    if (!r.isNullAt(r.fieldIndex("rel_err_chapman"))) {
      // two independent 10% frames estimate a 500+ corpus well within 2x
      assert(r.getAs[Double]("rel_err_chapman") < 1.0, r.mkString(","))
    }
  }

  test("session duration shares sum to 1 across the bands") {
    val rows = run("ev_session_durations")
    assert(rows.nonEmpty)
    val s = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(s - 1.0) < 1e-2, s"share mass $s")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sessions") > 0)
      assert(r.getAs[Double]("avg_dur_sec") >= 0.0)
    }
  }

  test("Matryoshka curve recalls are shares and full-dim recall is exact") {
    val rows = run("vec_matryoshka_curve")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall_at_10")
      assert(rec > 0.0 && rec <= 1.0, r.mkString(","))
    }
    // dim = 64 IS the truth ranking: recall must be exactly 1
    rows.filter(_.getAs[Long]("dim") == 64L).foreach { r =>
      assert(r.getAs[Double]("recall_at_10") == 1.0, r.mkString(","))
    }
  }

  test("ESS is between 1 and n_docs for every source") {
    val rows = run("samp_ess")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      val ess = r.getAs[Double]("ess")
      assert(ess >= 1.0 - 1e-9 && ess <= n + 1e-9, s"${r.mkString(",")}")
      val ratio = r.getAs[Double]("ess_ratio")
      assert(ratio > 0.0 && ratio <= 1.0 + 1e-9)
    }
  }
}
