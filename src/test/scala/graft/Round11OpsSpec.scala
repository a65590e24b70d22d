package graft

import org.apache.spark.sql.functions._

/** Invariants of the round-11 additions that the DuckDB oracle can't
  * express (order-invariance, resampling physics, probability
  * bounds).
  */
class Round11OpsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir).collect()

  test("dataset fingerprint is invariant to partitioning and row order") {
    val base = run("pipe_dataset_hash")
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(base.nonEmpty)
    // same rows, different physical layout → identical fingerprints
    val shuffled = Tables.documents(spark, sfDir)
      .orderBy(col("n_chars"), col("doc_id")).repartition(7)
    val dir = SparkSpec.tempDir("graft-fp").toString
    shuffled.write.parquet(s"$dir/documents.parquet")
    val again = SparkEntry.queries("pipe_dataset_hash")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(again == base)
    // one changed row flips its source's fingerprint
    val mutated = Tables.documents(spark, sfDir)
      .withColumn("text", when(col("doc_id") === 1, lit("tampered"))
        .otherwise(col("text")))
    val dir2 = SparkSpec.tempDir("graft-fp2").toString
    mutated.write.parquet(s"$dir2/documents.parquet")
    val tampered = SparkEntry.queries("pipe_dataset_hash")(spark, dir2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(tampered != base)
    assert(tampered.count { case (k, v) => base(k) != v } == 1,
      "exactly one source fingerprint changes")
  }

  test("Simpson diversity is a probability and orders with concentration") {
    val rows = run("text_simpson")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sdi = r.getAs[Double]("simpson")
      assert(sdi >= 0.0 && sdi <= 1.0, r.mkString(","))
      assert(r.getAs[Long]("n_tok") > 1)
    }
  }

  test("per-source KL vs corpus is non-negative (Gibbs) and zero-ish for the mix") {
    val rows = run("samp_kl")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // smoothing can push a tiny source slightly negative in theory;
      // Gibbs holds for the smoothed distributions themselves
      assert(r.getAs[Double]("kl") >= -1e-9, r.mkString(","))
      assert(r.getAs[Long]("n_tok") > 0)
    }
  }

  test("bootstrap CI brackets the observed mean with sane width") {
    val r = run("stat_bootstrap").head
    val m = r.getAs[Double]("mean_value")
    val lo = r.getAs[Double]("ci_lo"); val hi = r.getAs[Double]("ci_hi")
    assert(lo <= hi)
    assert(lo <= m && m <= hi, s"mean $m outside [$lo, $hi]")
    assert(r.getAs[Long]("n_rows") > 0)
  }

  test("IPW on hash-random arms reproduces the raw rate difference closely") {
    val r = run("ev_ipw").head
    assert(r.getAs[Long]("n_users") > 0)
    val mt = r.getAs[Double]("mu_t"); val mc = r.getAs[Double]("mu_c")
    assert(mt >= 0.0 && mt <= 1.0 && mc >= 0.0 && mc <= 1.0)
    assert(math.abs(r.getAs[Double]("ipw_ate") - (mt - mc)) < 1e-9)
    // arms are hash-random → stratified propensities ≈ marginal, so
    // IPW must land near the unadjusted per-arm conversion diff
    import graft.functions.VectorFunctions.md5Long
    val raw = Tables.events(spark, sfDir)
      .withColumn("arm",
        md5Long(concat(lit("ab:"), col("user_id").cast("string"))) % 2)
      .groupBy("user_id", "arm")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .groupBy("arm").agg(avg("y").as("rate"))
      .collect().map(r2 => r2.getLong(0) -> r2.getDouble(1)).toMap
    assert(math.abs((mt - mc) - (raw(1L) - raw(0L))) < 0.05,
      s"ipw ${mt - mc} vs raw ${raw(1L) - raw(0L)}")
  }

  test("intra-doc dedup counts are consistent and detect a planted repeat") {
    val rows = run("text_para_dedup")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dup_units") >= 0)
      assert(r.getAs[Long]("n_dup_units") < r.getAs[Long]("n_units"),
        r.mkString(","))
    }
    // a doc that repeats one sentence three times reports 2 dup units
    val dir = SparkSpec.tempDir("graft-para").toString
    val s = spark
    import s.implicits._
    Seq((1L, "Same sentence here. Same sentence here. Same sentence here. Unique tail"))
      .toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("text_para_dedup")(spark, dir).head()
    assert(r.getAs[Long]("n_units") == 4 && r.getAs[Long]("n_dup_units") == 2,
      r.mkString(","))
  }

  test("boilerplate grams all clear the df floor and truncate to 40 chars") {
    val rows = run("text_boilerplate")
    rows.foreach { r =>
      assert(r.getAs[Long]("df") >= 3, r.mkString(","))
      assert(r.getAs[String]("gram_prefix").length <= 40)
    }
  }

  test("dedup savings reconcile with the shared cluster table") {
    val r = run("pipe_dedup_savings").head
    val nDocs = r.getAs[Long]("n_docs"); val nKept = r.getAs[Long]("n_kept")
    assert(nKept >= 1 && nKept <= nDocs)
    assert(r.getAs[Long]("tok_kept") <= r.getAs[Long]("tok_raw"))
    val sv = r.getAs[Double]("savings_pct")
    assert(sv >= 0.0 && sv < 1.0)
    // kept docs = distinct clusters (the canonical member per cluster)
    val clusters = SparkEntry.queries("dedup_clusters")(spark, sfDir)
      .select("cluster").distinct().count()
    assert(nKept == clusters, s"$nKept kept vs $clusters clusters")
  }

  test("ESD peeling removes three distinct days with non-negative R") {
    val rows = run("stat_esd")
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Long]("day")).distinct.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("peel_round") >= 1 && r.getAs[Long]("peel_round") <= 3)
      if (!r.isNullAt(r.fieldIndex("r_stat")))
        assert(r.getAs[Double]("r_stat") >= 0.0)
    }
  }

  test("LOCF fills only gaps that have a preceding observation") {
    val rows = run("ts_locf")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n"); val nn = r.getAs[Long]("n_null")
      assert(r.getAs[Long]("n_filled") <= nn && nn <= n, r.mkString(","))
    }
  }

  test("int4 nibble-packed bytes stay in [0, 255] with d/2 bytes per vector") {
    val rows = run("vec_int4_quant")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_bytes") == 32, r.mkString(",")) // d=64 → 32 B
      assert(r.getAs[Long]("byte_min") >= 0L)
      assert(r.getAs[Long]("byte_max") <= 255L)
    }
  }

  test("Chan-merged partials reproduce whole-corpus mean and variance") {
    val r = run("stat_merge_partials").head
    assert(r.getAs[Long]("n_a") > 0 && r.getAs[Long]("n_b") > 0)
    val direct = Tables.events(spark, sfDir)
      .filter(col("value").isNotNull && !isnan(col("value")))
      .agg(avg("value").as("m"), var_pop("value").as("v")).head()
    assert(math.abs(r.getAs[Double]("mean_merged") - direct.getDouble(0)) < 1e-4)
    assert(math.abs(r.getAs[Double]("var_merged") - direct.getDouble(1)) < 1e-3)
  }

  test("dup-graph modularity is a proper fraction over CC communities") {
    val r = run("graph_cc_modularity").head
    assert(r.getAs[Long]("n_edges") > 0)
    assert(r.getAs[Long]("n_communities") >= 1)
    val q = r.getAs[Double]("modularity")
    assert(q >= 0.0 && q < 1.0, s"Q=$q")
  }

  test("NB fit is consistent: overdispersed types get positive r and p in (0,1]") {
    val rows = run("stat_nb_fit")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_users") > 0)
      if (!r.isNullAt(r.fieldIndex("nb_r"))) {
        assert(r.getAs[Double]("nb_r") > 0.0, r.mkString(","))
        assert(r.getAs[Double]("var_c") > r.getAs[Double]("mean_c"))
      }
      if (!r.isNullAt(r.fieldIndex("nb_p"))) {
        val p = r.getAs[Double]("nb_p")
        assert(p > 0.0 && p <= 1.0 + 1e-9, r.mkString(","))
      }
    }
  }

  test("docs contract passes clean generated data and catches planted violations") {
    val r = run("pipe_contract_docs").head
    assert(r.getAs[Long]("n_docs") > 0)
    Seq("null_or_empty_text", "bad_n_chars", "unknown_lang", "dup_ids",
        "out_of_range_len").foreach(c => assert(r.getAs[Long](c) == 0L, c))
    // planted violations are counted
    val s = spark
    import s.implicits._
    val dir = SparkSpec.tempDir("graft-contract").toString
    Seq((1L, "ok text", "en", "srcA", 7L),
        (1L, "dup id", "en", "srcA", 6L),          // dup_ids
        (3L, null.asInstanceOf[String], "en", "srcA", 0L), // null text
        (4L, "short", "xx", "srcA", 5L),            // unknown_lang
        (5L, "mismatch", "de", "srcA", 99L))        // bad_n_chars
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val v = SparkEntry.queries("pipe_contract_docs")(spark, dir).head()
    assert(v.getAs[Long]("dup_ids") == 1L)
    assert(v.getAs[Long]("null_or_empty_text") == 1L)
    assert(v.getAs[Long]("unknown_lang") == 1L)
    assert(v.getAs[Long]("bad_n_chars") >= 1L) // the null row also mismatches? null <> length(null) is null → not counted
  }

  test("t-closeness distances are proper (0 ≤ t ≤ 1) on the l-diversity QI frame") {
    val rows = run("priv_t_nominal")
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[Double]("t_dist")
      assert(t >= 0.0 && t <= 1.0 + 1e-9, r.mkString(","))
      assert(r.getAs[Boolean]("violates_t03") == (t > 0.3))
      assert(r.getAs[Long]("n_rows") > 0)
    }
  }

  test("factorial cells are proper rates and interaction matches the cell algebra") {
    val r = run("stat_factorial").head
    assert(r.getAs[Long]("n_users") > 0)
    val rates = Seq("rate_00", "rate_01", "rate_10", "rate_11")
      .map(c => c -> r.getAs[Double](c))
    rates.foreach { case (c, v) => assert(v >= 0.0 && v <= 1.0, s"$c=$v") }
    val m = rates.toMap
    assert(math.abs(r.getAs[Double]("interaction")
      - ((m("rate_11") - m("rate_10")) - (m("rate_01") - m("rate_00")))) < 1e-3)
  }

  test("QTE quartiles are monotone within each arm") {
    val rows = run("ev_qte").sortBy(_.getAs[Double]("q"))
    assert(rows.length == 3)
    assert(rows.map(_.getAs[Double]("v_t")).sliding(2).forall(p => p(0) <= p(1)))
    assert(rows.map(_.getAs[Double]("v_c")).sliding(2).forall(p => p(0) <= p(1)))
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("qte")
        - (r.getAs[Double]("v_t") - r.getAs[Double]("v_c"))) < 1e-3)
    }
  }

  test("event study is normalized to the r = -1 gap (zero effect there)") {
    val rows = run("ev_event_study")
    assert(rows.nonEmpty)
    val atBase = rows.find(_.getAs[Long]("rel") == -1L)
    assert(atBase.isDefined && math.abs(atBase.get.getAs[Double]("effect")) < 1e-9)
    rows.foreach { r =>
      assert(r.getAs[Long]("rel") >= -5 && r.getAs[Long]("rel") <= 5)
      assert(r.getAs[Double]("rate_t") >= 0.0 && r.getAs[Double]("rate_t") <= 1.0)
    }
  }

  test("hapax counts nest inside the vocabulary and Chao1 dominates it") {
    val hap = run("text_hapax")
    assert(hap.nonEmpty)
    hap.foreach { r =>
      val v = r.getAs[Long]("vocab")
      assert(r.getAs[Long]("hapax") + r.getAs[Long]("dis") <= v, r.mkString(","))
      val sh = r.getAs[Double]("hapax_share")
      assert(sh >= 0.0 && sh <= 1.0)
    }
    val chao = run("samp_chao1")
    chao.foreach { r =>
      // the richness estimate can only ADD unseen types
      assert(r.getAs[Double]("chao1") >= r.getAs[Long]("vocab").toDouble - 1e-9,
        r.mkString(","))
    }
  }

  test("Theil-Sen slope is bracketed by the extreme pairwise slopes") {
    val r = run("ts_theil_sen").head
    assert(r.getAs[Long]("n_pairs") > 0)
    // a median of slopes must lie within the observed slope range —
    // recompute the extremes directly
    val daily = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .groupBy(expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).cast("double").as("y")).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).sortBy(_._1)
    val slopes = for (i <- daily.indices; j <- (i + 1) until daily.length)
      yield (daily(j)._2 - daily(i)._2) / (daily(j)._1 - daily(i)._1)
    val ts = r.getAs[Double]("ts_slope")
    assert(ts >= slopes.min - 1e-6 && ts <= slopes.max + 1e-6)
  }

  test("influence flags only Cook's D over 4/n with proper leverage") {
    val rows = run("stat_influence")
    val n = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(expr("ts div 86400000000000")).distinct().count().toDouble
    rows.foreach { r =>
      val h = r.getAs[Double]("leverage")
      assert(h >= 1.0 / n - 1e-6 && h <= 1.0 + 1e-9, r.mkString(","))
      assert(r.getAs[Double]("cook") > 4.0 / n)
    }
  }

  test("bounce rates are shares and bounced never exceeds sessions") {
    val rows = run("ev_bounce_rate")
    assert(rows.nonEmpty)
    var sess = 0L
    rows.foreach { r =>
      val n = r.getAs[Long]("n_sessions"); val b = r.getAs[Long]("n_bounced")
      assert(b >= 0 && b <= n, r.mkString(","))
      val br = r.getAs[Double]("bounce_rate")
      assert(br >= 0.0 && br <= 1.0)
      sess += n
    }
    // entry-type rollup partitions the session universe
    val total = SparkEntry.queries("ev_sessionize")(spark, sfDir).count()
    assert(sess == total, s"$sess sessions vs $total")
  }
}
