package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

/** Demonstrations (spec-enforced) of the remaining items on the
  * brief's scale checklist: bucketed co-located joins and salted
  * aggregation for skew.
  */
class ScaleTechniquesSpec extends SparkSpec {

  test("salted two-phase aggregate equals the direct aggregate") {
    val ev = Tables.events(spark, sfDir)
    val direct = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 1000))).toSet
    val salted = Skew.saltedAgg(ev, "event_type", salt = 16, sumCol = Some("value"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 1000))).toSet
    assert(salted == direct)
  }

  test("salted join equals the plain join, spread over salt sub-keys") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"))
    val plain = li.join(ord, "l_orderkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q")).head()
    val salted = Skew.saltedJoin(li, ord, "l_orderkey", salt = 8)
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q")).head()
    assert(plain.getLong(0) == salted.getLong(0))
    assert(math.abs(plain.getDouble(1) - salted.getDouble(1)) < 1e-6)
    // no broadcast: the point of salting is the non-broadcastable case
    val p = Skew.saltedJoin(li, ord, "l_orderkey", 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("_salt"), p)
  }

  test("skew profile wires into the salted remedy when top-1 share crosses") {
    val s = spark
    import s.implicits._
    // a corpus where the profiler's own statistic crosses the
    // threshold: one viral key holds 60% of the fact rows (the
    // q_skew_profile top1_share), the rest spread over 200 keys
    val hot = (0 until 600).map(i => (7L, i.toLong))
    val cold = (0 until 400).map(i => ((i % 200) + 100L, i.toLong))
    val fact = (hot ++ cold).toDF("k", "v")
    val dim = (0 until 400).map(i => (i.toLong, s"d$i")).toDF("k", "name")
    // the profile statistic itself (same formula as q_skew_profile)
    val freq = fact.groupBy("k").count()
    val top1 = freq.agg(max("count").cast("double") / sum("count")).head().getDouble(0)
    assert(top1 > 0.2, s"fixture must cross the threshold, got $top1")
    // profile -> remedy: the salted path must ENGAGE on this corpus...
    val pj = Skew.profiledJoin(fact, dim, "k", salt = 8, hotShare = 0.2)
    assert(pj.salted, s"top-1 share ${pj.top1Share} crossed 0.2 but the salted path did not engage")
    assert(math.abs(pj.top1Share - top1) < 1e-12)
    // ...the plan actually carries the salt in the join key...
    val plan = pj.df.queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), plan)
    // ...and the result is row-identical to the plain join
    val plain = fact.join(dim, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val salted = pj.df.select("k", "v", "name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(salted == plain)
    // uniform corpus: the profiler stays under threshold and the
    // plain single-shuffle join is chosen (no salt replication)
    val uniform = (0 until 1000).map(i => ((i % 200).toLong, i.toLong)).toDF("k", "v")
    val pu = Skew.profiledJoin(uniform, dim, "k", salt = 8, hotShare = 0.2)
    assert(!pu.salted && pu.top1Share <= 0.2)
    assert(!pu.df.queryExecution.executedPlan.toString.contains("_salt"))
    // the standing-audit fast path: a supplied share skips the scan
    val pk = Skew.profiledJoin(fact, dim, "k", salt = 8, hotShare = 0.2,
      knownTop1Share = Some(0.6))
    assert(pk.salted && pk.top1Share == 0.6)
  }

  test("bloom pruning keeps every matching key and drops most others") {
    val li = Tables.lineitem(spark, sfDir).select("l_orderkey", "l_quantity")
    val dim = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 400000) // selective small side
      .select(col("o_orderkey").as("l_orderkey"))
    val matching = li.join(dim, Seq("l_orderkey"), "left_semi").count()
    assert(matching > 0)
    val pruned = Skew.bloomPrune(li, dim, "l_orderkey",
      expectedItems = 10000, fpp = 0.01)
    // no false negatives: the semi-join over the pruned side is intact
    assert(pruned.join(dim, Seq("l_orderkey"), "left_semi").count() == matching)
    // and the pruned scan is a small superset, nowhere near the full table
    val total = li.count()
    val kept = pruned.count()
    assert(kept >= matching && kept < total / 2, s"kept=$kept of $total, matching=$matching")
  }

  test("totally-ordered export: ranges disjoint across partitions, sorted within") {
    val docs = Tables.documents(spark, sfDir)
    val out = graft.ops.Export.totallyOrdered(docs, 4, col("doc_id"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), plan) // sampled splits, no single reducer
    val perPart = out.select(col("doc_id"),
        org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .collect().map(r => (r.getInt(1), r.getLong(0)))
    val byPart = perPart.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (p, rows) => (p, rows.map(_._2).toSeq) }
    // sorted within each partition
    byPart.foreach { case (_, ids) => assert(ids == ids.sorted) }
    // disjoint, increasing ranges across partitions
    byPart.sliding(2).foreach {
      case Seq((_, a), (_, b)) => assert(a.last <= b.head)
      case _ =>
    }
    assert(byPart.map(_._2.size).sum == docs.count())
  }

  test("bucketed tables join without an exchange") {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    assert(wh.contains("graft-wh"), s"warehouse should be temp: $wh")
    Tables.orders(spark, sfDir)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.lineitem(spark, sfDir)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")
    // force a non-broadcast plan so the bucket layout is what avoids
    // the shuffle (at real scale neither side would broadcast anyway)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-located: SortMergeJoin with NO shuffle on either side
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      val expected = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
        .count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("KMV vocabulary sketches estimate exact overlap within sketch error") {
    // exact per-source-pair vocabulary Jaccard (the text_source_similarity
    // semantics) vs the 64-hash KMV estimate: mean |error| must sit
    // within the k^-1/2 sketch bound with headroom
    val est = SparkEntry.queries("text_kmv_vocab")(spark, sfDir)
      .select("sa", "sb", "jacc_est").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    val exact = SparkEntry.queries("text_source_similarity")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(est.keySet == exact.keySet)
    val errs = est.map { case (k, e) => math.abs(e - exact(k)) }
    val mae = errs.sum / errs.size
    assert(mae < 0.10, s"mean |jaccard error| $mae exceeds the sketch bound")
    assert(errs.max < 0.30, s"worst-case error ${errs.max}")
  }

  test("KMV estimator path (union larger than k) stays within sketch error") {
    import org.apache.spark.sql.types._
    // controlled overlap, vocab ≫ k: A = w0..w999, B = w500..w1499 →
    // |A∪B| = 1500, J = 500/1500 = 1/3; k = 64 ⇒ σ(J) ≈ J/√64
    val a = (0 until 1000).map(i => s"w$i").mkString(" ")
    val b = (500 until 1500).map(i => s"w$i").mkString(" ")
    val dir = SparkSpec.tempDir("graft-kmv").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(0L, a, "en", "srcA", a.length.toLong),
        org.apache.spark.sql.Row(1L, b, "en", "srcB", b.length.toLong)), 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("text_kmv_vocab")(spark, dir).collect()
    assert(r.length == 1)
    val (uEst, jEst) = (r(0).getDouble(2), r(0).getDouble(4))
    assert(math.abs(uEst - 1500) / 1500 < 0.30, s"union_est $uEst vs 1500")
    assert(math.abs(jEst - 1.0 / 3) < 0.20, s"jacc_est $jEst vs 1/3")
  }
}
