package graft

import org.apache.spark.sql.functions._

class RelationalSpec extends SparkSpec {

  test("approx_count_distinct within 5% of exact") {
    val li = Tables.lineitem(spark, sfDir)
    // the RAW estimate (not exposed by the oracled projection, which
    // emits the bound decision) stays within the HLL++ rsd envelope
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("a")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n < 0.05, s"$k: exact=$n approx=$a")
    }
    // and the oracled query's decision column agrees
    val rows = SparkEntry.queries("q_approx_distinct")(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("within_5pct")))
  }

  test("text operators survive edge-case inputs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, ""), (2L, "   "), (3L, "héllo wörld ünïcode"),
      (4L, "日本語のテキストです"), (5L, "a"), (6L, "x\ty\nz"))
      .toDF("doc_id", "text")
    val tok = graft.text.TextAnalytics.tokenCounts(docs).collect()
    assert(tok.length == 6)
    tok.foreach(r => assert(r.getAs[Long]("n_ws") >= 0))
    val q = graft.text.TextAnalytics.qualityScores(docs).collect()
    q.foreach { r =>
      val score = r.getAs[Double]("quality")
      assert(!score.isNaN && score >= 0.0 && score <= 1.0, s"quality=$score")
    }
    val lid = graft.text.TextAnalytics.languageId(docs).collect()
    assert(lid.length == 6)
    // embedder parity holds on unicode too
    val emb = graft.embed.HashEmbedder.embedDocs(docs.filter(col("doc_id") === 3),
      "doc_id", "text", 64).head().getSeq[Double](1)
    val local = graft.embed.HashEmbedder.embedText("héllo wörld ünïcode", 64)
    emb.zip(local).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("semi/anti counts partition the customer table") {
    val r = SparkEntry.queries("q_semi_anti")(spark, sfDir).head()
    val total = Tables.customer(spark, sfDir).count()
    assert(r.getAs[Long]("n_with") + r.getAs[Long]("n_without") == total)
  }

  test("basket pairing excludes one giant synthetic order, keeps honest pairs") {
    val s = spark
    import s.implicits._
    // 20 giant orders of 300 items each (every item frequent, every
    // basket > BasketCap) — uncapped this is 20·C(300,2) ≈ 900k
    // pairs; plus 30 honest 2-item orders whose pair must survive
    val giant = for (o <- 1L to 20L; p <- 0L until 300L) yield (o, p)
    val honest = for (o <- 100L until 130L; p <- Seq(500L, 501L)) yield (o, p)
    val dir = SparkSpec.tempDir("graft-basket").toString
    (giant ++ honest).toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = SparkEntry.queries("q_basket_pairs")(spark, dir).collect()
    assert(rows.length == 1, rows.take(5).mkString(","))
    assert(rows.head.getAs[Long]("pa") == 500L &&
           rows.head.getAs[Long]("pb") == 501L &&
           rows.head.getAs[Long]("n_both") == 30L, rows.head.mkString(","))
  }
}
