package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ann.Ann

class AnnSpec extends SparkSpec with JobStats {

  private def emb = Tables.embeddings(spark, sfDir)

  /** Window-function formulation of [[Ann.bruteForceTopK]], the oracle
    * it is cross-checked against: shuffles all candidates, null
    * vectors dropped alike.
    */
  private def topKWindow(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    emb.filter(col("embedding").isNotNull)
      .crossJoin(broadcast(queries.filter(col("qv").isNotNull)))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), graft.functions.VectorFunctions.score(
        col("embedding"), col("qv")).as("score"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("qid", "rnk")
  }

  test("brute force topk: k rows per query, rank 1 is the max score") {
    val q = emb.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val res = Ann.bruteForceTopK(emb, q, 5).collect()
    assert(res.length == 15)
    res.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getAs[Long]("rnk"))
      val scores = byRank.map(_.getAs[Double]("score"))
      assert(scores.sameElements(scores.sortBy(-_)))
    }
  }

  test("dense kernel topk is row-identical to the BNLJ formulation") {
    // every vector as a query — the kNN-graph shape the kernel exists
    // for; scores must match BIT-forwise (same accumulation order,
    // same round) and ranks must match on ties (same comparator)
    val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val a = Ann.bruteForceTopK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val b = Ann.bruteForceTopKDense(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
    // overflow path (tile far below the query count) now routes to the
    // 2D block-matrix kernel — must be row-identical too: blocking is
    // a memory/shuffle shape, not a result
    val c = Ann.denseKernelTopK(emb, q, 5, Ann.Cosine, tile = 37)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(a.length == c.length)
    a.zip(c).foreach { case (x, y) => assert(x == y, s"tiled: $x != $y") }
    // blocked kernel pinned directly at adversarially small tile AND
    // block sizes (many tiles × many blocks × salted slots): the
    // partial-TopK-on-both-axes merge must still be exact
    val d = Ann.blockedTop(emb, q, 5, Ann.Cosine,
        tile = 19, blockRows = 23)
      .select(col("qid"), org.apache.spark.sql.functions.posexplode(col("top")))
      .select(col("qid"), col("col.id").as("vec_id"), col("col.score").as("score"),
              (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(a.length == d.length)
    a.zip(d).foreach { case (x, y) => assert(x == y, s"blocked: $x != $y") }
  }

  /** 7-d (not a multiple of four). Around e1, raw cosines straddle the
    * 0.9000005 rounding boundary: four candidates round to 0.900001
    * (a tie at k = 3 that only the id decides), three to 0.900000
    * (within 1e-6 of the k-th score, so never pruned) and one to
    * 0.899999; plus a zero vector, two copies of a candidate (cosine
    * 1, distance 0 ties), 19 seeded fillers and a null vector.
    */
  private def boundaryCorpus: DataFrame = {
    val s = spark
    import s.implicits._
    val dim = 7
    def unit(i: Int) = Array.tabulate(dim)(d => if (d == i) 1.0 else 0.0)
    def atCos(c: Double) = { val v = unit(0); v(1) = math.sqrt(1 / (c * c) - 1); v }
    val targets = Seq(1 -> 0.9000012, 2 -> 0.8999996, 3 -> 0.9000006, 4 -> 0.9000004,
      5 -> 0.90000049, 6 -> 0.90000051, 7 -> 0.8999990, 8 -> 0.9000013)
    val rnd = new scala.util.Random(11)
    val rows: Seq[(Long, Array[Double])] =
      Seq(0L -> unit(0)) ++ targets.map { case (i, c) => i.toLong -> atCos(c) } ++
      Seq(9L -> new Array[Double](dim)) ++
      (10 until 29).map(i => i.toLong -> Array.fill(dim)(rnd.nextDouble() * 2 - 1)) ++
      Seq(30L -> atCos(0.9000006), 31L -> atCos(0.9000006), 99L -> (null: Array[Double]))
    rows.toDF("vec_id", "embedding")
  }

  private def tuples(df: DataFrame): Seq[(Long, Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq

  private def asQueries(df: DataFrame): DataFrame =
    df.select(col("vec_id").as("qid"), col("embedding").as("qv"))

  test("dense kernels stay exact at 6-dp boundaries, k-th place ties and degenerate vectors") {
    val e = boundaryCorpus
    val nonNull = e.filter(col("embedding").isNotNull)
    val q = asQueries(nonNull)
    for (k <- Seq(3, 5)) {
      val want = tuples(Ann.bruteForceTopK(e, q, k))
      assert(want.filter(_._1 == 0L).map(_._2).take(3) == Seq(1L, 3L, 6L), want)
      assert(tuples(Ann.bruteForceTopKDense(e, q, k)) == want, s"dense k=$k")
      assert(tuples(Ann.bruteForceTopKBlocked(e, q, k, tile = 3, blockRows = 4)) == want,
        s"blocked k=$k")
      val a = nonNull.select(col("vec_id").as("va"), col("embedding").as("ea"))
      val b = nonNull.select(col("vec_id").as("vb"), col("embedding").as("eb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("va").orderBy(col("dist"), col("vb"))
      val wantDist = a.crossJoin(b).filter(col("va") =!= col("vb"))
        .select(col("va"), col("vb"), round(sqrt(aggregate(
          zip_with(col("ea"), col("eb"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v)), 6).as("dist"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .orderBy("va", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(2))).toSeq
      val gotDist = Ann.nearestDistancesDense(e, k).orderBy("vec_id", "rnk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(gotDist == wantDist, s"distances k=$k")
    }
  }

  /** `df` written as ONE parquet file (one row group) and read back. */
  private def parquetCopy(df: DataFrame, files: Int = 1): DataFrame = {
    val dir = SparkSpec.tempDir("graft-ann").toString + "/t"
    df.repartition(files).write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** `body` with the session's SQL conf `kvs` set, restored after. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val old = kvs.map { case (key, _) => key -> conf.getOption(key) }
    kvs.foreach { case (key, v) => conf.set(key, v) }
    try body
    finally old.foreach {
      case (key, Some(v)) => conf.set(key, v)
      case (key, None)    => conf.unset(key)
    }
  }

  test("dense kernel fast path is exact for every shard and split shape") {
    val cores = spark.sparkContext.defaultParallelism
    val e = boundaryCorpus
    val q = asQueries(e)
    val one = parquetCopy(e)
    val wide = parquetCopy(e, files = 2 * cores)
    def splits(df: DataFrame) = df.queryExecution.toRdd.getNumPartitions
    assert(splits(one) == 1 && splits(wide) >= cores)
    for (k <- Seq(3, 5)) {
      // nq = 7 over `cores` shards (does not divide), nq = 2 < cores,
      // and the whole batch; against a one-split corpus (sharded), a
      // corpus with ≥ cores splits (one task per split) and a local one
      for (nq <- Seq(7, 2, 31); corpus <- Seq(one, wide, e)) {
        val qs = q.filter(col("qid") < nq)
        val want = tuples(Ann.bruteForceTopK(e, qs, k))
        val (got, runs) = Ann.recordingKernelRuns(Ann.bruteForceTopKDense(corpus, qs, k))
        assert(tuples(got) == want, s"k=$k nq=$nq splits=${splits(corpus)}")
        val tasks = if (splits(corpus) < cores) splits(corpus) * math.min(cores, nq)
                    else splits(corpus)
        assert(runs.map(_.tasks) == Seq(tasks), runs)
        assert(runs.forall(_.maxPerQuery <= k), runs)
      }
      // a one-row-group file planned as two splits, one of them empty:
      // the open cost sets the split size to 60% of the file
      val file = new java.io.File(one.inputFiles.head.stripPrefix("file:"))
      withConf("spark.sql.files.openCostInBytes" -> (file.length * 6 / 10).toString) {
        val split = spark.read.parquet(file.getParent)
        assert(splits(split) == 2)
        assert(tuples(Ann.bruteForceTopKDense(split, q, k)) == tuples(Ann.bruteForceTopK(e, q, k)),
          s"empty split k=$k")
      }
    }
  }

  test("dense kernel fallbacks stay exact: shuffle merge, skewed fetch, over-cap batch") {
    val e = boundaryCorpus
    val c = parquetCopy(e)
    val q = asQueries(e)
    for (k <- Seq(3, 5)) {
      val want = tuples(Ann.bruteForceTopK(e, q, k))
      // candidates over the merge bound: a lazy TopK-aggregate frame
      // with the driver-merged frame's rows and schema
      val (lazyMerge, runs) = Ann.recordingKernelRuns(
        Ann.denseKernelTopK(c, q, k, Ann.Cosine, mergeBudget = 1))
      assert(runs.isEmpty)
      assert(lazyMerge.queryExecution.executedPlan.toString.contains("partial_topkaggregator"))
      assert(tuples(lazyMerge) == want, s"shuffle merge k=$k")
      assert(lazyMerge.schema == Ann.bruteForceTopKDense(c, q, k).schema)
      assert(lazyMerge.schema == Ann.bruteForceTopK(e, q, k).schema)
      // a scanned batch in two partitions of 20 and 11 rows: the budget
      // fits the batch (7-d, 56 bytes a query) but not the big
      // partition's half share, so the rows are fetched a second time
      val scanned = asQueries(c.filter(col("vec_id") < 20))
        .unionByName(asQueries(c.filter(col("vec_id") >= 20)))
      val nq = e.filter(col("embedding").isNotNull).count()
      val fit = jobsOf(assert(tuples(Ann.bruteForceTopKDense(c, scanned, k)) == want))
      val skew = jobsOf(assert(tuples(
        Ann.denseKernelTopK(c, scanned, k, Ann.Cosine, budget = nq * 56)) == want))
      assert(fit == 2 && skew == 3, s"fit $fit, skewed $skew jobs")
      // over the cap (tile 4): the blocked kernel takes the fetch job's
      // (count, dim), so the dispatch runs no more jobs than the
      // blocked kernel with its own probe
      val over = jobsOf(assert(tuples(
        Ann.denseKernelTopK(c, scanned, k, Ann.Cosine, tile = 4)) == want))
      val blocked = jobsOf(Ann.bruteForceTopKBlocked(c, scanned, k, tile = 4).collect())
      assert(over == blocked, s"dispatched $over vs blocked $blocked jobs")
    }
  }

  test("over-cap kernel stays exact on a repeated qid and a non-deterministic query frame") {
    val e = boundaryCorpus
    val c = parquetCopy(e)
    val q = asQueries(c)
    for (k <- Seq(3, 5)) {
      // qid 7 on ten rows, over the cap of 4 queries: all ten land in
      // one tile, whose merge groups the ten lists into one
      val repeated = q.withColumn("qid",
        when(col("qid").between(9, 18), lit(7L)).otherwise(col("qid")))
      assert(tuples(Ann.denseKernelTopK(c, repeated, k, Ann.Cosine, tile = 4)) ==
        tuples(Ann.bruteForceTopK(e, repeated, k)), s"repeated qid k=$k")
      // a seeded random sample is non-deterministic to the analyzer
      val sampled = q.filter(rand(5) < 0.8)
      assert(!sampled.queryExecution.analyzed.deterministic)
      assert(tuples(Ann.denseKernelTopK(c, sampled, k, Ann.Cosine, tile = 4)) ==
        tuples(Ann.bruteForceTopK(e, sampled, k)), s"non-deterministic k=$k")
    }
  }

  test("cross-join and LSH top-k drop null vectors on both sides") {
    // vector 10 nulled, and a null query: the TopK aggregate would
    // rank a null score as 0.0 among real ones and answer the null
    // query with k rows of 0.0
    val nulled = emb.withColumn("embedding",
      when(col("vec_id") === 10L, lit(null)).otherwise(col("embedding")))
    val q = asQueries(nulled.filter(col("vec_id").isin(2L, 10L, 42L)))
    val all = Ann.bruteForceTopK(nulled, q, 600).collect()
    assert(!all.exists(_.getAs[Long]("vec_id") == 10L))
    assert(all.map(_.getAs[Long]("qid")).distinct.sorted.toSeq == Seq(2L, 42L))
    assert(all.length == 2 * 498)
    assert(tuples(topKWindow(nulled, q, 5)) == tuples(Ann.bruteForceTopK(nulled, q, 5)))
    assert(tuples(Ann.bruteForceTopKDense(nulled, q, 5)) == tuples(Ann.bruteForceTopK(nulled, q, 5)))
    val lsh = Ann.lshTopK(nulled, Seq(2L, 10L, 42L), nPlanes = 2, dim = 64, probeDist = 2,
      k = 600).collect()
    assert(!lsh.exists(_.getAs[Long]("vec_id") == 10L))
    assert(!lsh.exists(_.getAs[Long]("qid") == 10L))
    assert(lsh.forall(r => !r.isNullAt(2)))
  }

  test("unordered dense kernel: same row SET, no final range sort") {
    // r17: edge-list consumers (ann_knn_graph, emb_knn_vote) skip the
    // (qid, rnk) orderBy — the row multiset must be unchanged; only
    // the range-partitioned sort (and its sampling pass) is gone
    val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val a = Ann.bruteForceTopK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val u = Ann.bruteForceTopKDenseUnordered(emb, q, 5)
    val b = u.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x != $y") }
    val plan = u.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    assert(!plan.contains("rangepartitioning"), plan)
  }

  test("emb_knn_vote null-drop equivalence: no null embeddings below the query cutoff") {
    // r17 ADVICE: the kernel drops null-embedding queries (qv.isNotNull)
    // where the old row_number window kept them nulls-last and counted
    // them in n_queries — equivalence rests on the generator never
    // emitting null embeddings. Pin that data invariant at the gate SFs
    // (sf0.1 is covered by the driver's oracle every round); if a
    // generation ever emits nulls below vec_id < 300 this fails loudly
    // instead of silently diverging.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val n = Tables.embeddings(spark, dir)
        .filter(col("vec_id") < 300 && col("embedding").isNull).count()
      assert(n == 0L, s"$dir: $n null embeddings below the emb_knn_vote cutoff")
    }
  }

  test("fast-path dispatch bound is dim-aware") {
    // the one-broadcast fast path collects the batch to the driver:
    // its bound must shrink with dim so a 1024-d batch can never
    // materialize the raw 2^16 default (512 MB) driver-side.
    // 64 MB of packed doubles: 8192 rows at 1024-d, 131072 at 64-d
    // (the caller tile still wins when smaller).
    assert(Ann.fastPathCap(1024, Ann.defaultKernelTile) == 8192)
    assert(Ann.fastPathCap(64, Ann.defaultKernelTile) == Ann.defaultKernelTile)
    assert(Ann.fastPathCap(1024, 4) == 4)   // explicit spec tiles win
    assert(Ann.fastPathCap(0, 123) == 123)  // empty batch: inert
    // and the capped dispatch stays row-identical: force the cap to
    // bite by setting tile just above the cap at a dim where the cap
    // is tiny relative to the batch
    val q = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val a = Ann.bruteForceTopK(emb, q, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val b = Ann.denseKernelTopK(emb, q, 3, Ann.Cosine, tile = 41)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"capped: $x != $y") }
  }

  test("LSH multiprobe recall vs brute force is meaningful") {
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    val q = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val exact = Ann.bruteForceTopK(emb, q, 3).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val approx = Ann.lshTopK(emb, qids, nPlanes = 4, dim = 64, probeDist = 2, k = 3)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    // random-hyperplane LSH with wide probes on 500 vectors: expect
    // a sizable fraction of true neighbors, far above random chance
    assert(recall >= 0.2, s"recall=$recall")
  }

  test("TopK aggregate matches the window formulation exactly") {
    val q = emb.filter(col("vec_id") <= 7)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val viaAgg = Ann.bruteForceTopK(emb, q, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val viaWin = topKWindow(emb, q, 5).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
                 r.getAs[Double]("score"), r.getAs[Long]("rnk")))
    assert(viaAgg.toSeq == viaWin.toSeq)
  }

  test("kmeans refinement reduces IVF assignment cost") {
    import graft.functions.VectorExpressions
    def inertia(cents: org.apache.spark.sql.DataFrame): Double = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("d").asc, col("cid"))
      emb.crossJoin(broadcast(cents))
        .withColumn("d", VectorExpressions.sqNorm(col("embedding")) +
          VectorExpressions.sqNorm(col("cv")) -
          VectorExpressions.dot(col("embedding"), col("cv")) * 2)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .agg(sum("d")).head().getDouble(0)
    }
    val c1 = Ann.kmeansCentroids(emb, 8, 1)
    val c4 = Ann.kmeansCentroids(emb, 8, 4)
    val (i1, i4) = (inertia(c1), inertia(c4))
    assert(i4 <= i1 + 1e-9, s"inertia rose: $i1 -> $i4")
  }

  test("LSH bucket as partition column: probe scans are pruned") {
    val dir = SparkSpec.tempDir("graft-lsh").toString + "/idx"
    val sig = Ann.signatures(emb, Ann.planes(spark, 4, 64))
    emb.join(sig, "vec_id").write.partitionBy("bucket").mode("overwrite").parquet(dir)
    val idx = spark.read.parquet(dir)
    val probe = idx.filter(col("bucket") === 3)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"expected bucket pruning in:\n$plan")
  }

  test("map-side bucket column equals the shuffle signature formulation") {
    val viaAgg = Ann.signatures(emb, Ann.planes(spark, 6, 64)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCol = Ann.withBucket(emb, 6, 64).select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg == viaCol)
  }

  test("ivfProbe matches the window-based reference formulation") {
    import graft.functions.VectorFunctions.score
    import org.apache.spark.sql.expressions.Window
    val cents = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val wAssign = Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cid"))
    val scored = emb.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("cid"),
              score(col("embedding"), col("cv")).as("cs"))
      .withColumn("rn", row_number().over(wAssign))
    val assigned = scored.filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
    val probes = scored.filter(col("vec_id") === 42 && col("rn") <= 2)
      .select(col("cid").as("pcid"))
    val q = emb.filter(col("vec_id") === 42).select(col("embedding").as("qv"))
    val wTop = Window.orderBy(col("score").desc, col("vec_id"))
    val ref = assigned.join(broadcast(probes), col("cid") === col("pcid"))
      .filter(col("vec_id") =!= 42)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("cid"), score(col("embedding"), col("qv")).as("score"))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= 5)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val opt = Ann.ivfProbe(emb, nCents = 4, qid = 42L, nprobe = 2, k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(opt.toSeq == ref.toSeq)
  }

  test("knn1Lsh: complete, never beats exact, finds planted duplicates") {
    import graft.functions.VectorFunctions.score
    val base = emb.filter(col("vec_id") < 150)
    // plant exact duplicates: identical vectors always share their
    // bucket, so LSH must return them as 1-NN with ns = 0
    val planted = base.filter(col("vec_id") < 20)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"),
              col("label"))
    val e = base.unionByName(planted)
    val lsh = Ann.knn1Lsh(e, nPlanes = 6, dim = 64)
      .collect().map(r => (r.getLong(0), (r.getLong(2), r.getDouble(4)))).toMap
    // exact reference
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val exact = a.crossJoin(b).filter(col("va") =!= col("vb"))
      .select(col("va"), (lit(1.0) - score(col("ea"), col("eb"))).as("ns"), col("vb"))
      .groupBy("va").agg(min(struct(col("ns"), col("vb"))).as("m"))
      .select(col("va"), col("m.vb"), col("m.ns")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // completeness: one answer per vector (fallback catches the rest)
    assert(lsh.keySet == exact.keySet)
    // the candidate-pruned NN can never be CLOSER than the true NN
    lsh.foreach { case (v, (_, ns)) => assert(ns >= exact(v)._2 - 1e-12, s"v=$v") }
    // every planted duplicate is found exactly (identical bucket)
    (0L until 20L).foreach { v =>
      assert(lsh(v + 10000)._1 == v && lsh(v + 10000)._2 == 0.0, s"planted $v")
      assert(lsh(v)._1 == v + 10000, s"planted reverse $v")
    }
  }

  test("signatures are stable across evaluations") {
    val s1 = Ann.signatures(emb, Ann.planes(spark, 6, 64)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s2 = Ann.signatures(emb, Ann.planes(spark, 6, 64)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s1 == s2)
  }

  test("MMR matches a reference greedy implementation on real data") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val out = graft.ann.Mmr.rerank(emb.filter(col("vec_id") =!= 0), q, 20, 5, 0.5)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq

    // reference: same top-20 pool, same rounding, greedy in plain Scala
    val qv = emb.filter(col("vec_id") === 0).collect().head
      .getSeq[Float](1).map(_.toDouble).toArray
    val pool = emb.filter(col("vec_id") =!= 0).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .map { case (id, v) => (id, round6(cos(v, qv)) + 0.0, v) }
      .sortBy { case (id, s, _) => (-s, id) }.take(20)
    var sel = Vector.empty[(Long, Double, Array[Double])]
    (1 to 5).foreach { _ =>
      val best = pool.filterNot(c => sel.exists(_._1 == c._1))
        .map { c =>
          val div = if (sel.isEmpty) 0.0
            else sel.map(s => round6(cos(c._3, s._3))).max
          (round6(0.5 * c._2 - 0.5 * div), c)
        }
        .minBy { case (m, c) => (-m, c._1) }
      sel = sel :+ best._2
    }
    assert(out == sel.map(_._1), s"spark=$out ref=${sel.map(_._1)}")
    // rank 1 is the plain cosine top-1; the set is diverse (no dup ids)
    assert(out.head == pool.head._1)
    assert(out.distinct.size == 5)
  }

  test("k-center coreset covers the pool no worse than a first-k baseline") {
    import org.apache.spark.sql.functions._
    val pool = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding")).cache()
    val centers = graft.ann.Coreset.kCenter(pool, 6)
      .collect().map(_.getLong(1))
    assert(centers.length == 6 && centers.distinct.length == 6)
    assert(centers.head == 0L) // deterministic smallest-id seed
    // covering radius = max over pool of min cosine distance to a center
    def radius(ids: Seq[Long]): Double = {
      val vecs = pool.collect().map(r =>
        r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
      def cos(a: Array[Double], b: Array[Double]): Double = {
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      vecs.map { case (_, v) =>
        ids.map(c => 1.0 - cos(v, vecs(c))).min }.max
    }
    val rGreedy = radius(centers)
    val rNaive = radius((0L until 6L).toSeq)
    // greedy farthest-point is a 2-approx to optimal; at minimum it
    // must not cover WORSE than the arbitrary first-6-ids baseline
    assert(rGreedy <= rNaive + 1e-9, s"greedy $rGreedy vs naive $rNaive")
    pool.unpersist()
  }
}
