package graft

import org.apache.spark.sql.functions._
import graft.store.{CollectionStorage, TenantScans, VectorStore}

class VectorStoreSpec extends SparkSpec {

  private def pts = VectorStore.points(spark, sfDir)

  test("search returns k results ordered by score desc") {
    val res = VectorStore.search(pts, 2, VectorStore.queryVecOf(spark, sfDir, 42), 10)
      .collect()
    assert(res.length == 10)
    val scores = res.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sortBy(-_)))
    // vec 42 itself is in user 2's collection and must rank first (cos=1)
    assert(res.head.getAs[Long]("vector_id") == 42L)
    assert(res.head.getAs[Double]("score") == 1.0)
  }

  test("search threshold filters and docIds restrict") {
    val res = VectorStore.search(pts, 2, VectorStore.queryVecOf(spark, sfDir, 42),
      limit = 100, scoreThreshold = 0.9)
    assert(res.count() == 1) // only the identical vector
    val restricted = VectorStore.search(pts, 2, VectorStore.queryVecOf(spark, sfDir, 42),
      limit = 100, docIds = Seq(10L))
    assert(restricted.select("doc_id").distinct().collect().map(_.getLong(0)).toSet == Set(10L))
  }

  test("tenant isolation: no surface ever returns another user's points") {
    // the property the reference's per-user collections exist for
    val q = VectorStore.queryVecOf(spark, sfDir, 42)
    (0L until 8L).foreach { u =>
      val hit = VectorStore.search(pts, u, q, limit = 1000)
        .select("vector_id").collect().map(_.getLong(0))
      assert(hit.nonEmpty && hit.forall(_ % 8 == u), s"user $u leaked")
    }
    val grouped = VectorStore.searchGrouped(pts, 3, q, groups = 100)
      .select("vector_id").collect().map(_.getLong(0))
    assert(grouped.forall(_ % 8 == 3))
    val rec = VectorStore.recommend(pts, 2, Seq(10L, 18L), Seq(34L), 1000)
      .select("vector_id").collect().map(_.getLong(0))
    assert(rec.forall(_ % 8 == 2) && !rec.exists(Set(10L, 18L, 34L)))
  }

  test("edge cases: empty search, nonexistent deletes, scroll past end") {
    val q = VectorStore.queryVecOf(spark, sfDir, 42)
    // user with no points: every read surface returns empty, no error
    assert(VectorStore.search(pts, 999, q, 10).count() == 0)
    assert(VectorStore.scroll(pts, 999, 10).count() == 0)
    // deleting ids that don't exist is a no-op
    val before = pts.count()
    assert(VectorStore.deleteByIds(pts, 2, Seq(99999991L, 99999992L)).count() == before)
    // keyset scroll past the last id is empty
    val maxId = pts.filter(col("user_id") === 2)
      .agg(max("vector_id")).head().getLong(0)
    assert(VectorStore.scrollAfter(pts, 2, maxId, 10).count() == 0)
  }

  test("recommend without negatives equals mean-of-positives search") {
    val rec = VectorStore.recommend(pts, 2, Seq(10L, 18L), Nil, 5).collect()
    assert(rec.length == 5 && !rec.map(_.getAs[Long]("vector_id")).exists(Set(10L, 18L)))
    val scores = rec.map(_.getAs[Double]("score"))
    assert(scores.sameElements(scores.sortBy(-_)))
  }

  test("upsert replaces points with matching key and keeps others") {
    val before = pts.count()
    val batch = pts.filter(col("user_id") === 2 && col("doc_id") === 2)
      .withColumn("vector_id", col("vector_id") + 9000)
    val after = VectorStore.upsert(pts, batch)
    assert(after.count() == before)
    // the replaced keys now carry the batch's vector_ids
    val replaced = after.filter(col("user_id") === 2 && col("doc_id") === 2)
      .select("vector_id").collect().map(_.getLong(0))
    assert(replaced.forall(_ >= 9000))
  }

  test("delete family removes exactly the targeted points") {
    val n = pts.count()
    val nDoc = pts.filter(col("user_id") === 1 && col("doc_id") === 17).count()
    assert(VectorStore.deleteDoc(pts, 1, 17).count() == n - nDoc)
    val nIds = pts.filter(col("user_id") === 5 && col("vector_id").isin(5L, 13L)).count()
    assert(VectorStore.deleteByIds(pts, 5, Seq(5L, 13L)).count() == n - nIds)
    assert(VectorStore.deleteCollection(pts, 3).filter(col("user_id") === 3).count() == 0)
  }

  test("keyset scroll pages the collection without overlap or gaps") {
    val page1 = VectorStore.scrollAfter(pts, 3, -1L, 5).collect()
    assert(page1.length == 5)
    val cursor = page1.last.getAs[Long]("vector_id")
    val page2 = VectorStore.scrollAfter(pts, 3, cursor, 5).collect()
    // pages are disjoint and contiguous in vector_id order
    val ids = (page1 ++ page2).map(_.getAs[Long]("vector_id"))
    assert(ids.distinct.length == 10 && ids.sameElements(ids.sorted))
    val firstTen = VectorStore.scroll(pts, 3, 10).collect()
      .map(_.getAs[Long]("vector_id"))
    assert(ids.sameElements(firstTen))
  }

  test("uuid-style string point ids flow through merge, delete, and scroll") {
    // same collection, ids re-keyed to opaque hex strings — nothing in
    // the store may depend on ids being integers (reference point ids
    // are uuid4, document_ingestor.py:89-144)
    val spts = pts.withColumn("vector_id", md5(concat(lit("id-"), col("vector_id"))))
    val n = spts.count()
    val twoIds = spts.filter(col("user_id") === 5)
      .select("vector_id").limit(2).collect().map(_.getString(0)).toSeq
    assert(VectorStore.deleteByIds(spts, 5, twoIds).count() == n - 2)
    val batch = spts.filter(col("user_id") === 2 && col("doc_id") === 2)
      .withColumn("vector_id", md5(concat(lit("new-"), col("vector_id"))))
    val merged = VectorStore.upsert(spts, batch)
    assert(merged.count() == n) // LWW on (user, doc, chunk): no growth
    val replaced = merged.filter(col("user_id") === 2 && col("doc_id") === 2)
      .select("vector_id").collect().map(_.getString(0))
    val batchIds = batch.select("vector_id").collect().map(_.getString(0)).toSet
    assert(replaced.forall(batchIds.contains))
    // scroll orders lexicographically over string ids — still stable paging
    val page = VectorStore.scroll(spts, 3, 10).collect().map(_.getString(0))
    assert(page.sameElements(page.sorted))
  }

  test("scrollDocs with empty doc set scans the whole collection") {
    val all = VectorStore.scrollDocs(pts, 3, Nil, 1000).count()
    val direct = pts.filter(col("user_id") === 3).count()
    assert(all == direct)
  }

  test("arbitrary payload maps flow through scroll, search, and mutations") {
    val s = spark
    import s.implicits._
    val withPayload = pts.withColumn("payload",
      map(lit("source"), concat(lit("s"), col("doc_id") % 3),
          lit("lang"), lit("en")))
    val scrolled = graft.store.VectorStore.scroll(withPayload, 3, 5).collect()
    assert(scrolled.forall(r =>
      r.getAs[Map[String, String]]("payload").keySet == Set("source", "lang")))
    val found = graft.store.VectorStore.search(withPayload, 2,
      graft.store.VectorStore.queryVecOf(spark, sfDir, 42), 3).collect()
    assert(found.forall(_.getAs[Map[String, String]]("payload")("lang") == "en"))
    // mutations preserve the column
    val afterDelete = graft.store.VectorStore.deleteDoc(withPayload, 1, 17)
    assert(afterDelete.columns.contains("payload"))
    val merged = graft.store.VectorStore.upsert(withPayload,
      withPayload.filter(col("user_id") === 2).limit(2))
    assert(merged.columns.contains("payload"))
  }

  test("retrieve / searchBatch / facetCounts respect tenancy and bounds") {
    // retrieve: only the requested ids, only user 4's points, vectors on
    val got = VectorStore.retrieve(pts, 4, Seq(4L, 12L, 20L, 3L)) // 3 ∉ user 4
      .collect()
    assert(got.map(_.getAs[Long]("vector_id")).toSeq == Seq(4L, 12L, 20L))
    assert(got.forall(_.getAs[Seq[Float]]("embedding").nonEmpty))
    // searchBatch: every query answered, k rows each, ranks 1..k,
    // scores descending, only user 2's points
    val qs = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id").isin(5L, 21L, 42L))
      .select(col("vec_id").as("qid"), col("embedding").as("q"))
    val sb = VectorStore.searchBatch(pts, 2, qs, 4).collect()
    assert(sb.length == 12)
    sb.foreach(r => assert(r.getAs[Long]("vector_id") % 8 == 2))
    sb.groupBy(_.getAs[Long]("qid")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.sameElements(1L to 4L))
      val sc = rows.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Double]("score"))
      assert(sc.sameElements(sc.sortBy(-_)))
    }
    // facetCounts: counts sum to the user's point count
    val fc = VectorStore.facetCounts(pts, 3, "title", 1000).collect()
    val total = fc.map(_.getAs[Long]("n_points")).sum
    assert(total == pts.filter(col("user_id") === 3).count())
  }

  test("with_vectors surfaces return the STORED vector bit-equal") {
    // reference semantics (document_ingestor.py:338/:414/:429):
    // with_vectors = True returns stored vectors untouched. Join the
    // returned arrays back to the collection by key and demand
    // element-wise float equality — no re-normalization, no rounding.
    // (The ORACLE projection vecQ6 is lossy by design; this pin keeps
    // the raw API honest.)
    def pinsStored(withVec: org.apache.spark.sql.DataFrame): Unit = {
      val stored = pts.select(col("vector_id"), col("embedding").as("stored"))
      val mismatches = withVec.select("vector_id", "embedding")
        .join(stored, "vector_id")
        .filter(not(col("embedding") <=> col("stored")))
        .count()
      assert(mismatches == 0)
    }
    val q = VectorStore.queryVecOf(spark, sfDir, 42)
    val searched = VectorStore.searchWithVectors(pts, 2, q, 5)
    assert(searched.columns.contains("embedding") && searched.count() == 5)
    pinsStored(searched)
    val scrolled = VectorStore.scrollWithVectors(pts, 3, 12)
    assert(scrolled.columns.contains("embedding") && scrolled.count() == 12)
    pinsStored(scrolled)
    // and the scroll page is the same page scroll() returns, plus the
    // vector column
    val plain = VectorStore.scroll(pts, 3, 12).select("vector_id")
      .collect().map(_.getLong(0)).toSeq
    val withV = scrolled.select("vector_id").collect().map(_.getLong(0)).toSeq
    assert(plain == withV)
  }

  test("updateVector changes only the targeted key") {
    val nv = VectorStore.queryVecOf(spark, sfDir, 7)
      .select(transform(col("q"), x => -x).as("newv"))
    val updated = pts.crossJoin(broadcast(nv))
      .withColumn("embedding",
        when(col("user_id") === 2 && col("doc_id") === 42 && col("chunk_id") === 42,
          col("newv")).otherwise(col("embedding")))
    val changed = updated.filter(col("chunk_id") === 42)
      .select(element_at(col("embedding"), 1)).head().getFloat(0)
    val orig7 = pts.filter(col("vector_id") === 7)
      .select(element_at(col("embedding"), 1)).head().getFloat(0)
    assert(changed == -orig7)
  }

  // ---- literal-query searches vs the broadcast cross-join form --------

  /** The cross-join formulation the literal-query searches replaced:
    * the 1-row query frame broadcast and scored per row. */
  private def crossScored(rows: org.apache.spark.sql.DataFrame,
      qdf: org.apache.spark.sql.DataFrame,
      cols: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.DataFrame = {
    import graft.functions.VectorFunctions.score
    rows.crossJoin(broadcast(qdf))
      .select(cols :+ score(col("embedding"), col("q")).as("score"): _*)
  }
  private val meta = Seq("vector_id", "doc_id", "chunk_id", "title").map(col)
  private def byScore(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.orderBy(col("score").desc, col("vector_id")).limit(n)
  private def same(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.schema == want.schema, s"${got.schema} != ${want.schema}")
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g == w, s"\n got $g\nwant $w")
  }

  test("literal-query searches are row-equal to the broadcast cross-join form") {
    val u2 = pts.filter(col("user_id") === 2)
    Seq(42L, 7L, 300L).foreach { id =>
      val q = VectorStore.queryVecOf(spark, sfDir, id)
      same(VectorStore.search(pts, 2, q, 10), byScore(crossScored(u2, q, meta), 10))
      same(VectorStore.search(pts, 2, q, 50, scoreThreshold = 0.1, docIds = Seq(2L, 10L, 42L)),
        byScore(crossScored(u2.filter(col("doc_id").isin(2L, 10L, 42L)), q, meta)
          .filter(col("score") >= 0.1), 50))
      same(VectorStore.searchWithVectors(pts, 2, q, 5),
        byScore(crossScored(u2, q, meta :+ col("embedding")), 5))
      same(VectorStore.searchWhere(pts, 2, q, 5, col("doc_id") < 50),
        byScore(crossScored(u2.filter(col("doc_id") < 50), q, meta), 5))
      same(VectorStore.searchThreshold(pts, q, 0.15),
        crossScored(pts, q, Seq(col("user_id"), col("vector_id")))
          .filter(col("score") >= 0.15).orderBy(col("score").desc, col("vector_id")))
    }
  }

  /** The Column form recommend used before: zip_with float sums left
    * to right, transform ÷ count in double, zip_with pos − neg, scored
    * by the cross-join form. */
  private def columnFold(coll: org.apache.spark.sql.DataFrame, pos: Seq[Long], neg: Seq[Long],
      limit: Int) = {
    val base = coll.filter(col("user_id") === 2)
    def mean(ids: Seq[Long], tag: String) = {
      val frames = ids.zipWithIndex.map { case (id, i) =>
        base.filter(col("vector_id") === id).select(col("embedding").as(s"_$tag$i")) }
      val sum = ids.indices.map(i => col(s"_$tag$i"))
        .reduceLeft((a, b) => zip_with(a, b, (x, y) => x + y))
      (frames.reduceLeft((a, b) => a.crossJoin(broadcast(b))),
       transform(sum, x => x / ids.size.toDouble))
    }
    val (pf, pm) = mean(pos, "p")
    val qf = if (neg.isEmpty) pf.select(pm.as("q")) else {
      val (nf, nm) = mean(neg, "n")
      pf.crossJoin(broadcast(nf)).select(zip_with(pm, nm, (a, b) => a - b).as("q"))
    }
    byScore(crossScored(base.filter(!col("vector_id").isin(pos ++ neg: _*)), qf,
      Seq(col("vector_id"), col("doc_id"))), limit)
  }

  test("recommend folds its examples on the driver exactly as the column fold") {
    Seq((Seq(10L, 18L), Seq(34L)), (Seq(10L, 18L, 42L), Nil),
        (Seq(50L), Seq(34L, 2L, 58L)), (Seq(18L, 10L, 18L), Seq(26L))).foreach {
      case (pos, neg) =>
        same(VectorStore.recommend(pts, 2, pos, neg, 20), columnFold(pts, pos, neg, 20))
    }
  }

  test("degenerate query frames: empty frames, null vectors, missing examples") {
    val s = spark
    import s.implicits._
    val q = VectorStore.queryVecOf(spark, sfDir, 42)
    val u2 = pts.filter(col("user_id") === 2)
    // a 0-row query frame (scanned or local) gives an empty result with
    // the schema of the cross-join form
    val emptyScan = VectorStore.queryVecOf(spark, sfDir, -1L)
    val emptyLocal = Seq.empty[Tuple1[Array[Float]]].toDF("q")
    Seq(emptyScan, emptyLocal).foreach { e =>
      same(VectorStore.search(pts, 2, e, 10), byScore(crossScored(u2, q, meta), 10).limit(0))
      same(VectorStore.searchWithVectors(pts, 2, e, 5),
        byScore(crossScored(u2, q, meta :+ col("embedding")), 5).limit(0))
      val grouped = VectorStore.searchGrouped(pts, 2, e, 5)
      assert(grouped.collect().isEmpty)
      assert(grouped.schema == VectorStore.searchGrouped(pts, 2, q, 5).schema)
    }
    // a null query vector scores every row null: rows ordered by id
    val nullQ = Seq(Tuple1(null: Array[Float])).toDF("q")
    same(VectorStore.search(pts, 2, nullQ, 7), byScore(crossScored(u2, nullQ, meta), 7))
    assert(VectorStore.search(pts, 2, nullQ, 7).collect().forall(_.isNullAt(4)))
    // a missing example id: empty result, same schema as a hit
    val miss = VectorStore.recommend(pts, 2, Seq(10L, 999999L), Nil, 5)
    assert(miss.collect().isEmpty)
    assert(miss.schema == VectorStore.recommend(pts, 2, Seq(10L), Nil, 5).schema)
    assert(VectorStore.recommend(pts, 2, Seq(10L), Seq(999999L), 5).collect().isEmpty)
  }

  test("searchBatch: a stored vector finds itself; null vectors never rank") {
    val qs = pts.filter(col("user_id") === 2 && col("vector_id").isin(2L, 10L, 42L))
      .select(col("vector_id").as("qid"), col("embedding").as("q"))
    val top = VectorStore.searchBatch(pts, 2, qs, 3).filter(col("rnk") === 1).collect()
    assert(top.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vector_id"),
      r.getAs[Double]("score"))).toSeq == Seq((2L, 2L, 1.0), (10L, 10L, 1.0), (42L, 42L, 1.0)))
    // a tenant holding a null embedding, and a null query vector: the
    // dense kernel drops both (the cross-join + TopK-udaf plan read a
    // null score as 0.0, ranking the null point among real ones and
    // answering a null query with k zero-score rows)
    val withNull = pts.withColumn("embedding",
      when(col("vector_id") === 10L, lit(null)).otherwise(col("embedding")))
    val tenantSize = pts.filter(col("user_id") === 2).count().toInt
    val nullQ = pts.filter(col("vector_id") === 2L)
      .select(lit(7L).as("qid"), lit(null).cast("array<float>").as("q"))
    val all = VectorStore.searchBatch(withNull, 2, qs.unionByName(nullQ), tenantSize).collect()
    assert(!all.exists(_.getAs[Long]("vector_id") == 10L))
    assert(!all.exists(_.getAs[Long]("qid") == 7L))
    all.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rows) =>
      assert(rows.length == tenantSize - 1, s"qid $qid: ${rows.length} rows") }
    assert(all.map(_.getAs[Long]("qid")).distinct.sorted.toSeq == Seq(2L, 10L, 42L))
  }

  test("searchAll drops null stored and query vectors") {
    // tenant 2 with vector 10's embedding nulled, and a null query for
    // tenant 3: the TopK aggregate would rank the null point at 0.0
    // among real ones and answer the null query with k rows of 0.0
    val withNull = pts.withColumn("embedding",
      when(col("vector_id") === 10L, lit(null)).otherwise(col("embedding")))
    val qs = pts.filter(col("vector_id") === 42L).select(col("user_id"), col("embedding").as("q"))
      .unionByName(pts.filter(col("vector_id") === 3L)
        .select(col("user_id"), lit(null).cast("array<float>").as("q")))
    val tenantSize = pts.filter(col("user_id") === 2).count().toInt
    val all = VectorStore.searchAll(withNull, qs, tenantSize).collect()
    assert(!all.exists(_.getAs[Long]("vector_id") == 10L))
    assert(all.map(_.getAs[Long]("user_id")).distinct.toSeq == Seq(2L))
    assert(all.length == tenantSize - 1)
    assert(all.forall(r => !r.isNullAt(3)))
  }

  test("retrieve keeps vector_id order and duplicates on thin and wide tenants") {
    // vector 12 stored twice; 999999 is not stored
    val twice = pts.unionByName(pts.filter(col("vector_id") === 12L))
    val ids = Seq(20L, 4L, 12L, 999999L)
    def got(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getAs[Long]("vector_id")).toSeq
    val (thin, thinRuns) = TenantScans.recording(VectorStore.retrieve(twice, 4, ids))
    assert(got(thin) == Seq(4L, 12L, 12L, 20L))
    assert(thinRuns.size == 1 && !thinRuns.head.plan.toString.contains("Exchange"), thinRuns)
    // a tenant in at least as many splits as cores keeps one scan task
    // per split, each sending only its hits
    val cores = spark.sparkContext.defaultParallelism
    val dir = SparkSpec.tempDir("graft-retrieve").toString + "/c"
    twice.repartition(2 * cores).write.parquet(dir)
    val wideColl = spark.read.parquet(dir)
    val splits = wideColl.queryExecution.toRdd.getNumPartitions
    assert(splits >= cores)
    val (wide, wideRuns) = TenantScans.recording(VectorStore.retrieve(wideColl, 4, ids))
    assert(got(wide) == Seq(4L, 12L, 12L, 20L))
    assert(wideRuns.map(_.tasks) == Seq(splits), wideRuns)
    assert(!wideRuns.head.plan.toString.contains("Exchange"), wideRuns)
  }

  // ---- prepared tenant scans -----------------------------------------

  /** The Catalyst forms of the prepared reads, as equality oracles. */
  private def searchOracle(coll: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame, limit: Int) =
    byScore(crossScored(coll.filter(col("user_id") === 2), q, meta), limit)
  private def scrollAfterOracle(coll: org.apache.spark.sql.DataFrame, cursor: Long, limit: Int) =
    coll.filter(col("user_id") === 2 && col("vector_id") > cursor)
      .select(meta: _*).orderBy("vector_id").limit(limit)
  private def retrieveOracle(coll: org.apache.spark.sql.DataFrame, ids: Seq[Long]) =
    coll.filter(col("user_id") === 2 && col("vector_id").isin(ids: _*))
      .select(meta :+ col("embedding"): _*).orderBy("vector_id")

  test("prepared reads see an upsert, a delete and a compaction of their files") {
    val dir = SparkSpec.tempDir("graft-fresh").toString + "/coll"
    CollectionStorage.write(pts, dir)
    val q = VectorStore.queryVecOf(spark, sfDir, 42)
    val ids = Seq(2L, 10L, 26L, 42L, 202L)
    def reads(c: org.apache.spark.sql.DataFrame) = Seq(
      VectorStore.search(c, 2, q, 10), VectorStore.scrollAfter(c, 2, 10L, 5),
      VectorStore.retrieve(c, 2, ids), VectorStore.recommend(c, 2, Seq(10L, 18L), Seq(34L), 10))
    def oracles(c: org.apache.spark.sql.DataFrame) = Seq(
      searchOracle(c, q, 10), scrollAfterOracle(c, 10L, 5), retrieveOracle(c, ids),
      columnFold(c, Seq(10L, 18L), Seq(34L), 10))
    def rowsOf(c: org.apache.spark.sql.DataFrame) = reads(c).map(_.collect().toSeq)
    def check(c: org.apache.spark.sql.DataFrame): Unit =
      reads(c).zip(oracles(c)).foreach { case (got, want) => same(got, want) }
    def reloaded = CollectionStorage.load(spark, dir)
    /** Persist tenant 2 of `next` with a dynamic partition overwrite. */
    def persist(next: org.apache.spark.sql.DataFrame): Unit =
      CollectionStorage.overwriteUserPartitions(
        next.filter(col("user_id") === 2).localCheckpoint(), dir)
    val c0 = reloaded
    check(c0)
    val before = rowsOf(c0)
    // an upsert of doc 2 with negated vectors: search, retrieve and
    // recommend rows change
    val batch = c0.filter(col("user_id") === 2 && col("doc_id") === 2)
      .withColumn("embedding", transform(col("embedding"), x => -x))
    persist(VectorStore.upsert(c0, batch))
    val c1 = reloaded
    check(c1)
    val upserted = rowsOf(c1)
    assert(upserted(2) != before(2))
    // a doc delete: vector 26 leaves retrieve
    persist(VectorStore.deleteDoc(c1, 2, 26L))
    val c2 = reloaded
    check(c2)
    val deleted = rowsOf(c2)
    assert(!deleted(2).exists(_.getAs[Long]("vector_id") == 26L))
    // a compaction rewrites every file under new names: the held scans'
    // files are gone, so a read over them would fail
    CollectionStorage.compact(spark, dir)
    val c3 = reloaded
    check(c3)
    assert(rowsOf(c3) == deleted)
  }

  test("a SQL conf switch plans the scan again; the LRU holds at most its capacity") {
    val dir = SparkSpec.tempDir("graft-conf").toString + "/coll"
    CollectionStorage.write(pts, dir)
    val c = CollectionStorage.load(spark, dir)
    val q = VectorStore.queryVecOf(spark, sfDir, 42)
    def scanOf(read: => org.apache.spark.sql.DataFrame) = {
      val (df, runs) = TenantScans.recording(read)
      same(df, searchOracle(c, q, 10))
      runs.last.plan
    }
    val held = scanOf(VectorStore.search(c, 2, q, 10))
    assert(scanOf(VectorStore.search(c, 2, q, 10)) eq held)
    val conf = spark.conf
    Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.parquet.enableVectorizedReader" -> "false").foreach { case (k, v) =>
      val prev = conf.getOption(k)
      conf.set(k, v)
      try {
        val switched = scanOf(VectorStore.search(c, 2, q, 10))
        assert(!(switched eq held), s"$k=$v read the scan planned before the switch")
        assert(scanOf(VectorStore.search(c, 2, q, 10)) eq switched)
      } finally prev match {
        case Some(p) => conf.set(k, p)
        case None    => conf.unset(k)
      }
    }
    TenantScans.clear()
    (0 until TenantScans.Capacity + 8).foreach { u =>
      VectorStore.scroll(c, u.toLong, 1)
      assert(TenantScans.size <= TenantScans.Capacity, s"${TenantScans.size} scans held")
    }
    assert(TenantScans.size == TenantScans.Capacity)
  }
}
