package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, lit}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Event, SessionUpdate}

object StreamingSpec {
  final case class Point(user_id: Long, vector_id: Long, doc_id: Long,
                         chunk_id: Long, title: String, embedding: Seq[Double])

  // --- state-versioning fixtures (r15 ask 4) ---
  // a keyed counter state in two shapes: V2 adds a field, the exact
  // evolution that used to force a new checkpoint directory
  final case class CtV1(n: Long)
  final case class CtV2(n: Long, extra: Long)

  // envelope codecs for the same evolution: V1 writes (n); V2 writes
  // (n, extra) and reads V1 payloads with a default — the migration
  // path the plain encoding cannot take
  object CtCodecV1 extends graft.streaming.StateCodec[CtV1] {
    val version = 1
    def write(s: CtV1, out: java.io.DataOutputStream): Unit = out.writeLong(s.n)
    def read(ver: Int, in: java.io.DataInputStream): CtV1 = CtV1(in.readLong())
  }
  object CtCodecV2 extends graft.streaming.StateCodec[CtV2] {
    val version = 2
    def write(s: CtV2, out: java.io.DataOutputStream): Unit = {
      out.writeLong(s.n); out.writeLong(s.extra)
    }
    def read(ver: Int, in: java.io.DataInputStream): CtV2 = {
      val n = in.readLong()
      val extra = if (ver >= 2) in.readLong() else 1000L // default for old state
      CtV2(n, extra)
    }
  }
}

class StreamingSpec extends SparkSpec {
  import StreamingSpec.Point

  private val H = 3600L * 1000 * 1000 * 1000 // 1h in nanos

  test("streaming sessionize: gap > 30min starts a new session") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Event]
    val query = StreamOps.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Update).start()
    try {
      input.addData(
        Event(1, 0L, 100, "click", 1.0),
        Event(2, 60L * 1000 * 1000 * 1000, 100, "view", 1.0)) // +1 min
      query.processAllAvailable()
      input.addData(Event(3, 2 * H, 100, "click", 1.0)) // 2h later: new session
      query.processAllAvailable()
      val rows = s.sql("SELECT * FROM sess").as[SessionUpdate].collect()
      // last update for user 100 must be session 2 with count 1
      val last = rows.last
      assert(last.user_id == 100L)
      assert(last.session_id == 2L)
      assert(last.n_events == 1L)
    } finally query.stop()
  }

  test("streaming collection ingest: micro-batches merge into the partitioned store") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = SparkSpec.tempDir("graft-ingest").toString
    val (collPath, ckpt) = (base + "/coll", base + "/ckpt")
    val input = MemoryStream[Point]
    val query = StreamOps.startCollectionIngest(input.toDF(), collPath, ckpt)
    try {
      input.addData(
        Point(1, 101, 10, 0, "a", Seq(1.0, 0.0)),
        Point(2, 201, 20, 0, "b", Seq(0.0, 1.0)))
      query.processAllAvailable()
      assert(graft.store.CollectionStorage.load(s, collPath).count() == 2)
      // second batch: replaces (1,10,0), adds (1,11,0)
      input.addData(
        Point(1, 102, 10, 0, "a2", Seq(0.5, 0.5)),
        Point(1, 103, 11, 0, "c", Seq(0.9, 0.1)))
      query.processAllAvailable()
      val coll = graft.store.CollectionStorage.load(s, collPath)
      assert(coll.count() == 3)
      val replaced = coll.filter(
        org.apache.spark.sql.functions.col("doc_id") === 10).collect()
      assert(replaced.length == 1 && replaced.head.getAs[Long]("vector_id") == 102L)
      // user 2 untouched by the second batch
      assert(coll.filter(org.apache.spark.sql.functions.col("user_id") === 2).count() == 1)
    } finally query.stop()
  }

  test("streaming ingest: wide backfill batch (hundreds of distinct users) merges without a literal In list") {
    // regression for the isin-collect upsert prune: a batch touching
    // many users must stay a semi-join prune, never a driver-built
    // thousand-literal In expression — and still merge correctly
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = SparkSpec.tempDir("graft-ingest-wide").toString
    val (collPath, ckpt) = (base + "/coll", base + "/ckpt")
    val input = MemoryStream[Point]
    val query = StreamOps.startCollectionIngest(input.toDF(), collPath, ckpt)
    try {
      // seed: one point per user for users 0..399
      input.addData((0 until 400).map(u =>
        Point(u.toLong, 1000L + u, u.toLong * 10, 0, s"t$u", Seq(u.toDouble, 1.0))): _*)
      query.processAllAvailable()
      assert(graft.store.CollectionStorage.load(s, collPath).count() == 400)
      // backfill batch: replaces every even user's point, adds a chunk
      // for every odd user — 400 distinct users in ONE micro-batch
      input.addData((0 until 400).map { u =>
        if (u % 2 == 0) Point(u.toLong, 2000L + u, u.toLong * 10, 0, "new", Seq(0.5, 0.5))
        else Point(u.toLong, 3000L + u, u.toLong * 10, 1, "add", Seq(0.1, 0.9))
      }: _*)
      query.processAllAvailable()
      val coll = graft.store.CollectionStorage.load(s, collPath)
      assert(coll.count() == 600) // 200 replaced in place + 200 odd originals + 200 new chunks
      val even0 = coll.filter(col("user_id") === 42L).collect()
      assert(even0.length == 1 && even0.head.getAs[Long]("vector_id") == 2042L)
      assert(coll.filter(col("user_id") === 43L).count() == 2)
    } finally query.stop()
  }

  test("streaming search routes oversized micro-batches through the blocked kernel") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val coll = Tables.embeddings(s, sfDir)
    val qids = (0L until 11L).map(_ * 3 + 1)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]()
    val input = MemoryStream[Long]
    val queries = input.toDF().join(coll, col("value") === col("vec_id"))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // tile=4 with an 11-query micro-batch: 3 tiles — above the tile
    // bound, so the foreachBatch dispatch must take the blockedTop
    // path (the head(tile+1) probe overflows), not the per-tile
    // broadcast loop. Equality vs the batch bruteForceTopK pins that
    // the serve path's kernel swap is invisible to the caller.
    val query = StreamOps.startStreamingSearch(queries, coll, 3, tile = 4) { res =>
      res.collect().foreach(r =>
        buf.add((r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rnk"), r.getAs[Double]("score"))))
    }
    try {
      input.addData(qids: _*)
      query.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = buf.asScala.toSet
      val q = coll.filter(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val want = graft.ann.Ann.bruteForceTopK(coll, q, 3).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
          r.getAs[Long]("rnk"), r.getAs[Double]("score"))).toSet
      assert(got == want && got.size == qids.size * 3)
    } finally query.stop()
  }

  test("streaming search: query stream scored against static collection") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val coll = Tables.embeddings(s, sfDir)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val input = MemoryStream[Long]
    val queries = input.toDF().join(coll, col("value") === col("vec_id"))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val query = StreamOps.startStreamingSearch(queries, coll, 3) { res =>
      res.collect().foreach(r =>
        buf.add((r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Long]("rnk"))))
    }
    try {
      input.addData(5L, 9L)
      query.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = buf.asScala.toSet
      // matches the batch answer exactly
      val q = coll.filter(col("vec_id").isin(5L, 9L))
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val want = graft.ann.Ann.bruteForceTopK(coll, q, 3).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"), r.getAs[Long]("rnk"))).toSet
      assert(got == want && got.size == 6)
    } finally query.stop()
  }

  test("append ingestion accretes small files; compaction merges them") {
    val s = spark
    import s.implicits._
    val collPath = SparkSpec.tempDir("graft-compact").toString + "/coll"
    // append-mode writes (insert-only ingestion) leave one file per
    // batch per user — the small-file problem compaction solves
    (1 to 4).foreach { i =>
      Seq((1L, 100L + i, 10L + i, 0L, "t", Seq(1.0, 0.0)))
        .toDF("user_id", "vector_id", "doc_id", "chunk_id", "title", "embedding")
        .write.partitionBy("user_id").mode("append").parquet(collPath)
    }
    val before = graft.store.CollectionStorage.fileCounts(s, collPath)(1L)
    assert(before == 4, s"expected 4 small files, got $before")
    graft.store.CollectionStorage.compact(s, collPath)
    assert(graft.store.CollectionStorage.fileCounts(s, collPath)(1L) == 1)
    assert(graft.store.CollectionStorage.load(s, collPath).count() == 4)
  }

  test("streaming windowed counts aggregate by hour and type") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Event]
    val query = StreamOps.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("winc").outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        Event(1, 0L, 1, "click", 2.0),
        Event(2, 10L * 60 * 1000 * 1000 * 1000, 1, "click", 3.0), // +10min same hour
        Event(3, H + 1, 2, "view", 5.0))                          // next hour
      query.processAllAvailable()
      val rows = s.sql("SELECT event_type, n, sum_value FROM winc ORDER BY event_type").collect()
      assert(rows.length == 2)
      assert(rows(0).getString(0) == "click" && rows(0).getLong(1) == 2L &&
        rows(0).getDouble(2) == 5.0)
      assert(rows(1).getString(0) == "view" && rows(1).getLong(1) == 1L)
    } finally query.stop()
  }

  test("streaming dedup: only first-seen hashes are emitted, across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import StreamOps.HashedDoc
    val input = MemoryStream[HashedDoc]
    val query = StreamOps.streamingDedup(input.toDS())
      .writeStream.format("memory").queryName("sdedup").outputMode(OutputMode.Update).start()
    try {
      // batch 1: two distinct hashes + one in-batch dup (higher id loses)
      input.addData(HashedDoc(10, "ha"), HashedDoc(11, "hb"), HashedDoc(12, "ha"))
      query.processAllAvailable()
      // batch 2: cross-batch dup of ha + a new hash
      input.addData(HashedDoc(13, "ha"), HashedDoc(14, "hc"))
      query.processAllAvailable()
      val rows = s.sql("SELECT doc_id, h FROM sdedup ORDER BY doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSeq == Seq((10L, "ha"), (11L, "hb"), (14L, "hc")))
    } finally query.stop()
  }

  test("streaming bloom screen: cross-batch dups hit, fresh content does not, never un-sets") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import StreamOps.BloomDoc
    val input = MemoryStream[BloomDoc]
    val query = StreamOps.streamingBloomDedup(input.toDS())
      .writeStream.format("memory").queryName("sbloom")
      .outputMode(OutputMode.Update).start()
    try {
      val ha = "a3f2c1d4e5b6a7980123456789abcdef"
      val hb = "0b1c2d3e4f5a6b7c8d9e0f1a2b3c4d5e"
      val hc = "fedcba98765432100123456789abcdef"
      // batch 1: two fresh hashes + an in-batch dup of ha (doc 12)
      input.addData(BloomDoc(10, ha), BloomDoc(11, hb), BloomDoc(12, ha))
      query.processAllAvailable()
      // batch 2: cross-batch dup of ha + a fresh hash
      input.addData(BloomDoc(13, ha), BloomDoc(14, hc))
      query.processAllAvailable()
      val rows = s.sql("SELECT doc_id, bloom_hit FROM sbloom ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
      assert(!rows(10) && !rows(11), "first sight of a hash never hits")
      assert(rows(12), "in-batch duplicate hits (doc_id order folds first)")
      assert(rows(13), "cross-batch duplicate hits: a bloom has NO false negatives")
      assert(!rows(14), "fresh content passes the screen")
    } finally query.stop()
  }

  test("streaming conformance transitions carry per-user state across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import StreamOps.ConfEvent
    val allowed = Set("signup>click", "click>click", "click>purchase")
    val input = MemoryStream[ConfEvent]
    val query = StreamOps.streamingConformance(input.toDS(), allowed)
      .writeStream.format("memory").queryName("sconf")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1 arrives out of order; the op folds by (ts, event_id)
      input.addData(
        ConfEvent(2, 2L * H, 7, "click"),
        ConfEvent(1, 1L * H, 7, "signup"),
        ConfEvent(3, 3L * H, 8, "error"))
      query.processAllAvailable()
      // batch 2: user 7 continues (state carried), user 8 transitions
      input.addData(
        ConfEvent(4, 4L * H, 7, "purchase"),
        ConfEvent(5, 5L * H, 8, "click"))
      query.processAllAvailable()
      val rows = s.sql(
        "SELECT user_id, from_type, to_type, is_allowed FROM sconf " +
        "ORDER BY user_id, from_type, to_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3)))
      assert(rows.toSeq == Seq(
        (7L, "click", "purchase", true), // cross-batch: state carried
        (7L, "signup", "click", true),   // in-batch, reordered correctly
        (8L, "error", "click", false)))  // off-model transition flagged
    } finally query.stop()
  }

  test("session_window (batch) matches the window-lag sessionize structure") {
    val ev = Tables.events(spark, sfDir)
    val viaSw = StreamOps.sessionWindowCounts(ev)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_sessions"),
        org.apache.spark.sql.functions.sum("n_events").as("n_ev"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaLag = SparkEntry.queries("ev_sessionize")(spark, sfDir)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_sessions"),
        org.apache.spark.sql.functions.sum("n_events").as("n_ev"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viaSw == viaLag)
  }

  test("stream-static as-of enrichment matches per-batch asofJoin") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val static = Seq((1L, 100L, "v1"), (1L, 300L, "v2"), (2L, 50L, "w1"))
      .toDF("user_id", "bts", "snapshot")
    val input = MemoryStream[(Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val query = StreamOps.startAsofEnrich(
      input.toDF().toDF("user_id", "ts"), static, Seq("user_id"), "ts", "bts") { b =>
      got ++= b.select("user_id", "ts", "asof.snapshot").collect()
        .map(r => (r.getLong(0), r.getLong(1),
                   if (r.isNullAt(2)) null else r.getString(2)))
    }
    try {
      input.addData((1L, 200L), (1L, 400L), (2L, 10L))
      query.processAllAvailable()
      assert(got.sortBy(t => (t._1, t._2)).toSeq == Seq(
        (1L, 200L, "v1"), (1L, 400L, "v2"), (2L, 10L, null)))
    } finally query.stop()
  }

  test("chained windowed top-k: most active users per closed hour window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Event]
    val query = StreamOps.windowedTopUsers(input.toDF(), k = 2)
      .writeStream.format("memory").queryName("topusers")
      .outputMode(OutputMode.Append).start()
    try {
      // hour 0: user 1 ×3, user 2 ×2, user 3 ×1
      input.addData(
        Event(1, 0L, 1, "click", 1.0), Event(2, 1L * 60 * 1000000000L, 1, "view", 1.0),
        Event(3, 2L * 60 * 1000000000L, 1, "click", 1.0),
        Event(4, 3L * 60 * 1000000000L, 2, "click", 1.0),
        Event(5, 4L * 60 * 1000000000L, 2, "view", 1.0),
        Event(6, 5L * 60 * 1000000000L, 3, "click", 1.0))
      query.processAllAvailable()
      // advance past hour 0 + 30min watermark so the window closes
      input.addData(Event(7, 2 * H, 9, "click", 1.0))
      query.processAllAvailable()
      input.addData(Event(8, 4 * H, 9, "click", 1.0))
      query.processAllAvailable()
      val rows = s.sql(
        """SELECT window.start, inline(top_users) FROM topusers""").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getDouble(1), r.getLong(2)))
      val hour0 = rows.filter(_._1 == 0L).map(t => (t._2, t._3)).toSeq
      assert(hour0 == Seq((3.0, 1L), (2.0, 2L)), s"got ${rows.toSeq}")
    } finally query.stop()
  }

  test("heavy-hitters sketch aggregates incrementally across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val types = Seq("click", "view", "click", "purchase", "click", "view")
    val input = MemoryStream[String]
    val query = input.toDF().toDF("event_type")
      .agg(graft.ops.HeavyHitters.heavyHitters(16)(col("event_type")).as("hh"))
      .writeStream.format("memory").queryName("hhstream")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(types.take(3))
      query.processAllAvailable()
      input.addData(types.drop(3))
      query.processAllAvailable()
      val last = s.sql("SELECT explode(hh) AS h FROM hhstream")
        .select("h.key", "h.count", "h.err").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // m exceeds the domain → exact counts with zero error, merged
      // across the two micro-batches
      assert(last.toSet == Set(("click", 3L, 0L), ("view", 2L, 0L), ("purchase", 1L, 0L)))
    } finally query.stop()
  }

  test("quantile sketch aggregates incrementally across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Double]
    val query = input.toDF().toDF("v")
      .agg(graft.ops.QuantileSketch.approxQuantiles(64, Seq(0.5, 0.9))(col("v"))
        .as("qs"))
      .writeStream.format("memory").queryName("qsketch")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(5.0, 1.0, 3.0)
      query.processAllAvailable()
      input.addData(2.0, 4.0, 6.0)
      query.processAllAvailable()
      val qs = s.sql("SELECT element_at(qs, 1), element_at(qs, 2) FROM qsketch")
        .collect().map(r => (r.getDouble(0), r.getDouble(1)))
      // n = 6 ≤ k → exact under the quantile_disc rank rule, merged
      // across the two micro-batches: r(0.5) = 3 → 3.0, r(0.9) = 6 → 6.0
      assert(qs.last == ((3.0, 6.0)), qs.toSeq)
    } finally query.stop()
  }

  test("collection ingest recovers from its checkpoint after a restart") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val base = SparkSpec.tempDir("graft-restart").toString
    val (collPath, ckpt) = (base + "/coll", base + "/ckpt")
    val input = MemoryStream[Point]
    val q1 = StreamOps.startCollectionIngest(input.toDF(), collPath, ckpt)
    try {
      input.addData(
        Point(1, 101, 10, 0, "a", Seq(1.0, 0.0)),
        Point(2, 201, 20, 0, "b", Seq(0.0, 1.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    // new query, same checkpoint: committed batches are not re-applied,
    // new batches land — the micro-batch merge is restart-safe
    val q2 = StreamOps.startCollectionIngest(input.toDF(), collPath, ckpt)
    try {
      input.addData(Point(1, 102, 11, 0, "c", Seq(0.5, 0.5)))
      q2.processAllAvailable()
      val rows = graft.store.CollectionStorage.load(s, collPath)
        .select("user_id", "vector_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 101L), (2L, 201L), (1L, 102L)))
    } finally q2.stop()
  }

  test("streaming prep pipeline equals batch scrub+normalize+quality+dedup") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // seed deterministic PII so the scrub stage has real work: docs
    // differing only in their leaked email must dedup to one survivor
    val docs = Tables.documents(s, sfDir).filter(col("doc_id") < 200)
      .select(col("doc_id"),
        concat(col("text"), lit(" reach me at u"), col("doc_id").cast("string"),
          lit("@leak.example.com or 555-123-4567")).as("text"))
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // batch reference: same stages (scrub first), batch plan,
    // first-seen = min doc_id
    val scrubbed = graft.text.Pii.redact(docs)
      .select(col("doc_id"), col("redacted").as("text"))
    val q = graft.text.TextAnalytics.qualityScores(scrubbed)
      .filter(col("quality") >= 0.15).select("doc_id")
    val expected = scrubbed.join(q, "doc_id")
      .select(col("doc_id"),
        graft.functions.VectorFunctions
          .md5Long(graft.text.TextAnalytics.normalize(col("text"))).as("h"))
      .groupBy("h").agg(org.apache.spark.sql.functions.min("doc_id").as("doc_id"))
      .collect().map(_.getLong(1)).toSet
    val input = MemoryStream[(Long, String)]
    val query = StreamOps.prepPipeline(
        input.toDF().toDF("doc_id", "text"), minQuality = 0.15)
      .writeStream.format("memory").queryName("prep")
      .outputMode(OutputMode.Update).start()
    try {
      val (first, second) = rows.partition(_._1 % 2 == 0)
      input.addData(first.toSeq)
      query.processAllAvailable()
      input.addData(second.toSeq)
      query.processAllAvailable()
      val got = s.sql("SELECT doc_id FROM prep").collect().map(_.getLong(0)).toSet
      // streaming first-seen may keep a different member of a dup
      // group than batch min-id (arrival order differs), so compare
      // the dup-group structure: same number of survivors, and the
      // survivor sets map 1:1 through the content hash
      assert(got.size == expected.size)
      // structural check: survivors' content-hash sets are identical
      val gotH = s.sql("SELECT doc_id FROM prep").join(scrubbed, "doc_id")
        .select(graft.functions.VectorFunctions
          .md5Long(graft.text.TextAnalytics.normalize(col("text"))).as("h"))
        .collect().map(_.getLong(0)).toSet
      val expH = scrubbed.filter(col("doc_id").isin(expected.toSeq: _*))
        .select(graft.functions.VectorFunctions
          .md5Long(graft.text.TextAnalytics.normalize(col("text"))).as("h"))
        .collect().map(_.getLong(0)).toSet
      assert(gotH == expH)
    } finally query.stop()
  }

  test("streaming debounce equals the batch ev_debounce counts across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.types._
    val G = 5000000000L // the 5 s gap in nanos
    // bursts straddling the gap: some within 5 s of the previous raw
    // event (dropped), some beyond (kept); two users, two types
    val evRows = for (u <- 0L until 2L; t <- Seq("click", "view");
                      i <- 0L until 10L) yield {
      val step = if (i % 3 == 0) G + 1 else G / 2 // alternate keep/drop
      val base = u * 1000000L + (if (t == "click") 0L else 500000L)
      (u * 100 + i + (if (t == "click") 0L else 1000L),
       base + i * step, u, t)
    }
    val dir = SparkSpec.tempDir("graft-deb").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    s.createDataFrame(
      s.sparkContext.parallelize(evRows.map { case (id, ts, u, t) =>
        org.apache.spark.sql.Row(id, ts, u, t, 1.0, "{}") }, 3), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ev_debounce")(s, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val input = MemoryStream[StreamOps.DebEvent]
    val query = StreamOps.streamingDebounce(input.toDS())
      .writeStream.format("memory").queryName("deb")
      .outputMode(OutputMode.Append).start()
    try {
      val evts = evRows.map { case (id, ts, u, t) =>
        StreamOps.DebEvent(id, ts, u, t) }
      // three micro-batches in per-key event-time order: the last-ts
      // state must carry the throttle across batch boundaries
      Seq(evts.filter(_.event_id % 100 < 3),
          evts.filter(e => e.event_id % 100 >= 3 && e.event_id % 100 < 7),
          evts.filter(_.event_id % 100 >= 7)).foreach { b =>
        input.addData(b); query.processAllAvailable()
      }
      val kept = s.sql("SELECT event_type, count(*) AS n FROM deb GROUP BY event_type")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // batch reports (n_raw, n_kept) per type; stream emits kept only
      assert(kept == batch.map { case (t, (_, k)) => t -> k })
      // and drops happened (the test data is not vacuous)
      assert(batch.values.exists { case (raw, k) => k < raw })
    } finally query.stop()
  }

  test("streaming SCD2 emits exactly the batch query's closed intervals") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.types._
    val H = 3600000000000L
    // per user: type runs of length 1-3 with repeats, so some events
    // extend the open interval (no emit) and some close it
    val types = Seq("a", "a", "b", "c", "c", "c", "a", "b", "b", "a")
    val evRows = for (u <- 0L until 3L; i <- types.indices) yield
      (u * 100 + i, i * H + u * 1000L, u, types(i))
    val dir = SparkSpec.tempDir("graft-scd2").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    s.createDataFrame(
      s.sparkContext.parallelize(evRows.map { case (id, ts, u, t) =>
        org.apache.spark.sql.Row(id, ts, u, t, 1.0, "{}") }, 3), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // batch closed intervals (valid_* are micros there — oracle units)
    val batchClosed = SparkEntry.queries("ev_scd2")(s, dir).collect()
      .filter(!_.isNullAt(4))
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
                 r.getLong(3), r.getLong(4))).toSet
    assert(batchClosed.nonEmpty)
    val input = MemoryStream[StreamOps.Scd2Event]
    val query = StreamOps.streamingScd2(input.toDS())
      .writeStream.format("memory").queryName("scd2")
      .outputMode(OutputMode.Append).start()
    try {
      val evts = evRows.map { case (id, ts, u, t) =>
        StreamOps.Scd2Event(id, ts, u, t) }
      // micro-batches split mid-run (per-key event-time order kept):
      // open intervals must carry across batch boundaries in state
      Seq(evts.filter(_.event_id % 100 < 4),
          evts.filter(e => e.event_id % 100 >= 4 && e.event_id % 100 < 7),
          evts.filter(_.event_id % 100 >= 7)).foreach { b =>
        input.addData(b); query.processAllAvailable()
      }
      val got = s.sql("SELECT * FROM scd2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
                   r.getLong(3) / 1000, r.getLong(4) / 1000)).toSet
      assert(got == batchClosed)
    } finally query.stop()
  }

  test("streaming seasonal flags equal the batch ts_seasonal counts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.types._
    val H = 3600000000000L // 1h in nanos
    // 12 events per (type, hour-of-day) cell with one planted spike:
    // a lone outlier can reach at most z = (n−1)/√n, so n must be
    // ≥ 11 for it to clear the 3σ gate (here z ≈ 3.18)
    val evRows = (for (t <- Seq("click", "view"); h <- 0L until 6L;
                       i <- 0L until 12L) yield {
      val spike = h == 2 && i == 11 && t == "click"
      (h * H + i * 1000L, i % 3, t, if (spike) 500.0 else 10.0 + i % 3)
    }).zipWithIndex.map { case ((ts, u, t, v), idx) => (idx.toLong, ts, u, t, v) }
    val dir = SparkSpec.tempDir("graft-seas").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    s.createDataFrame(
      s.sparkContext.parallelize(evRows.map { case (id, ts, u, t, v) =>
        org.apache.spark.sql.Row(id, ts, u, t, v, "{}") }, 3), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ts_seasonal")(s, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(batch.values.exists(_._2 > 0), "planted spike must flag in batch")
    val profile = StreamOps.seasonalProfile(Tables.events(s, dir))
    val input = MemoryStream[StreamOps.SeasEvent]
    val query = StreamOps.streamingSeasonalFlags(input.toDS(), profile)
      .writeStream.format("memory").queryName("seas")
      .outputMode(OutputMode.Append).start()
    try {
      val evts = evRows.map { case (id, ts, _, t, v) =>
        StreamOps.SeasEvent(id, ts, t, v) }
      evts.grouped(20).foreach { b => input.addData(b); query.processAllAvailable() }
      val got = s.sql(
        "SELECT event_type, count(*) AS n, sum(CASE WHEN anom THEN 1 ELSE 0 END) AS a " +
        "FROM seas GROUP BY event_type")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == batch)
    } finally query.stop()
  }

  test("streaming bounded EWMA equals the batch ev_ewma_bounded query") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.types._
    // deterministic corpus incl. a NULL value (occupies a lag slot)
    val rng = new scala.util.Random(42)
    val evRows = for (u <- 0L until 5L; i <- 0L until 12L) yield {
      val v: java.lang.Double =
        if (u == 1L && i == 3L) null
        else math.round(rng.nextDouble() * 10000) / 100.0
      (u * 100 + i, i * H + u, u, v)
    }
    val dir = SparkSpec.tempDir("graft-ewma").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    s.createDataFrame(
      s.sparkContext.parallelize(evRows.map { case (id, ts, u, v) =>
        org.apache.spark.sql.Row(id, ts, u, "click", v, "{}") }, 3), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ev_ewma_bounded")(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val input = MemoryStream[StreamOps.EwmaEvent]
    val query = StreamOps.streamingEwma(input.toDS())
      .writeStream.format("memory").queryName("ewma")
      .outputMode(OutputMode.Append).start()
    try {
      val evts = evRows.map { case (id, ts, u, v) =>
        StreamOps.EwmaEvent(id, ts, u, Option(v).map(_.doubleValue)) }
      // three micro-batches, per-user in event-time order (the
      // operator's arrival contract): the 8-lag ring must carry
      // smoothing state across the batch boundaries
      Seq(evts.filter(_.event_id % 100 < 4),
          evts.filter(e => e.event_id % 100 >= 4 && e.event_id % 100 < 8),
          evts.filter(_.event_id % 100 >= 8)).foreach { b =>
        input.addData(b); query.processAllAvailable()
      }
      val got = s.sql("SELECT user_id, event_id, ewma FROM ewma").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      assert(got == batch)
    } finally query.stop()
  }

  test("streaming last-touch attribution equals the batch ev_attribution query") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(7)
    val types = Seq("click", "view", "purchase", "error")
    val evRows = for (u <- 0L until 6L; i <- 0L until 20L) yield {
      val t = types(rng.nextInt(types.length))
      (u * 100 + i, i * H + u, u, t,
       math.round(rng.nextDouble() * 10000) / 100.0, rng.nextInt(100).toLong)
    }
    val dir = SparkSpec.tempDir("graft-attr").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    s.createDataFrame(
      s.sparkContext.parallelize(evRows.map { case (id, ts, u, t, v, k) =>
        org.apache.spark.sql.Row(id, ts, u, t, v, s"""{"k": $k}""") }, 3), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ev_attribution")(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val input = MemoryStream[StreamOps.AttrEvent]
    val query = StreamOps.streamingAttribution(input.toDS())
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append).start()
    try {
      val evts = evRows.map { case (id, ts, u, t, v, k) =>
        StreamOps.AttrEvent(id, ts, u, t, v, k) }
      // two micro-batches split on event time: the last-click state
      // must carry across the boundary
      Seq(evts.filter(_.event_id % 100 < 10),
          evts.filter(_.event_id % 100 >= 10)).foreach { b =>
        input.addData(b); query.processAllAvailable()
      }
      val got = s.sql(
        "SELECT campaign, count(*) AS n, round(sum(value), 4) AS revenue " +
        "FROM attr GROUP BY campaign").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == batch)
    } finally query.stop()
  }

  test("streaming conversion lag emits each user's signup->purchase latency once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[Event]
    val query = StreamOps.streamingConversionLag(input.toDS())
      .writeStream.format("memory").queryName("conv")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1 signs up in batch 1, purchases in batch 2 (2h lag);
      // user 2 purchases before signing up (no conversion);
      // user 3 converts twice — only the FIRST purchase counts
      input.addData(
        Event(1, 0L, 1, "signup", 1.0),
        Event(2, H, 2, "purchase", 1.0),
        Event(3, 0L, 3, "signup", 1.0),
        Event(4, H, 3, "purchase", 1.0))
      query.processAllAvailable()
      input.addData(
        Event(5, 2 * H, 1, "purchase", 1.0),
        Event(6, 3 * H, 3, "purchase", 1.0)) // later purchase: ignored
      query.processAllAvailable()
      val got = s.sql("SELECT user_id, lag_h FROM conv").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == Map(1L -> 2.0, 3L -> 1.0), got)
    } finally query.stop()
  }

  test("streaming LSH near-dup emits the batch candidate pairs across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = Tables.documents(s, sfDir).filter(col("doc_id") < 150)
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = graft.dedup.Dedup.minhashLshPairs(
        graft.dedup.Dedup.minhashSignatures(docs, 5, 8), 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val input = MemoryStream[(Long, String)]
    val query = StreamOps.streamingNearDup(
        StreamOps.bandKeys(input.toDF().toDF("doc_id", "text"), 5, 8, 2)
          .as[StreamOps.BandKey])
      .writeStream.format("memory").queryName("neardup")
      .outputMode(OutputMode.Update).start()
    try {
      val (first, second) = rows.partition(_._1 < 75)
      input.addData(first.toSeq)
      query.processAllAvailable()
      input.addData(second.toSeq)
      query.processAllAvailable()
      val got = s.sql("SELECT DISTINCT da, db FROM neardup").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
      assert(got.nonEmpty) // testdata plants near-dups under doc_id 150
    } finally query.stop()
  }

  test("streaming growth transitions roll up to the batch accounting table") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.types._
    val W = 604800000000000L // one week of nanos
    // active-week sets with every transition kind: gaps (resurrected),
    // consecutive weeks (retained), late first activity (new at w>0),
    // single-week users (churned next week)
    val activeWeeks = Map(0L -> Seq(0L, 1L, 2L), 1L -> Seq(0L, 2L),
      2L -> Seq(1L, 2L, 3L), 3L -> Seq(0L), 4L -> Seq(0L, 1L, 3L))
    // 14 events per (user, week): the batch accounting counts a week
    // as active only at >=14 events (round-11 heavy threshold), and
    // the per-week dedup path must still fire on the repeats
    val evRows = for {
      (u, wks) <- activeWeeks.toSeq; wk <- wks; r <- 0 to 13
    } yield (u * 1000 + wk * 100 + r, wk * W + u * 1000L + r, u)
    val dir = SparkSpec.tempDir("graft-growth").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    s.createDataFrame(
      s.sparkContext.parallelize(evRows.map { case (id, ts, u) =>
        org.apache.spark.sql.Row(id, ts, u, "click", 1.0, "{}") }, 3), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // batch accounting: wk -> (n_new, n_retained, n_resurrected)
    val batch = SparkEntry.queries("ev_growth_accounting")(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(batch.values.map(_._3).sum > 0) // data plants resurrections
    val input = MemoryStream[StreamOps.GrowthEvent]
    val query = StreamOps.streamingGrowth(input.toDS())
      .writeStream.format("memory").queryName("growth")
      .outputMode(OutputMode.Append).start()
    try {
      val evts = evRows.map { case (id, ts, u) =>
        StreamOps.GrowthEvent(id, ts, u) }
      // micro-batches split at week boundaries: transitions must
      // carry the last-active week across batches in state
      Seq(evts.filter(_.ts < W), evts.filter(e => e.ts >= W && e.ts < 2 * W),
          evts.filter(_.ts >= 2 * W)).foreach { b =>
        input.addData(b); query.processAllAvailable()
      }
      val got = s.sql(
          """SELECT wk,
             sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END),
             sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END),
             sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END)
             FROM growth GROUP BY wk""").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(got == batch, s"streaming=$got batch=$batch")
    } finally query.stop()
  }

  test("streaming CUSUM tracks the batch changepoint per type") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.types._
    val D = 86400000000000L // one day of nanos
    // click: level shift at day 5 (unique max |cusum| at day 4);
    // view: alternating counts → TIED max |cusum| on every even day,
    // exercising the first-day tie-break both engines must share
    val counts = Map("click" -> (0 to 9).map(d => if (d < 5) 3 else 8),
                     "view" -> (0 to 9).map(d => 4 + d % 2))
    val evRows = for {
      (et, cs) <- counts.toSeq; (c, d) <- cs.zipWithIndex; j <- 0 until c
    } yield (math.abs(et.hashCode).toLong * 10000 + d * 100 + j,
             d * D + j * 1000L, j.toLong, et)
    val dir = SparkSpec.tempDir("graft-cusum").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    s.createDataFrame(
      s.sparkContext.parallelize(evRows.map { case (id, ts, u, et) =>
        org.apache.spark.sql.Row(id, ts, u, et, 1.0, "{}") }, 3), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("ts_cusum")(s, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    // the static half: per-type μ exactly as the batch rounds it
    val mu = counts.map { case (et, cs) =>
      et -> BigDecimal(cs.sum.toDouble / cs.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
    val rows = for ((et, cs) <- counts.toSeq; (c, d) <- cs.zipWithIndex)
      yield StreamOps.CusumDay(et, d.toLong, c.toLong, mu(et))
    val input = MemoryStream[StreamOps.CusumDay]
    val query = StreamOps.streamingCusum(input.toDS())
      .writeStream.format("memory").queryName("cusum")
      .outputMode(OutputMode.Append).start()
    try {
      // micro-batches split mid-series: the changepoint-so-far must
      // survive in state across batch boundaries
      Seq(rows.filter(_.day < 3), rows.filter(r => r.day >= 3 && r.day < 7),
          rows.filter(_.day >= 7)).foreach { b =>
        input.addData(b); query.processAllAvailable()
      }
      val got = s.sql(
          "SELECT event_type, change_day, round(max_abs, 4) FROM cusum WHERE day = 9")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == batch, s"streaming=$got batch=$batch")
    } finally query.stop()
  }

  test("streaming count-min cells equal the batch sketch across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val types = Seq("click", "view", "purchase", "signup", "error")
    val evts = (0 until 400).map(i => StreamOps.CmEvent(types(i % types.length)))
    // batch cells over the same rows — the SAME countMinCells code path
    val batch = StreamOps.countMinCells(evts.toDF())
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val input = MemoryStream[StreamOps.CmEvent]
    // Complete mode: the cell table IS the aggregation state (≤ 256
    // mergeable cells), re-emitted whole each micro-batch
    val query = StreamOps.countMinCells(input.toDF())
      .writeStream.format("memory").queryName("cms")
      .outputMode(OutputMode.Complete).start()
    try {
      evts.grouped(73).foreach { b => input.addData(b); query.processAllAvailable() }
      val got = s.sql("SELECT d, cell, cnt FROM cms")
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == batch, "incremental cells must equal the one-shot build")
      // the sketch invariant holds on the streaming estimate too:
      // min over the key's cells is >= the true count
      def md5Long60(sv: String): Long = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(sv.getBytes("UTF-8")).take(8)
          .map(b => f"$b%02x").mkString.take(15), 16)
      val est = types.map { t =>
        val cells = (0 until 4).map { dd =>
          val cell = md5Long60(s"cm$dd:$t") % 64
          got((dd, cell))
        }
        t -> cells.min
      }.toMap
      val exact = evts.groupBy(_.event_type).view.mapValues(_.size.toLong).toMap
      types.foreach { t => assert(est(t) >= exact(t), s"one-sided bound for $t") }
    } finally query.stop()
  }

  test("streaming LOCF equals the batch last(ignoreNulls) window across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // per user: values with nulls interleaved, incl. a LEADING null
    // (stays unfilled) and a null straddling a micro-batch boundary
    // (must fill from carried state)
    val evts = for (u <- 0L until 4L; i <- 0L until 10L) yield {
      val v: Option[Double] =
        if (i == 0 && u == 2) None        // leading null
        else if (i % 3 == 1) None          // interior nulls
        else Some(u * 100.0 + i)
      StreamOps.LocfEvent(u * 100 + i, i, u, v)
    }
    // batch truth: last non-null at or before each event per user
    val expected = evts.groupBy(_.user_id).flatMap { case (_, es) =>
      var last: Option[Double] = None
      es.sortBy(e => (e.ts, e.event_id)).map { e =>
        val f = e.value.orElse(last)
        e.value.foreach(v => last = Some(v))
        e.event_id -> f
      }
    }.toMap
    val input = MemoryStream[StreamOps.LocfEvent]
    val query = StreamOps.streamingLocf(input.toDS())
      .writeStream.format("memory").queryName("locf")
      .outputMode(OutputMode.Append).start()
    try {
      Seq(evts.filter(_.ts < 4), evts.filter(e => e.ts >= 4 && e.ts < 7),
          evts.filter(_.ts >= 7)).foreach { b =>
        input.addData(b); query.processAllAvailable()
      }
      val got = s.sql("SELECT event_id, filled FROM locf").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(got.size == evts.size)
      assert(got == expected)
      // the leading null stays unfilled; a boundary-straddling null fills
      assert(got(200L).isEmpty)
      assert(got(204L).contains(203.0)) // ts=4 null? no: i%3==1 → ids 201,204,207 null
    } finally query.stop()
  }

  test("streaming Bollinger bands reproduce the batch window bit-for-bit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val batch = SparkEntry.queries("ts_bollinger")(s, sfDir).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("x"),
        r.getAs[Double]("mid"), r.getAs[Double]("lo"), r.getAs[Double]("hi"),
        r.getAs[Long]("breakout")))
      .sortBy(_._1)
    assert(batch.length >= 3)
    // feed the FULL daily series (the batch output starts at day 7)
    val daily = Tables.events(s, sfDir)
      .groupBy(org.apache.spark.sql.functions.expr(
        "ts DIV 86400000000000").as("day"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("x"))
      .orderBy("day").collect()
      .map(r => StreamOps.BollDay(r.getLong(0), r.getLong(1)))
    val input = MemoryStream[StreamOps.BollDay]
    val query = StreamOps.streamingBollinger(input.toDS())
      .writeStream.format("memory").queryName("boll")
      .outputMode(OutputMode.Append).start()
    try {
      val cut1 = daily.length / 3; val cut2 = 2 * daily.length / 3
      Seq(daily.slice(0, cut1), daily.slice(cut1, cut2), daily.drop(cut2))
        .foreach { b => input.addData(b.toSeq); query.processAllAvailable() }
      val got = s.sql("SELECT day, x, mid, lo, hi, breakout FROM boll")
        .collect()
        .map(r => (r.getAs[Long]("day"), r.getAs[Long]("x"),
          r.getAs[Double]("mid"), r.getAs[Double]("lo"), r.getAs[Double]("hi"),
          r.getAs[Long]("breakout")))
        .sortBy(_._1)
      assert(got.toSeq == batch.toSeq,
        s"stream=${got.take(2).mkString(",")} batch=${batch.take(2).mkString(",")}")
    } finally query.stop()
  }

  test("streaming freq-cap keeps exactly the first k per (user, day)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.functions._
    // batch truth on real sf0.001 events: rank ≤ 3 per (user, day)
    // in (ts, event_id) order
    val ev = Tables.events(s, sfDir)
      .select(col("event_id"), col("user_id"),
        expr("ts DIV 86400000000000").as("day"), col("ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "day").orderBy("ts", "event_id")
    val truth = ev.withColumn("rk", row_number().over(w))
      .select(col("event_id"), (col("rk") <= 3).as("kept"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val days = ev.orderBy("ts", "event_id").collect()
      .map(r => StreamOps.CapEvent(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    val input = MemoryStream[StreamOps.CapEvent]
    val query = StreamOps.streamingFreqCap(input.toDS(), cap = 3)
      .writeStream.format("memory").queryName("fcap")
      .outputMode(OutputMode.Append).start()
    try {
      val cut1 = days.length / 3; val cut2 = 2 * days.length / 3
      Seq(days.slice(0, cut1), days.slice(cut1, cut2), days.drop(cut2))
        .foreach { b => input.addData(b.toSeq); query.processAllAvailable() }
      val got = s.sql("SELECT event_id, kept FROM fcap").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got.size == truth.size)
      assert(got == truth)
      // and at least one key actually hit the cap on this corpus
      assert(got.values.exists(!_))
    } finally query.stop()
  }

  test("streaming Page-Hinkley reproduces the batch detector bit-for-bit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // batch reference on the real sf0.001 daily series
    val batch = SparkEntry.queries("stat_page_hinkley")(s, sfDir).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("x"),
        r.getAs[Double]("ph"), r.getAs[Long]("alarm")))
      .sortBy(_._1)
    assert(batch.length >= 3)
    // the frozen baseline, re-derived through the same pinned math
    val (refU, lambda) =
      StreamOps.phBaseline(batch.toSeq.map(b => (b._1, b._2)))
    val input = MemoryStream[StreamOps.PhDay]
    val query = StreamOps.streamingPageHinkley(input.toDS(), refU, lambda)
      .writeStream.format("memory").queryName("ph")
      .outputMode(OutputMode.Append).start()
    try {
      val days = batch.map { case (day, x, _, _) => StreamOps.PhDay(day, x) }
      // three micro-batches: (cum, min) must carry across them
      val cut1 = days.length / 3; val cut2 = 2 * days.length / 3
      Seq(days.slice(0, cut1), days.slice(cut1, cut2), days.drop(cut2))
        .foreach { b => input.addData(b.toSeq); query.processAllAvailable() }
      val got = s.sql("SELECT day, x, ph, alarm FROM ph").collect()
        .map(r => (r.getAs[Long]("day"), r.getAs[Long]("x"),
          r.getAs[Double]("ph"), r.getAs[Long]("alarm")))
        .sortBy(_._1)
      assert(got.toSeq == batch.toSeq,
        s"stream=${got.take(3).mkString(",")} batch=${batch.take(3).mkString(",")}")
    } finally query.stop()
  }

  test("streaming Kalman filter reproduces the batch fold bit-for-bit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // batch reference on the real sf0.001 daily series
    val batch = SparkEntry.queries("ts_kalman_level")(s, sfDir).collect()
      .map(r => (r.getAs[Long]("t"), r.getAs[Long]("day"),
        r.getAs[Double]("obs"), r.getAs[Double]("level"),
        Option(r.getAs[java.lang.Double]("gain")).map(_.doubleValue)))
      .sortBy(_._1)
    assert(batch.length >= 3)
    val input = MemoryStream[StreamOps.KalmanDay]
    val query = StreamOps.streamingKalman(input.toDS())
      .writeStream.format("memory").queryName("kalman")
      .outputMode(OutputMode.Append).start()
    try {
      val days = batch.map { case (t, day, obs, _, _) =>
        StreamOps.KalmanDay("events", t, day, obs) }
      // three micro-batches: state must carry (level, p) across them
      val cut1 = days.length / 3; val cut2 = 2 * days.length / 3
      Seq(days.slice(0, cut1), days.slice(cut1, cut2), days.drop(cut2))
        .foreach { b => input.addData(b.toSeq); query.processAllAvailable() }
      val got = s.sql("SELECT t, day, obs, level, gain FROM kalman")
        .collect()
        .map(r => (r.getAs[Long]("t"), r.getAs[Long]("day"),
          r.getAs[Double]("obs"), r.getAs[Double]("level"),
          Option(r.getAs[java.lang.Double]("gain")).map(_.doubleValue)))
        .sortBy(_._1)
      assert(got.toSeq == batch.toSeq,
        s"stream=${got.take(3).mkString(",")} batch=${batch.take(3).mkString(",")}")
    } finally query.stop()
  }

  test("streaming winsorize: sketch cutoffs within rank-error bound") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // "big": 3000 values force compaction at k=64; "small": 50 values
    // stay under k, so its cutoffs must be EXACT
    val rnd = new scala.util.Random(11)
    val big = rnd.shuffle((1 to 3000).toList).zipWithIndex.map {
      case (v, i) => StreamOps.WinsEvent(i.toLong, i.toLong, "big", v.toDouble)
    }
    val small = (1 to 50).map(i =>
      StreamOps.WinsEvent(10000L + i, i.toLong, "small", i.toDouble))
    val input = MemoryStream[StreamOps.WinsEvent]
    val query = StreamOps.streamingWinsorize(input.toDS(), k = 64)
      .writeStream.format("memory").queryName("wins")
      .outputMode(OutputMode.Append).start()
    try {
      val all = (big ++ small).sortBy(_.event_id)
      val n3 = all.length / 3
      Seq(all.take(n3), all.slice(n3, 2 * n3), all.drop(2 * n3)).foreach {
        b => input.addData(b.toSeq); query.processAllAvailable()
      }
      // cutoffs of the LAST emitted row per key = full-stream state
      val last = s.sql(
          """SELECT event_type, lo, hi FROM (
             SELECT event_type, lo, hi,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY event_id DESC) AS rk
             FROM wins) WHERE rk = 1""").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      // big key: true rank of each cutoff within 4*n/k of its target
      val (blo, bhi) = last("big")
      val n = 3000.0
      val bound = 4.0 * n / 64
      assert(math.abs(blo - math.ceil(0.05 * n)) <= bound, s"lo=$blo")
      assert(math.abs(bhi - math.ceil(0.95 * n)) <= bound, s"hi=$bhi")
      // small key (n=50 <= k): exact quantile_disc cutoffs
      assert(last("small") == ((math.ceil(0.05 * 50), math.ceil(0.95 * 50))),
        last("small").toString)
      // every clipped value is inside [lo, hi] of its emission
      val bad = s.sql(
        "SELECT count(*) FROM wins WHERE clipped < lo OR clipped > hi")
        .collect()(0).getLong(0)
      assert(bad === 0L)
    } finally query.stop()
  }

  test("scd2 late events below the per-user frontier are dropped, not folded") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val H = 3600000000000L
    val input = MemoryStream[StreamOps.Scd2Event]
    val query = StreamOps.streamingScd2(input.toDS())
      .writeStream.format("memory").queryName("scd2late")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: a(0h), a(1h), b(2h) -> closes (a: 0h..2h); frontier = 2h
      input.addData(Seq(
        StreamOps.Scd2Event(1L, 0L, 7L, "a"),
        StreamOps.Scd2Event(2L, 1 * H, 7L, "a"),
        StreamOps.Scd2Event(3L, 2 * H, 7L, "b")))
      query.processAllAvailable()
      // batch 2: a LATE type change at 1.5h (below the 2h frontier) must
      // be dropped -- folding it would emit (b: 2h..1.5h), an interval
      // that ends before it starts, behind rows already downstream.
      // The on-time 3h event still closes the open b interval.
      input.addData(Seq(
        StreamOps.Scd2Event(4L, H + H / 2, 7L, "c"), // late: dropped
        StreamOps.Scd2Event(5L, 3 * H, 7L, "c")))
      query.processAllAvailable()
      val got = s.sql("SELECT event_type, valid_from, valid_to FROM scd2late")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(("a", 0L, 2 * H), ("b", 2 * H, 3 * H)),
        s"late event leaked into the timeline: $got")
      // intra-batch disorder (same batch, shuffled order) is still fine:
      // a second user's events arrive out of order WITHIN one batch
      input.addData(Seq(
        StreamOps.Scd2Event(11L, 2 * H, 8L, "y"),
        StreamOps.Scd2Event(10L, 0L, 8L, "x")))
      query.processAllAvailable()
      val u8 = s.sql("SELECT event_type, valid_from, valid_to FROM scd2late " +
          "WHERE user_id = 8").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(u8 == Set(("x", 0L, 2 * H)))
    } finally query.stop()
  }

  test("cusum late and duplicate days are dropped, not double-counted") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamOps.CusumDay]
    val query = StreamOps.streamingCusum(input.toDS())
      .writeStream.format("memory").queryName("cusumlate")
      .outputMode(OutputMode.Append).start()
    try {
      // mu = 4.0; days 0..4 counts 3,3,8,8,8 -> cusum -1,-2,2,6,10
      val d = (c: Long, day: Long) => StreamOps.CusumDay("click", day, c, 4.0)
      input.addData(Seq(d(3, 0), d(3, 1), d(8, 2), d(8, 3), d(8, 4)))
      query.processAllAvailable()
      // batch 2 replays day 4 (duplicate) and day 2 (late) alongside the
      // on-time day 5: the replays must be dropped -- folding either
      // would shift every later prefix sum
      input.addData(Seq(d(8, 4), d(8, 2), d(8, 5)))
      query.processAllAvailable()
      val rows = s.sql("SELECT day, cusum FROM cusumlate ORDER BY day")
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.map(_._1).toSeq == (0L to 5L).toSeq,
        s"late/duplicate days re-emitted: ${rows.map(_._1).mkString(",")}")
      // day 5 cusum = 10 + (8 - 4) = 14 -- exactly one fold of each day
      assert(rows.last == ((5L, 14.0)), s"prefix shifted: ${rows.last}")
    } finally query.stop()
  }

  test("freq-cap decisions are FCFS-stable under late arrivals") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamOps.CapEvent]
    val query = StreamOps.streamingFreqCap(input.toDS(), cap = 2)
      .writeStream.format("memory").queryName("fcaplate")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1 fills its budget in batch 1; user 2 admits one
      input.addData(Seq(
        StreamOps.CapEvent(1L, 1L, 0L, 10L),
        StreamOps.CapEvent(2L, 1L, 0L, 20L),
        StreamOps.CapEvent(4L, 2L, 0L, 10L)))
      query.processAllAvailable()
      // batch 2: late events with EARLIER t than already-admitted ones.
      // user 1: budget exhausted -> dropped (no revocation of ids 1/2,
      // even though rank-by-t would have kept id 3 over id 2).
      // user 2: budget remains -> the late event is admitted.
      input.addData(Seq(
        StreamOps.CapEvent(3L, 1L, 0L, 5L),
        StreamOps.CapEvent(5L, 2L, 0L, 5L)))
      query.processAllAvailable()
      val got = s.sql("SELECT event_id, kept FROM fcaplate").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got == Map(1L -> true, 2L -> true, 3L -> false,
        4L -> true, 5L -> true), s"FCFS stability violated: $got")
    } finally query.stop()
  }

  test("ewma late events below the per-user frontier are dropped") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val H = 3600000000000L
    val input = MemoryStream[StreamOps.EwmaEvent]
    val query = StreamOps.streamingEwma(input.toDS())
      .writeStream.format("memory").queryName("ewmalate")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: values 10, 20, 30 at 0h/1h/2h; frontier = 2h
      input.addData(Seq(
        StreamOps.EwmaEvent(1L, 0L, 7L, Some(10.0)),
        StreamOps.EwmaEvent(2L, 1 * H, 7L, Some(20.0)),
        StreamOps.EwmaEvent(3L, 2 * H, 7L, Some(30.0))))
      query.processAllAvailable()
      // batch 2: a LATE value 99 at 1.5h must be dropped (the ring is
      // positional -- it belongs in the middle of already-emitted
      // history); the on-time 40 at 3h folds over [40,30,20,10] only
      input.addData(Seq(
        StreamOps.EwmaEvent(4L, H + H / 2, 7L, Some(99.0)), // late: dropped
        StreamOps.EwmaEvent(5L, 3 * H, 7L, Some(40.0))))
      query.processAllAvailable()
      val got = s.sql("SELECT event_id, ewma FROM ewmalate").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == Set(1L, 2L, 3L, 5L),
        s"late event leaked a smoothed point: ${got.keySet}")
      // weights .5/.25/.125/.0625 over [40,30,20,10]:
      // num = 30.625, den = .9375 -> 32.666... -> 32.6667 at 4dp
      assert(got(5L) == 32.6667, s"late value polluted the ring: ${got(5L)}")
    } finally query.stop()
  }

  test("locf late observations are dropped and never refresh the carry") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val H = 3600000000000L
    val input = MemoryStream[StreamOps.LocfEvent]
    val query = StreamOps.streamingLocf(input.toDS())
      .writeStream.format("memory").queryName("locflate")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: observe 1.0 at 0h, a null at 2h fills 1.0; frontier = 2h
      input.addData(Seq(
        StreamOps.LocfEvent(1L, 0L, 7L, Some(1.0)),
        StreamOps.LocfEvent(2L, 2 * H, 7L, None)))
      query.processAllAvailable()
      // batch 2: a LATE 99.0 at 1h must be dropped -- by time order it
      // is ALREADY superseded, so letting it refresh the carry would
      // fill every future null with a stale value. The on-time null at
      // 3h must still fill 1.0.
      input.addData(Seq(
        StreamOps.LocfEvent(3L, 1 * H, 7L, Some(99.0)), // late: dropped
        StreamOps.LocfEvent(4L, 3 * H, 7L, None)))
      query.processAllAvailable()
      val got = s.sql("SELECT event_id, filled FROM locflate").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      assert(got.keySet == Set(1L, 2L, 4L),
        s"late event emitted a fill row: ${got.keySet}")
      assert(got(4L) == Some(1.0),
        s"stale late observation corrupted the carry: ${got(4L)}")
    } finally query.stop()
  }

  test("bollinger late and duplicate days are dropped, not re-windowed") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamOps.BollDay]
    val query = StreamOps.streamingBollinger(input.toDS())
      .writeStream.format("memory").queryName("bolllate")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: days 0..7, flat 5s then a 12 -- emits bands for days 6, 7
      input.addData((0L to 6L).map(d => StreamOps.BollDay(d, 5L))
        :+ StreamOps.BollDay(7L, 12L))
      query.processAllAvailable()
      // batch 2: duplicate day 7 and late day 3 must be dropped (the
      // 7-day ring is positional); on-time day 8 folds over days 2..8
      input.addData(Seq(
        StreamOps.BollDay(7L, 12L), // duplicate: dropped
        StreamOps.BollDay(3L, 99L), // late: dropped
        StreamOps.BollDay(8L, 5L)))
      query.processAllAvailable()
      val got = s.sql("SELECT day, mid FROM bolllate ORDER BY day").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.map(_._1).toSeq == Seq(6L, 7L, 8L),
        s"late/duplicate day re-emitted: ${got.map(_._1).mkString(",")}")
      // day 8 ring = [5,5,5,5,5,12,5]: mid = 42/7 = 6.0 exactly; a
      // folded 99 or double-folded 12 would shift it
      assert(got.last == ((8L, 6.0)), s"ring shifted: ${got.last}")
    } finally query.stop()
  }

  test("page-hinkley late and duplicate days are dropped, not double-folded") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamOps.PhDay]
    // frozen baseline: refU = 4.0 in micro-units, lambda high enough
    // that alarms stay 0 (the statistic itself is what's asserted)
    val query = StreamOps.streamingPageHinkley(input.toDS(), 4000000L, 100.0)
      .writeStream.format("memory").queryName("phlate")
      .outputMode(OutputMode.Append).start()
    try {
      // days 0..4 x = 3,3,8,8,8: cum = -1,-2,2,6,10; min = -2 from day 1
      // -> ph = 0,0,4,8,12
      input.addData(Seq(StreamOps.PhDay(0L, 3L), StreamOps.PhDay(1L, 3L),
        StreamOps.PhDay(2L, 8L), StreamOps.PhDay(3L, 8L),
        StreamOps.PhDay(4L, 8L)))
      query.processAllAvailable()
      // batch 2: duplicate day 4 and late day 2 must be dropped (a
      // prefix sum folded out of order shifts every later point);
      // on-time day 5 x=8 -> cum = 14, ph = 14 - (-2) = 16
      input.addData(Seq(StreamOps.PhDay(4L, 8L), StreamOps.PhDay(2L, 8L),
        StreamOps.PhDay(5L, 8L)))
      query.processAllAvailable()
      val got = s.sql("SELECT day, ph FROM phlate ORDER BY day").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.map(_._1).toSeq == (0L to 5L).toSeq,
        s"late/duplicate day re-emitted: ${got.map(_._1).mkString(",")}")
      assert(got.last == ((5L, 16.0)), s"prefix shifted: ${got.last}")
    } finally query.stop()
  }

  test("kalman late and duplicate steps are dropped, not re-folded") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val input = MemoryStream[StreamOps.KalmanDay]
    val query = StreamOps.streamingKalman(input.toDS())
      .writeStream.format("memory").queryName("kallate")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(Seq(
        StreamOps.KalmanDay("a", 0L, 0L, 10.0),
        StreamOps.KalmanDay("a", 1L, 1L, 20.0)))
      query.processAllAvailable()
      // the expected trajectory, folded once per step with the
      // operator's own 4/6dp rounding
      def r4(x: Double) = math.floor(x * 1e4 + 0.5) / 1e4
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      var level = 10.0; var p = 10000.0
      Seq(20.0, 30.0).foreach { v =>
        val pp = p + 25.0
        val kg = r6(pp / (pp + 100.0))
        level = r4(level + kg * (v - level)); p = r4((1 - kg) * pp)
      }
      // batch 2: a duplicate t=1 and a late t=0 must be dropped (a
      // recursive fold applied twice perturbs the level/variance
      // trajectory); the on-time t=2 folds exactly once
      input.addData(Seq(
        StreamOps.KalmanDay("a", 1L, 1L, 20.0), // duplicate: dropped
        StreamOps.KalmanDay("a", 0L, 0L, 10.0), // late: dropped
        StreamOps.KalmanDay("a", 2L, 2L, 30.0)))
      query.processAllAvailable()
      val got = s.sql("SELECT t, level FROM kallate ORDER BY t").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L),
        s"late/duplicate step re-emitted: ${got.map(_._1).mkString(",")}")
      assert(got.last == ((2L, level)),
        s"trajectory perturbed: got ${got.last}, want (2, $level)")
    } finally query.stop()
  }

  test("plain state schema change breaks a checkpoint restart (pinned failure mode)") {
    // The rule the VersionedState envelope exists to remove: a keyed
    // counter checkpointed with CtV1(n) cannot restart with
    // CtV2(n, extra) — Spark's state-schema compatibility check (or
    // the state decoder) rejects the widened schema. This is exactly
    // what the r14/r15 field additions hit.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import StreamingSpec.{CtV1, CtV2}
    implicit val sqlCtx = s.sqlContext
    val ckpt = SparkSpec.tempDir("graft-ckpt-plain").toString
    val input = MemoryStream[Long]
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q1 = input.toDS().groupByKey(_ % 2)
      .flatMapGroupsWithState[CtV1, Long](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, st: GroupState[CtV1]) =>
          val n = st.getOption.map(_.n).getOrElse(0L) + it.size
          st.update(CtV1(n)); Iterator.single(n)
      }
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Long], _: Long) =>
        b.collect().foreach(sink.add(_)); () }
      .start()
    input.addData(1L, 2L, 3L)
    q1.processAllAvailable(); q1.stop()
    assert(sink.size() == 2) // two key groups counted
    // restart the SAME checkpoint with the WIDENED state class
    val q2 = input.toDS().groupByKey(_ % 2)
      .flatMapGroupsWithState[CtV2, Long](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, st: GroupState[CtV2]) =>
          val cur = st.getOption.getOrElse(CtV2(0L, 0L))
          val n = cur.n + it.size
          st.update(CtV2(n, cur.extra)); Iterator.single(n)
      }
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Long], _: Long) =>
        b.collect().foreach(sink.add(_)); () }
      .start()
    input.addData(4L)
    val ex = intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    assert(ex != null, "widened plain state restarted cleanly — the envelope would be unnecessary")
  }

  test("versioned envelope: a field addition survives a checkpoint restart") {
    // Same evolution as above, through VersionedState: the
    // checkpointed schema is (ver, payload) in both runs, CodecV2
    // decodes the V1 payload with a default — state carries over, no
    // new checkpoint directory.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import graft.streaming.VersionedState
    import StreamingSpec.{CtCodecV1, CtCodecV2, CtV1, CtV2}
    implicit val sqlCtx = s.sqlContext
    val ckpt = SparkSpec.tempDir("graft-ckpt-env").toString
    val input = MemoryStream[Long]
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q1 = input.toDS().groupByKey(_ % 2)
      .flatMapGroupsWithState[VersionedState, Long](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, st: GroupState[VersionedState]) =>
          val n = st.getOption.map(CtCodecV1.decode).map(_.n).getOrElse(0L) + it.size
          st.update(CtCodecV1.encode(CtV1(n)))
          Iterator.single(n)
      }
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Long], _: Long) =>
        b.collect().foreach(n => sink.add((n, -1L))); () }
      .start()
    input.addData(1L, 2L, 3L) // keys: 1 -> {1,3}, 0 -> {2}
    q1.processAllAvailable(); q1.stop()
    sink.clear()
    // restart with the V2 codec: reads v1 payloads (default extra),
    // writes v2 — same envelope schema, so Spark restores the state
    val q2 = input.toDS().groupByKey(_ % 2)
      .flatMapGroupsWithState[VersionedState, (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, st: GroupState[VersionedState]) =>
          val cur = st.getOption.map(CtCodecV2.decode).getOrElse(CtV2(0L, 1000L))
          val next = CtV2(cur.n + it.size, cur.extra + 1L)
          st.update(CtCodecV2.encode(next))
          Iterator.single((next.n, next.extra))
      }
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[(Long, Long)], _: Long) =>
        b.collect().foreach(sink.add(_)); () }
      .start()
    input.addData(5L) // key 1: count was 2, becomes 3
    q2.processAllAvailable(); q2.stop()
    val got = sink.toArray(Array.empty[(Long, Long)]).toSeq
    // old state decoded (count continues at 3) and the default
    // filled the new field (1000 + 1)
    assert(got == Seq((3L, 1001L)),
      s"envelope restart lost or mis-decoded state: $got")
  }

  test("streaming BPE encode against a frozen tokenizer equals the batch encode") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.text.Bpe
    val docs = Tables.documents(s, sfDir)
      .filter(col("doc_id") < 150 && col("text").isNotNull)
      .select(col("doc_id"), col("lang"), col("text"))
    // freeze the tokenizer batch-side: rules from the top types,
    // symbol ids over the FULL type table (so nothing is OOV here —
    // the OOV drop is pinned separately below)
    val toks = Bpe.tokenPositions(docs)
    val types = Bpe.wordTypes(toks).localCheckpoint(eager = false)
    val top = types.orderBy(col("wc").desc, col("w")).limit(2000)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val rules = Bpe.trainMerges(top, 6)
    val sid = Bpe.symbolIds(Bpe.encodeTypes(types, rules))
      .localCheckpoint(eager = false)
    val expected = Bpe.encodeDocs(docs, 6, 2000)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](2))).toMap
    val rows = docs.collect().map(r =>
      StreamOps.BpeDoc(r.getLong(0), r.getString(1), r.getString(2)))
    val input = MemoryStream[StreamOps.BpeDoc]
    val query = StreamOps.streamingBpeEncode(input.toDS(), rules, sid)
      .writeStream.format("memory").queryName("bpe")
      .outputMode(OutputMode.Append).start()
    try {
      val (first, second) = rows.partition(_.doc_id % 2 == 0)
      input.addData(first.toSeq)
      query.processAllAvailable()
      input.addData(second.toSeq)
      query.processAllAvailable()
      val got = s.sql("SELECT doc_id, ids FROM bpe").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      assert(got.keySet == expected.keySet)
      val diff = expected.keys.filter(k => got(k) != expected(k))
      assert(diff.isEmpty, s"ids differ for docs ${diff.take(3).toSeq}")
    } finally query.stop()
  }

  test("streaming BPE encode drops OOV symbols (unseen characters yield no id)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.text.Bpe
    // tokenizer frozen on a toy corpus: alphabet {a,b,space}, one merge
    val types = Seq(("abab", 5L), ("ab", 3L)).toDF("w", "wc")
    val rules = Bpe.trainMerges(Array(("abab", 5L), ("ab", 3L)), 2)
    val sid = Bpe.symbolIds(Bpe.encodeTypes(types, rules))
      .localCheckpoint(eager = false)
    val knownSyms = sid.collect().map(_.getString(0)).toSet
    val input = MemoryStream[StreamOps.BpeDoc]
    val query = StreamOps.streamingBpeEncode(input.toDS(), rules, sid)
      .writeStream.format("memory").queryName("bpeoov")
      .outputMode(OutputMode.Append).start()
    try {
      // "abab" encodes fully; "zq" is ALL unseen characters -> empty
      // ids; "abz" keeps ab's id, drops z
      input.addData(
        StreamOps.BpeDoc(1, "en", "abab"),
        StreamOps.BpeDoc(2, "en", "zq"),
        StreamOps.BpeDoc(3, "en", "abz"))
      query.processAllAvailable()
      val got = s.sql("SELECT doc_id, ids FROM bpeoov").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      val idToSym = sid.collect().map(r => (r.getLong(1), r.getString(0))).toMap
      // "abab" merges to the single symbol "abab"
      assert(got(1L).map(idToSym) == Seq("abab"))
      assert(got(2L).isEmpty, s"OOV-only doc must yield no ids: ${got(2L)}")
      // "abz": the ab survives as its merged symbol, the z drops
      assert(got(3L).map(idToSym) == Seq("ab"))
      // every emitted id maps back to a known symbol
      assert(got.values.flatten.forall(id => knownSyms(idToSym(id))))
    } finally query.stop()
  }
}
