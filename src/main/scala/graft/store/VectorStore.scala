package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import graft.Tables
import graft.ann.Ann
import graft.functions.VectorFunctions._

/** Spark-native re-expression of the reference's Qdrant collection
  * handler (reference: app/core/document_ingestor.py — per-user
  * collections of {id, vector, payload{DocId, ChunkId, Title}} with
  * COSINE distance).
  *
  * A collection here is a DataFrame with the canonical point schema
  * `(user_id bigint, vector_id bigint, doc_id bigint, chunk_id bigint,
  * title string, embedding array<float>)`. At production scale the
  * backing parquet is partitioned by `user_id`, so every per-user
  * operator below is a partition-pruned scan; deletes/upserts rewrite
  * only the touched user partitions (dynamic partition overwrite).
  *
  * `user_id` may equally be a STRING (the reference's uuid-style
  * `user_id: str` — document_ingestor.py:55–70): every operator takes
  * the user key as `Any`, and a string-keyed parquet collection
  * partition-prunes exactly like a long-keyed one (StorageSpec proves
  * both plans). [[collectionName]] maps a string id to the
  * reference's Qdrant collection name for migrating callers.
  *
  * All mutating ops are pure DataFrame → DataFrame transforms
  * (last-writer-wins merge, anti-join deletes); nothing collects to
  * the driver.
  */
object VectorStore {

  /** Canonical point-set derived from the `embeddings` test table
    * (SURVEY.md §3): user_id = vec_id % 8, doc_id = vec_id % 100,
    * chunk_id = vec_id, title = 't' || doc_id.
    */
  def points(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      (col("vec_id") % 8).as("user_id"),
      col("vec_id").as("vector_id"),
      (col("vec_id") % 100).as("doc_id"),
      col("vec_id").as("chunk_id"),
      concat(lit("t"), col("vec_id") % 100).as("title"),
      col("embedding"))

  /** [[points]] served from a MATERIALIZED user-partitioned parquet
    * collection: the derivation is written once per (JVM, dir) via
    * [[CollectionStorage.write]] and subsequent reads are real
    * partitioned-table scans — so every per-user vs_* operator
    * exercises PartitionFilters in its measured plan, exactly as a
    * production collection would. Row set is identical to [[points]]
    * (the oracles are unchanged).
    */
  def pointsPartitioned(s: SparkSession, dir: String): DataFrame = {
    val path = materializedDirs.getOrElseUpdate(dir, {
      val out = java.nio.file.Files.createTempDirectory("graft_coll_").toString
      CollectionStorage.write(points(s, dir), out)
      out
    })
    CollectionStorage.load(s, path).select(
      col("user_id"), col("vector_id"), col("doc_id"),
      col("chunk_id"), col("title"), col("embedding"))
  }
  private val materializedDirs =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Reference collection-name mapping (document_ingestor.py:55–70):
    * `user_<id>` with hyphens normalized to underscores. The engine
    * partitions by the raw user id; this helper reproduces the
    * reference's Qdrant collection naming for migrating callers.
    */
  def collectionName(userId: String): String =
    "user_" + userId.replace('-', '_')

  /** DuckDB twin of [[graft.functions.VectorFunctions.vecQ6]]: the
    * float vector as comma-joined integer micro-codes
    * (round(x·10⁶) half away from zero on the identical IEEE double
    * product — engine-agnostic, unlike float→string formatting).
    */
  def vecQ6Sql(c: String): String =
    s"array_to_string(list_transform($c, " +
      "x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS VARCHAR)), ',')"

  /** SQL prelude mirroring [[points]] for the DuckDB oracles. */
  val pointsSql: String =
    """WITH points AS (
      |  SELECT vec_id % 8 AS user_id, vec_id AS vector_id,
      |         vec_id % 100 AS doc_id, vec_id AS chunk_id,
      |         't' || (vec_id % 100) AS title, embedding
      |  FROM embeddings
      |)""".stripMargin

  // ---- collection listing (reference :559 list_collections) -------

  /** Collections with point/doc counts (reference returns just names;
    * stats come free from the same scan).
    */
  def listCollections(coll: DataFrame): DataFrame =
    coll.groupBy("user_id")
      .agg(count(lit(1)).as("n_points"),
           countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("user_id")

  /** Output projection: the canonical metadata triple, plus an
    * arbitrary `payload` map column when the collection carries one
    * (reference metadata is Dict[str, Any]; the service itself only
    * ever reads DocId/ChunkId/Title — document_ingestor.py:974).
    */
  private def outCols(df: DataFrame): Seq[Column] = {
    val base = Seq(col("vector_id"), col("doc_id"), col("chunk_id"), col("title"))
    if (df.columns.contains("payload")) base :+ col("payload") else base
  }

  // ---- scroll (reference :410/:438/:475/:515) ---------------------

  /** Paged listing of a user's collection, `vector_id`-ordered.
    * Partition-pruned + `limit` ⇒ a LocalLimit per partition then a
    * single-partition GlobalLimit — no full sort at scale.
    */
  def scroll(coll: DataFrame, userId: Any, limit: Int): DataFrame =
    coll.filter(col("user_id") === userId)
      .select(outCols(coll): _*)
      .orderBy("vector_id")
      .limit(limit)

  /** scroll(with_vectors = True) (reference document_ingestor.py:414,
    * :429 — every scroll method takes the flag): the page carries the
    * STORED vector untouched alongside the payload, what a caller
    * re-embedding or exporting a collection needs without a second
    * lookup. Same partition-pruned LocalLimit plan as [[scroll]] plus
    * one projected column; VectorStoreSpec pins the array bit-equal
    * to the stored embedding.
    */
  def scrollWithVectors(coll: DataFrame, userId: Any, limit: Int): DataFrame =
    coll.filter(col("user_id") === userId)
      .select(outCols(coll) :+ col("embedding"): _*)
      .orderBy("vector_id")
      .limit(limit)

  def scrollDoc(coll: DataFrame, userId: Any, docId: Long, limit: Int): DataFrame =
    coll.filter(col("user_id") === userId && col("doc_id") === docId)
      .select(outCols(coll): _*)
      .orderBy("vector_id")
      .limit(limit)

  def scrollChunk(coll: DataFrame, userId: Any, docId: Long, chunkId: Long,
                  limit: Int): DataFrame =
    coll.filter(col("user_id") === userId && col("doc_id") === docId &&
                col("chunk_id") === chunkId)
      .select(outCols(coll): _*)
      .orderBy("vector_id")
      .limit(limit)

  /** Keyset-paged scroll: the page of `limit` points with `vector_id >
    * cursor` (the reference scroll returns an offset cursor,
    * document_ingestor.py:410–436; keyset is the scale-safe
    * equivalent — the cursor predicate pushes down to the scan, so
    * page N never re-reads pages 1..N-1). The caller feeds the last
    * row's vector_id back as the next cursor.
    */
  def scrollAfter(coll: DataFrame, userId: Any, cursor: Long,
                  limit: Int): DataFrame =
    coll.filter(col("user_id") === userId && col("vector_id") > cursor)
      .select(outCols(coll): _*)
      .orderBy("vector_id")
      .limit(limit)

  /** Doc-set scroll; empty set matches everything (reference :527 — an
    * empty `should` filter matches all).
    */
  def scrollDocs(coll: DataFrame, userId: Any, docIds: Seq[Long],
                 limit: Int): DataFrame = {
    val base = coll.filter(col("user_id") === userId)
    val filtered =
      if (docIds.isEmpty) base else base.filter(col("doc_id").isin(docIds: _*))
    filtered.select(outCols(coll): _*)
      .orderBy("vector_id")
      .limit(limit)
  }

  /** Point retrieve by id list (the vector-DB `retrieve` API — the
    * get-by-primary-key read beside scroll/search): partition-pruned
    * scan + id IN-filter, stored vector included (retrieve implies
    * with_vectors in the reference's client usage). Rows come in
    * vector_id order, duplicates kept. When the pruned scan has fewer
    * splits than cores, the hits gather into one partition and sort
    * there: one job, no range-sampling job, no shuffle. A tenant with
    * more splits keeps its parallel scan and the global sort.
    */
  def retrieve(coll: DataFrame, userId: Any, ids: Seq[Long]): DataFrame = {
    val hits = coll.filter(col("user_id") === userId && col("vector_id").isin(ids: _*))
      .select(outCols(coll) :+ col("embedding"): _*)
    if (scanSplits(hits) < hits.sparkSession.sparkContext.defaultParallelism)
      hits.coalesce(1).sortWithinPartitions("vector_id")
    else hits.orderBy("vector_id")
  }

  /** Splits the file scans of `df` read; Int.MaxValue when its plan has
    * a leaf that is not a file scan.
    */
  private def scanSplits(df: DataFrame): Int = {
    val leaves = df.queryExecution.executedPlan.collectLeaves()
    if (leaves.forall(_.isInstanceOf[FileSourceScanExec]))
      leaves.map(_.asInstanceOf[FileSourceScanExec].inputRDD.getNumPartitions).sum
    else Int.MaxValue
  }

  /** Batched search (the vector-DB `search_batch` API): MANY query
    * vectors against ONE user's collection through the dense cosine
    * kernel ([[graft.ann.Ann.denseKernelTopK]], self-exclusion off: a
    * query that is a stored vector finds itself). The batch
    * broadcasts once and the partition-pruned collection is scanned
    * once with no shuffle (a tenant with fewer splits than cores is
    * read by one task per core, each scoring a qid shard); each task
    * keeps ≤k candidates per query, merged on the driver — never a
    * global sort. A local query frame needs no job of its own, so a
    * batch fitting [[graft.ann.Ann.fastPathMb]] is one scan job, run
    * inside this call; the returned frame is local. `queries` is
    * (qid, q); null query vectors and null stored vectors are
    * dropped. Output: (qid, rnk, vector_id, score), ordered by
    * (qid, rnk).
    */
  def searchBatch(coll: DataFrame, userId: Any, queries: DataFrame,
                  k: Int): DataFrame =
    Ann.denseKernelTopK(
        coll.filter(col("user_id") === userId)
          .select(col("vector_id").as("vec_id"), col("embedding")),
        queries.select(col("qid"), col("q").as("qv")), k, Ann.Cosine,
        excludeSelf = false)
      .select(col("qid"), col("rnk"), col("vec_id").as("vector_id"), col("score"))

  /** Facet counts over a payload field (the vector-DB `facet` API):
    * distinct values of `field` in the user's collection with point
    * counts, most-populous first. One partition-pruned hash aggregate.
    */
  def facetCounts(coll: DataFrame, userId: Any, field: String,
                  limit: Int): DataFrame =
    coll.filter(col("user_id") === userId)
      .groupBy(field)
      .agg(count(lit(1)).as("n_points"))
      .orderBy(col("n_points").desc, col(field))
      .limit(limit)

  // ---- deletes (reference :146/:169/:192/:218/:239/:260) ----------

  def deleteDoc(coll: DataFrame, userId: Any, docId: Long): DataFrame =
    coll.filter(!(col("user_id") === userId && col("doc_id") === docId))

  def deleteDocByTitle(coll: DataFrame, userId: Any, title: String): DataFrame =
    coll.filter(!(col("user_id") === userId && col("title") === title))

  def deleteChunk(coll: DataFrame, userId: Any, docId: Long, chunkId: Long): DataFrame =
    coll.filter(!(col("user_id") === userId && col("doc_id") === docId &&
                  col("chunk_id") === chunkId))

  /** Point-id delete. Ids are opaque (`Seq[Any]`): bigint ids and
    * uuid-style string ids (the reference's point ids are uuid4,
    * document_ingestor.py:89–144) go through the same path —
    * nothing in the store depends on ids being integers.
    */
  def deleteByIds(coll: DataFrame, userId: Any, vectorIds: Seq[Any]): DataFrame =
    coll.filter(!(col("user_id") === userId && col("vector_id").isin(vectorIds: _*)))

  def deleteCollection(coll: DataFrame, userId: Any): DataFrame =
    coll.filter(col("user_id") =!= userId)

  // ---- upsert / update (reference :89/:114/:290) ------------------

  /** Bulk upsert with last-writer-wins on (user_id, doc_id, chunk_id):
    * the batch replaces existing points with the same key. One shuffle
    * on the merge key; at scale this is a partition-overwrite of only
    * the user partitions present in the batch.
    */
  def upsert(coll: DataFrame, batch: DataFrame): DataFrame = {
    val merged = coll.withColumn("_src", lit(0))
      .unionByName(batch.withColumn("_src", lit(1)))
    val w = Window.partitionBy("user_id", "doc_id", "chunk_id")
      .orderBy(col("_src").desc, col("vector_id"))
    merged.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src")
  }

  /** In-place vector replacement keyed by (user_id, doc_id, chunk_id)
    * (reference :290 update_vector). Pure projection — no shuffle.
    */
  def updateVector(coll: DataFrame, userId: Any, docId: Long, chunkId: Long,
                   newVec: Column): DataFrame =
    coll.withColumn("embedding",
      when(col("user_id") === userId && col("doc_id") === docId &&
           col("chunk_id") === chunkId, newVec)
        .otherwise(col("embedding")))

  // ---- search (reference :332/:366) -------------------------------

  /** A query vector as a literal: the values are cast-free Catalyst
    * array data (primitive-backed when no element is null), so
    * generated code is the same for every query and only the
    * referenced object changes.
    */
  private def vectorLit(v: Any, dt: DataType): Column = {
    val data = CatalystTypeConverters.convertToCatalyst(v) match {
      case a: ArrayData if !(0 until a.numElements()).exists(a.isNullAt) => dt match {
        case ArrayType(FloatType, _)  => UnsafeArrayData.fromPrimitiveArray(a.toFloatArray())
        case ArrayType(DoubleType, _) => UnsafeArrayData.fromPrimitiveArray(a.toDoubleArray())
        case _                        => a
      }
      case other => other
    }
    ColumnBridge.column(Literal(data, dt))
  }

  /** `rows` projected to `cols` plus `score` against the query vector
    * of the 1-row frame `qdf` (column `q`). The vector is fetched to
    * the driver once — no job when the frame is local, one otherwise —
    * and scored as a literal, so the plan is scan → score with no
    * join and no broadcast stage. An empty frame gives an empty result
    * with the same schema; a null vector scores every row null.
    */
  private def scoredBy(rows: DataFrame, qdf: DataFrame, cols: Seq[Column]): DataFrame = {
    val q = qdf.select(col("q"))
    val got = q.collect()
    require(got.length <= 1, s"a search query frame holds one vector, got ${got.length}")
    val out = rows.select(cols :+ score(col("embedding"),
      vectorLit(got.headOption.map(_.get(0)).orNull, q.schema.head.dataType)).as("score"): _*)
    if (got.isEmpty) out.filter(lit(false)) else out
  }

  /** Cosine top-k within one user's collection with optional score
    * threshold and doc-id restriction. `qdf` is a 1-row frame with the
    * query vector in column `q`, scored as a literal ([[scoredBy]]).
    * The plan is filter(pruned) → score → TakeOrderedAndProject: a
    * per-partition k-heap in one job — no join, no exchange, no
    * global sort at 100 TB.
    */
  def search(coll: DataFrame, userId: Any, qdf: DataFrame, limit: Int,
             scoreThreshold: Double = Double.NegativeInfinity,
             docIds: Seq[Long] = Nil): DataFrame = {
    val base = coll.filter(col("user_id") === userId)
    val restricted =
      if (docIds.isEmpty) base else base.filter(col("doc_id").isin(docIds: _*))
    val scored = scoredBy(restricted, qdf, outCols(coll))
    val thresholded =
      if (scoreThreshold.isNegInfinity) scored
      else scored.filter(col("score") >= scoreThreshold)
    thresholded.orderBy(col("score").desc, col("vector_id")).limit(limit)
  }

  /** search_query(with_vectors = True) (reference
    * document_ingestor.py:338): the scored results carry the stored
    * vector alongside the payload — what a caller needs to re-rank
    * client-side or chain into recommend-by-example without a second
    * scroll round-trip. Same plan as [[search]] plus one projected
    * column; vectors ride the existing partition-pruned scan.
    */
  def searchWithVectors(coll: DataFrame, userId: Any, qdf: DataFrame,
                        limit: Int): DataFrame =
    scoredBy(coll.filter(col("user_id") === userId), qdf,
        outCols(coll) :+ col("embedding"))
      .orderBy(col("score").desc, col("vector_id")).limit(limit)

  /** Payload-filtered search (the reference's Qdrant `Filter` on
    * payload fields, e.g. a FieldCondition on Title): an arbitrary
    * predicate pushed BELOW scoring, so only matching points are ever
    * scored — pre-filtering semantics, narrowing the partition-pruned
    * collection scan before any vector math. The post-filter shortcut
    * this avoids is audited by ann_filtered_recall.
    */
  def searchWhere(coll: DataFrame, userId: Any, qdf: DataFrame, limit: Int,
                  predicate: Column): DataFrame =
    scoredBy(coll.filter(col("user_id") === userId).filter(predicate), qdf,
        outCols(coll))
      .orderBy(col("score").desc, col("vector_id")).limit(limit)

  /** Multi-tenant batched search: EVERY user's query answered in one
    * job — `queries` (user_id, q) joins the collection on user_id and
    * the per-user top-k comes from the map-side-bounded TopK
    * aggregate, never a global sort. The serving shape for "run the
    * nightly search for all tenants". Set `broadcastQueries = false`
    * when the query batch is itself large (one query per user at
    * millions of users won't fit a driver broadcast): the join then
    * shuffles on user_id, co-partitioned with the collection layout.
    * Null stored and query vectors are dropped (the TopK aggregate
    * would rank a null score as 0.0).
    * Output: (user_id, rnk, vector_id, score), rnk 1..k per user.
    */
  def searchAll(coll: DataFrame, queries: DataFrame, k: Int,
                broadcastQueries: Boolean = true): DataFrame = {
    val agg = graft.ops.TopK.topk(k)
    val nonNull = queries.filter(col("q").isNotNull)
    val qs = if (broadcastQueries) broadcast(nonNull) else nonNull
    coll.filter(col("embedding").isNotNull).join(qs, "user_id")
      .select(col("user_id"), score(col("embedding"), col("q")).as("score"),
              col("vector_id"))
      .groupBy("user_id")
      .agg(agg(col("score"), col("vector_id")).as("top"))
      .select(col("user_id"), posexplode(col("top")))
      .select(col("user_id"), (col("pos") + 1).cast("long").as("rnk"),
              col("col.id").as("vector_id"), col("col.score").as("score"))
      .orderBy("user_id", "rnk")
  }

  /** Grouped search (the vector-DB "search groups" API): the single
    * best-scoring chunk PER DOCUMENT, then the top `groups` documents.
    * The query vector is a literal ([[scoredBy]]). The per-doc window
    * is bounded by chunks-per-doc (small by construction) and
    * partitioned by doc_id — never global; the final ordering is a
    * bounded TakeOrdered over one row per doc.
    */
  def searchGrouped(coll: DataFrame, userId: Any, qdf: DataFrame,
                    groups: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("vector_id"))
    scoredBy(coll.filter(col("user_id") === userId), qdf,
        Seq(col("doc_id"), col("vector_id"), col("chunk_id")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("score").desc, col("doc_id"))
      .limit(groups)
  }

  /** Recommend by example (the vector-DB recommend API): the query
    * vector is mean(positive examples) − mean(negative examples).
    * The examples are fetched in one job and folded on the driver in
    * the order the Column form (zip_with / transform) evaluates:
    * element sums left to right in the stored element type, then ÷
    * count in double, then pos − neg in double; a null vector or
    * element stays null and ragged vectors pad with nulls. The result
    * is scored as a literal in one more job; example points are
    * excluded. A missing example id gives an empty result; an id
    * matching more than one point is rejected.
    */
  def recommend(coll: DataFrame, userId: Any, posIds: Seq[Long],
                negIds: Seq[Long], limit: Int): DataFrame = {
    require(posIds.nonEmpty)
    val base = coll.filter(col("user_id") === userId)
    val ids = posIds ++ negIds
    val examples = base.filter(col("vector_id").isin(ids.distinct: _*))
      .select(col("vector_id"), col("embedding")).collect()
    val found = ids.map(id => examples.filter(_.get(0) == id))
    found.zip(ids).foreach { case (m, id) =>
      require(m.length <= 1, s"recommend example id $id matches ${m.length} points") }
    val dt = coll.schema("embedding").dataType
    val query: Option[Seq[Any]] =
      if (found.exists(_.isEmpty)) None
      else {
        val vecs = found.map(_.head.getSeq[Any](1))
        val isFloat = dt match { case ArrayType(FloatType, _) => true; case _ => false }
        def zipWith(a: Seq[Any], b: Seq[Any])(f: (Any, Any) => Any): Seq[Any] =
          if (a == null || b == null) null
          else Seq.tabulate(math.max(a.length, b.length)) { i =>
            val (x, y) = (a.lift(i).orNull, b.lift(i).orNull)
            if (x == null || y == null) null else f(x, y)
          }
        def mean(vs: Seq[Seq[Any]]): Seq[Any] = {
          val sum = vs.reduceLeft(zipWith(_, _) { (x, y) =>
            if (isFloat) x.asInstanceOf[Float] + y.asInstanceOf[Float]
            else x.asInstanceOf[Double] + y.asInstanceOf[Double]
          })
          if (sum == null) null
          else sum.map {
            case null => null
            case x => (if (isFloat) x.asInstanceOf[Float].toDouble
                       else x.asInstanceOf[Double]) / vs.size.toDouble
          }
        }
        val pos = mean(vecs.take(posIds.size))
        Some(if (negIds.isEmpty) pos
             else zipWith(pos, mean(vecs.drop(posIds.size)))(
               (p, n) => p.asInstanceOf[Double] - n.asInstanceOf[Double]))
      }
    val scored = base.filter(!col("vector_id").isin(ids: _*))
      .select(col("vector_id"), col("doc_id"), score(col("embedding"),
        vectorLit(query.orNull, ArrayType(DoubleType, containsNull = true))).as("score"))
    (if (query.isEmpty) scored.filter(lit(false)) else scored)
      .orderBy(col("score").desc, col("vector_id"))
      .limit(limit)
  }

  /** Global (all-collections) threshold scan — returns every point
    * scoring ≥ threshold, no limit. Embarrassingly parallel; the query
    * vector is a literal ([[scoredBy]]).
    */
  def searchThreshold(coll: DataFrame, qdf: DataFrame,
                      scoreThreshold: Double): DataFrame =
    scoredBy(coll, qdf, Seq(col("user_id"), col("vector_id")))
      .filter(col("score") >= scoreThreshold)
      .orderBy(col("score").desc, col("vector_id"))

  /** The query vector for `vec_id = id` as a 1-row frame (column `q`),
    * the query argument of the single-vector searches.
    */
  def queryVecOf(s: SparkSession, dir: String, id: Long): DataFrame =
    Tables.embeddings(s, dir).filter(col("vec_id") === id)
      .select(col("embedding").as("q"))
}
