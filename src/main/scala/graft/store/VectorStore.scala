package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, GenericInternalRow,
  InterpretedOrdering, Literal, SortOrder, UnsafeArrayData}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, FrameBridge}
import org.apache.spark.sql.types._
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
  * The per-tenant point reads — [[search]], [[searchWithVectors]],
  * [[searchWhere]], the scroll family, [[retrieve]], [[recommend]] and
  * [[searchBatch]] — run over a prepared tenant scan ([[TenantScans]]):
  * the tenant's pruned, projected scan is planned and its code
  * generated once per (collection frame, tenant, SQL conf), and each
  * call is ONE Spark job over it (recommend: one more to fetch its
  * examples) whose task closure carries the call's values. Each task
  * keeps at most `limit` rows; the driver merges them and the call
  * returns a local frame, so the read has run when it returns. A held
  * scan is checked against the calling frame's file listing on every
  * call and planned again after a write.
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
    * collection: the derivation is written once per (SparkContext, dir)
    * via [[CollectionStorage.write]] into a [[graft.Shared]] dir, and
    * subsequent reads are real partitioned-table scans — so every
    * per-user vs_* operator exercises PartitionFilters in its measured
    * plan, exactly as a production collection would. Row set is
    * identical to [[points]] (the oracles are unchanged).
    */
  def pointsPartitioned(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Shared.dir(s, s"collection|$dir") { out =>
      CollectionStorage.write(points(s, dir), out)
    }
    CollectionStorage.load(s, path).select(
      col("user_id"), col("vector_id"), col("doc_id"),
      col("chunk_id"), col("title"), col("embedding"))
  }

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
  private def outCols(df: DataFrame): Seq[String] = {
    val base = Seq("vector_id", "doc_id", "chunk_id", "title")
    if (df.columns.contains("payload")) base :+ "payload" else base
  }

  // ---- point reads over prepared tenant scans ---------------------

  /** The scan the point reads run over: `userId`'s rows of `coll`
    * projected to the output columns, plus `embedding` when `vectors`,
    * held by [[TenantScans]] so a repeat read on the same collection
    * and tenant plans nothing.
    */
  private def tenantScan(coll: DataFrame, userId: Any, vectors: Boolean = true): TenantScans.Handle =
    TenantScans.of(coll, userId, if (vectors) outCols(coll) :+ "embedding" else outCols(coll))

  /** An integral key column of a scan's rows, compared with the bigint
    * values a read takes (ids, doc ids, a cursor); a null never matches.
    */
  private final case class KeyCol(at: Int, dt: DataType) {
    def apply(r: InternalRow): Long = dt match {
      case LongType    => r.getLong(at)
      case IntegerType => r.getInt(at).toLong
      case ShortType   => r.getShort(at).toLong
      case _           => r.getByte(at).toLong
    }
    def is(r: InternalRow, v: Long): Boolean = !r.isNullAt(at) && apply(r) == v
    def in(r: InternalRow, vs: Set[Long]): Boolean = !r.isNullAt(at) && vs(apply(r))
  }

  private def keyCol(h: TenantScans.Handle, name: String): KeyCol = {
    val at = h.index(name)
    h.schema(at).dataType match {
      case dt @ (LongType | IntegerType | ShortType | ByteType) => KeyCol(at, dt)
      case dt => throw new IllegalArgumentException(
        s"$name is compared with bigint values, so it must be an integral column, not ${dt.sql}")
    }
  }

  /** A scan row a read keeps, with its score (null when unscored or
    * when the stored or query vector is null).
    */
  private final class Hit(val row: InternalRow, val score: java.lang.Double) extends Serializable

  /** vector_id ascending, nulls first, in Spark's order for its type. */
  private def vidOrder(h: TenantScans.Handle): Ordering[InternalRow] = {
    val at = h.index("vector_id")
    new InterpretedOrdering(Seq(SortOrder(BoundReference(at, h.schema(at).dataType,
      nullable = true), Ascending)))
  }

  private final case class ById(vid: Ordering[InternalRow]) extends Ordering[Hit] {
    def compare(a: Hit, b: Hit): Int = vid.compare(a.row, b.row)
  }

  /** (score desc nulls last, vector_id asc): Spark's order, in which
    * NaN is above every number and −0.0 equals 0.0.
    */
  private final case class ByScore(vid: Ordering[InternalRow]) extends Ordering[Hit] {
    def compare(a: Hit, b: Hit): Int = {
      val c =
        if (a.score == null) (if (b.score == null) 0 else 1)
        else if (b.score == null) -1
        else SQLOrderingUtil.compareDoubles(b.score, a.score)
      if (c != 0) c else vid.compare(a.row, b.row)
    }
  }

  /** The first `limit` hits in `ord` of the tenant scan `h`, in ONE job:
    * `hits` makes each task's row → hit function (null drops the row);
    * each task keeps its best `limit` in a bounded heap, copying only
    * the rows it keeps, and the driver merges them.
    */
  private def best(h: TenantScans.Handle, limit: Int, ord: Ordering[Hit],
      hits: () => InternalRow => Hit): Seq[Hit] = {
    require(limit >= 0, s"limit must be >= 0, got $limit")
    if (limit == 0) return Nil
    h.run { it =>
      val hit = hits()
      val heap = new java.util.PriorityQueue[Hit](16, ord.reverse)
      it.foreach { r =>
        val x = hit(r)
        if (x != null && (heap.size < limit || ord.lt(x, heap.peek))) {
          heap.add(new Hit(r.copy(), x.score))
          if (heap.size > limit) heap.poll()
        }
      }
      heap.toArray(new Array[Hit](0))
    }.flatten.sorted(ord).take(limit).toSeq
  }

  /** `hits` as a local frame of the scan's columns `cols`, plus `score`
    * when given.
    */
  private def frame(coll: DataFrame, h: TenantScans.Handle, cols: Seq[String],
      score: Option[StructField], hits: Seq[Hit]): DataFrame = {
    val at = cols.map(h.index)
    val fields = at.map(h.schema(_)) ++ score
    val rows = hits.map { x =>
      val v = new Array[Any](fields.length)
      at.indices.foreach(j => v(j) = x.row.get(at(j), fields(j).dataType))
      if (score.isDefined) v(at.length) = x.score
      new GenericInternalRow(v): InternalRow
    }
    FrameBridge.local(coll.sparkSession, StructType(fields), rows)
  }

  /** Whether stored vectors of type `dt` are floats (else doubles). */
  private def floatsIn(dt: DataType, what: String): Boolean = dt match {
    case ArrayType(FloatType, _)  => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"$what must be array<float> or array<double>, not ${other.sql}")
  }

  /** The best `limit` rows of `h` that `keep` accepts, scored against
    * `query` with the dense kernel's cosine arithmetic and 6-dp rounding
    * (the values of the `score()` column), ranked (score desc,
    * vector_id), as a local frame of `cols` plus `score`. `query` is
    * None for a 0-row query frame (an empty result) and Some(null) for
    * a null vector (every row scores null). A finite
    * `scoreThreshold` drops rows scoring below it, null scores
    * included.
    */
  private def scoredTop(coll: DataFrame, h: TenantScans.Handle, query: Option[Array[Double]],
      limit: Int, cols: Seq[String], scoreThreshold: Double,
      keep: InternalRow => Boolean): DataFrame = {
    val emb = h.index("embedding")
    val floats = floatsIn(h.schema(emb).dataType, "embedding")
    val field = StructField("score", DoubleType,
      nullable = h.schema(emb).nullable || !query.exists(_ != null))
    val hits = query match {
      case None => Nil
      case Some(q) =>
        val qb = if (q == null) null else new Ann.QueryBlock(Array(0L), Array(q))
        val thr = scoreThreshold
        best(h, limit, ByScore(vidOrder(h)), () => {
          var buf = new Array[Double](0)
          val out = new Array[Double](1)
          r => if (!keep(r)) null else {
            val s: java.lang.Double =
              if (qb == null || r.isNullAt(emb)) null
              else {
                val a = r.getArray(emb)
                buf = Ann.decodeInto(a, floats, buf)
                Ann.Cosine.raw(buf, 0, a.numElements(), qb, out)
                val c = out(0)
                if (c.isNaN || c.isInfinite) c else Ann.Cosine.round(c)
              }
            if (thr.isNegInfinity || (s != null && SQLOrderingUtil.compareDoubles(s, thr) >= 0))
              new Hit(r, s)
            else null
          }
        })
    }
    frame(coll, h, cols, Some(field), hits)
  }

  /** The first `limit` rows of tenant `userId` that `keep` accepts, by
    * vector_id, as a local frame of `cols`.
    */
  private def paged(coll: DataFrame, userId: Any, limit: Int, cols: Seq[String],
      keep: TenantScans.Handle => InternalRow => Boolean): DataFrame = {
    val h = tenantScan(coll, userId, vectors = cols.contains("embedding"))
    val accept = keep(h)
    frame(coll, h, cols, None,
      best(h, limit, ById(vidOrder(h)), () => r => if (accept(r)) new Hit(r, null) else null))
  }

  /** The query vector of the 1-row frame `qdf` (column `q`): None for a
    * 0-row frame, Some(null) for a null vector. A frame whose
    * optimized plan is a local relation is decoded from its rows with
    * no SQL execution; any other is read in one job.
    */
  private def queryOf(qdf: DataFrame): Option[Array[Double]] = {
    val resolver = qdf.sparkSession.sessionState.conf.resolver
    def decode(a: ArrayData, floats: Boolean): Array[Double] =
      if (a == null) null else Ann.decodeInto(a, floats, Array.emptyDoubleArray)
    val got = qdf.queryExecution.optimizedPlan match {
      case lr: LocalRelation if lr.output.exists(a => resolver(a.name, "q")) =>
        val at = lr.output.indexWhere(a => resolver(a.name, "q"))
        val floats = floatsIn(lr.output(at).dataType, "the query vector")
        lr.data.map(r => decode(if (r.isNullAt(at)) null else r.getArray(at), floats))
      case _ =>
        val q = qdf.select(col("q"))
        val floats = floatsIn(q.schema.head.dataType, "the query vector")
        q.queryExecution.toRdd
          .map(r => decode(if (r.isNullAt(0)) null else r.getArray(0), floats)).collect().toSeq
    }
    require(got.length <= 1, s"a search query frame holds one vector, got ${got.length}")
    got.headOption
  }

  /** The dense-kernel corpus of a prepared scan, when its ids are
    * bigint and its vectors float or double arrays.
    */
  private def corpusOf(h: TenantScans.Handle): Option[Ann.Corpus] = {
    val (vid, emb) = (h.index("vector_id"), h.index("embedding"))
    (h.schema(vid).dataType, h.schema(emb).dataType) match {
      case (LongType, ArrayType(et @ (FloatType | DoubleType), _)) =>
        Some(Ann.Corpus(h.rows, vid, emb, et == FloatType, h.plan))
      case _ => None
    }
  }

  // ---- scroll (reference :410/:438/:475/:515) ---------------------

  /** Paged listing of a user's collection, `vector_id`-ordered: one
    * job over the tenant's prepared scan, each task keeping its first
    * `limit` rows — no sort, no exchange.
    */
  def scroll(coll: DataFrame, userId: Any, limit: Int): DataFrame =
    paged(coll, userId, limit, outCols(coll), _ => _ => true)

  /** scroll(with_vectors = True) (reference document_ingestor.py:414,
    * :429 — every scroll method takes the flag): the page carries the
    * STORED vector untouched alongside the payload, what a caller
    * re-embedding or exporting a collection needs without a second
    * lookup. Same read as [[scroll]] plus one column; VectorStoreSpec
    * pins the array bit-equal to the stored embedding.
    */
  def scrollWithVectors(coll: DataFrame, userId: Any, limit: Int): DataFrame =
    paged(coll, userId, limit, outCols(coll) :+ "embedding", _ => _ => true)

  def scrollDoc(coll: DataFrame, userId: Any, docId: Long, limit: Int): DataFrame =
    paged(coll, userId, limit, outCols(coll), h => {
      val doc = keyCol(h, "doc_id")
      r => doc.is(r, docId)
    })

  def scrollChunk(coll: DataFrame, userId: Any, docId: Long, chunkId: Long,
                  limit: Int): DataFrame =
    paged(coll, userId, limit, outCols(coll), h => {
      val (doc, chunk) = (keyCol(h, "doc_id"), keyCol(h, "chunk_id"))
      r => doc.is(r, docId) && chunk.is(r, chunkId)
    })

  /** Keyset-paged scroll: the page of `limit` points with `vector_id >
    * cursor` (the reference scroll returns an offset cursor,
    * document_ingestor.py:410–436; keyset is the scale-safe
    * equivalent — page N is the first `limit` ids past the cursor, not
    * pages 1..N re-read and skipped). The caller feeds the last row's
    * vector_id back as the next cursor.
    */
  def scrollAfter(coll: DataFrame, userId: Any, cursor: Long,
                  limit: Int): DataFrame =
    paged(coll, userId, limit, outCols(coll), h => {
      val vid = keyCol(h, "vector_id")
      r => !r.isNullAt(vid.at) && vid(r) > cursor
    })

  /** Doc-set scroll; empty set matches everything (reference :527 — an
    * empty `should` filter matches all).
    */
  def scrollDocs(coll: DataFrame, userId: Any, docIds: Seq[Long],
                 limit: Int): DataFrame =
    paged(coll, userId, limit, outCols(coll), h =>
      if (docIds.isEmpty) _ => true
      else {
        val (doc, docs) = (keyCol(h, "doc_id"), docIds.toSet)
        r => doc.in(r, docs)
      })

  /** Point retrieve by id list (the vector-DB `retrieve` API — the
    * get-by-primary-key read beside scroll/search): the tenant's
    * prepared scan filtered to the ids in one job, stored vector
    * included (retrieve implies with_vectors in the reference's client
    * usage). Rows come in vector_id order, duplicates kept.
    */
  def retrieve(coll: DataFrame, userId: Any, ids: Seq[Long]): DataFrame = {
    val h = tenantScan(coll, userId)
    val (vid, wanted) = (keyCol(h, "vector_id"), ids.toSet)
    frame(coll, h, outCols(coll) :+ "embedding", None,
      best(h, Int.MaxValue, ById(vidOrder(h)), () => r =>
        if (vid.in(r, wanted)) new Hit(r, null) else null))
  }

  /** Batched search (the vector-DB `search_batch` API): MANY query
    * vectors against ONE user's collection through the dense cosine
    * kernel ([[graft.ann.Ann.denseKernelTopK]], self-exclusion off: a
    * query that is a stored vector finds itself), reading the tenant's
    * prepared scan. The batch broadcasts once and the tenant is
    * scanned once with no shuffle (a tenant with fewer splits than
    * cores is read by one task per core, each scoring a qid shard);
    * each task keeps ≤k candidates per query, merged on the driver —
    * never a global sort. A local query frame needs no job of its own,
    * so a batch fitting [[graft.ann.Ann.fastPathMb]] is one scan job,
    * run inside this call; the returned frame is local. `queries` is
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
        excludeSelf = false, held = corpusOf(tenantScan(coll, userId)))
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

  /** A query vector as a literal for the reads that stay Catalyst
    * plans ([[searchGrouped]], [[searchThreshold]]): the values are
    * cast-free Catalyst array data (primitive-backed when no element is
    * null), so generated code is the same for every query and only the
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
    * query vector in column `q` ([[queryOf]]). One job over the
    * tenant's prepared scan scores every row with the dense kernel's
    * cosine arithmetic and 6-dp rounding (the `score()` column's
    * values), each task keeping its best `limit` rows by (score desc,
    * vector_id); the driver merges them into a local frame — no join,
    * no exchange, no global sort at 100 TB. A null stored vector
    * scores null and ranks after every scored row.
    */
  def search(coll: DataFrame, userId: Any, qdf: DataFrame, limit: Int,
             scoreThreshold: Double = Double.NegativeInfinity,
             docIds: Seq[Long] = Nil): DataFrame = {
    val h = tenantScan(coll, userId)
    val keep: InternalRow => Boolean =
      if (docIds.isEmpty) _ => true
      else {
        val (doc, docs) = (keyCol(h, "doc_id"), docIds.toSet)
        r => doc.in(r, docs)
      }
    scoredTop(coll, h, queryOf(qdf), limit, outCols(coll), scoreThreshold, keep)
  }

  /** search_query(with_vectors = True) (reference
    * document_ingestor.py:338): the scored results carry the stored
    * vector alongside the payload — what a caller needs to re-rank
    * client-side or chain into recommend-by-example without a second
    * scroll round-trip. Same read as [[search]] plus one column.
    */
  def searchWithVectors(coll: DataFrame, userId: Any, qdf: DataFrame,
                        limit: Int): DataFrame =
    scoredTop(coll, tenantScan(coll, userId), queryOf(qdf), limit,
      outCols(coll) :+ "embedding", Double.NegativeInfinity, _ => true)

  /** Payload-filtered search (the reference's Qdrant `Filter` on
    * payload fields): an arbitrary predicate pushed BELOW scoring, so
    * only matching points are ever scored — pre-filtering semantics.
    * The prepared scan is that of `coll.filter(predicate)`, so the
    * predicate narrows the partition-pruned scan before any vector
    * math. The post-filter shortcut this avoids is audited by
    * ann_filtered_recall.
    */
  def searchWhere(coll: DataFrame, userId: Any, qdf: DataFrame, limit: Int,
                  predicate: Column): DataFrame = {
    val narrowed = coll.filter(predicate)
    scoredTop(coll, tenantScan(narrowed, userId), queryOf(qdf), limit, outCols(coll),
      Double.NegativeInfinity, _ => true)
  }

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
    * The examples are fetched in one job over the tenant's prepared
    * scan and folded on the driver in the order the Column form
    * (zip_with / transform) evaluates: element sums left to right in
    * the stored element type, then ÷ count in double, then pos − neg in
    * double; a null vector or element stays null and ragged vectors
    * pad with nulls (a null element then scores as 0). The result is
    * scored as [[search]] scores, in one more job over the same scan;
    * example points are excluded. A missing example id gives an empty
    * result; an id matching more than one point is rejected.
    */
  def recommend(coll: DataFrame, userId: Any, posIds: Seq[Long],
                negIds: Seq[Long], limit: Int): DataFrame = {
    require(posIds.nonEmpty)
    val h = tenantScan(coll, userId)
    val ids = posIds ++ negIds
    val (vid, wanted, emb) = (keyCol(h, "vector_id"), ids.toSet, h.index("embedding"))
    val dt = h.schema(emb).dataType
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    val examples = h.run(it => it.filter(vid.in(_, wanted)).map(_.copy()).toArray).flatten
      .map(r => (vid(r), if (r.isNullAt(emb)) null else toScala(r.getArray(emb))))
    val found = ids.map(id => examples.filter(_._1 == id))
    found.zip(ids).foreach { case (m, id) =>
      require(m.length <= 1, s"recommend example id $id matches ${m.length} points") }
    val query: Option[Seq[Any]] =
      if (found.exists(_.isEmpty)) None
      else {
        val vecs = found.map(_.head._2.asInstanceOf[Seq[Any]])
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
    val q = query.map(v =>
      if (v == null) null else v.map(x => if (x == null) 0.0 else x.asInstanceOf[Double]).toArray)
    scoredTop(coll, h, q, limit, Seq("vector_id", "doc_id"),
      Double.NegativeInfinity, r => !r.isNullAt(vid.at) && !wanted(vid(r)))
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
