package loadbench

import scala.collection.mutable

/** In-process model of a graft collection, used to check every store
  * call. It follows graft's documented semantics, not its code:
  * - score = Spark `round(cosine, 6)` (HALF_UP on the double's decimal
  *   form) + 0.0, cosine accumulated left to right in double;
  * - ranking by (score desc, vector_id asc), ids ascending for scans;
  * - upsert is last-writer-wins on (user_id, doc_id, chunk_id),
  *   update replaces one vector in place, deletes drop points.
  * Rows come back as `Seq[Any]` in graft's output column order, with
  * vectors as `Vector[Float]`, the shape [[Model.rowOf]] gives a
  * collected Spark row.
  */
final class Model {

  private val data = mutable.Map.empty[Long, mutable.TreeMap[Long, Point]]

  def tenant(u: Long): mutable.TreeMap[Long, Point] =
    data.getOrElseUpdate(u, mutable.TreeMap.empty[Long, Point])

  def put(p: Point): Unit = tenant(p.user_id)(p.vector_id) = p
  def size: Int = data.values.map(_.size).sum
  def liveBytes: Long = data.values.flatMap(_.values).map(Data.userBytes).sum
  def all: Seq[Point] = data.keys.toSeq.sorted.flatMap(u => data(u).values)

  // ---- mutations ---------------------------------------------------

  def upsert(batch: Seq[Point]): Unit = batch.foreach { p =>
    val t = tenant(p.user_id)
    t.filterInPlace((_, q) => !(q.doc_id == p.doc_id && q.chunk_id == p.chunk_id))
    t(p.vector_id) = p
  }

  def updateVector(u: Long, doc: Long, chunk: Long, v: Array[Float]): Unit = {
    val t = tenant(u)
    t.find { case (_, q) => q.doc_id == doc && q.chunk_id == chunk }
      .foreach { case (id, q) => t(id) = q.copy(embedding = v) }
  }

  def deleteDoc(u: Long, doc: Long): Unit = tenant(u).filterInPlace((_, q) => q.doc_id != doc)
  def deleteByIds(u: Long, ids: Seq[Long]): Unit = tenant(u) --= ids

  // ---- reads (graft output columns in order) -----------------------

  private def meta(p: Point): Seq[Any] = Seq(p.vector_id, p.doc_id, p.chunk_id, p.title)

  private def ranked(ps: Iterable[Point], q: Array[Double], limit: Int)
      : Seq[(Point, Double)] =
    ps.map(p => p -> Model.score(p.embedding, q)).toSeq
      .sortBy { case (p, s) => (-s, p.vector_id) }.take(limit)

  /** VectorStore.search: (vector_id, doc_id, chunk_id, title, score). */
  def search(u: Long, q: Array[Double], limit: Int,
             threshold: Double = Double.NegativeInfinity,
             docIds: Seq[Long] = Nil): Seq[Seq[Any]] = {
    val ps = tenant(u).values.filter(p => docIds.isEmpty || docIds.contains(p.doc_id))
    ranked(ps, q, Int.MaxValue).filter(_._2 >= threshold).take(limit)
      .map { case (p, s) => meta(p) :+ s }
  }

  /** VectorStore.scrollAfter: (vector_id, doc_id, chunk_id, title). */
  def scrollAfter(u: Long, cursor: Long, limit: Int): Seq[Seq[Any]] =
    tenant(u).valuesIteratorFrom(cursor + 1).take(limit).map(meta).toSeq

  /** VectorStore.retrieve: metadata plus the stored vector. */
  def retrieve(u: Long, ids: Seq[Long]): Seq[Seq[Any]] =
    ids.distinct.sorted.flatMap(tenant(u).get)
      .map(p => meta(p) :+ p.embedding.toVector)

  /** VectorStore.recommend: the query is mean(positives) − mean(negatives),
    * summed in float left to right as Spark's zip_with does, divided
    * in double; examples are excluded. Rows (vector_id, doc_id, score).
    */
  def recommend(u: Long, pos: Seq[Long], neg: Seq[Long], limit: Int): Seq[Seq[Any]] = {
    val t = tenant(u)
    def mean(ids: Seq[Long]): Array[Double] = {
      val sum = ids.map(id => t(id).embedding).reduceLeft { (a, b) =>
        Array.tabulate(a.length)(i => a(i) + b(i))
      }
      sum.map(_.toDouble / ids.size.toDouble)
    }
    val p = mean(pos)
    val q = if (neg.isEmpty) p else {
      val n = mean(neg)
      Array.tabulate(p.length)(i => p(i) - n(i))
    }
    val excluded = (pos ++ neg).toSet
    ranked(t.values.filterNot(x => excluded(x.vector_id)), q, limit)
      .map { case (x, s) => Seq(x.vector_id, x.doc_id, s) }
  }

  /** VectorStore.searchBatch: (qid, rnk, vector_id, score). */
  def searchBatch(u: Long, queries: Seq[(Long, Array[Double])], k: Int): Seq[Seq[Any]] =
    queries.sortBy(_._1).flatMap { case (qid, q) =>
      ranked(tenant(u).values, q, k).zipWithIndex.map { case ((p, s), i) =>
        Seq(qid, (i + 1).toLong, p.vector_id, s)
      }
    }

  /** Ann.bruteForceTopKDense over one tenant, queries by vector id,
    * self excluded: (qid, vec_id, score, rnk).
    */
  def knn(u: Long, qids: Seq[Long], k: Int): Seq[Seq[Any]] = {
    val t = tenant(u)
    val perQuery = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Seq[Any]]]()
    // the model is the slow part of checking a kNN call: spread it
    java.util.stream.LongStream.of(qids: _*).parallel().forEach { qid =>
      val q = t(qid).embedding.map(_.toDouble)
      perQuery.put(qid, ranked(t.values.filter(_.vector_id != qid), q, k)
        .zipWithIndex.map { case ((p, s), i) => Seq(qid, p.vector_id, s, (i + 1).toLong) })
    }
    qids.sorted.flatMap(perQuery.get)
  }
}

object Model {

  /** Spark `round(x, 6)` on a double, then `+ 0.0` (no -0.0). */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue() + 0.0

  def cosine(a: Array[Float], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  def score(a: Array[Float], b: Array[Double]): Double = round6(cosine(a, b))

  /** A collected Spark row as the model's row shape. */
  def rowOf(r: org.apache.spark.sql.Row): Seq[Any] = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.toVector
    case other => other
  }

  /** None when `got` equals `want`, else a short description. */
  def diff(want: Seq[Seq[Any]], got: Seq[Seq[Any]]): Option[String] =
    if (want == got) None
    else {
      val i = want.zip(got).indexWhere { case (a, b) => a != b }
      val at = if (i >= 0) i else math.min(want.size, got.size)
      def show(rows: Seq[Seq[Any]]) = rows.lift(at).map(_.map {
        case v: Vector[_] => s"vector(${v.size})"
        case x => x
      }.mkString("(", ", ", ")")).getOrElse("<none>")
      Some(s"${want.size} rows expected, ${got.size} returned; first difference at " +
        s"row $at: expected ${show(want)}, got ${show(got)}")
    }
}
