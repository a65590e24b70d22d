package graft.ann

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructField, StructType}
import graft.functions.VectorFunctions.{md5Long, score}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers:
  * - [[bruteForceTopK]]: exact cosine top-k for a query batch — the
  *   correctness baseline. Scan-side never shuffles (queries are
  *   broadcast); ranking shuffles only candidate rows per query.
  * - [[lshTopK]]: random-hyperplane LSH signatures + multiprobe
  *   (hamming ≤ 1) candidate pruning. At scale the signature is a
  *   write-time cluster column, so candidate scans are pruned I/O.
  * - IVF (see SparkEntry `ann_ivf_probe`): coarse-quantizer cells +
  *   nprobe cell search.
  *
  * Plane weights derive from md5 so the DuckDB oracle reproduces the
  * exact same signatures.
  */
object Ann {

  /** Exact cosine top-k for each query vector in `queries`
    * (qid, qv). Output: qid, vec_id, score, rnk.
    *
    * Uses the TopK partial aggregate: each map task keeps only k
    * candidates per query, so the shuffle is k rows per partition per
    * query — no global sort, no full candidate shuffle (see
    * graft.ops.TopK). Null vectors are dropped on both sides, as in
    * the dense kernel: the aggregate would rank a null score as 0.0.
    */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val agg = graft.ops.TopK.topk(k)
    emb.filter(col("embedding").isNotNull)
      .crossJoin(broadcast(queries.filter(col("qv").isNotNull)))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), score(col("embedding"), col("qv")).as("score"), col("vec_id"))
      .groupBy("qid")
      .agg(agg(col("score"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("vec_id"), col("col.score").as("score"),
              (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
  }

  /** Dense brute-force top-k for the MANY-query case (kNN graph,
    * all-pairs self-join): the query matrix broadcasts as primitive
    * arrays and each partition runs a tight cosine kernel with a
    * per-query bounded buffer, emitting ≤k partial candidates per
    * (partition, query) that the TopK aggregate then merges. Output
    * and semantics are IDENTICAL to [[bruteForceTopK]] — same cosine
    * accumulation order as the CosineSimilarity codegen (left-assoc
    * i=0..n−1 over double-promoted elements), same Spark `round(_,6)`
    * (BigDecimal.valueOf HALF_UP), same (score desc, id asc)
    * tie-break — spec-asserted row-equal. The win is constant-factor:
    * the BroadcastNestedLoopJoin materializes a row per PAIR, this
    * kernel touches primitive arrays only (measured ~10× on the
    * 2000-query oracle corpus). A batch and its candidates that fit
    * [[fastPathMb]] run in one scan job with no shuffle, merged on the
    * driver ([[denseKernelTopK]]).
    */
  def bruteForceTopKDense(emb: DataFrame, queries: DataFrame, k: Int): DataFrame =
    denseKernelTopK(emb, queries, k, Cosine)

  /** [[bruteForceTopKDense]] without the final (qid, rnk) order — for
    * callers that consume the edge LIST (joins/aggregates where row
    * order is irrelevant): when the partials are too many to merge on
    * the driver, they merge hash-partitioned on qid across all cores
    * instead of on one partition.
    */
  def bruteForceTopKDenseUnordered(emb: DataFrame, queries: DataFrame,
      k: Int): DataFrame =
    denseKernelTopK(emb, queries, k, Cosine, ordered = false)

  /** k smallest ROUNDED-6dp euclidean distances per vector against the
    * whole table (self excluded) — the two-NN intrinsic-dimension
    * input. Same dense kernel; TopK merges on the NEGATED distance so
    * (score desc, id asc) ≡ (dist asc, id asc), matching the oracle's
    * `ORDER BY dist, ib` exactly. Output: vec_id, rnk, dist.
    */
  def nearestDistancesDense(emb: DataFrame, k: Int): DataFrame =
    denseKernelTopK(emb,
      emb.select(col("vec_id").as("qid"), col("embedding").as("qv")), k,
      NegEuclid)
      .select(col("qid").as("vec_id"), col("rnk"), (-col("score")).as("dist"))

  /** Spark `round(x, 6)` twin (BigDecimal.valueOf, HALF_UP); `+ 0.0`
    * normalizes −0.0 the way the Column form does. Monotone, and moves
    * a value by at most 5e-7.
    */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0

  /** Test access to the exact kernel score fn (tiled-equality spec). */
  private[graft] def cosineRounded6Kernel: (Array[Double], Array[Double]) => Double =
    cosineRounded6

  /** Exact CosineSimilarity-expression arithmetic: left-assoc i=0..n−1
    * over double-promoted elements, then Spark round to 6dp.
    */
  private val cosineRounded6: (Array[Double], Array[Double]) => Double = (v, qv) => {
    val n = math.min(v.length, qv.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = v(i); val y = qv(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    round6(cosOf(dot, na, nb))
  }

  private def cosOf(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)

  /** A query block as the kernels hold it: ids, vectors and each
    * vector's squared norm, computed once per block instead of once
    * per scored pair.
    */
  private[graft] final class QueryBlock(val ids: Array[Long], val vecs: Array[Array[Double]],
      val norms: Array[Double]) extends Serializable {
    def this(ids: Array[Long], vecs: Array[Array[Double]]) =
      this(ids, vecs, vecs.map { q =>
        var s = 0.0; var i = 0
        while (i < q.length) { s += q(i) * q(i); i += 1 }
        s
      })

    /** Queries `lo until hi`, sharing the vectors and norms. */
    def slice(lo: Int, hi: Int): QueryBlock =
      new QueryBlock(ids.slice(lo, hi), vecs.slice(lo, hi), norms.slice(lo, hi))
  }

  /** The score a dense kernel ranks by. `raw` scores one corpus row
    * against a whole query block, four queries per pass over the row
    * where their lengths match it; `round` turns a raw score into the
    * exact rounded score. Every accumulator sums left to right over
    * the same elements as the scalar form ([[cosineRounded6]]), so
    * splitting the norms out and interleaving queries changes no bit.
    * `round` is monotone and moves a value by at most 5e-7.
    */
  private[graft] sealed abstract class Metric extends Serializable {
    def raw(v: Array[Double], off: Int, n: Int, qb: QueryBlock, out: Array[Double]): Unit
    def round(raw: Double): Double
  }

  /** round6(cosine), the `score()` column. */
  private[graft] case object Cosine extends Metric {
    def raw(v: Array[Double], off: Int, n: Int, qb: QueryBlock, out: Array[Double]): Unit = {
      var vn = 0.0; var i = 0
      while (i < n) { val x = v(off + i); vn += x * x; i += 1 }
      val qs = qb.vecs; val qn = qb.norms; val nq = qs.length
      var qi = 0
      while (qi < nq) {
        if (qi + 3 < nq && qs(qi).length == n && qs(qi + 1).length == n &&
            qs(qi + 2).length == n && qs(qi + 3).length == n) {
          val (a, b, c, d) = (qs(qi), qs(qi + 1), qs(qi + 2), qs(qi + 3))
          var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0; var j = 0
          while (j < n) {
            val x = v(off + j)
            d0 += x * a(j); d1 += x * b(j); d2 += x * c(j); d3 += x * d(j); j += 1
          }
          out(qi) = cosOf(d0, vn, qn(qi)); out(qi + 1) = cosOf(d1, vn, qn(qi + 1))
          out(qi + 2) = cosOf(d2, vn, qn(qi + 2)); out(qi + 3) = cosOf(d3, vn, qn(qi + 3))
          qi += 4
        } else {
          // ragged pair: both norms run over the shorter length, as in
          // the scalar form
          val q = qs(qi); val m = math.min(n, q.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
          while (j < m) {
            val x = v(off + j); val y = q(j)
            dot += x * y; na += x * x; nb += y * y; j += 1
          }
          out(qi) = cosOf(dot, na, nb)
          qi += 1
        }
      }
    }
    def round(raw: Double): Double = round6(raw)
  }

  /** −round(√Σ(xᵢ−yᵢ)², 6): higher = nearer, so the shared (score
    * desc, id asc) top-k comparator ranks by ascending distance. The
    * raw score is −√Σ(xᵢ−yᵢ)².
    */
  private[graft] case object NegEuclid extends Metric {
    def raw(v: Array[Double], off: Int, n: Int, qb: QueryBlock, out: Array[Double]): Unit = {
      val qs = qb.vecs; val nq = qs.length
      var qi = 0
      while (qi < nq) {
        if (qi + 3 < nq && qs(qi).length == n && qs(qi + 1).length == n &&
            qs(qi + 2).length == n && qs(qi + 3).length == n) {
          val (a, b, c, d) = (qs(qi), qs(qi + 1), qs(qi + 2), qs(qi + 3))
          var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0; var j = 0
          while (j < n) {
            val x = v(off + j)
            val e0 = x - a(j); val e1 = x - b(j); val e2 = x - c(j); val e3 = x - d(j)
            s0 += e0 * e0; s1 += e1 * e1; s2 += e2 * e2; s3 += e3 * e3; j += 1
          }
          out(qi) = -math.sqrt(s0); out(qi + 1) = -math.sqrt(s1)
          out(qi + 2) = -math.sqrt(s2); out(qi + 3) = -math.sqrt(s3)
          qi += 4
        } else {
          val q = qs(qi); val m = math.min(n, q.length)
          var s = 0.0; var j = 0
          while (j < m) { val e = v(off + j) - q(j); s += e * e; j += 1 }
          out(qi) = -math.sqrt(s)
          qi += 1
        }
      }
    }
    def round(raw: Double): Double = -round6(-raw)
  }

  /** One kernel task's state for a query block: a bounded (score desc,
    * id asc) top-k buffer per query. [[offer]] scores a corpus row
    * against every query and rounds only the raw scores that can
    * still reach a buffer: a raw score below the k-th rounded score
    * − 1e-6 rounds to at most k-th − 5e-7, so it can neither beat nor
    * tie the k-th entry and skipping it changes no row.
    */
  private final class KernelState(qb: QueryBlock, k: Int, metric: Metric,
      excludeSelf: Boolean) {
    private val nq = qb.ids.length
    private val bufS = Array.fill(nq)(new Array[Double](k))
    private val bufI = Array.fill(nq)(new Array[Long](k))
    private val bufN = new Array[Int](nq)
    private val raw = new Array[Double](nq)

    private def floor(qi: Int): Double =
      if (bufN(qi) < k) Double.NegativeInfinity
      else if (k == 0) Double.PositiveInfinity
      else bufS(qi)(k - 1) - 1e-6

    private def insert(qi: Int, s: Double, id: Long): Unit = {
      val n = bufN(qi); val ss = bufS(qi); val ii = bufI(qi)
      var pos = 0
      while (pos < n && (ss(pos) > s || (ss(pos) == s && ii(pos) < id))) pos += 1
      if (pos >= k) return
      val m = math.min(n + 1, k)
      var j = m - 1
      while (j > pos) { ss(j) = ss(j - 1); ii(j) = ii(j - 1); j -= 1 }
      ss(pos) = s; ii(pos) = id; bufN(qi) = m
    }

    /** Score corpus row `vid` = `v(off until off + n)`. */
    def offer(vid: Long, v: Array[Double], off: Int, n: Int): Unit = {
      metric.raw(v, off, n, qb, raw)
      var qi = 0
      while (qi < nq) {
        val r = raw(qi)
        // `!(r < floor)` keeps NaN on the rounding path, which rejects it
        if (!(r < floor(qi)) && !(excludeSelf && qb.ids(qi) == vid))
          insert(qi, metric.round(r), vid)
        qi += 1
      }
    }

    /** The partial candidates: (qid, score, vec_id). */
    def rows: Iterator[(Long, Double, Long)] =
      (0 until nq).iterator.flatMap { qi =>
        (0 until bufN(qi)).iterator.map(j => (qb.ids(qi), bufS(qi)(j), bufI(qi)(j)))
      }

    /** The partial candidates packed as one [[Partial]]. */
    def partial(split: Int, lo: Int): Partial = {
      val total = bufN.sum
      val scores = new Array[Double](total); val vids = new Array[Long](total)
      var off = 0; var qi = 0
      while (qi < nq) {
        System.arraycopy(bufS(qi), 0, scores, off, bufN(qi))
        System.arraycopy(bufI(qi), 0, vids, off, bufN(qi))
        off += bufN(qi); qi += 1
      }
      Partial(split, lo, bufN.clone(), scores, vids)
    }
  }

  /** One fast-path task's candidates: corpus split `split` scored
    * against queries `lo until lo + counts.length` of the sorted
    * batch. Query `lo + j` has `counts(j)` candidates, stored in
    * (score desc, id asc) order after those of the queries before it.
    */
  private final case class Partial(split: Int, lo: Int, counts: Array[Int],
      scores: Array[Double], vids: Array[Long]) {
    def rows(ids: Array[Long]): Iterator[(Long, Double, Long)] = {
      val starts = counts.scanLeft(0)(_ + _)
      counts.indices.iterator.flatMap { j =>
        (starts(j) until starts(j + 1)).iterator.map(i => (ids(lo + j), scores(i), vids(i)))
      }
    }
  }

  /** Queries per kernel tile. The query side is collected and
    * broadcast ONE TILE at a time, so driver and executor memory stay
    * flat no matter how many queries the batch ships (the r12 caveat:
    * an unbounded collect of the query side capped the kernel at
    * driver-memory-many queries). 2^16 queries × 64-d doubles ≈ 34 MB
    * per broadcast — comfortably under executor headroom while big
    * enough that every oracle corpus stays on the one-collect path.
    * Specs pass a smaller tile to force many tiles.
    */
  private[graft] val defaultKernelTile: Int = 1 << 16

  /** (id, vector) rows → (ids, end-offsets, flat values): the packed
    * shape tiles and blocks take through the shuffle. Three primitive
    * arrays serialize/deserialize as UnsafeArrayData memcpys; the
    * equivalent Array[(Long, Array[Double])] pays an element-wise
    * InternalRow walk on both sides (measured as most of the blocked
    * kernel's constant factor, r15 probe). End-offsets rather than a
    * single dim keep ragged batches exact.
    */
  private def packRows(rows: Array[(Long, Array[Double])])
      : (Array[Long], Array[Int], Array[Double]) = {
    val n = rows.length
    val ids = new Array[Long](n); val ends = new Array[Int](n)
    var total = 0; var i = 0
    while (i < n) { ids(i) = rows(i)._1; total += rows(i)._2.length; ends(i) = total; i += 1 }
    val flat = new Array[Double](total)
    i = 0; var off = 0
    while (i < n) {
      val v = rows(i)._2
      System.arraycopy(v, 0, flat, off, v.length); off += v.length; i += 1
    }
    (ids, ends, flat)
  }

  /** Inverse of [[packRows]]'s vector part: one slice per vector. */
  private def unpackVecs(ends: Array[Int], flat: Array[Double]): Array[Array[Double]] = {
    val out = new Array[Array[Double]](ends.length)
    var i = 0; var start = 0
    while (i < ends.length) {
      out(i) = java.util.Arrays.copyOfRange(flat, start, ends(i))
      start = ends(i); i += 1
    }
    out
  }

  /** Non-null (id, vector) rows of `df` as (_1 bigint, _2 array<float>
    * when the vectors are stored as floats, else array<double>).
    */
  private def vectorRows(df: DataFrame, id: String, vec: String): DataFrame = {
    val v = df.schema(vec).dataType match {
      case ArrayType(FloatType, _) => col(vec)
      case _                       => col(vec).cast("array<double>")
    }
    df.filter(col(vec).isNotNull).select(col(id).cast("long").as("_1"), v.as("_2"))
  }

  /** [[vectorRows]] decoded to primitive doubles on the executors.
    * Float vectors decode with one copy and widen in a loop — bit-equal
    * to a Catalyst cast to array<double>, which would box every element.
    */
  private def asDoubles(rows: DataFrame): Dataset[(Long, Array[Double])] = {
    val spark = rows.sparkSession
    import spark.implicits._
    if (storesFloats(rows)) rows.as[(Long, Array[Float])].map { case (id, f) => (id, widen(f)) }
    else rows.as[(Long, Array[Double])]
  }

  /** [[vectorRows]] collected to the driver, moving the stored vectors
    * and widening them there.
    */
  private def collectDoubles(rows: DataFrame): Array[(Long, Array[Double])] = {
    val spark = rows.sparkSession
    import spark.implicits._
    if (storesFloats(rows)) rows.as[(Long, Array[Float])].collect().map { case (id, f) => (id, widen(f)) }
    else rows.as[(Long, Array[Double])].collect()
  }

  private def storesFloats(rows: DataFrame): Boolean = rows.schema("_2").dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  private def widen(f: Array[Float]): Array[Double] = {
    val d = new Array[Double](f.length); var i = 0
    while (i < f.length) { d(i) = f(i); i += 1 }
    d
  }

  /** A [[vectorRows]] vector as doubles, written into `buf` (grown when
    * too short); returns the buffer, whose first `a.numElements` values
    * are the vector.
    */
  private[graft] def decodeInto(a: ArrayData, floats: Boolean, buf: Array[Double]): Array[Double] = {
    val n = a.numElements()
    val out = if (buf.length < n) new Array[Double](n) else buf
    var i = 0
    if (floats) while (i < n) { out(i) = a.getFloat(i); i += 1 }
    else while (i < n) { out(i) = a.getDouble(i); i += 1 }
    out
  }

  private def decode(a: ArrayData, floats: Boolean): Array[Double] =
    if (floats) widen(a.toFloatArray()) else a.toDoubleArray()

  /** (non-null query count, exact max dim) of a query frame in ONE
    * job — what the blocked kernel's packing caps need when it is
    * called on its own. Per-partition folds collected to the driver
    * (an agg would add a shuffle, and under AQE a second job); a full
    * pass rather than a head-row probe: a dim-0 first row on a batch
    * whose later rows are wide would make a head-row probe understate
    * the dim.
    */
  private def probeQueries(queries: DataFrame): (Long, Int) = {
    val spark = queries.sparkSession
    import spark.implicits._
    val parts = queries.filter(col("qv").isNotNull).select(size(col("qv"))).as[Int]
      .mapPartitions { it =>
        var n = 0L; var d = 0
        it.foreach { x => n += 1; d = math.max(d, x) }
        Iterator.single((n, d))
      }.collect()
    (parts.map(_._1).sum, parts.map(_._2).maxOption.getOrElse(0))
  }

  /** One partition of the query fetch: its row count and max dim, and
    * its rows when they fit the partition's share of the budget.
    */
  private final case class FetchPart(n: Long, dim: Int,
      rows: Option[Array[(Long, Array[Double])]])

  /** The query batch of [[denseKernelTopK]] as (count, max dim, rows).
    * A frame whose optimized plan is a local relation is decoded from
    * that relation's rows: no job. Any other frame is read in ONE job
    * that returns each partition's count, max dim and rows, the rows
    * only while they fit `budget / partitions` bytes of doubles and
    * `tile` rows — so the driver never holds more than `budget` of
    * query doubles. `rows` is None when some partition did not fit.
    */
  private def fetchQueries(qRows: DataFrame, tile: Int, budget: Long)
      : (Long, Int, Option[Array[(Long, Array[Double])]]) = {
    val floats = storesFloats(qRows)
    qRows.queryExecution.optimizedPlan match {
      case lr: LocalRelation =>
        val rows = lr.data.iterator.map(r => (r.getLong(0), decode(r.getArray(1), floats))).toArray
        (rows.length.toLong, rows.iterator.map(_._2.length).maxOption.getOrElse(0), Some(rows))
      case _ =>
        val scan = qRows.queryExecution.toRdd
        val share = budget / math.max(1, scan.getNumPartitions)
        val parts = scan.mapPartitions { it =>
          var n = 0L; var d = 0; var bytes = 0L
          var kept = Option(Array.newBuilder[(Long, Array[Double])])
          it.foreach { r =>
            val a = r.getArray(1)
            n += 1; d = math.max(d, a.numElements())
            bytes += a.numElements() * 8L
            if (bytes > share || n > tile) kept = None
            kept.foreach(_ += ((r.getLong(0), decode(a, floats))))
          }
          Iterator.single(FetchPart(n, d, kept.map(_.result())))
        }.collect()
        val rows =
          if (parts.forall(_.rows.isDefined)) Some(parts.flatMap(_.rows.get)) else None
        (parts.map(_.n).sum, parts.map(_.dim).maxOption.getOrElse(0), rows)
    }
  }

  /** What one fast-path kernel call that merged on the driver ran: the
    * physical plan of its corpus scan, its task count and the most
    * candidates any task sent the merge for one query.
    */
  private[graft] final case class KernelRun(corpusPlan: SparkPlan, tasks: Int,
      maxPerQuery: Int)

  private val kernelRuns =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[KernelRun]]

  /** `body`'s result and the [[KernelRun]]s it made on this thread —
    * how the plan guards see the plan the kernel executes, which the
    * returned frame no longer carries.
    */
  private[graft] def recordingKernelRuns[T](body: => T): (T, Seq[KernelRun]) = {
    val outer = kernelRuns.get
    val runs = scala.collection.mutable.ArrayBuffer.empty[KernelRun]
    kernelRuns.set(runs)
    try (body, runs.toSeq) finally kernelRuns.set(outer)
  }

  /** A dense-kernel corpus: the rows of a planned scan, with the
    * bigint id at ordinal `id` and the vector at `vec` (stored as
    * floats when `floats`, else doubles); `plan` is the scan's
    * executed plan. Rows with a null vector are skipped.
    */
  private[graft] final case class Corpus(rows: RDD[InternalRow], id: Int, vec: Int,
      floats: Boolean, plan: SparkPlan)

  private[graft] object Corpus {
    /** The non-null (vec_id, embedding) rows of `emb`, planned now. */
    def of(emb: DataFrame): Corpus = {
      val c = vectorRows(emb, "vec_id", "embedding")
      Corpus(c.queryExecution.toRdd, 0, 1, storesFloats(c), c.queryExecution.executedPlan)
    }
  }

  /** Exact dense top-k of every query in `queries` (qid, qv) against
    * `emb` (vec_id, embedding) under `metric`. Output: qid, vec_id,
    * score, rnk — ordered by (qid, rnk) when `ordered`.
    *
    * Query fetch, at most one job ([[fetchQueries]]): a local frame is
    * decoded from its rows; any other is read in one job that returns
    * per partition the count, the max dim and the rows while they fit
    * the partition's share of `budget`. A batch over the dim-aware
    * bound ([[fastPathCap]]) runs the 2D block-matrix kernel
    * ([[blockedTop]]) with that (count, dim), so no probe runs; a batch
    * that fits the bound but not one partition's share is collected
    * again in a second job.
    *
    * Fast path, one scan job with no shuffle: the sorted batch
    * broadcasts once and the corpus is read through its physical plan.
    * A corpus with fewer splits than cores is read by `cores` tasks
    * per split, each scoring a contiguous qid shard (the batch's own
    * size caps the shard count); otherwise each split is one task
    * scoring every query. Each task keeps ≤k candidates per query
    * (REPOSE's per-partition local top-k). When the splits × queries
    * × k candidate slots (16 bytes each, plus a slot of bookkeeping
    * per split and query) fit `mergeBudget`, they are collected and
    * merged on the driver in (score desc, id asc) order, and the
    * result is a local frame in (qid, rnk) order: the kernel has run
    * when this returns. Otherwise the result is a lazy frame whose
    * TopK aggregate merges the candidates by qid (on one partition
    * when `ordered`).
    *
    * `excludeSelf` drops the pair qid == vec_id (the kNN-graph shape);
    * store search_batch keeps it, so a query that is a stored vector
    * finds itself. Null vectors (failed embed jobs leave them behind)
    * cannot rank and are dropped on both sides.
    *
    * `held` is a corpus scan the caller has already planned (the store's
    * prepared tenant scan); the fast path then reads it instead of
    * planning `emb`, which only the blocked path evaluates.
    */
  private[graft] def denseKernelTopK(emb: => DataFrame, queries: DataFrame, k: Int,
      metric: Metric,
      tile: Int = defaultKernelTile,
      ordered: Boolean = true,
      excludeSelf: Boolean = true,
      budget: Long = fastPathMb << 20,
      mergeBudget: Long = fastPathMb << 20,
      held: Option[Corpus] = None): DataFrame = {
    val spark = queries.sparkSession
    val qRows = vectorRows(queries, "qid", "qv")
    val (nq, dim, fetched) = fetchQueries(qRows, tile, budget)
    if (nq > fastPathCap(dim, tile, budget))
      return ranked(blockedTop(emb, queries, k, metric, tile, excludeSelf = excludeSelf,
        probed = Some((nq, dim))), ordered)
    val rows = fetched.getOrElse(collectDoubles(qRows)).sortBy(_._1)
    val ids = rows.map(_._1)
    val corpus = held.getOrElse(Corpus.of(emb))
    val scan = corpus.rows
    val splits = scan.getNumPartitions
    if (rows.isEmpty || splits == 0) return mergedFrame(spark, ids, Array.empty, splits, k)
    val sc = spark.sparkContext
    val bq = sc.broadcast(new QueryBlock(ids, rows.map(_._2)))
    val (idAt, vecAt, floats) = (corpus.id, corpus.vec, corpus.floats)
    val nShards = if (splits < sc.defaultParallelism) math.min(sc.defaultParallelism, rows.length) else 1
    val tasks = sc.union((0 until nShards).map { sh =>
      val (lo, hi) = (sh * rows.length / nShards, (sh + 1) * rows.length / nShards)
      scan.mapPartitionsWithIndex { (split, it) =>
        val st = new KernelState(bq.value.slice(lo, hi), k, metric, excludeSelf)
        var buf = new Array[Double](0)
        it.foreach { r =>
          if (!r.isNullAt(vecAt)) {
            val a = r.getArray(vecAt)
            buf = decodeInto(a, floats, buf)
            st.offer(r.getLong(idAt), buf, 0, a.numElements())
          }
        }
        Iterator.single(st.partial(split, lo))
      }
    })
    // 16 bytes per candidate slot (score, id) plus one slot of counts
    // and merge indices, per (split, query)
    if (splits.toLong * rows.length * 16L * (k + 1) <= mergeBudget) {
      val parts = tasks.collect()
      bq.destroy()
      Option(kernelRuns.get).foreach(_ += KernelRun(corpus.plan,
        parts.length, parts.iterator.flatMap(_.counts).maxOption.getOrElse(0)))
      mergedFrame(spark, ids, parts, splits, k)
    } else {
      import spark.implicits._
      val merged = tasks.flatMap(_.rows(bq.value.ids)).toDF("qid", "score", "vec_id")
        .groupBy("qid").agg(graft.ops.TopK.topk(k)(col("score"), col("vec_id")).as("top"))
      // an ordered result merges on ONE partition, so the (qid, rnk)
      // order is a local sort — no range-sampling job, no second shuffle
      ranked(if (ordered) merged.coalesce(1) else merged, ordered)
    }
  }

  /** A per-qid TopK frame (qid, top) as kernel output rows. */
  private def ranked(top: DataFrame, ordered: Boolean): DataFrame = {
    val out = top
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("vec_id"), col("col.score").as("score"),
              (col("pos") + 1).cast("long").as("rnk"))
    if (ordered) out.orderBy("qid", "rnk") else out
  }

  /** The schema of kernel output, as the TopK-aggregate form has it. */
  private val kernelSchema = StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("vec_id", LongType, nullable = true),
    StructField("score", DoubleType, nullable = true),
    StructField("rnk", LongType, nullable = false)))

  /** The fast-path candidates merged on the driver: per qid, the k
    * best (score desc, id asc) across the runs of every task that
    * scored it, as a local frame in (qid, rnk) order. `ids` is the
    * sorted batch; equal qids merge into one list, as the TopK
    * aggregate groups them.
    */
  private def mergedFrame(spark: SparkSession, ids: Array[Long], parts: Array[Partial],
      splits: Int, k: Int): DataFrame = {
    val nq = ids.length
    // run r = qi * splits + split: where query qi's candidates from
    // that split start, in which partial, and how many there are
    val runPart = Array.fill(nq * splits)(-1)
    val runStart = new Array[Int](nq * splits)
    val runLen = new Array[Int](nq * splits)
    parts.iterator.zipWithIndex.foreach { case (p, pi) =>
      var off = 0; var j = 0
      while (j < p.counts.length) {
        val r = (p.lo + j) * splits + p.split
        runPart(r) = pi; runStart(r) = off; runLen(r) = p.counts(j)
        off += p.counts(j); j += 1
      }
    }
    val out = new java.util.ArrayList[Row]()
    var a = 0
    while (a < nq) {
      var b = a + 1
      while (b < nq && ids(b) == ids(a)) b += 1
      val pos = new Array[Int]((b - a) * splits)
      var rnk = 1L; var more = true
      while (rnk <= k && more) {
        // the best head among the group's runs
        var best = -1; var bs = 0.0; var bi = 0L; var ri = 0
        while (ri < pos.length) {
          val r = a * splits + ri
          if (runPart(r) >= 0 && pos(ri) < runLen(r)) {
            val p = parts(runPart(r)); val at = runStart(r) + pos(ri)
            val (s, i) = (p.scores(at), p.vids(at))
            if (best < 0 || s > bs || (s == bs && i < bi)) { best = ri; bs = s; bi = i }
          }
          ri += 1
        }
        if (best < 0) more = false
        else { out.add(Row(ids(a), bi, bs, rnk)); pos(best) += 1; rnk += 1 }
      }
      a = b
    }
    spark.createDataFrame(out, kernelSchema)
  }

  /** Corpus rows per kernel block on the blocked path: one block is
    * one side of a block×tile kernel cell, held as primitive arrays
    * in a single task (8192 rows × 64-d doubles ≈ 4 MB).
    */
  private[graft] val defaultKernelBlockRows: Int = 1 << 13

  /** Fast-path driver-memory bound in MB (default 64): the most the
    * dense kernel's driver holds of query doubles (the batch fetch and
    * its broadcast) and, separately, of partial candidates being
    * merged. A batch fetch gives each query partition an equal share
    * of it; a merge whose candidates exceed it runs as a TopK
    * aggregate on the executors instead. Deployment
    * knob for the dispatch-crossover tradeoff — MEASURED r18 (the §5
    * memory-vs-latency note): at 12k queries × 1024-d (96 MB packed,
    * 1.5× over the default cap) against a 12k × 1024-d corpus on
    * local[32]/8 GB driver, the blocked path runs 35.8 s vs 10.5 s
    * for the one-broadcast fast path forced via
    * SPARK_GRAFT_FASTPATH_MB=256 — a 3.4× penalty in the
    * just-over-the-cap region (the 2D grid pays corpus×nTiles shuffle
    * replication + packing serde + per-cell scheduling that the
    * single broadcast never pays; FLOPs are identical). So: on a
    * driver with ≥8 GB of headroom, set SPARK_GRAFT_FASTPATH_MB=256
    * and batches up to ~32k × 1024-d stay on the fast path; the 64 MB
    * default remains the conservative floor for small drivers, and
    * the blocked path remains the only exact option once the batch
    * truly cannot be broadcast (its cost scales linearly from there,
    * ScaleBench grid-1024d).
    */
  private[graft] lazy val fastPathMb: Long =
    sys.env.get("SPARK_GRAFT_FASTPATH_MB") match {
      case Some(v) =>
        val m = try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"SPARK_GRAFT_FASTPATH_MB must be a positive integer, got '$v'")
        }
        require(m > 0, s"SPARK_GRAFT_FASTPATH_MB must be > 0, got $m")
        m
      case None => 64L
    }

  /** Dim-aware bound on the one-broadcast fast path: the whole query
    * batch is collected to the driver and broadcast, so the bound
    * caps DRIVER memory (and broadcast size) at `budget` (default
    * [[fastPathMb]]) of packed query doubles — 2× the 32 MB tile
    * measured fastest at 1024-d (ScaleBench grid-1024d), 8192 queries at
    * the reference dim. An
    * explicitly smaller caller tile always wins (specs force
    * multi-tile with tile=4).
    */
  private[graft] def fastPathCap(dim: Int, tile: Int, budget: Long = fastPathMb << 20): Int =
    if (dim <= 0) tile
    else math.max(1, math.min(tile.toLong, budget / (dim * 8L)).toInt)

  /** Dim-aware packing bounds for the blocked kernel: one tile row
    * materializes tile×dim doubles in a single shuffle row / task,
    * one block row blockRows×dim. The defaults are sized for ~64-d
    * embeddings; at 1024-d they would make half-GB rows, so cap a
    * tile row at ~32 MB and a block row at ~16 MB regardless of what
    * the caller (or the env default) asks for. At the reference's
    * 1024-d this engages as (tileEff=4096, blockRowsEff=2048) —
    * measured by ScaleBench grid-1024d (scan count stays ≡1, wall-clock
    * linear in total scores; see SURVEY §6).
    */
  private[graft] def kernelPackingCaps(dim: Int, tile: Int,
      blockRows: Int): (Int, Int) = {
    val tileEff =
      if (dim <= 0) tile
      else math.max(1, math.min(tile, (32 << 20) / (dim * 8)))
    val blockRowsEff =
      if (dim <= 0) blockRows
      else math.max(1, math.min(blockRows, (16 << 20) / (dim * 8)))
    (tileEff, blockRowsEff)
  }

  /** [[bruteForceTopK]] through the 2D BLOCK-MATRIX kernel — exact
    * cosine top-k whose corpus scan count is independent of the
    * query-batch size (the huge-batch × huge-corpus path). Output and
    * semantics identical to [[bruteForceTopK]]: same per-score
    * rounding, same (score desc, id asc) tie-break — which is what
    * lets the DuckDB oracle adjudicate this kernel directly
    * (`ann_blocked_topk` forces multiple tiles AND blocks).
    */
  def bruteForceTopKBlocked(emb: DataFrame, queries: DataFrame, k: Int,
      tile: Int = defaultKernelTile,
      blockRows: Int = defaultKernelBlockRows): DataFrame =
    ranked(blockedTop(emb, queries, k, Cosine, tile, blockRows), ordered = true)

  /** 2D block-matrix dense kernel (SUMMA-style): the huge-query-batch
    * × huge-corpus case where neither side fits one broadcast.
    *
    * - The CORPUS is scanned ONCE: each partition is chunked into
    *   blocks of ≤`blockRows` rows; blocks replicate to the query
    *   tiles through the SHUFFLE, never by re-reading the source (the
    *   r13 tiled loop paid query_tiles × corpus scans — at 100 TB
    *   that multiplier is the whole job).
    * - The QUERY side never touches the driver: rows hash into
    *   ⌈nq/tile⌉ tiles with a distributed groupByKey (the r13 loop
    *   collected each tile to the driver, which also made the result
    *   sensitive to a non-deterministic query input; here each qid
    *   lands in exactly one tile by hash, deterministically).
    * - Work spreads over a 2D grid: the cell key is (tile, slot)
    *   where slot spreads a tile's blocks over `nSlots` reducers —
    *   without the salt every block for a tile would land on ONE
    *   reducer and serialize the kernel. Tiles replicate nSlots ways,
    *   blocks nTiles ways: the classic 2D-matmul replication, volume
    *   corpus×nTiles + queries×nSlots, moved once through the shuffle.
    * - The kernel is a CO-PARTITIONED ZIP, not a join (r15 ask 1):
    *   both sides hash-repartition on the cell key with the same
    *   explicit cell count, and one function per partition
    *   deserializes each tile replica ONCE, then STREAMS that cell's
    *   blocks through it. The r14 joinWith formulation re-materialized
    *   the packed tile row (32 MB at 1024-d) for EVERY joined
    *   block×tile pair — at nTiles=1 that re-deserialization was a
    *   measured 3.4× constant factor over the broadcast path on
    *   identical FLOPs. A runtime alignment assert (Spark's own
    *   Murmur3 long hash pmod nCells vs the task's partition id, both
    *   sides) turns any future co-partitioning drift into a loud
    *   failure instead of silently dropped candidates.
    * - Partial-TopK on BOTH axes: each CELL emits ≤k candidates per
    *   query — merged across all of the cell's blocks in-task, so the
    *   final shuffle carries nSlots×k rows per query instead of the
    *   r14 nBlocks×k; the TopK aggregate merges cells per qid. The
    *   union of per-cell top-k always contains the global top-k and
    *   the merge is order-invariant with the shared (score desc, id
    *   asc) tie-break, so output is row-equal to the one-broadcast
    *   path — spec-pinned at adversarially small tile/block sizes
    *   (AnnSpec).
    *
    * This is the exact-scoring fallback; the LSH/IVF partition-pruned
    * paths remain the first choice at corpus scale.
    */
  private[graft] def blockedTop(emb: DataFrame, queries: DataFrame, k: Int,
      metric: Metric,
      tile: Int = defaultKernelTile,
      blockRows: Int = defaultKernelBlockRows,
      nSlotsOverride: Option[Int] = None,
      excludeSelf: Boolean = true,
      probed: Option[(Long, Int)] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qDs = asDoubles(vectorRows(queries, "qid", "qv"))
    // count (for nTiles) and exact max dim (for the packing caps):
    // one probe job, skipped when the dispatch already ran it
    val (nq, dim) = probed.getOrElse(probeQueries(queries))
    val (tileEff, blockRowsEff) = kernelPackingCaps(dim, tile, blockRows)
    val nTiles = math.max(1L, (nq + tileEff - 1) / tileEff)
    // nSlots sets the grid's second axis — the SUMMA replication
    // volume is corpus×nTiles + queries×nSlots, so more slots buy
    // kernel parallelism with query-side (small side) replication.
    // Default: one slot per core. Overridable for the nSlots
    // sensitivity probe (ScaleBench grid-1024d) and for clusters where the
    // query batch is so wide that queries×nSlots dominates (the §7
    // p^1/2-grid note).
    val nSlots = nSlotsOverride
      .getOrElse(math.max(1, spark.sparkContext.defaultParallelism)).toLong
    // EXACTLY one kernel task per block×tile cell, FORCED by an
    // explicit-N hash repartition of both kernel inputs on the cell
    // key. The explicit N defeats two strandings: (a) the tile table
    // has only nTiles non-empty partitions after groupByKey (the
    // slot fan-out is map-side, so it never re-spreads), and AQE
    // coalesces by shuffled BYTES — a few MB of packed tiles that
    // carry minutes of per-cell compute read as "one partition" to
    // it (REPARTITION_BY_NUM is the one shuffle origin AQE never
    // coalesces); (b) with nCells == #keys, RANDOM key hashing piles
    // 2–3 cells onto one reducer while others sit empty, and the
    // kernel's wall-clock is max-cells-per-task × per-cell time (the
    // r16 probe measured this collision skew as the whole remaining
    // blocked-vs-broadcast constant factor at nTiles=1 — serde and
    // FLOPs were already at parity). So each logical cell gets a
    // SEARCHED key that Spark's own Murmur3-pmod places in its own
    // dedicated partition: perfect 1-cell-per-task placement through
    // the stock Tungsten shuffle.
    // practical ceiling 2^20 (not the 2^24 the key search could
    // cover): the key table is 8 bytes/cell and rides a BROADCAST to
    // every kernel task, and >1M cells means >1M tasks of a kernel
    // whose whole point is minutes-per-cell compute — a grid that
    // size is a mis-parameterization, not a workload (r16 ADVICE)
    require(nTiles * nSlots <= (1L << 20),
      s"blocked kernel grid $nTiles tiles x $nSlots slots exceeds 2^20 cells — " +
        "pass a smaller nSlotsOverride (the SUMMA p^1/2-grid note, SURVEY §7)")
    val nCells = (nTiles * nSlots).toInt
    // cellKeys(c) = a long whose Murmur3(seed 42) pmod nCells == c;
    // coupon-collector search, ~nCells·ln(nCells) cheap hashes
    val cellKeys: Array[Long] = {
      val out = new Array[Long](nCells)
      val seen = new Array[Boolean](nCells)
      var found = 0; var cand = 0L
      val bound = math.max(1L << 20, nCells.toLong * 1000L)
      while (found < nCells && cand < bound) {
        val p = Math.floorMod(
          org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(cand, 42), nCells)
        if (!seen(p)) { seen(p) = true; out(p) = cand; found += 1 }
        cand += 1
      }
      require(found == nCells,
        s"cell-key search did not cover $nCells partitions within $bound candidates")
      out
    }
    // ship the key table as a broadcast, not a closure capture: both
    // flatMaps below reference it, and a captured Array[Long] would
    // ride inside each serialized task binary (8 MB at the 2^20
    // ceiling, once per task) instead of once per executor (r16
    // ADVICE)
    val bcCellKeys = spark.sparkContext.broadcast(cellKeys)
    // Tiles and blocks ship through the shuffle as PACKED PRIMITIVE
    // ARRAYS (ids, end-offsets, flat values) rather than
    // Array[(Long, Array[Double])]: the nested-tuple encoder walks
    // every element through an InternalRow (the r15 probe measured
    // that serde, not the kernel, as most of the blocked path's
    // 3.4× constant factor at nTiles=1 — a 32 MB tile replica ×
    // nSlots is half a GB of element-wise encoding), while primitive
    // arrays take UnsafeArrayData's fromPrimitiveArray memcpy on
    // both serialize and deserialize.
    // (tile, slot) -> packed query tile, replicated across the slots
    val qTiles = qDs
      .groupByKey { case (qid, _) =>
        Math.floorMod(scala.util.hashing.byteswap64(qid), nTiles) }
      .mapGroups { (t, it) =>
        val (ids, ends, flat) = packRows(it.toArray.sortBy(_._1))
        (t, ids, ends, flat)
      }
      .flatMap { case (t, ids, ends, flat) =>
        (0L until nSlots).iterator.map(sl =>
          (bcCellKeys.value((t * nSlots + sl).toInt), ids, ends, flat)) }
      .repartition(nCells, col("_1"))
    // (tile, slot) -> corpus block: ONE pass over the corpus; the
    // slot comes from the task partition id so a partition's blocks
    // spread deterministically without a second hash of the data
    val blocks = asDoubles(vectorRows(emb, "vec_id", "embedding"))
      .mapPartitions { it =>
        val sl = org.apache.spark.TaskContext.getPartitionId().toLong % nSlots
        it.grouped(blockRowsEff).zipWithIndex.map { case (b, i) =>
          val (ids, ends, flat) = packRows(b.toArray)
          ((i.toLong + sl) % nSlots, ids, ends, flat)
        }
      }
      .flatMap { case (sl, ids, ends, flat) =>
        (0L until nTiles).iterator.map(t =>
          (bcCellKeys.value((t * nSlots + sl).toInt), ids, ends, flat)) }
      .repartition(nCells, col("_1"))
    // Both sides carry the SAME HashPartitioning (cell key, nCells) —
    // partition i of qTiles and partition i of blocks hold exactly
    // the same cell keys, so the kernel is a partition ZIP: per
    // partition, deserialize each tile replica once into primitive
    // arrays, then stream the blocks through it. No join, no
    // sort-merge of 32 MB rows, no per-pair tile re-deserialization.
    val partials = qTiles.rdd.zipPartitions(blocks.rdd) { (tileIt, blockIt) =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      def assertAligned(cell: Long, side: String): Unit = {
        // Spark routes a bigint repartition column through
        // Murmur3Hash(seed 42) pmod numPartitions; recompute it here
        // so a co-partitioning drift (a future Spark changing the
        // hash, an AQE rewrite of the exchange) fails loudly instead
        // of silently dropping candidates.
        val expect = Math.floorMod(
          org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(cell, 42), nCells)
        require(expect == pid,
          s"blocked kernel $side cell $cell landed in partition $pid, " +
            s"expected $expect of $nCells — co-partitioning broke")
      }
      // one kernel state per cell in this partition (≈1 by
      // construction: nCells ≥ nTiles×nSlots hash-spread)
      val cells = new scala.collection.mutable.LongMap[KernelState]()
      tileIt.foreach { case (cell, qids, ends, flat) =>
        assertAligned(cell, "tile")
        cells.update(cell, new KernelState(
          new QueryBlock(qids, unpackVecs(ends, flat)), k, metric, excludeSelf))
      }
      blockIt.foreach { case (cell, vids, ends, flat) =>
        assertAligned(cell, "block")
        // a cell with no tile state is an EMPTY tile bucket (blocks
        // replicate to every tile index; a small batch can leave some
        // hash buckets without queries) — nothing to score
        cells.get(cell).foreach { st =>
          var r = 0; var start = 0
          while (r < vids.length) {
            st.offer(vids(r), flat, start, ends(r) - start)
            start = ends(r); r += 1
          }
        }
      }
      cells.valuesIterator.flatMap(_.rows)
    }
    partials
      .toDF("qid", "score", "vec_id")
      .groupBy("qid")
      .agg(graft.ops.TopK.topk(k)(col("score"), col("vec_id")).as("top"))
  }

  /** nPlanes deterministic random hyperplanes: (p, w: array<double>),
    * w[d] = (md5Long("pl_p_d") mod 2001 − 1000)/1000 ∈ [−1, 1].
    */
  def planes(s: SparkSession, nPlanes: Int, dim: Int): DataFrame =
    s.range(0, nPlanes).select(col("id").as("p"),
      transform(sequence(lit(0), lit(dim - 1)),
        d => (md5Long(concat_ws("_", lit("pl"), col("id"), d)) % 2001 - lit(1000)) / 1000.0)
        .as("w"))

  /** LSH signature per vector: bit p of `bucket` = sign of the
    * projection onto plane p. One broadcast-join + one groupBy.
    */
  def signatures(emb: DataFrame, planesDf: DataFrame): DataFrame = {
    val proj = aggregate(
      zip_with(col("embedding"), col("w"), (x, y) => x.cast("double") * y),
      lit(0.0), (a, v) => a + v)
    emb.crossJoin(broadcast(planesDf))
      .select(col("vec_id"), col("p"), proj.as("proj"))
      .groupBy("vec_id")
      .agg(sum(when(col("proj") > 0, pow(lit(2.0), col("p"))).otherwise(0.0))
        .cast("long").as("bucket"))
  }

  /** The same md5-derived plane weights as [[planes]], computed on the
    * driver (they are constants — nPlanes×dim doubles, independent of
    * the data), so the signature can be a map-side column.
    */
  def planeWeights(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    def md5Long60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
    }
    Array.tabulate(nPlanes)(p => Array.tabulate(dim)(d =>
      (md5Long60(s"pl_${p}_$d") % 2001 - 1000) / 1000.0))
  }

  /** Map-side formulation of [[signatures]]: the bucket is a pure
    * projection (one codegen'd dot product per plane against a literal
    * weight array) — zero shuffles, zero joins, and no per-vector
    * signature table to equi-join back. Identical values
    * (spec-asserted): both accumulate the projection in double,
    * left-to-right.
    */
  def bucketCol(emb: Column, nPlanes: Int, dim: Int): Column =
    planeWeights(nPlanes, dim).zipWithIndex.map { case (w, p) =>
      when(graft.functions.VectorExpressions.dot(emb, typedLit(w.toSeq)) > 0,
        lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** emb plus its `bucket` column, computed map-side. */
  def withBucket(emb: DataFrame, nPlanes: Int, dim: Int): DataFrame =
    emb.withColumn("bucket", bucketCol(col("embedding"), nPlanes, dim))

  /** Deterministic Lloyd's k-means over the embedding column — the
    * real coarse quantizer behind IVF (ann_ivf_probe uses fixed seed
    * vectors; this refines them). Classic Spark pattern: broadcast
    * centroids, one groupBy per iteration, k×dim doubles of driver
    * state (like MLlib's implementation).
    * Returns (cid, cv: array<double>).
    */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val s = emb.sparkSession
    var cents = emb.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .zipWithIndex
      .map { case (r, i) =>
        val arr = r.getSeq[Any](1).map {
          case f: java.lang.Float  => f.toDouble
          case d: java.lang.Double => d.doubleValue
        }.toArray
        (i.toLong, arr)
      }
    val dim = cents.head._2.length
    (0 until iters).foreach { _ =>
      import s.implicits._
      val cdf = broadcast(cents.toSeq.toDF("cid", "cv"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("vec_id").orderBy(col("d").asc, col("cid"))
      val sums = (0 until dim).map(i =>
        sum(element_at(col("embedding"), i + 1).cast("double")).as(s"s$i"))
      val agg = emb.crossJoin(cdf)
        .withColumn("d", graft.functions.VectorExpressions.sqNorm(col("embedding")) +
          graft.functions.VectorExpressions.sqNorm(col("cv")) -
          graft.functions.VectorExpressions.dot(col("embedding"), col("cv")) * 2)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      cents = agg.map { r =>
        val n = r.getAs[Long]("n").toDouble
        val cid = r.getAs[Long]("cid")
        (cid, (0 until dim).map(i => r.getAs[Double](s"s$i") / n).toArray)
      }.sortBy(_._1)
    }
    import s.implicits._
    cents.toSeq.toDF("cid", "cv")
  }

  /** Assign each vector to its nearest centroid: (vec_id, cid).
    * Broadcast centroids + windowed argmin — one narrow pass.
    */
  def assignCells(emb: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("d").asc, col("cid"))
    emb.crossJoin(broadcast(cents))
      .withColumn("d",
        graft.functions.VectorExpressions.sqNorm(col("embedding")) +
          graft.functions.VectorExpressions.sqNorm(col("cv")) -
          graft.functions.VectorExpressions.dot(col("embedding"), col("cv")) * 2)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"))
  }

  /** The query's `nprobe` nearest cells: (cid). */
  def probeCells(cents: DataFrame, qdf: DataFrame, nprobe: Int): DataFrame =
    cents.crossJoin(broadcast(qdf))
      .withColumn("d",
        graft.functions.VectorExpressions.sqNorm(col("q")) +
          graft.functions.VectorExpressions.sqNorm(col("cv")) -
          graft.functions.VectorExpressions.dot(col("q"), col("cv")) * 2)
      .orderBy(col("d").asc, col("cid")).limit(nprobe)
      .select(col("cid"))

  /** Multiprobe LSH top-k: candidates share a signature bucket with
    * the query up to hamming distance `probeDist`; exact cosine
    * rescoring of candidates only. Null vectors are neither queries
    * nor candidates.
    */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], nPlanes: Int, dim: Int,
              probeDist: Int, k: Int): DataFrame = {
    // buckets are a map-side projection (bucketCol) and ranking is the
    // map-side partial TopK aggregate, so the only shuffles are the
    // tiny query broadcast and k rows per partition per query.
    val withSig = withBucket(emb.filter(col("embedding").isNotNull), nPlanes, dim)
    val q = withSig.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
              col("bucket").as("qb"))
    val agg = graft.ops.TopK.topk(k)
    withSig.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid") &&
              expr("bit_count(bucket ^ qb)") <= probeDist)
      .select(col("qid"), score(col("embedding"), col("qv")).as("score"), col("vec_id"))
      .groupBy("qid")
      .agg(agg(col("score"), col("vec_id")).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("vec_id"), col("col.score").as("score"),
              (col("pos") + 1).cast("long").as("rnk"))
      .orderBy("qid", "rnk")
  }

  /** Leave-one-out 1-NN for EVERY vector via LSH candidate pruning:
    * multiprobe (hamming ≤ 1) bucket equi-join generates candidates,
    * exact cosine rescoring picks the nearest, and vectors whose probe
    * neighborhood is empty fall back to an exact broadcast pass — so
    * every vector gets an answer. Compute is O(Σ bucket-pair sizes),
    * not n²: the all-queries variant of the sampled
    * [[graft.SparkEntry emb_knn_accuracy]] shape. Approximate by
    * design (the true NN can hash > 1 bit away); agreement with the
    * exact answer is spec-measured on the test corpus.
    * Returns (va, la, vb, lb, ns) — query, its label, nearest
    * neighbour, its label, 1 − cosine.
    */
  def knn1Lsh(emb: DataFrame, nPlanes: Int, dim: Int): DataFrame = {
    val withSig = withBucket(emb, nPlanes, dim)
    val flips = lit(0L) +: (0 until nPlanes).map(p => lit(1L << p))
    val probes = withSig.select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("label").as("la"), col("bucket"),
        explode(array(flips: _*)).as("flip"))
      .select(col("va"), col("ea"), col("la"),
              col("bucket").bitwiseXOR(col("flip")).as("pb"))
    val targets = withSig.select(col("vec_id").as("vb"),
      col("embedding").as("eb"), col("label").as("lb"), col("bucket").as("pb"))
    val nn = probes.join(targets, Seq("pb"))
      .filter(col("va") =!= col("vb"))
      .select(col("va"), col("la"),
        (lit(1.0) - score(col("ea"), col("eb"))).as("ns"), col("vb"), col("lb"))
      .groupBy("va", "la")
      .agg(min(struct(col("ns"), col("vb"), col("lb"))).as("m"))
    // exact fallback for vectors alone in their whole probe set
    val missed = emb.join(nn.select(col("va").as("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("va"), col("embedding").as("ea"),
              col("label").as("la"))
    val corpus = emb.select(col("vec_id").as("vb"),
      col("embedding").as("eb"), col("label").as("lb"))
    val rescue = corpus.crossJoin(broadcast(missed))
      .filter(col("va") =!= col("vb"))
      .select(col("va"), col("la"),
        (lit(1.0) - score(col("ea"), col("eb"))).as("ns"), col("vb"), col("lb"))
      .groupBy("va", "la")
      .agg(min(struct(col("ns"), col("vb"), col("lb"))).as("m"))
    nn.unionByName(rescue)
      .select(col("va"), col("la"), col("m.vb").as("vb"),
              col("m.lb").as("lb"), col("m.ns").as("ns"))
      .orderBy("va")
  }

  /** IVF probe, map-side: seed centroids (vec_id < nCents) are folded
    * into ONE broadcast row holding the centroid array; nearest-cell
    * assignment is then a per-row array_sort over that array — no
    * per-vector window shuffle, no row_number over the full collection.
    * The sort key (1−score, cid) reproduces `ORDER BY score DESC, cid`
    * exactly (score ∈ [−1,1] rounded, so 1−score is monotone and never
    * −0.0). Final top-k is TakeOrderedAndProject.
    */
  def ivfProbe(emb: DataFrame, nCents: Int, qid: Long, nprobe: Int,
               k: Int): DataFrame = {
    def nearestKey(v: Column) = element_at(array_sort(transform(col("cents"),
      e => struct((lit(1.0) - score(v, e.getField("cv"))).as("ns"),
                  e.getField("cid").as("cid")))), 1)
    val centsRow = emb.filter(col("vec_id") < nCents)
      .agg(sort_array(collect_list(
        struct(col("vec_id").as("cid"), col("embedding").as("cv")))).as("cents"))
    // the query's nprobe nearest cells, as one broadcast row
    val q = emb.filter(col("vec_id") === qid)
      .select(col("embedding").as("qv"))
      .crossJoin(broadcast(centsRow))
      .select(col("qv"), transform(
        slice(array_sort(transform(col("cents"),
          e => struct((lit(1.0) - score(col("qv"), e.getField("cv"))).as("ns"),
                      e.getField("cid").as("cid")))), 1, nprobe),
        x => x.getField("cid")).as("pcids"))
    val w = Window.orderBy(col("score").desc, col("vec_id"))
    emb.filter(col("vec_id") =!= qid)
      .crossJoin(broadcast(centsRow))
      .select(col("vec_id"), col("embedding"),
              nearestKey(col("embedding")).getField("cid").as("cid"))
      .crossJoin(broadcast(q))
      .filter(array_contains(col("pcids"), col("cid")))
      .select(col("vec_id"), col("cid"), score(col("embedding"), col("qv")).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(k)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .orderBy("rnk")
  }
}
