package loadbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.store.{CollectionStorage, VectorStore}

/** store_serve: the reference's read API on a static collection.
  * 32 tenants with Zipf(1.1) sizes, 1024-d points, written once per
  * set-up with CollectionStorage.write. Point calls are dominated by
  * planning and scheduling; the two batch calls by scan decode, the
  * cosine/TopK kernels and executor parallelism.
  */
final class Serve(spark: SparkSession, seed: Long, work: String,
                  total: Int = 4096, tenants: Int = 32) extends Workload {
  import spark.implicits._

  val name = "store_serve"
  val passSeconds = 3.0
  val sizes: Seq[Int] = Schedule.zipfSizes(total, tenants, 1.1, 16)
  val classes: Seq[String] = (Schedule.servePoint ++ Schedule.serveBatch).map(_._1)
  val model = new Model
  private var coll: DataFrame = _
  var collectionPath: String = _

  def setup(rep: Int): Unit = {
    val path = s"$work/serve_coll_$rep"
    CollectionStorage.write(Data.collection(spark, seed, sizes), path)
    coll = CollectionStorage.load(spark, path)
    if (collectionPath != null) Files.delete(collectionPath)
    collectionPath = path
    if (model.size == 0)
      sizes.zipWithIndex.foreach { case (n, t) => Data.tenantPoints(seed, t, n).foreach(model.put) }
  }

  def schedule(pass: Int): Seq[Spec] = Schedule.serve(seed, pass, tenants)

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(Model.rowOf)

  private def checking(want: => Seq[Seq[Any]]): Any => Option[String] =
    got => Model.diff(want, got.asInstanceOf[Seq[Seq[Any]]])

  private def queryFrame(q: Array[Float]): DataFrame = Seq(Tuple1(q)).toDF("q")

  def call(s: Spec): Call = {
    val u = s.tenant.toLong
    val r = Schedule.rng(s.salt)
    val pts = model.tenant(u).values.toIndexedSeq
    def pick(): Point = pts(r.nextInt(pts.size))
    def near(): Array[Float] = Data.nearQuery(pick().embedding, r.nextLong())
    val n = pts.size.toLong
    def point(build: () => DataFrame, want: => Seq[Seq[Any]], cos: Long) =
      Call(s, "store", "point", build, rows, checking(want), cosines = cos)
    s.cls match {
      case "search" =>
        val q = near()
        point(() => VectorStore.search(coll, u, queryFrame(q), 10),
          model.search(u, q.map(_.toDouble), 10), n)
      case "search_threshold" =>
        val q = near()
        point(() => VectorStore.search(coll, u, queryFrame(q), 10, scoreThreshold = 0.04),
          model.search(u, q.map(_.toDouble), 10, threshold = 0.04), n)
      case "search_docs" =>
        val q = near()
        val docs = Seq.fill(3)(pick().doc_id).distinct
        point(() => VectorStore.search(coll, u, queryFrame(q), 10, docIds = docs),
          model.search(u, q.map(_.toDouble), 10, docIds = docs),
          pts.count(p => docs.contains(p.doc_id)).toLong)
      case "scroll_after" =>
        val cursor = pick().vector_id
        point(() => VectorStore.scrollAfter(coll, u, cursor, 20), model.scrollAfter(u, cursor, 20), 0)
      case "retrieve" =>
        val ids = Seq.fill(4)(pick().vector_id) :+ Data.vectorId(u, 999999, 0)
        point(() => VectorStore.retrieve(coll, u, ids), model.retrieve(u, ids), 0)
      case "recommend" =>
        val ex = Iterator.continually(pick().vector_id).distinct.take(3).toSeq
        val (pos, neg) = (ex.take(2), ex.drop(2))
        point(() => VectorStore.recommend(coll, u, pos, neg, 10),
          model.recommend(u, pos, neg, 10), n - ex.size)
      case "search_batch" =>
        val qs = (0 until 64).map(i => (i.toLong, near()))
        Call(s, "store", "batch",
          () => VectorStore.searchBatch(coll, u, qs.toDF("qid", "q"), 10), rows,
          checking(model.searchBatch(u, qs.map { case (i, q) => (i, q.map(_.toDouble)) }, 10)),
          cosines = 64 * n)
      case "knn_graph" =>
        val qids = Schedule.shuffle(pts.map(_.vector_id), r).take(256).sorted
        val emb = coll.filter(col("user_id") === u)
          .select(col("vector_id").as("vec_id"), col("embedding"))
        Call(s, "ann", "batch",
          () => graft.ann.Ann.bruteForceTopKDense(emb,
            emb.filter(col("vec_id").isin(qids: _*))
              .select(col("vec_id").as("qid"), col("embedding").as("qv")), 10),
          rows, checking(model.knn(u, qids, 10)), cosines = qids.size * (n - 1))
    }
  }

  override def layerMetrics: Map[String, Double] = {
    val files = Files.list(collectionPath)
    Map(
      "store.files_per_tenant" -> files.count(_._1.endsWith(".parquet")).toDouble / tenants,
      "store.space_amp" -> files.filter(_._1.endsWith(".parquet")).values.sum.toDouble /
        model.liveBytes)
  }
}

/** Local-filesystem helpers for the collection directories. */
object Files {
  /** Regular files under `dir`: relative path → size. */
  def list(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
          .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
      } finally st.close()
    }
  }

  def delete(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val st = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.toSeq.reverse.foreach(p => java.nio.file.Files.delete(p))
      } finally st.close()
    }
  }
}
