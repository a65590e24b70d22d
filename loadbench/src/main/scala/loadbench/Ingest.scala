package loadbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, lit}

import graft.store.{CollectionStorage, VectorStore}

/** store_ingest: a mutation stream on a persisted collection.
  *
  * Every mutation is persisted the way the per-batch body of
  * StreamOps.startCollectionIngest persists a micro-batch: load the
  * collection, left-semi it on the touched tenants, merge, then
  * CollectionStorage.overwriteUserPartitions. Each mutation is followed
  * by a read-after-write on the touched tenant; compaction closes every
  * pass of eight mutations. The write path dominates; the reads pay for
  * what the writes leave behind.
  */
final class Ingest(spark: SparkSession, seed: Long, work: String,
                   tenants: Int = 16, perTenant: Int = 512) extends Workload {
  import spark.implicits._

  val name = "store_ingest"
  val passSeconds = 8.0
  val classes: Seq[String] =
    Schedule.mutations ++ Seq("read_retrieve", "read_scroll", "compact")
  val model = new Model
  var path: String = _
  private var version = 0L
  private val lastTouched = mutable.Map.empty[Long, Seq[Long]]

  // exact byte accounting over the timed passes
  private var counting = false
  var bytesWritten = 0L
  var userBytes = 0L
  val spaceAmp = mutable.ArrayBuffer.empty[Double]
  val filesPerTenant = mutable.ArrayBuffer.empty[Double]

  def setup(rep: Int): Unit = {
    val next = s"$work/ingest_coll_$rep"
    val sizes = Seq.fill(tenants)(perTenant)
    CollectionStorage.write(Data.collection(spark, seed, sizes), next)
    CollectionStorage.load(spark, next).count()
    if (path != null) Files.delete(path)
    path = next
    if (model.size == 0)
      sizes.zipWithIndex.foreach { case (n, t) => Data.tenantPoints(seed, t, n).foreach(model.put) }
  }

  def schedule(pass: Int): Seq[Spec] = Schedule.ingest(seed, pass, tenants)

  override def beforePass(pass: Int, timed: Boolean): Unit = counting = timed

  private def parquet(files: Map[String, Long]) = files.filter(_._1.endsWith(".parquet"))

  /** Accounts one persisted call: new data files, and the state left. */
  private def persisted(before: Map[String, Long], submitted: Long): Unit = {
    val after = parquet(Files.list(path))
    if (counting) {
      bytesWritten += after.collect { case (f, n) if !before.contains(f) => n }.sum
      userBytes += submitted
      spaceAmp += after.values.sum.toDouble / model.liveBytes
      filesPerTenant += after.size.toDouble / tenants
    }
  }

  /** The persisted mutation: load, left-semi on the tenant, `op`, write. */
  private def mutation(s: Spec, submitted: Long, op: DataFrame => DataFrame,
                       apply: () => Unit, touched: Seq[Long]): Call = {
    val u = s.tenant.toLong
    val before = parquet(Files.list(path))
    Call(s, "store", "write",
      () => op(CollectionStorage.load(spark, path)
        .join(broadcast(Seq(u).toDF("user_id")), Seq("user_id"), "left_semi")),
      df => CollectionStorage.overwriteUserPartitions(df, path),
      _ => { apply(); lastTouched(u) = touched; persisted(before, submitted); None },
      execSpan = "store.write", plan = false)
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(Model.rowOf)

  def call(s: Spec): Call = {
    val u = s.tenant.toLong
    val r = Schedule.rng(s.salt)
    val t = model.tenant(u)
    val pts = t.values.toIndexedSeq
    def pick(): Point = pts(r.nextInt(pts.size))
    s.cls match {
      case "upsert" =>
        // half rewrite keys of the tenant's most recent documents, half
        // add sixteen new documents
        version += 1
        val docs = pts.map(_.doc_id).distinct.sorted
        val recent = pts.filter(p => docs.takeRight(32).contains(p.doc_id))
        val rewrites = Schedule.shuffle(recent, r).take(128)
          .map(p => Data.point(seed, u, p.doc_id, p.chunk_id, version))
        val fresh = (1 to 16).flatMap(d => (0 until Data.ChunksPerDoc)
          .map(c => Data.point(seed, u, docs.last + d, c, version)))
        val batch = rewrites ++ fresh
        val submitted = batch.map(Data.userBytes).sum
        val touched = rewrites.take(4).map(_.vector_id) ++ fresh.take(4).map(_.vector_id)
        mutation(s, submitted, existing => VectorStore.upsert(existing, batch.toDF()),
          () => model.upsert(batch), touched)
      case "update_vector" =>
        version += 1
        val p = pick()
        val v = Data.vector(seed, p.vector_id, version)
        mutation(s, Data.userBytes(p),
          existing => VectorStore.updateVector(existing, u, p.doc_id, p.chunk_id, lit(v)),
          () => model.updateVector(u, p.doc_id, p.chunk_id, v),
          p.vector_id +: Seq.fill(3)(pick().vector_id))
      case "delete_doc" =>
        val doc = pick().doc_id
        val gone = pts.filter(_.doc_id == doc).map(_.vector_id)
        mutation(s, 16, existing => VectorStore.deleteDoc(existing, u, doc),
          () => model.deleteDoc(u, doc), gone)
      case "delete_by_ids" =>
        val ids = Seq.fill(8)(pick().vector_id).distinct
        mutation(s, 8L * ids.size + 8,
          existing => VectorStore.deleteByIds(existing, u, ids),
          () => model.deleteByIds(u, ids), ids)
      case "read_retrieve" =>
        val ids = lastTouched.getOrElse(u, Seq(pick().vector_id))
        Call(s, "store", "read",
          () => VectorStore.retrieve(CollectionStorage.load(spark, path), u, ids), rows,
          got => Model.diff(model.retrieve(u, ids), got.asInstanceOf[Seq[Seq[Any]]]))
      case "read_scroll" =>
        // the page that held the deleted points
        val cursor = lastTouched.get(u).map(_.min - 1).getOrElse(pick().vector_id)
        Call(s, "store", "read",
          () => VectorStore.scrollAfter(CollectionStorage.load(spark, path), u, cursor, 32), rows,
          got => Model.diff(model.scrollAfter(u, cursor, 32), got.asInstanceOf[Seq[Seq[Any]]]))
      case "compact" =>
        val before = parquet(Files.list(path))
        Call(s, "store", "compact", null,
          _ => CollectionStorage.compact(spark, path),
          _ => { persisted(before, 0); None },
          execSpan = "store.compact", plan = false)
    }
  }

  /** The whole persisted collection must equal the model. */
  override def finish(): Seq[String] = {
    val got = CollectionStorage.load(spark, path).orderBy("user_id", "vector_id")
      .collect().toSeq.map(Model.rowOf)
    val want = model.all.map(p => Seq(p.user_id, p.vector_id, p.doc_id, p.chunk_id,
      p.title, p.embedding.toVector))
    Model.diff(want, got).map(d => s"final collection differs from the model: $d").toSeq
  }

  override def layerMetrics: Map[String, Double] = Map(
    "store.bytes_written_mb" -> bytesWritten / 1048576.0,
    "store.write_amp" -> (if (userBytes == 0) 0.0 else bytesWritten.toDouble / userBytes),
    "store.space_amp" -> (if (spaceAmp.isEmpty) 0.0 else Stats.median(spaceAmp.toSeq)),
    "store.files_per_tenant" ->
      (if (filesPerTenant.isEmpty) 0.0 else Stats.median(filesPerTenant.toSeq)))
}
