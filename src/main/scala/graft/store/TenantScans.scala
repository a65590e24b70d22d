package graft.store

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FileScanRDD, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Prepared tenant scans: the pruned, projected scan of one tenant of a
  * collection frame, planned, code-generated and set up once, then read
  * by one job per point read ([[VectorStore]]). A read that returns no
  * vectors reads a scan without them, so it never decodes one. A call's values (query
  * vector, ids, cursor, limit) travel in that job's task closure, so a
  * repeat read analyzes, plans and generates nothing.
  *
  * Scans are held per (session, canonicalized analyzed plan of the
  * collection frame, tenant, projected columns, SQL conf). A scan planned under one conf
  * (say codegen factory mode or the vectorized reader switched) is
  * never read under another. Only deterministic plans whose leaves are
  * file relations or local rows are held; any other frame is planned
  * for the one call.
  *
  * Freshness is checked on every call, not assumed from the key: a
  * reload of a path canonicalizes equal to the load before a write,
  * because a file index equals another by its root paths. So before
  * each read the files a held scan reads (path, length, mtime) are
  * compared with what the calling frame's own file index lists for the
  * same partition filters, in memory; on a mismatch the scan is planned
  * again.
  */
private[graft] object TenantScans extends AdaptiveSparkPlanHelper {

  /** Most scans held at once; a new one past it drops the least
    * recently used. 32 held 1024-d tenant scans retained 7.3 MB of
    * driver heap in a probe.
    */
  val Capacity = 32

  /** A file relation leaf of the collection frame (by position) and
    * the non-empty files its scans read.
    */
  private final case class Input(leaf: Int, partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression], files: Set[(String, Long, Long)])

  /** What one read's job over a scan ran: the scan's executed plan, its
    * task count and the most rows one task sent the driver.
    */
  final case class ScanRun(plan: SparkPlan, tasks: Int, maxRows: Int)

  /** One planned tenant scan: `rows` is its `toRdd`, `schema` the
    * tenant frame's schema and `plan` its executed plan.
    */
  final class Handle private[TenantScans] (val rows: RDD[InternalRow], val schema: StructType,
      val plan: SparkPlan, inputs: Seq[Input]) {

    def index(name: String): Int = schema.fieldIndex(name)

    /** Whether each file scan still reads what `analyzed`, a plan
      * canonically equal to the one this scan was planned from, lists.
      */
    private[TenantScans] def readsFilesOf(analyzed: LogicalPlan): Boolean = {
      val leaves = analyzed.collectLeaves()
      inputs.forall { in =>
        leaves(in.leaf) match {
          case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
            listed(fs, in.partitionFilters, in.dataFilters) == in.files
          case _ => false
        }
      }
    }

    /** ONE job over the scan: `task` turns a split's rows into what it
      * sends the driver.
      */
    def run[T: ClassTag](task: Iterator[InternalRow] => Array[T]): Array[Array[T]] = {
      val parts = rows.mapPartitions(it => Iterator.single(task(it))).collect()
      Option(runs.get).foreach(_ += ScanRun(plan, parts.length,
        parts.iterator.map(_.length).maxOption.getOrElse(0)))
      parts
    }
  }

  private final case class Key(session: SparkSession, plan: LogicalPlan, tenant: Any,
      cols: Seq[String], conf: Map[String, String])

  private val held = new java.util.LinkedHashMap[Key, Handle](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Handle]): Boolean =
      this.size() > Capacity
  }

  /** The scan of tenant `userId` of `coll` (its `user_id` rows)
    * projected to `cols`, planned when no fresh scan is held.
    */
  def of(coll: DataFrame, userId: Any, cols: Seq[String]): Handle = {
    def tenant = coll.filter(col("user_id") === userId).select(cols.map(col): _*)
    val analyzed = coll.queryExecution.analyzed
    if (!holdable(analyzed)) return build(tenant, analyzed)._1
    val spark = coll.sparkSession
    val key = Key(spark, analyzed.canonicalized, userId, cols, spark.sessionState.conf.getAllConfs)
    Option(held.synchronized(held.get(key))).filter(_.readsFilesOf(analyzed)).getOrElse {
      val (h, keep) = build(tenant, analyzed)
      held.synchronized(if (keep) held.put(key, h) else held.remove(key))
      h
    }
  }

  /** Drops every held scan. */
  def clear(): Unit = held.synchronized(held.clear())

  /** Scans held now. */
  def size: Int = held.synchronized(held.size)

  private val runs = new ThreadLocal[ArrayBuffer[ScanRun]]

  /** `body`'s result and the [[ScanRun]]s it made on this thread — how
    * the plan guards see the scan a point read ran, which the returned
    * local frame does not carry.
    */
  def recording[T](body: => T): (T, Seq[ScanRun]) = {
    val outer = runs.get
    val made = ArrayBuffer.empty[ScanRun]
    runs.set(made)
    try (body, made.toSeq) finally runs.set(outer)
  }

  private def holdable(analyzed: LogicalPlan): Boolean =
    analyzed.deterministic &&
      !analyzed.exists(_.expressions.exists(SubqueryExpression.hasSubquery)) &&
      analyzed.collectLeaves().forall {
        case l: LogicalRelation => l.relation.isInstanceOf[HadoopFsRelation] && !l.isStreaming
        case _: LocalRelation   => true
        case _                  => false
      }

  /** `tenant` planned, and whether its scan can be held: every file
    * scan in its plan reads a leaf of `collPlan` through a FileScanRDD.
    */
  private def build(tenant: DataFrame, collPlan: LogicalPlan): (Handle, Boolean) = {
    val qe = tenant.queryExecution
    val rows = qe.toRdd
    val plan = qe.executedPlan
    val leaves = collPlan.collectLeaves().zipWithIndex
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    val inputs = scans.map { s =>
      val of = leaves.collect { case (l: LogicalRelation, i) if l.relation eq s.relation => i }
      s.inputRDD match {
        case f: FileScanRDD if of.nonEmpty =>
          val files = f.filePartitions.flatMap(_.files)
            .map(pf => (pf.filePath.urlEncoded, pf.fileSize, pf.modificationTime)).toSet
          Some(of.map(Input(_, s.partitionFilters, s.dataFilters, files)))
        case _ => None
      }
    }
    (new Handle(rows, tenant.schema, plan, inputs.flatten.flatten), inputs.forall(_.isDefined))
  }

  /** The non-empty files `fs` lists now under the given filters, from
    * its in-memory listing.
    */
  private def listed(fs: HadoopFsRelation, partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Set[(String, Long, Long)] =
    fs.location.listFiles(partitionFilters, dataFilters).iterator
      .flatMap(_.files).map(_.fileStatus)
      .filter(_.getLen > 0)
      .map(st => (SparkPath.fromFileStatus(st).urlEncoded, st.getLen, st.getModificationTime))
      .toSet
}
