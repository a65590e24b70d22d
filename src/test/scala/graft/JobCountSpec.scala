package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.store.VectorStore

/** Spark jobs and shuffle bytes of the work `body` starts on the
  * shared session (map-stage jobs of adaptive plans included).
  */
trait JobStats { self: SparkSpec =>

  final case class Stats(jobs: Int, shuffleWriteBytes: Long)

  def statsOf(body: => Any): Stats = {
    val sc = spark.sparkContext
    val group = s"job-count-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new AtomicLong
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) { jobs.incrementAndGet(); e.stageIds.foreach(stages.add(_)) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    Stats(jobs.get, written.get)
  }

  def jobsOf(body: => Any): Int = statsOf(body).jobs
}

/** Spark jobs per store read. Each job costs scheduling time that a
  * point read cannot hide, so the job counts of the read paths are
  * pinned: search, scrollAfter and retrieve are one job over the
  * tenant's prepared scan, recommend one fetch plus one search,
  * searchBatch one kernel scan job, and the dense kernel one scan job
  * plus one fetch job for a query frame that is not local. A repeat
  * read on the same collection frame and tenant plans nothing: it
  * starts no SQL execution and generates no code.
  */
class JobCountSpec extends SparkSpec with JobStats {

  private def pts = VectorStore.points(spark, sfDir)
  private def emb = Tables.embeddings(spark, sfDir)

  private def localVec(id: Long): Array[Float] =
    emb.filter(col("vec_id") === id).head().getSeq[Float](1).toArray

  test("store reads run in few jobs") {
    val s = spark
    import s.implicits._
    val (coll, q42, q7) = (pts, localVec(42), localVec(7))
    val search = jobsOf(VectorStore.search(coll, 2, Seq(Tuple1(q42)).toDF("q"), 10).collect())
    assert(search == 1, s"search: $search jobs")
    val rec = jobsOf(VectorStore.recommend(coll, 2, Seq(10L, 18L), Seq(34L), 10).collect())
    assert(rec <= 2, s"recommend: $rec jobs")
    val qs = Seq((1L, q42), (2L, q7)).toDF("qid", "q")
    val batch = jobsOf(VectorStore.searchBatch(coll, 2, qs, 5).collect())
    assert(batch == 1, s"searchBatch: $batch jobs")
    val got = jobsOf(VectorStore.retrieve(coll, 2, Seq(42L, 10L, 999999L)).collect())
    assert(got == 1, s"retrieve: $got jobs")
    val page = jobsOf(VectorStore.scrollAfter(coll, 2, 10L, 5).collect())
    assert(page == 1, s"scrollAfter: $page jobs")
    val e = emb
    val knn = jobsOf(Ann.bruteForceTopKDense(e,
      e.filter(col("vec_id") < 40).select(col("vec_id").as("qid"), col("embedding").as("qv")),
      5).collect())
    assert(knn <= 2, s"bruteForceTopKDense: $knn jobs")
  }

  /** SQL executions started and generated-code compiles while `body` runs. */
  private def planningOf(body: => Any): (Int, Long) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          started.incrementAndGet()
        case _ =>
      }
    }
    val compiled = org.apache.spark.metrics.source.CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    val before = compiled.getCount
    try body
    finally {
      ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    (started.get, compiled.getCount - before)
  }

  test("a repeat read on the same collection and tenant plans nothing") {
    val s = spark
    import s.implicits._
    val dir = SparkSpec.tempDir("graft-prepared").toString + "/coll"
    graft.store.CollectionStorage.write(pts, dir)
    val coll = graft.store.CollectionStorage.load(spark, dir)
    val q = Seq(Tuple1(localVec(42))).toDF("q")
    val qs = Seq((1L, localVec(42)), (2L, localVec(7))).toDF("qid", "q")
    // (name, read, the jobs it runs inside the call)
    val reads: Seq[(String, () => Any, Int)] = Seq(
      ("search", () => VectorStore.search(coll, 2, q, 10), 1),
      ("search docIds", () => VectorStore.search(coll, 2, q, 10, docIds = Seq(2L, 10L)), 1),
      ("scrollAfter", () => VectorStore.scrollAfter(coll, 2, 10L, 5), 1),
      ("scrollDoc", () => VectorStore.scrollDoc(coll, 2, 2L, 5), 1),
      ("retrieve", () => VectorStore.retrieve(coll, 2, Seq(42L, 10L)), 1),
      ("recommend", () => VectorStore.recommend(coll, 2, Seq(10L, 18L), Seq(34L), 10), 2),
      ("searchBatch", () => VectorStore.searchBatch(coll, 2, qs, 5), 1))
    /** The scan plans a read ran over. */
    def scansOf(read: () => Any) = {
      val ((_, kernel), point) =
        graft.store.TenantScans.recording(Ann.recordingKernelRuns(read()))
      point.map(_.plan) ++ kernel.map(_.corpusPlan)
    }
    // the counters see what they count: collecting a frame starts an
    // execution, and a plan with a literal never inlined before compiles
    assert(planningOf(VectorStore.search(coll, 2, q, 10).collect())._1 >= 1)
    assert(planningOf(spark.range(1).selectExpr(s"id + ${System.nanoTime()}L").collect())._2 >= 1)
    reads.foreach { case (name, read, jobs) =>
      val first = scansOf(read)
      var planning = (0, 0L)
      var again = Seq.empty[org.apache.spark.sql.execution.SparkPlan]
      val ran = jobsOf { planning = planningOf { again = scansOf(read) } }
      assert(ran == jobs, s"$name: $ran jobs in the call")
      assert(planning._1 == 0, s"$name: ${planning._1} SQL executions on a repeat read")
      assert(planning._2 == 0L, s"$name: ${planning._2} code compiles on a repeat read")
      assert(first.nonEmpty && again.size == first.size &&
        again.zip(first).forall { case (a, b) => a eq b }, s"$name read a scan planned again")
    }
    // the scrolls return no vectors, so they hold a scan of their own
    // that reads none; retrieve's scan reads them
    def scanOf(name: String) = scansOf(reads.find(_._1 == name).get._2).head
    def readsVectors(p: org.apache.spark.sql.execution.SparkPlan) =
      p.output.exists(_.name == "embedding")
    assert(!(scanOf("scrollAfter") eq scanOf("retrieve")))
    assert(scanOf("scrollAfter") eq scanOf("scrollDoc"))
    assert(!readsVectors(scanOf("scrollAfter")) && readsVectors(scanOf("retrieve")))
  }

  test("the dense kernel shuffles nothing on a corpus with at least as many splits as cores") {
    val dir = SparkSpec.tempDir("graft-wide").toString + "/emb"
    val cores = spark.sparkContext.defaultParallelism
    emb.repartition(2 * cores).write.parquet(dir)
    val wide = spark.read.parquet(dir)
    assert(wide.queryExecution.toRdd.getNumPartitions >= cores)
    val q = emb.filter(col("vec_id") < 40).select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val st = statsOf(Ann.bruteForceTopKDense(wide, q, 5).collect())
    assert(st.jobs <= 2, s"${st.jobs} jobs")
    assert(st.shuffleWriteBytes == 0L, s"${st.shuffleWriteBytes} shuffle bytes written")
    val (got, runs) = Ann.recordingKernelRuns(Ann.bruteForceTopKDense(wide, q, 5))
    assert(runs.map(_.tasks) == Seq(wide.queryExecution.toRdd.getNumPartitions), runs)
    assert(got.collect().toSeq == Ann.bruteForceTopK(emb, q, 5).collect().toSeq)
  }
}
