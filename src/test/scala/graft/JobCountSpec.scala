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
  * pinned: a literal-scored search is one job, recommend one fetch
  * plus one search, retrieve one job, and the dense kernel one scan
  * job plus one fetch job for a query frame that is not local.
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
    val e = emb
    val knn = jobsOf(Ann.bruteForceTopKDense(e,
      e.filter(col("vec_id") < 40).select(col("vec_id").as("qid"), col("embedding").as("qv")),
      5).collect())
    assert(knn <= 2, s"bruteForceTopKDense: $knn jobs")
  }

  test("the dense kernel shuffles nothing on a corpus with at least as many splits as cores") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wide").toString + "/emb"
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
