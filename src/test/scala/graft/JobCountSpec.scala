package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.store.VectorStore

/** Spark jobs per store read. Each job costs scheduling time that a
  * point read cannot hide, so the job counts of the read paths are
  * pinned: a literal-scored search is one job, recommend one fetch
  * plus one search, and the dense kernel needs no dim probe for a
  * local query batch and one for any other.
  */
class JobCountSpec extends SparkSpec {

  /** Jobs started by `body` (map-stage jobs of adaptive plans included). */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${System.nanoTime()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      ListenerBridge.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

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
    assert(batch <= 3, s"searchBatch: $batch jobs")
    val e = emb
    val knn = jobsOf(Ann.bruteForceTopKDense(e,
      e.filter(col("vec_id") < 40).select(col("vec_id").as("qid"), col("embedding").as("qv")),
      5).collect())
    assert(knn <= 5, s"bruteForceTopKDense: $knn jobs")
  }
}
