package graft

import java.io.File
import scala.collection.mutable
import org.apache.commons.io.FileUtils
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The state that outlives a query, one keyed registry per
  * SparkContext: [[frame]]s, built and eagerly local-checkpointed (the
  * transition cells, the near-dup edges, the cluster labels), and
  * [[dir]]s, written once (the collection, the ANN indexes). The first
  * lookup of a key builds its entry; later lookups on the same context
  * return it. A key names everything its entry is built from.
  *
  * A frame's checkpoint truncates its lineage, so its blocks cannot be
  * recomputed once unpersisted: [[held]] names the RDDs a per-query
  * evictor must spare. When a context stops, its entries are dropped
  * and its dirs deleted.
  */
object Shared {

  private final class Entries {
    val frames = mutable.HashMap.empty[String, (DataFrame, Int)]
    val dirs = mutable.HashMap.empty[String, String]
  }

  private val contexts = mutable.HashMap.empty[SparkContext, Entries]

  private def entries(sc: SparkContext): Entries = contexts.getOrElseUpdate(sc, {
    sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = Shared.synchronized {
        contexts.remove(sc).foreach(_.dirs.values.foreach(d => FileUtils.deleteQuietly(new File(d))))
      }
    })
    new Entries
  })

  /** The frame under `key`: `build`, eagerly local-checkpointed. */
  def frame(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = synchronized {
    entries(spark.sparkContext).frames.getOrElseUpdate(key, {
      val df = build.localCheckpoint()
      (df, df.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd.id }.get)
    })._1
  }

  /** The temp dir under `key`, filled by `write`. */
  def dir(spark: SparkSession, key: String)(write: String => Unit): String = synchronized {
    entries(spark.sparkContext).dirs.getOrElseUpdate(key, {
      val out = java.nio.file.Files.createTempDirectory("graft_shared_").toFile
      try write(out.toString)
      catch { case e: Throwable => FileUtils.deleteQuietly(out); throw e }
      out.toString
    })
  }

  /** The ids of the checkpointed RDDs behind `sc`'s frames. */
  def held(sc: SparkContext): Set[Int] = synchronized {
    contexts.get(sc).fold(Set.empty[Int])(_.frames.values.map(_._2).toSet)
  }
}
