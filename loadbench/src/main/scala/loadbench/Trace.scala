package loadbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A timed interval. Times are epoch milliseconds as doubles, so spans
  * the benchmark records around its calls and spans Spark's listener
  * reports share one clock. `parent` indexes the enclosing span (-1 for
  * an op's root); `ref` is the Spark job or stage id of listener spans.
  */
final case class Span(op: Long, name: String, start: Double, end: Double, parent: Int,
                      ref: Int = -1) {
  def dur: Double = end - start
}

object Spans {

  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, xs: Seq[(Double, Double)]): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover. `spans(i).parent` indexes into `spans`.
    */
  def selfTimes(spans: IndexedSeq[Span]): IndexedSeq[Double] = {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      s.dur - covered(s.start, s.end,
        kids.getOrElse(i, Nil).map(j => (spans(j).start, spans(j).end)))
    }
  }

  /** Index of the innermost span in `candidates` that contains `t`. */
  def innermost(spans: IndexedSeq[Span], candidates: Seq[Int], t: Double): Option[Int] =
    candidates.filter(i => spans(i).start <= t && t <= spans(i).end)
      .sortBy(i => spans(i).dur).headOption
}

/** Per-stage task totals, summed from task-end events. */
final class StageTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var inBytes = 0L
  var inRecords = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var resultBytes = 0L
  var spill = 0L
  var gcMs = 0L
  var submitted = Double.NaN
  var completed = Double.NaN
}

final case class JobRec(id: Int, group: String, start: Double, stages: Seq[Int]) {
  @volatile var end: Double = Double.NaN
}

/** A listener the benchmark registers on its own session. It files
  * jobs under the job group the benchmark sets around each call (the
  * call's id), and sums task metrics per stage. Events arrive on
  * Spark's listener thread; [[drain]] waits until every started job
  * has been seen to end.
  */
final class Recorder extends SparkListener {
  @volatile var enabled = false
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageTotals]()

  private def stage(id: Int) = stages.computeIfAbsent(id, _ => new StageTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (enabled && group != null)
      jobs.put(e.jobId, JobRec(e.jobId, group, e.time.toDouble, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val info = e.stageInfo
    val st = stage(info.stageId)
    st.synchronized {
      info.submissionTime.foreach(t => st.submitted = t.toDouble)
      info.completionTime.foreach(t => st.completed = t.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (enabled && m != null) {
      val st = stage(e.stageId)
      st.synchronized {
        st.tasks += 1
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.inBytes += m.inputMetrics.bytesRead
        st.inRecords += m.inputMetrics.recordsRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.resultBytes += m.resultSize
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.gcMs += m.jvmGCTime
      }
    }
  }

  /** Wait (bounded) until every recorded job has ended. */
  def drain(timeoutMs: Long = 20000): Boolean = {
    val until = System.currentTimeMillis() + timeoutMs
    def pending = jobs.values.asScala.exists(_.end.isNaN)
    while (pending && System.currentTimeMillis() < until) Thread.sleep(5)
    Thread.sleep(50) // stage-completed events trail job ends
    !pending
  }

  def jobsOf(op: Long): Seq[JobRec] =
    jobs.values.asScala.filter(_.group == op.toString).toSeq.sortBy(_.start)
}

/** Spans of the traced calls, kept in memory until the run ends. */
final class Tracer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]

  /** Opens a span of `op` under parent index `parent`; returns its index. */
  def open(op: Long, name: String, parent: Int): Int = {
    spans += Span(op, name, now, Double.NaN, parent)
    spans.size - 1
  }

  def close(i: Int): Unit = spans(i) = spans(i).copy(end = now)

  def span[A](op: Long, name: String, parent: Int)(body: => A): A = {
    val i = open(op, name, parent)
    try body finally close(i)
  }

  /** The benchmark's spans plus job and stage spans from `rec`, each
    * job under the innermost benchmark span of its op that contains
    * the job's start.
    */
  def withSpark(rec: Recorder): IndexedSeq[Span] = {
    val out = mutable.ArrayBuffer.from(spans)
    val byOp = spans.indices.groupBy(i => spans(i).op)
    // a stage listed by several jobs ran in the first; later ones skip it
    val seen = mutable.Set.empty[Int]
    byOp.toSeq.sortBy(_._1).foreach { case (op, idx) =>
      val root = idx.find(i => spans(i).parent < 0).get
      rec.jobsOf(op).foreach { j =>
        val parent = Spans.innermost(out.toIndexedSeq, idx, j.start).getOrElse(root)
        val end = if (j.end.isNaN) spans(root).end else j.end
        out += Span(op, "spark.job", j.start, end, parent, j.id)
        val ji = out.size - 1
        j.stages.sorted.foreach { s =>
          Option(rec.stages.get(s)).foreach { st =>
            if (!st.submitted.isNaN && !st.completed.isNaN && seen.add(s))
              out += Span(op, "spark.stage", st.submitted, st.completed, ji, s)
          }
        }
      }
    }
    out.toIndexedSeq
  }
}
