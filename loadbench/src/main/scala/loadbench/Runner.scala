package loadbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One closed-loop call, ready to run.
  *
  * `build` is the graft API call that returns the DataFrame (traced as
  * `<layer>.<class>`; null for calls that are a single action). `run`
  * is the action; it consumes the whole output. `check` compares what
  * `run` returned with the expected result after the clock stops.
  * `cosines` is the number of cosine scores the call computes, counted
  * from its inputs.
  */
final case class Call(spec: Spec, layer: String, role: String,
                      build: () => DataFrame,
                      run: DataFrame => Any,
                      check: Any => Option[String],
                      execSpan: String = "spark.exec",
                      plan: Boolean = true,
                      cosines: Long = 0L)

final case class CallRec(pass: Int, op: Long, cls: String, layer: String, role: String,
                         wallMs: Double, cpuMs: Double, allocBytes: Long,
                         traced: Boolean, failure: Option[String], cosines: Long,
                         rows: Long)

final case class PassRec(pass: Int, traced: Boolean, wallMs: Double, cpuMs: Double,
                         calls: Int, jitMs: Double, gcMs: Double, calibMs: Double)

/** A workload: set-up, a seeded schedule of passes, and the calls. */
trait Workload {
  def name: String
  /** One complete set-up; the last one is the state the passes use. */
  def setup(rep: Int): Unit
  /** Nominal seconds of one pass: sizes the timed phase from --seconds. */
  def passSeconds: Double
  def schedule(pass: Int): Seq[Spec]
  def call(spec: Spec): Call
  /** Called before every pass (untimed). */
  def beforePass(pass: Int, timed: Boolean): Unit = ()
  /** Whole-state checks at the end of the run: failure messages. */
  def finish(): Seq[String] = Nil
  /** Workload-specific per-layer metrics. */
  def layerMetrics: Map[String, Double] = Map.empty
  /** Call classes whose latency defines call_p50_ms. */
  def classes: Seq[String]
}

object Jvm {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
  private def compilerThreads: Array[Long] =
    threads.getThreadInfo(threads.getAllThreadIds).filter(t => t != null &&
      t.getThreadName.matches("C[12] CompilerThread.*")).map(_.getThreadId)
  private lazy val jitThreads = compilerThreads

  /** Process CPU time without the JIT compiler threads' (run.py fixes
    * their number), so JVM warm-up does not read as program work.
    */
  def processCpuMs: Double =
    (os.getProcessCpuTime - jitThreads.map(threads.getThreadCpuTime).filter(_ > 0).sum) / 1e6
  def threadAlloc: Long = threads.getCurrentThreadAllocatedBytes

  /** Driver heap in use after full collections. */
  def heapLiveMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  @volatile private var sink = 0L
  // off-heap, so the probe does not show in heap_live_mb
  private lazy val calibBuf = {
    val b = java.nio.ByteBuffer.allocateDirect(8 << 22).asLongBuffer()
    (0 until b.capacity).foreach(i => b.put(i, Schedule.mix(i)))
    b
  }
  /** A fixed single-thread loop (host speed probe): dependent random
    * reads over 32 MB plus arithmetic, so it feels both a busy memory
    * system and a busy core. Milliseconds.
    */
  def calibMs: Double = {
    val b = calibBuf
    val t0 = System.nanoTime()
    var x = 0L; var i = 0
    while (i < 500000) { x = Schedule.mix(x ^ b.get((x & (b.capacity - 1)).toInt)); i += 1 }
    sink += x
    (System.nanoTime() - t0) / 1e6
  }
}

/** Runs a workload: set-up, warm-up passes, timed passes, checks; then
  * computes the metrics. With `trace` every timed pass is paired with an
  * untraced pass of the same shape (alternating which goes first), so
  * the per-layer numbers and the tracing overhead come from one run.
  */
final class Runner(spark: SparkSession, w: Workload, seconds: Int, trace: Boolean) {

  /** Set-ups per run (setup_s is their median) and untimed warm-up passes. */
  val SetupReps = 3
  val WarmupPasses = 2

  val recorder = new Recorder
  val tracer = new Tracer
  if (trace) spark.sparkContext.addSparkListener(recorder)

  val calls = mutable.ArrayBuffer.empty[CallRec]
  val passes = mutable.ArrayBuffer.empty[PassRec]
  val setupTimes = mutable.ArrayBuffer.empty[Double]
  private var nextOp = 0L
  private var keep = Set.empty[Int]

  def timedPasses: Int = math.max(3, math.round(seconds / w.passSeconds).toInt)

  private def execute(c: Call, pass: Int, traced: Boolean): CallRec = {
    val op = nextOp; nextOp += 1
    val sc = spark.sparkContext
    if (traced) sc.setJobGroup(op.toString, c.spec.cls, interruptOnCancel = false)
    val cpu0 = Jvm.processCpuMs
    val a0 = Jvm.threadAlloc
    val t0 = System.nanoTime()
    val out: Either[Throwable, Any] =
      try Right {
        if (!traced) c.run(if (c.build == null) null else c.build())
        else {
          val root = tracer.open(op, "op", -1)
          try {
            val df = if (c.build == null) null
              else tracer.span(op, s"${c.layer}.${c.spec.cls}", root)(c.build())
            if (df != null && c.plan)
              tracer.span(op, "spark.plan", root)(df.queryExecution.executedPlan)
            tracer.span(op, c.execSpan, root)(c.run(df))
          } finally tracer.close(root)
        }
      } catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e6
    val cpu = Jvm.processCpuMs - cpu0
    val alloc = Jvm.threadAlloc - a0
    if (traced) sc.clearJobGroup()
    val failure = out match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      case Right(v) =>
        try c.check(v)
        catch { case NonFatal(e) => Some(s"check failed: $e".take(400)) }
    }
    failure.foreach(f => Console.err.println(s"[loadbench] ${w.name} ${c.spec.cls} failed: $f"))
    evict()
    val rows = out match {
      case Right(s: Seq[_]) => s.size.toLong
      case Right((s: Seq[_], _)) => s.size.toLong
      case _ => 0L
    }
    CallRec(pass, op, c.spec.cls, c.layer, c.role, wall, cpu, alloc, traced, failure,
      c.cosines, rows)
  }

  /** Drop blocks persisted by the last call (graft's per-call
    * checkpoints), keeping what existed after warm-up: the shared
    * frames a workload's calls reuse, as Bench keeps its fixtures.
    */
  private def evict(): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = false)
    }

  private def runPass(pass: Int, traced: Boolean, timed: Boolean): Unit = {
    val specs = w.schedule(pass)
    w.beforePass(pass, timed)
    val jit0 = Jvm.jitMs; val gc0 = Jvm.gcMs
    recorder.enabled = traced
    val recs = specs.map(s => execute(w.call(s), pass, traced))
    recorder.enabled = false
    calls ++= recs
    val calib = Jvm.calibMs
    passes += PassRec(pass, traced, recs.map(_.wallMs).sum, recs.map(_.cpuMs).sum,
      recs.size, Jvm.jitMs - jit0, Jvm.gcMs - gc0, calib)
  }

  var heapLive = 0.0
  var finalFailures: Seq[String] = Nil

  def run(): Unit = {
    (0 until SetupReps).foreach { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    (-WarmupPasses until 0).foreach(p => runPass(p, traced = false, timed = false))
    keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    (0 until timedPasses).foreach { p =>
      if (!trace) runPass(p, traced = false, timed = true)
      else {
        // the untraced twin is another pass of the same shape: replaying
        // the same calls would reuse the first copy's generated classes
        val order = if (p % 2 == 0) Seq(true, false) else Seq(false, true)
        order.foreach(t => runPass(if (t) p else p + timedPasses, traced = t, timed = true))
      }
    }
    heapLive = Jvm.heapLiveMb
    finalFailures = w.finish()
    finalFailures.foreach(f => Console.err.println(s"[loadbench] ${w.name} final check failed: $f"))
    if (trace) recorder.drain()
  }

  def timedCalls: Seq[CallRec] = calls.filter(_.pass >= 0).toSeq
  def timedPassRecs: Seq[PassRec] = passes.filter(_.pass >= 0).toSeq

  def attempted: Int = calls.size + finalFailures.size.min(1)
  def failed: Int = calls.count(_.failure.nonEmpty) + finalFailures.size.min(1)

  // ---- end-to-end metrics (untraced passes) ------------------------

  def endToEnd: Seq[(String, Double, String)] = {
    val ps = timedPassRecs.filter(!_.traced)
    val cs = timedCalls.filter(!_.traced)
    val classMedians = w.classes.map(k => Stats.median(cs.filter(_.cls == k).map(_.wallMs)))
    Seq(
      ("setup_s", Stats.median(setupTimes.toSeq), "s"),
      ("ops_per_s", ps.head.calls / (Stats.median(ps.map(_.wallMs)) / 1000.0), "1/s"),
      ("call_p50_ms", Stats.geomean(classMedians), "ms"),
      ("heap_live_mb", heapLive, "MB"))
  }

  /** Per class: sample count, median and the highest percentile with
    * ten samples beyond it (none when the count cannot support one).
    */
  def classReport: String = timedCalls.filter(_.traced == trace).groupBy(_.cls).toSeq.sortBy(_._1)
    .map { case (c, cs) =>
      val ms = cs.map(_.wallMs)
      val tail = Stats.highestTail(ms).map { case (p, v) => f""","p$p%d_ms":$v%.1f""" }.getOrElse("")
      f""""$c":{"n":${ms.size},"p50_ms":${Stats.median(ms)}%.1f$tail}"""
    }.mkString("""{"detail":"classes","workload":"""" + w.name + """",""", ",", "}")

  /** One line per pass: is a slow run the JVM settling, or the host? */
  def steadiness: String = passes.map { p =>
    f"""{"pass":${p.pass},"traced":${p.traced},"wall_ms":${p.wallMs}%.1f,""" +
      f""""jit_ms":${p.jitMs}%.1f,"gc_ms":${p.gcMs}%.1f,"calib_ms":${p.calibMs}%.1f}"""
  }.mkString("""{"detail":"passes","workload":"""" + w.name + """","passes":[""", ",", "]}")
}
