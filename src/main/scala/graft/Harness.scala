package graft

import org.apache.spark.sql.SparkSession

/** What graft's mains share: one local-session policy, one wall-clock
  * timer and one query-name filter. `Bench`, `Verify`, `ScaleBench`,
  * `ExplainDump`, `Demo` and `GenTestData` all run through it, so a
  * measurement taken by one of them is taken under the same session
  * as every other.
  */
object Harness {

  /** Cores of the local session: `SPARK_GRAFT_CPUS`, else every core
    * the JVM sees.
    */
  def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session: `local[cpus]`, one shuffle partition per core,
    * UTC, no UI, WARN logging, plus the caller's `extra` confs.
    */
  def session(extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `body`'s result and its wall-clock seconds. */
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The wall seconds of `runs` calls of `body`, sorted, with `after`
    * run after every call; or the first line of the error of the first
    * call that threw, after which no call runs. A call that threw
    * measured nothing, so its elapsed time is never returned.
    */
  def timeRuns(runs: Int, after: => Unit)(body: => Any): Either[String, Seq[Double]] = {
    val secs = Seq.newBuilder[Double]
    var i = 0
    while (i < runs) {
      try secs += seconds(body)._2
      catch { case e: Throwable => return Left(e.toString.linesIterator.next().take(200)) }
      finally after
      i += 1
    }
    Right(secs.result().sorted)
  }

  /** The `SparkEntry.queries` names that start with one of the
    * comma-separated `prefixes`, sorted.
    */
  def named(prefixes: String): Seq[String] = {
    val ps = prefixes.split(',').toSeq
    SparkEntry.queries.keys.toSeq.filter(n => ps.exists(n.startsWith)).sorted
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
