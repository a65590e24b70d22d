package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** [[Shared]]'s entries live as long as their SparkContext. A JVM holds
  * one live context, and the suite's context must outlive this spec,
  * so the stop runs in a child JVM ([[SharedStopProbe]]) and the spec
  * reads the facts it prints.
  */
class SharedSpec extends AnyFunSuite {

  test("a context's stop deletes its shared dirs and drops its frames; the next context rebuilds") {
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = args.zipWithIndex.flatMap {
      case ("--add-opens", i) => Seq("--add-opens", args(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin, "-Xmx1g") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.SharedStopProbe")
    val out, err = new StringBuilder
    val rc = Process(cmd).!(ProcessLogger(out.append(_).append('\n'), err.append(_).append('\n')))
    assert(rc == 0, err.takeRight(4000).toString)
    val facts = out.toString.linesIterator.collect {
      case l if l.startsWith("probe ") => l.stripPrefix("probe ").split('=') match {
        case Array(k, v) => k -> v
      }
    }.toMap
    assert(facts("memoized") == "true", "a second lookup on one context returns the same entries")
    assert(facts("held_before_stop") == "1" && facts("dir_before_stop") == "true")
    assert(facts("dir_after_stop") == "false", "the stop deletes the context's temp dir")
    assert(facts("held_after_stop") == "0", "the stop drops the context's frames")
    assert(facts("writes") == "2" && facts("builds") == "2", "the next context builds afresh")
    assert(facts("new_dir") == "true" && facts("rows") == "3")
    assert(facts("second_dir_after_stop") == "false")
  }
}

/** Child-JVM half of [[SharedSpec]]: looks up one dir and one frame on
  * a context, stops it, looks them up on a second context, and prints
  * each fact as a `probe key=value` line.
  */
object SharedStopProbe {
  def main(args: Array[String]): Unit = {
    var writes = 0
    var builds = 0
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    def lookUp(s: SparkSession) = (
      Shared.dir(s, "probe") { out =>
        writes += 1
        Files.writeString(Paths.get(out, "part"), "x")
      },
      Shared.frame(s, "probe") { builds += 1; s.range(3).toDF() })
    def fact(k: String, v: Any): Unit = println(s"probe $k=$v")

    val first = session()
    first.sparkContext.setLogLevel("ERROR")
    val (dir1, frame1) = lookUp(first)
    val (dir1Again, frame1Again) = lookUp(first)
    fact("memoized", dir1Again == dir1 && (frame1Again eq frame1))
    fact("held_before_stop", Shared.held(first.sparkContext).size)
    fact("dir_before_stop", Files.exists(Paths.get(dir1, "part")))
    first.stop()
    fact("dir_after_stop", Files.exists(Paths.get(dir1)))
    fact("held_after_stop", Shared.held(first.sparkContext).size)

    val second = session()
    second.sparkContext.setLogLevel("ERROR")
    val (dir2, frame2) = lookUp(second)
    fact("writes", writes)
    fact("builds", builds)
    fact("new_dir", dir2 != dir1 && Files.exists(Paths.get(dir2, "part")))
    fact("rows", frame2.count())
    second.stop()
    fact("second_dir_after_stop", Files.exists(Paths.get(dir2)))
  }
}
