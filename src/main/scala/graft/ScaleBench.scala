package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession

/** Scale harness: `runMain graft.ScaleBench <scenario> [args]` runs one
  * named scenario on the [[Harness]] session and prints ONE JSON line,
  * `{"scenario":<name>, …its fields}`. Positional args are the
  * scenario's sizes; each defaults to the size its SURVEY §6 notes were
  * measured at.
  *
  * `query` times the real `SparkEntry.queries` code on one or more
  * corpus dirs, so a scale regression in a query shows up in its
  * number. The other scenarios call library operators on synthetic
  * inputs larger than any sf corpus ([[ScaleScenarios]]).
  */
object ScaleBench {

  type Fields = Seq[(String, Any)]

  /** A scenario's positional args. */
  final class Args(a: Seq[String]) {
    def str(i: Int): String = a.lift(i).getOrElse(
      throw new IllegalArgumentException(s"missing positional arg ${i + 1}"))
    def str(i: Int, default: String): String = a.lift(i).getOrElse(default)
    def long(i: Int, default: Long): Long = a.lift(i).fold(default)(_.toLong)
    def int(i: Int, default: Int): Int = a.lift(i).fold(default)(_.toInt)
  }

  final case class Scenario(usage: String, run: (SparkSession, Args) => Fields)

  import ScaleScenarios._
  val scenarios: ListMap[String, Scenario] = ListMap(
    "query" -> Scenario("<prefix,...> [sfDir,...] [reps]", query),
    "topk" -> Scenario("[nVectors] [nQueries]", topk),
    "dim" -> Scenario("[nVectors64] [nQueries]", dim),
    "dedup" -> Scenario("[nDocs]", dedup),
    "near-dup" -> Scenario("[nDocs] [nVecs]", nearDup),
    "prefix-filter" -> Scenario("[nDocs]", prefixFilter),
    "joins" -> Scenario("[nRows] [nUsers]", joins),
    "pipeline" -> Scenario("[nDocs] [nVecs]", pipeline),
    "gramian-lsh-bootstrap" -> Scenario("[nVecs] [nDocs] [nRows]", gramianLshBootstrap),
    "rank-scans" -> Scenario("[nUsers] [nOrders] [nDocs]", rankScans),
    "kernel-tiles" -> Scenario("[nQueries] [nCorpus] [dim] [tile]", kernelTiles),
    "grid-scans" -> Scenario("[nQueries] [nCorpus] [dim] [tile]", gridScans),
    "grid-1024d" -> Scenario("[nCorpus] [dim] [nqBase] [slots,...]", grid1024d),
    "grid-parts" -> Scenario("", gridParts))

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || !scenarios.contains(args(0))) {
      System.err.println("usage: graft.ScaleBench <scenario> [args]\n" +
        scenarios.map { case (n, s) => s"  $n ${s.usage}" }.mkString("\n"))
      sys.exit(2)
    }
    val spark = Harness.session()
    try println(line(spark, args(0), args.toSeq.tail))
    finally spark.stop()
  }

  /** Runs `scenario` with `args` on `spark`: its JSON line. */
  def line(spark: SparkSession, scenario: String, args: Seq[String]): String =
    json(ListMap(("scenario" -> scenario) +: scenarios(scenario).run(spark, new Args(args)): _*))

  private def json(v: Any): String = v match {
    case None => "null"
    case Some(x) => json(x)
    case s: String => Harness.quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else f"$d%.3f"
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => Harness.quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Times each query named by `prefixes` (Bench's filter) `reps`
    * times on each comma-separated corpus dir, after one untimed run
    * there (JIT, code generation and the dir's shared frames), evicting
    * each run's checkpoint blocks as Bench does. Prints each query's
    * median seconds per dir and, with two dirs, its second/first ratio:
    * run on two GenTestData scales, the ratio is the query's doubling
    * factor.
    */
  private def query(spark: SparkSession, a: Args): Fields = {
    val names = Harness.named(a.str(0))
    val dirs = a.str(1, "/root/testdata/sf0.1").split(',').toSeq
    val reps = a.int(2, 3)
    val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // query by query, so that the JVM's warm-up over the session
    // weighs on every dir of a query alike
    val outcomes = names.map { n =>
      n -> dirs.map { dir =>
        def time(runs: Int) = Harness.timeRuns(runs, Bench.evict(spark, keep)) {
          SparkEntry.queries(n)(spark, dir).count()
        }
        time(1).flatMap(_ => time(reps))
      }
    }
    val failed = outcomes.flatMap { case (n, rs) => rs.collectFirst { case Left(e) => n -> e } }
    val medians = outcomes.collect { case (n, rs) if rs.forall(_.isRight) =>
      n -> rs.collect { case Right(ts) => ts(ts.size / 2) }
    }
    Seq("dirs" -> dirs, "reps" -> reps, "sec" -> ListMap(medians: _*)) ++
      (if (dirs.size == 2)
        Seq("ratio" -> ListMap(medians.map { case (n, Seq(s1, s2)) => n -> s2 / s1 }: _*))
      else Nil) ++
      (if (failed.nonEmpty) Seq("failed" -> ListMap(failed: _*)) else Nil)
  }
}
