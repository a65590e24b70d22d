package loadbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (run.py starts it):
  *
  *   loadbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --corpus <dir>
  *
  * One client thread drives a closed loop against local[<cores>]. Prints
  * detail lines, then as its last line one JSON object with `correct`,
  * `attempted`, `failed` and `metrics` (end-to-end metrics untraced,
  * per-layer metrics traced).
  */
object Main {

  val workloads = Seq("store_serve", "store_ingest", "train_prep")
  val corpusSf = 0.01

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(workloads.contains(workload), s"unknown workload $workload (${workloads.mkString(", ")})")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val work = need("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName(s"loadbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the default 100-entry cache of generated classes thrashes on a
      // mix of distinct plans: classes are regenerated and JIT-compiled
      // again every pass, and timings then depend on the call order
      .config("spark.sql.codegen.cache.maxEntries", 4096L)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val w: Workload = workload match {
        case "store_serve" => new Serve(spark, seed, work)
        case "store_ingest" => new Ingest(spark, seed, work)
        case "train_prep" =>
          val corpus = need("corpus")
          TrainPrep.ensureCorpus(spark, corpus, corpusSf)
          val out = s"$work/verified"
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
          val tp = new TrainPrep(spark, seed, corpus, out)
          tp.writeOracle()
          tp
      }
      val r = new Runner(spark, w, seconds, trace)
      r.run()
      println(r.steadiness)
      println(r.classReport)
      println(f"""{"detail":"setup","session_s":$sessionS%.3f,"setup_s":[""" +
        r.setupTimes.map(t => f"$t%.3f").mkString(",") + s"""],"timed_passes":${r.timedPasses}}""")
      val byClass = r.calls.groupBy(_.cls).map { case (c, cs) => s""""$c":${cs.size}""" }
      println(byClass.mkString("""{"detail":"calls","by_class":{""", ",", "}}"))
      val metrics: Seq[(String, Double, String)] =
        if (!trace) r.endToEnd
        else {
          val (m, table) = Layers.compute(r, w)
          table.foreach(l => println(s"# $l"))
          Layers.names.map { case (n, unit, _) => (n, m(n), unit) }
        }
      metrics.foreach { case (n, v, _) =>
        require(!v.isNaN && !v.isInfinite, s"metric $n is $v") }
      val body = metrics.map { case (n, v, u) =>
        s""""$n":{"value":${java.lang.Double.toString(v)},"unit":"$u"}""" }.mkString(",")
      println(s"""{"correct":${r.failed == 0},"attempted":${r.attempted},""" +
        s""""failed":${r.failed},"metrics":{$body}}""")
    } finally spark.stop()
  }
}
