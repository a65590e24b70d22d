package loadbench

/** Per-layer metrics of a traced run. Every workload reports every
  * name; a layer a workload does not touch reads 0 there.
  */
object Layers {

  val storeClasses: Seq[String] =
    Schedule.servePoint.map(_._1) ++ Seq("search_batch") ++ Schedule.mutations ++
      Seq("read_retrieve", "read_scroll", "compact")
  val roles: Seq[String] = Seq("point", "batch", "write", "read", "compact", "query")
  /** Classes whose cosines count as search work. */
  val searchClasses: Set[String] =
    Set("search", "search_threshold", "search_docs", "recommend", "search_batch")
  val knnClasses: Set[String] = Set("knn_graph", "ann_knn_graph")
  val selfKinds: Seq[String] =
    Seq("op", "build", "spark_plan", "spark_exec", "store_write", "spark_job", "spark_stage")

  /** (name, unit, better) of every per-layer metric. */
  val names: Seq[(String, String, String)] = {
    val lower = "lower"; val higher = "higher"
    Seq(
      ("spark.plan_ms", "ms", lower), ("spark.exec_ms", "ms", lower),
      ("spark.driver_gap_ms", "ms", lower), ("spark.jobs_per_op", "count", lower),
      ("spark.stages_per_op", "count", lower), ("spark.tasks_per_op", "count", lower),
      ("spark.executor_run_ms", "ms", lower), ("spark.executor_cpu_ms", "ms", lower),
      ("spark.parallelism", "ratio", higher), ("spark.input_mb", "MB", lower),
      ("spark.input_records", "count", lower), ("spark.shuffle_write_mb", "MB", lower),
      ("spark.shuffle_read_mb", "MB", lower), ("spark.result_kb", "KB", lower),
      ("spark.spill_mb", "MB", lower), ("spark.task_gc_ms", "ms", lower)) ++
    roles.map(r => (s"spark.parallelism.$r", "ratio", higher)) ++
    Seq(("functions.cosines_per_op", "count", lower),
      ("functions.cosines_per_cpu_s", "1/s", higher),
      ("ann.knn_graph.cosines_per_op", "count", lower),
      ("ann.knn_graph.cosines_per_cpu_s", "1/s", higher),
      ("ann.knn_graph.p50_ms", "ms", lower)) ++
    storeClasses.map(c => (s"store.$c.p50_ms", "ms", lower)) ++
    Seq(("store.point_p50_ms", "ms", lower), ("store.batch_p50_ms", "ms", lower),
      ("store.write_p50_ms", "ms", lower), ("store.read_p50_ms", "ms", lower),
      ("store.build_ms", "ms", lower), ("store.files_per_tenant", "count", lower),
      ("store.bytes_written_mb", "MB", lower), ("store.write_amp", "ratio", lower),
      ("store.space_amp", "ratio", lower), ("store.rows_scanned_per_result", "ratio", lower)) ++
    Schedule.trainQueries.flatMap(q => Seq((s"queries.$q.p50_ms", "ms", lower),
      (s"queries.$q.jobs", "count", lower), (s"queries.$q.shuffle_mb", "MB", lower))) ++
    Seq(("jvm.jit_ms_per_pass", "ms", lower), ("jvm.gc_ms_per_pass", "ms", lower),
      ("jvm.driver_alloc_mb_per_op", "MB", lower), ("jvm.cpu_ms_per_op", "ms", lower),
      ("host.calib_ms", "ms", lower),
      ("trace.overhead_pct", "%", lower)) ++
    selfKinds.map(k => (s"self.${k}_ms", "ms", lower))
  }

  private def selfKind(name: String): String = name match {
    case "op" => "op"
    case "spark.plan" => "spark_plan"
    case "spark.exec" => "spark_exec"
    case "store.write" | "store.compact" => "store_write"
    case "spark.job" => "spark_job"
    case "spark.stage" => "spark_stage"
    case _ => "build"
  }

  final case class OpStats(rec: CallRec, wall: Double, planMs: Double, execMs: Double,
                           buildMs: Double, gap: Double, jobs: Int, stages: Int,
                           st: StageTotals, rows: Long)

  /** The metrics, plus the table and rationale lines printed beside them. */
  def compute(r: Runner, w: Workload): (Map[String, Double], Seq[String]) = {
    val spans = r.tracer.withSpark(r.recorder)
    val self = Spans.selfTimes(spans)
    val byOp = spans.indices.groupBy(i => spans(i).op)
    val traced = r.timedCalls.filter(_.traced)
    val ops = traced.filter(c => byOp.contains(c.op)).map { c =>
      val idx = byOp(c.op)
      def dur(p: String => Boolean) = idx.filter(i => p(spans(i).name)).map(i => spans(i).dur).sum
      val root = spans(idx.find(i => spans(i).parent < 0).get)
      val jobs = idx.filter(i => spans(i).name == "spark.job")
      val stageIds = idx.filter(i => spans(i).name == "spark.stage").map(i => spans(i).ref)
      val tot = new StageTotals
      stageIds.flatMap(s => Option(r.recorder.stages.get(s))).foreach { s =>
        tot.tasks += s.tasks; tot.runMs += s.runMs; tot.cpuNs += s.cpuNs
        tot.inBytes += s.inBytes; tot.inRecords += s.inRecords
        tot.shuffleWrite += s.shuffleWrite; tot.shuffleRead += s.shuffleRead
        tot.resultBytes += s.resultBytes; tot.spill += s.spill; tot.gcMs += s.gcMs
      }
      OpStats(c, root.dur, dur(_ == "spark.plan"),
        dur(n => n == "spark.exec" || n == "store.write" || n == "store.compact"),
        dur(n => n.contains('.') && !n.startsWith("spark.") && n != "store.write" &&
          n != "store.compact"),
        root.dur - Spans.covered(root.start, root.end, jobs.map(i => (spans(i).start, spans(i).end))),
        jobs.size, stageIds.size, tot, c.rows)
    }
    val n = math.max(ops.size, 1).toDouble
    def per(f: OpStats => Double) = ops.map(f).sum / n
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def par(os: Seq[OpStats]) = ratio(os.map(_.st.runMs.toDouble).sum, os.map(_.wall).sum)
    def med(os: Seq[OpStats]) = if (os.isEmpty) 0.0 else Stats.median(os.map(_.rec.wallMs))
    def cosRate(os: Seq[OpStats]) =
      ratio(os.map(_.rec.cosines.toDouble).sum, os.map(_.st.cpuNs / 1e9).sum)
    def cosPer(os: Seq[OpStats]) = ratio(os.map(_.rec.cosines.toDouble).sum, os.size)
    val mb = 1048576.0
    val search = ops.filter(o => searchClasses(o.rec.cls))
    val knn = ops.filter(o => knnClasses(o.rec.cls))
    val store = ops.filter(_.rec.layer == "store")
    val reads = store.filter(o => o.rec.role == "point" || o.rec.role == "read")
    val passes = r.timedPassRecs
    val tracedWall = passes.filter(_.traced).map(_.wallMs)
    val plainWall = passes.filter(!_.traced).map(_.wallMs)
    val selfPer = selfKinds.map { k =>
      s"self.${k}_ms" -> spans.indices.filter(i => selfKind(spans(i).name) == k)
        .map(self).sum / n
    }
    val m = Map(
      "spark.plan_ms" -> per(_.planMs), "spark.exec_ms" -> per(_.execMs),
      "spark.driver_gap_ms" -> per(_.gap), "spark.jobs_per_op" -> per(_.jobs),
      "spark.stages_per_op" -> per(_.stages), "spark.tasks_per_op" -> per(_.st.tasks),
      "spark.executor_run_ms" -> per(_.st.runMs), "spark.executor_cpu_ms" -> per(_.st.cpuNs / 1e6),
      "spark.parallelism" -> par(ops), "spark.input_mb" -> per(_.st.inBytes / mb),
      "spark.input_records" -> per(_.st.inRecords),
      "spark.shuffle_write_mb" -> per(_.st.shuffleWrite / mb),
      "spark.shuffle_read_mb" -> per(_.st.shuffleRead / mb),
      "spark.result_kb" -> per(_.st.resultBytes / 1024.0), "spark.spill_mb" -> per(_.st.spill / mb),
      "spark.task_gc_ms" -> per(_.st.gcMs),
      "functions.cosines_per_op" -> cosPer(search),
      "functions.cosines_per_cpu_s" -> cosRate(search),
      "ann.knn_graph.cosines_per_op" -> cosPer(knn),
      "ann.knn_graph.cosines_per_cpu_s" -> cosRate(knn),
      "ann.knn_graph.p50_ms" -> med(knn),
      "store.point_p50_ms" -> med(ops.filter(o => o.rec.layer == "store" && o.rec.role == "point")),
      "store.batch_p50_ms" -> med(ops.filter(_.rec.role == "batch")),
      "store.write_p50_ms" -> med(ops.filter(_.rec.role == "write")),
      "store.read_p50_ms" -> med(ops.filter(_.rec.role == "read")),
      "store.build_ms" -> ratio(store.map(_.buildMs).sum, store.size),
      "store.files_per_tenant" -> 0.0, "store.bytes_written_mb" -> 0.0,
      "store.write_amp" -> 0.0, "store.space_amp" -> 0.0,
      "store.rows_scanned_per_result" ->
        ratio(reads.map(_.st.inRecords.toDouble).sum, reads.map(_.rows.toDouble).sum),
      "jvm.jit_ms_per_pass" -> Stats.median(passes.map(_.jitMs)),
      "jvm.gc_ms_per_pass" -> Stats.median(passes.map(_.gcMs)),
      "jvm.driver_alloc_mb_per_op" -> per(_.rec.allocBytes / mb),
      "jvm.cpu_ms_per_op" -> per(_.rec.cpuMs),
      "host.calib_ms" -> Stats.median(passes.map(_.calibMs)),
      "trace.overhead_pct" ->
        (Stats.median(tracedWall) / Stats.median(plainWall) - 1.0) * 100.0) ++
      roles.map(x => s"spark.parallelism.$x" -> par(ops.filter(_.rec.role == x))) ++
      storeClasses.map(c => s"store.$c.p50_ms" -> med(store.filter(_.rec.cls == c))) ++
      Schedule.trainQueries.flatMap { q =>
        val os = ops.filter(_.rec.cls == q)
        Seq(s"queries.$q.p50_ms" -> med(os),
          s"queries.$q.jobs" -> ratio(os.map(_.jobs.toDouble).sum, os.size),
          s"queries.$q.shuffle_mb" -> ratio(os.map(_.st.shuffleWrite / mb).sum, os.size))
      } ++ selfPer ++ w.layerMetrics
    require(m.keySet == names.map(_._1).toSet,
      s"per-layer names drifted: ${(m.keySet -- names.map(_._1)) ++ (names.map(_._1).toSet -- m.keySet)}")

    // the table: per class, then per span kind; then the rationale checks
    val table = Seq(f"${"class"}%-22s ${"n"}%4s ${"p50_ms"}%9s ${"plan"}%7s ${"exec"}%8s " +
      f"${"gap"}%8s ${"jobs"}%5s ${"tasks"}%6s ${"par"}%5s") ++
      ops.groupBy(_.rec.cls).toSeq.sortBy(_._1).map { case (c, os) =>
        val k = os.size.toDouble
        f"$c%-22s ${os.size}%4d ${med(os)}%9.1f ${os.map(_.planMs).sum / k}%7.1f " +
          f"${os.map(_.execMs).sum / k}%8.1f ${os.map(_.gap).sum / k}%8.1f " +
          f"${os.map(_.jobs).sum / k}%5.1f ${os.map(_.st.tasks).sum / k}%6.1f ${par(os)}%5.2f"
      } ++ Seq("", f"${"span kind"}%-22s ${"self ms/op"}%10s") ++
      selfPer.map { case (k, v) => f"${k.stripPrefix("self.").stripSuffix("_ms")}%-22s $v%10.1f" }
    val writeShare = ratio(spans.filter(s => s.name == "store.write" || s.name == "store.compact")
      .map(_.dur).sum, ops.map(_.wall).sum)
    val checks = w.name match {
      case "store_ingest" =>
        Seq(f"store write spans cover ${writeShare * 100}%.0f%% of op time")
      case "store_serve" =>
        val pb = par(ops.filter(_.rec.role == "batch"))
        val pp = par(ops.filter(_.rec.role == "point"))
        Seq(f"parallelism batch $pb%.2f vs point $pp%.2f")
      case _ =>
        Seq(s"store spans: ${spans.count(_.name.startsWith("store."))}")
    }
    (m, table ++ Seq("") ++ checks.map("check: " + _) ++
      Seq(f"tracing overhead ${m("trace.overhead_pct")}%.1f%% (median traced vs untraced pass)"))
  }
}
