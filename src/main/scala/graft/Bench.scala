package graft
import org.apache.spark.sql.SparkSession

/** Bench main: times every headline SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Measurement hygiene (the artifact must distinguish noise from
  * regression):
  * - each query is timed SPARK_GRAFT_BENCH_RUNS times (default 5) and
  *   the JSON records the per-query MEDIAN plus the [min, max] spread,
  *   so load-induced drift shows up as spread, not as a phantom
  *   regression in the headline number;
  * - "total" is the sum of medians;
  * - a query that throws measured nothing: it is named with its error
  *   on a "failed" detail line and left out of "queries" and "total";
  * - the JSON also carries a shared-query subtotal against the newest
  *   BENCH_r*.json in the repo taken at the same `cpus` and `sf`
  *   ("baseline" block, null with the reason on a detail line when no
  *   artifact matches), so round-over-round comparison is computed at
  *   measurement time on exactly the shared set rather than eyeballed
  *   across files.
  *
  * The cross-query state (`QDsl.fixtures`) is built before the clock
  * starts, as a production index is, and the per-run evictor spares
  * it. ann_nn_descent, graph_node2vec and mm_image_phash (timed with
  * SPARK_GRAFT_BENCH_ALL=1) are driver-resident: their plans reduce to
  * a LocalTableScan, so their times measure a local fold, and a
  * cross-round change in them is not an engine win.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus.toString
    // 5-run floor by default: medians of 3 still moved with machine
    // state (r9's committed headline was 1.56× pure load noise; r12's
    // was 1.62× for the same reason — both judged clean on an idle
    // re-run). Two extra passes is cheaper than one phantom regression.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val spark = Harness.session(
      "spark.sql.adaptive.enabled" -> "true",
      // production-recommended: coalesce small shuffle partitions to
      // the target size instead of keeping max parallelism — fewer
      // tasks per tiny stage here, same plans at scale
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
    // Every global (unpartitioned) window in the inventory is bounded
    // by construction (rank-after-limit / ≤20-row RRF lists) and
    // WindowGuardSpec pins the exact allowlist of queries that may
    // carry one — so the per-row WARN adds no information here and is
    // silenced to keep the bench tail empty. A NEW unbounded window
    // fails WindowGuardSpec, not this log filter.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // the per-query checkpoint evictor (below) unpersists RDDs whose
    // lineage is truncated — Spark WARNs "cannot be recomputed after
    // unpersisting" per eviction, which is exactly the point (the
    // blocks are per-query garbage, never reused); keep the tail clean
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    val benchSet: Seq[String] = sys.env.get("SPARK_GRAFT_BENCH_FILTER") match {
      // local iteration: time just the named queries (comma-separated
      // name prefixes, same convention as Verify's filter arg)
      case Some(f) => Harness.named(f)
      case None =>
        if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1"))
          SparkEntry.queries.keys.toSeq.sorted
        else SparkEntry.headline.sorted
    }
    // SPARK_GRAFT_BENCH_REVERSE=1 times the same set back-to-front —
    // the checkpoint-eviction audit: a query's median must not depend
    // on how much inventory ran before it in the session (§7-4)
    val orderedSet =
      if (sys.env.get("SPARK_GRAFT_BENCH_REVERSE").contains("1")) benchSet.reverse
      else benchSet
    // Warmup (not timed): run each benched query once at the tiny
    // sf0.001 so whole-stage codegen compilation + JIT for each plan
    // shape happens before the clock starts. The timed pass below
    // still reads the target-SF data cold — only JVM state is warm,
    // as on a long-lived cluster.
    spark.range(1000000).selectExpr("sum(id)").collect()
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    benchSet.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir).count()
      catch { case _: Throwable => }
    }
    // the timed queries measure reads of the fixtures, not their builds
    QDsl.fixtures.foreach { f =>
      try f(spark, sfDir).count()
      catch { case _: Throwable => }
    }
    evict(spark) // clear the warmup pass's per-query blocks
    // r18: record each query's wall-clock start (epoch seconds) so
    // the bimodal host's degraded-phase windows are identifiable
    // post-hoc in the committed artifacts (r17's 4 phantom 8–30×
    // "regressions" sat in two time-adjacent windows). Additions-only:
    // the timestamps go to an EARLIER detail line; the final one-line
    // JSON contract is unchanged.
    val startedAt = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val outcomes = orderedSet.map { name =>
      startedAt(name) = System.currentTimeMillis() / 1000L
      // evict after EACH timed run, not after the run set: runs 1..n-1
      // of the same query would otherwise leave their localCheckpoint
      // blocks behind and inflate runs 2..n — the within-query version
      // of the cross-query drift this evictor exists to stop
      name -> Harness.timeRuns(runs, evict(spark)) {
        SparkEntry.queries(name)(spark, sfDir).count()
      }
    }
    val failed = outcomes.collect { case (k, Left(e)) => k -> e }
    val results = outcomes.collect { case (k, Right(ts)) =>
      k -> (ts(ts.size / 2), ts.head, ts.last)
    }
    // Medians at 3 decimals: the final line must stay well under the
    // driver's tail-capture window (~2 KB) or it records parsed:null
    // and the next round's baseline compare goes blind (this exact
    // failure hit rounds 5-6). Full [min,max] spreads go to an EARLIER
    // stdout line; only the compact summary is last.
    val qs = results.map { case (k, (med, _, _)) => f""""$k":$med%.3f""" }
      .mkString("{", ",", "}")
    val spread = results
      .map { case (k, (_, lo, hi)) => f""""$k":[$lo%.3f,$hi%.3f]""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    // shared-set subtotal vs the newest committed bench artifact taken
    // at this run's core count and scale factor
    val (baseline, baselineReason) = try {
      baselineArtifact(new java.io.File("."), cpus, sfDir) match {
        case Left(why) => ("null", why)
        case Right(f) =>
          val prevNode = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(f).path("parsed").path("queries")
          if (!prevNode.isObject) ("null", s"${f.getName} has no parsed queries")
          else {
            import scala.jdk.CollectionConverters._
            val prev = prevNode.fieldNames().asScala
              .map(k => k -> prevNode.get(k).asDouble()).toMap
            val shared = results.filter { case (k, _) => prev.contains(k) }
            val prevSub = shared.map { case (k, _) => prev(k) }.sum
            val nowSub = shared.map(_._2._1).sum
            (f"""{"file":"${f.getName}","shared_n":${shared.size},""" +
              f""""prev_subtotal":$prevSub%.3f,"now_subtotal":$nowSub%.3f}""",
              s"compared with ${f.getName}")
          }
      }
    } catch { case e: Exception => ("null", s"baseline artifacts unreadable: $e") }
    val stamps = startedAt
      .map { case (k, t) => s""""$k":$t""" }.mkString("{", ",", "}")
    println(s"""{"detail":"timestamps","unit":"epoch_sec","started":$stamps}""")
    println(s"""{"detail":"spread","runs":$runs,"spread":$spread}""")
    println(s"""{"detail":"baseline","reason":${Harness.quote(baselineReason)}}""")
    if (failed.nonEmpty) {
      val errs = failed.map { case (k, e) => Harness.quote(k) + ":" + Harness.quote(e) }
      println(s"""{"detail":"failed","queries":${errs.mkString("{", ",", "}")}}""")
    }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$runs,""" +
      s""""queries":$qs,"baseline":$baseline,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Per-query eviction (§7-4), run after each timed run: every
    * query's lazy localCheckpoint blocks stay in the block manager
    * after its timing, so inventory GROWTH inflated later queries'
    * times within a bench session (cross-round drift tracked inventory
    * size). Unpersists every persisted RDD that [[Shared]] does not
    * hold. The store's prepared tenant scans are dropped too, so no
    * timed run reads a scan planned by an earlier one.
    */
  private[graft] def evict(spark: SparkSession): Unit = {
    val held = Shared.held(spark.sparkContext)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!held(id)) rdd.unpersist(blocking = false)
    }
    graft.store.TenantScans.clear()
  }

  /** The newest `BENCH_r*.json` in `dir` taken at `cpus` cores and the
    * scale factor of `sfDir`, or why there is none. Against another
    * core count or scale factor a subtotal measures the host, not the
    * code.
    */
  private[graft] def baselineArtifact(dir: java.io.File, cpus: String,
      sfDir: String): Either[String, java.io.File] = {
    val sf = """sf([0-9.]+)/?$""".r.findFirstMatchIn(sfDir).map(_.group(1).toDouble)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val artifact = """BENCH_r(\d+)(.*)\.json""".r
    dir.listFiles().toSeq
      .flatMap(f => f.getName match {
        case artifact(n, rest) => Some(((n.toInt, rest), f))
        case _                 => None
      })
      .sortBy(_._1).map(_._2)
      .filter { f =>
        val root = mapper.readTree(f)
        root.path("cpus").asText() == cpus && sf.contains(root.path("sf").asDouble(-1))
      }
      .lastOption
      .toRight(s"no BENCH_r*.json artifact has cpus=$cpus and sf=${sf.getOrElse(sfDir)}")
  }
}
