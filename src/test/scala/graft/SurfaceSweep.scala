package graft

/** One pass over every `SparkEntry` query, shared by the whole-surface
  * guards: each query is built once under CODEGEN_ONLY with interpreted
  * fallback off, the window predicates of [[WindowGuardSpec]] are read
  * off its physical plan, and it is collected. CodegenGuardSpec and
  * WindowGuardSpec assert on the outcomes; whichever runs first pays
  * for the pass.
  */
object SurfaceSweep {

  /** A query's pass: whether it planned, the error that stopped it
    * (building, planning or executing), and the windows its plan
    * carries.
    */
  final case class Outcome(planned: Boolean, error: Option[String],
      globalWindow: Boolean, hotWindows: Seq[String])

  /** Every query's outcome, by name in sorted order. */
  lazy val outcomes: Seq[(String, Outcome)] = {
    val spark = SparkSpec.spark
    val conf = spark.conf
    val prevFM = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    val prevFB = conf.get("spark.sql.codegen.fallback", "true")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    conf.set("spark.sql.codegen.fallback", "false")
    try SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val outcome =
        try {
          val df = fn(spark, SparkSpec.sfDir)
          val plan = df.queryExecution.executedPlan
          val windows = Outcome(planned = true, None,
            WindowGuardSpec.hasGlobalWindow(plan), WindowGuardSpec.hotPartitionedWindows(plan))
          try { df.collect(); windows }
          catch { case e: Throwable => windows.copy(error = Some(e.getMessage)) }
        } catch { case e: Throwable => Outcome(planned = false, Some(e.getMessage), false, Nil) }
      name -> outcome
    } finally {
      conf.set("spark.sql.codegen.factoryMode", prevFM)
      conf.set("spark.sql.codegen.fallback", prevFB)
    }
  }
}
