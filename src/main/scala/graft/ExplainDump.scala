package graft
import java.nio.file.{Files, Paths}

/** Plan-audit tool: dumps `.explain("formatted")` for each headline
  * query so partition pruning / pushdown / broadcast / TakeOrdered /
  * partial-agg placement can be reviewed offline.
  *
  * Usage: runMain graft.ExplainDump <sfDir> <outDir> [query ...]
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "target/explain"
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.headline
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
    }
    spark.stop()
  }
}
