package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (local iteration only; the driver passes 2): a
    // comma-separated list of query-name prefixes to restrict the dump.
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSeq))
      case _ =>
        System.err.println("usage: graft.Verify <sfDir> <outDir> [namePrefix,namePrefix,...]")
        sys.exit(2)
    }
    def keep(name: String): Boolean =
      nameFilter.forall(_.exists(name.startsWith))
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Every string JSON-escaped (a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness), and ALWAYS the full map, even under a prefix filter: check.py does
    // its own prefix filtering, and a filtered re-dump must not strip
    // the sweep artifact's other 550+ oracles (a resumed/partial
    // Verify into an existing vout would otherwise corrupt it).
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.quote(k)}: ${Harness.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
