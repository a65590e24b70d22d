package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.store.{TenantScans, VectorStore}

class BenchSpec extends SparkSpec {

  test("baseline block compares only with an artifact at the same cpus and sf") {
    val dir = SparkSpec.tempDir("graft-bench").toFile
    def artifact(name: String, cpus: Int, sf: Double): Unit =
      java.nio.file.Files.writeString(new java.io.File(dir, name).toPath,
        s"""{"n":1,"rc":0,"cpus":$cpus,"sf":$sf,"tail":"","parsed":null}""")
    artifact("BENCH_r09.json", 4, 0.1)
    artifact("BENCH_r10.json", 4, 0.01)
    artifact("BENCH_r17.json", 32, 0.1)
    artifact("BENCH_r17_c8.json", 8, 0.1)
    artifact("NOT_BENCH_r18.json", 4, 0.1)
    def pick(cpus: String, sfDir: String) =
      Bench.baselineArtifact(dir, cpus, sfDir).map(_.getName)
    assert(pick("4", "/data/sf0.1") == Right("BENCH_r09.json"))
    assert(pick("4", "/data/sf0.01") == Right("BENCH_r10.json"))
    assert(pick("32", "/data/sf0.1") == Right("BENCH_r17.json"))
    assert(pick("8", "/data/sf0.1") == Right("BENCH_r17_c8.json"))
    assert(pick("16", "/data/sf0.1").isLeft)
    assert(pick("4", "/data/sf1").isLeft)
  }

  test("a query that throws is reported as failed, never timed") {
    var after = 0
    val failed = Harness.timeRuns(3, after += 1) {
      SparkEntry.queries(SparkEntry.headline.head)(spark, "/nonexistent/sf").count()
    }
    assert(failed.isLeft && failed.left.exists(_.contains("/nonexistent/sf")))
    assert(after == 1, "the first failing run stops the timing, after its eviction")
    val timed = Harness.timeRuns(3, after += 1)(spark.range(10).count())
    assert(timed.map(_.size) == Right(3) && after == 4)
    assert(timed.exists(ts => ts == ts.sorted && ts.forall(_ >= 0)))
  }

  test("the per-run evictor drops prepared tenant scans with the checkpoint blocks") {
    val pts = VectorStore.points(spark, sfDir)
    val shared = Seq(QDsl.transitionCells(spark, sfDir), QDsl.dupEdges(spark, sfDir),
      QDsl.clusterLabels(spark, sfDir))
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def rddId(df: DataFrame) = df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.get
    val before = shared.map(rows)
    val blocks = rddId(pts.filter(col("user_id") === 2).localCheckpoint())
    VectorStore.scroll(pts, 3, 5)
    assert(TenantScans.size > 0 && spark.sparkContext.getPersistentRDDs.contains(blocks))
    Bench.evict(spark)
    assert(TenantScans.size == 0)
    assert(!spark.sparkContext.getPersistentRDDs.contains(blocks))
    // the shared frames' truncated lineage cannot recompute: they must
    // survive the evictor and still read back the same rows
    assert(shared.map(rddId).forall(spark.sparkContext.getPersistentRDDs.contains))
    assert(shared.map(rows) == before)
  }
}
