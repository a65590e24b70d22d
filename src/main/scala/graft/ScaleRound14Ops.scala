package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Scale evidence for the round-14 work (SURVEY §6): the 2D
  * block-matrix dense kernel scans the CORPUS ONCE regardless of how
  * many query tiles the batch spans (the r13 tiled loop paid
  * query_tiles × corpus scans — the one declared scale edge left).
  *
  * The probe instruments the corpus source with a LongAccumulator
  * that bumps once per corpus-partition ITERATION: if the kernel
  * re-scanned the source per tile, the accumulator would read
  * nPartitions × nTiles; with the blocked kernel it must stay at
  * nPartitions while the query batch (and so the tile count)
  * doubles. Row counts are asserted so the scan-count claim is made
  * about a kernel that actually produced the full answer.
  *
  * runMain graft.ScaleRound14Ops [nQueries] [nCorpus] [dim] [tile]
  */
object ScaleRound14Ops {
  def main(args: Array[String]): Unit = {
    val nQueries = if (args.length > 0) args(0).toLong else 60000L
    val nCorpus = if (args.length > 1) args(1).toLong else 10000L
    val dim = if (args.length > 2) args(2).toInt else 8
    val tile = if (args.length > 3) args(3).toInt else 1 << 13
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nCorpusParts = 16
    val scanCount = spark.sparkContext.longAccumulator("corpusScans")

    // deterministic synthetic corpus whose EVALUATION is observable:
    // every pass over a partition bumps the accumulator once
    val corpus = spark.range(0, nCorpus, 1, nCorpusParts)
      .as[Long]
      .mapPartitions { it =>
        scanCount.add(1)
        it.map { id =>
          val v = Array.tabulate(dim)(d => ((id * 31 + d * 17) % 101 - 50) / 50.0)
          (id, v)
        }
      }.toDF("vec_id", "embedding")

    def vecs(n: Long) = spark.range(n)
      .select((col("id") + (1L << 32)).as("qid"),
        transform(sequence(lit(0), lit(dim - 1)),
          d => ((col("id") * 31 + d * 17) % 101 - lit(50)) / 50.0).as("qv"))

    for (m <- Seq(1L, 2L, 4L)) {
      val nq = nQueries * m
      val nTiles = (nq + tile - 1) / tile
      scanCount.reset()
      val t0 = System.nanoTime()
      val rows = graft.ann.Ann.denseKernelTopK(
        corpus, vecs(nq), 5, graft.ann.Ann.Cosine, tile = tile).count()
      val secs = (System.nanoTime() - t0) / 1e9
      val scans = scanCount.value / nCorpusParts.toDouble
      println(f"[scale14] blocked-kernel nq=$nq tiles=$nTiles rows=$rows: " +
        f"$secs%.2f s, corpus scans $scans%.1f (parts=$nCorpusParts)")
      require(rows == nq * 5, s"expected ${nq * 5} rows, got $rows")
      // one full corpus pass, independent of the tile count (a small
      // slack for AQE stage retries; the r13 loop would read nTiles×)
      require(scans <= 1.5,
        f"corpus scanned $scans%.1f times for $nTiles tiles — the blocked " +
          "kernel must scan once regardless of query-batch size")
    }
    spark.stop()
  }
}
