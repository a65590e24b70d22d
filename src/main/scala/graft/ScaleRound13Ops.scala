package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Scale evidence for the round-13 work (SURVEY §6):
  * - the dense-kernel QUERY side no longer collects unboundedly
  *   (the r12 declared limit): batches above the tile size are
  *   hash-tiled, one tile collected + broadcast + computed eagerly at
  *   a time with the broadcast destroyed between tiles — probed at 1M
  *   and 2M queries with peak heap printed alongside the time, which
  *   must stay ~flat while the batch doubles;
  * - row-equality of the tiled path is pinned in AnnSpec (tile=37
  *   forcing many tiles vs the one-collect path); this probe is the
  *   memory/scale half of that argument.
  *
  * runMain graft.ScaleRound13Ops [nQueries] [nCorpus] [dim] [tile]
  */
object ScaleRound13Ops {
  def main(args: Array[String]): Unit = {
    val nQueries = if (args.length > 0) args(0).toLong else 1000000L
    val nCorpus = if (args.length > 1) args(1).toLong else 256L
    val dim = if (args.length > 2) args(2).toInt else 16
    val tile = if (args.length > 3) args(3).toInt else 1 << 16
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def peakHeapMb(): Long = {
      System.gc()
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) >> 20
    }

    // deterministic synthetic vectors: v[d] = hash-free arithmetic so
    // the probe needs no test data on disk
    def vecs(n: Long, idOffset: Long) = spark.range(n)
      .select((col("id") + idOffset).as("vid"),
        transform(sequence(lit(0), lit(dim - 1)),
          d => ((col("id") * 31 + d * 17) % 101 - lit(50)) / 50.0).as("v"))

    val corpus = vecs(nCorpus, 0).select(col("vid").as("vec_id"), col("v").as("embedding"))
      .localCheckpoint(eager = true) // corpus is fixture, not measured

    for (m <- Seq(1L, 2L)) {
      val nq = nQueries * m
      val q = vecs(nq, 1L << 32).select(col("vid").as("qid"), col("v").as("qv"))
      val nTiles = (nq + tile - 1) / tile
      val t0 = System.nanoTime()
      val rows = graft.ann.Ann.denseKernelTopK(
        corpus, q, 5, graft.ann.Ann.Cosine, tile = tile).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale13] tiled-kernel nq=$nq tiles=$nTiles rows=$rows: " +
        f"$secs%.2f s, peak heap ${peakHeapMb()} MB")
      require(rows == nq * 5, s"expected ${nq * 5} rows, got $rows")
    }
    spark.stop()
  }
}
