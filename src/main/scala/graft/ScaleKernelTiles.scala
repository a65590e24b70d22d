package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Over-cap probe for the exact dense kernel (SURVEY §5, §6): a query
  * batch within `fastPathCap(dim, tile)` runs the one-scan fast path,
  * a batch above it the 2D block-matrix grid (`Ann.blockedTop`), whose
  * query tiles hold at most `kernelPackingCaps(dim, tile, …)` queries.
  * Runs the batch and its double through the `Ann.denseKernelTopK`
  * dispatch and prints the path it took, wall time and live heap
  * after each, which must stay ~flat in the query doubles while the
  * batch doubles (the retained nq×k result rows are what grows).
  * `tile` forces the grid's tile count: at 1024-d the default cap is
  * 8192 queries, so 4096 queries at tile 1024 run a grid of 4 tiles.
  *
  * Row-equality of both paths is pinned in AnnSpec; this probe is the
  * time and memory half of that argument. Cores from SPARK_GRAFT_CPUS
  * (default 4).
  *
  * runMain graft.ScaleKernelTiles [nQueries] [nCorpus] [dim] [tile]
  */
object ScaleKernelTiles {
  def main(args: Array[String]): Unit = {
    val nQueries = if (args.length > 0) args(0).toLong else 4096L
    val nCorpus = if (args.length > 1) args(1).toLong else 12000L
    val dim = if (args.length > 2) args(2).toInt else 1024
    val tile = if (args.length > 3) args(3).toInt else 1 << 16
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", 2 * cpus.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def liveHeapMb(): Long = {
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
    val cap = graft.ann.Ann.fastPathCap(dim, tile)
    val (gridTile, _) = graft.ann.Ann.kernelPackingCaps(dim, tile,
      graft.ann.Ann.defaultKernelBlockRows)

    for (m <- Seq(1L, 2L)) {
      val nq = nQueries * m
      val q = vecs(nq, 1L << 32).select(col("vid").as("qid"), col("v").as("qv"))
      val path = if (nq <= cap) "fast-path" else s"grid tiles=${(nq + gridTile - 1) / gridTile}"
      val t0 = System.nanoTime()
      val rows = graft.ann.Ann.denseKernelTopK(
        corpus, q, 5, graft.ann.Ann.Cosine, tile = tile).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[kernel-tiles] nq=$nq corpus=$nCorpus dim=$dim tile=$tile cap=$cap " +
        f"$path rows=$rows: $secs%.2f s, live heap after GC ${liveHeapMb()} MB")
      require(rows == nq * 5, s"expected ${nq * 5} rows, got $rows")
    }
    spark.stop()
  }
}
