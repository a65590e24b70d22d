package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Scale evidence for round 15 (SURVEY §6): the blocked 2D kernel at
  * the REFERENCE'S PRODUCTION DIMENSIONALITY (1024-d, the Qdrant
  * collection shape — reference document_ingestor.py:86). Three
  * questions the r14 probe (16-d) left open:
  *
  *  1. The dim-aware packing caps (Ann.kernelPackingCaps) ENGAGE at
  *     1024-d — tileEff drops 65536→4096, blockRowsEff 8192→2048.
  *     Does the capped kernel still scan the corpus exactly once,
  *     and is wall-clock still linear in total scores? (r10's
  *     ScaleDim found real 1024-d surprises in columnar batch
  *     sizing, so "reasoned" caps aren't "measured" caps.)
  *  2. Where is the broadcast-fast-path vs blocked-kernel crossover
  *     at 1024-d? (The dispatch in denseKernelTopK picks by tile
  *     bound, not by wall-clock — the probe records what the bound
  *     costs at the production dim.)
  *  3. nSlots sensitivity: the SUMMA replication volume is
  *     corpus×nTiles + queries×nSlots. At 1024-d the query tiles are
  *     32 MB each, so queries×nSlots is real bytes — measure 2–3
  *     grid points to know whether the default (one slot per core)
  *     is sane at the production shape.
  *
  * runMain graft.ScaleRound15Ops [nCorpus] [dim] [nqBase] [slots]
  * (slots: comma-separated nSlots sweep order — run it both forward
  * and REVERSED: all points share one JVM, so a monotone-in-time
  * drift (GC/broadcast accretion) would masquerade as a slot effect)
  */
object ScaleRound15Ops {
  def main(args: Array[String]): Unit = {
    val nCorpus = if (args.length > 0) args(0).toLong else 20000L
    val dim = if (args.length > 1) args(1).toInt else 1024
    val nqBase = if (args.length > 2) args(2).toLong else 2048L
    val slotSweep =
      if (args.length > 3) args(3).split(',').toSeq.map(_.toInt)
      else Seq(4, 16, 32)
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val (tileEff, blockRowsEff) = graft.ann.Ann.kernelPackingCaps(
      dim, graft.ann.Ann.defaultKernelTile, graft.ann.Ann.defaultKernelBlockRows)
    println(f"[scale15] dim=$dim packing caps ENGAGED: tile " +
      f"${graft.ann.Ann.defaultKernelTile}->$tileEff (${tileEff.toLong * dim * 8 / (1 << 20)} MB/row), " +
      f"blockRows ${graft.ann.Ann.defaultKernelBlockRows}->$blockRowsEff " +
      f"(${blockRowsEff.toLong * dim * 8 / (1 << 20)} MB/row)")

    val nCorpusParts = 16
    val scanCount = spark.sparkContext.longAccumulator("corpusScans")
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

    def timed(label: String, nq: Long)(run: => Long): Double = {
      scanCount.reset()
      val t0 = System.nanoTime()
      val rows = run
      val secs = (System.nanoTime() - t0) / 1e9
      val scans = scanCount.value / nCorpusParts.toDouble
      println(f"[scale15] $label nq=$nq rows=$rows: $secs%.2f s, " +
        f"corpus scans $scans%.1f")
      require(rows == nq * 5, s"expected ${nq * 5} rows, got $rows")
      require(scans <= 1.5,
        f"corpus scanned $scans%.1f times at dim=$dim — the packing caps " +
          "must not reintroduce per-tile corpus re-scans")
      secs
    }

    // 1+2: broadcast fast path vs blocked kernel at the SAME sizes
    // (nqBase fits one capped tile; 2× sits at the cap; 4× forces
    // multi-tile where only the blocked kernel runs)
    for (m <- Seq(1L, 2L)) {
      val nq = nqBase * m
      timed("fast-path(broadcast)", nq) {
        graft.ann.Ann.denseKernelTopK(corpus, vecs(nq), 5,
          graft.ann.Ann.Cosine).count()
      }
      timed("blocked(forced)", nq) {
        graft.ann.Ann.blockedTop(corpus, vecs(nq), 5,
          graft.ann.Ann.Cosine)
          .select(col("qid"), explode(col("top"))).count()
      }
    }
    // dispatch straddle: at 1024-d the fast-path cap is 8192 queries
    // (64 MB packed) — one point AT the cap (routes to the one-
    // broadcast fast path; its win here is what justifies the cap
    // being 2× the blocked tile) and one ABOVE it (the dispatch must
    // route to the blocked kernel)
    val nqBig = nqBase * 4
    val cap = graft.ann.Ann.fastPathCap(dim, graft.ann.Ann.defaultKernelTile)
    timed(s"dispatched(${if (nqBig <= cap) "fast-path" else "blocked"})", nqBig) {
      graft.ann.Ann.denseKernelTopK(corpus, vecs(nqBig), 5,
        graft.ann.Ann.Cosine).count()
    }
    val nqOver = cap.toLong + nqBase
    timed(s"dispatched(${if (nqOver <= cap) "fast-path" else "blocked"})", nqOver) {
      graft.ann.Ann.denseKernelTopK(corpus, vecs(nqOver), 5,
        graft.ann.Ann.Cosine).count()
    }

    // 3: nSlots sensitivity at the multi-tile size — replication
    // volume = corpus×nTiles (fixed here) + queries×nSlots (swept)
    for (slots <- slotSweep) {
      val qBytes = nqBig * dim * 8 * slots / (1 << 20)
      val s2 = timed(f"blocked nSlots=$slots (query repl ~$qBytes MB)", nqBig) {
        graft.ann.Ann.blockedTop(corpus, vecs(nqBig), 5,
          graft.ann.Ann.Cosine, nSlotsOverride = Some(slots))
          .select(col("qid"), explode(col("top"))).count()
      }
      val _ = s2
    }
    spark.stop()
  }
}
