package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.Harness.seconds
import graft.ScaleBench.{Args, Fields}
import graft.ann.Ann

/** The library scenarios of [[ScaleBench]]: each calls graft operators
  * on synthetic inputs, generated in-plan from `spark.range` with
  * deterministic arithmetic and larger than any sf corpus, and returns
  * the fields of its JSON line. SURVEY §6 records what each measured.
  */
private[graft] object ScaleScenarios {

  /** The parent of every dir [[staged]] writes in this JVM. */
  private val staging = java.nio.file.Paths.get(
    System.getProperty("java.io.tmpdir"), s"graft-stage-${ProcessHandle.current.pid}")

  /** `df` written to a fresh temp parquet dir and read back, so the
    * timed operator pays a real scan, not the generation.
    */
  private def staged(df: DataFrame, tag: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(staging), s"graft-$tag").toString + "/data"
    df.write.mode("overwrite").parquet(dir)
    df.sparkSession.read.parquet(dir)
  }

  /** Deletes every dir [[staged]] wrote; [[ScaleBench]] runs it after
    * each scenario.
    */
  def dropStaged(): Unit = org.apache.commons.io.FileUtils.deleteQuietly(staging.toFile)

  /** `rows` float vectors (vec_id, embedding) of `dim` hash-derived
    * coordinates in [-1, 1].
    */
  private def hashVecs(spark: SparkSession, rows: Long, dim: Int): DataFrame =
    spark.range(rows).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        d => ((pmod(xxhash64(col("id"), d), lit(2001)) - lit(1000)) / 1000.0).cast("float"))
        .as("embedding"))

  /** `n` double vectors (qid, qv): qid = id + `offset`, qv[d] =
    * ((id·31 + d·17) mod 101 − 50) / 50.
    */
  private def arithVecs(spark: SparkSession, n: Long, dim: Int, offset: Long): DataFrame =
    spark.range(n).select((col("id") + offset).as("qid"),
      transform(sequence(lit(0), lit(dim - 1)),
        d => ((col("id") * 31 + d * 17) % 101 - lit(50)) / 50.0).as("qv"))

  /** [[arithVecs]]' corpus as typed rows over 16 partitions; every pass
    * over a partition bumps `scans` once, so a scenario can count how
    * often the kernel reads its corpus.
    */
  private def scannedCorpus(spark: SparkSession, n: Long, dim: Int,
      scans: LongAccumulator): Dataset[(Long, Array[Double])] = {
    import spark.implicits._
    spark.range(0, n, 1, 16).as[Long].mapPartitions { it =>
      scans.add(1)
      it.map(id => (id, Array.tabulate(dim)(d => ((id * 31 + d * 17) % 101 - 50) / 50.0)))
    }
  }

  /** The dense kernel's dispatch: the fast path within
    * `Ann.fastPathCap`, the block-matrix grid above it.
    */
  private def kernelPath(nq: Long, dim: Int, tile: Int): String =
    if (nq <= Ann.fastPathCap(dim, tile)) "fast-path" else "grid"

  /** Exact cosine top-10 over `nVectors` 64-d parquet vectors: one query
    * (TakeOrdered) and a batch of `nQueries` (TopK partial aggregate),
    * against a scan-only baseline — how much of search is parquet array
    * materialization versus scoring.
    */
  def topk(spark: SparkSession, a: Args): Fields = {
    val n = a.long(0, 1000000L)
    val nq = a.int(1, 8)
    hashVecs(spark, 10000, 64).agg(count(lit(1))).collect() // warmup
    val emb = staged(hashVecs(spark, n, 64), "scale")
    val (_, tScan) = seconds(emb.agg(sum(element_at(col("embedding"), 1))).collect())
    val q1 = hashVecs(spark, 1, 64).select(col("embedding").as("qv"))
    val (_, tSingle) = seconds(emb.crossJoin(broadcast(q1))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.score(col("embedding"), col("qv")).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(10).collect())
    val qs = hashVecs(spark, nq, 64).select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val (_, tBatch) = seconds(Ann.bruteForceTopK(emb, qs, 10).collect())
    Seq("n" -> n, "n_queries" -> nq, "scan_sec" -> tScan, "single_sec" -> tSingle,
      "batch_sec" -> tBatch, "mscores_per_sec" -> n * nq / tBatch / 1e6)
  }

  /** Does cosine top-k stay scan-bound as vectors widen from 64-d to the
    * reference's 1024-d (document_ingestor.py:86)? Total embedding bytes
    * are held constant (n·dim = `nVectors64`·64) across dim ∈ {64, 256,
    * 1024}: a codegen or JIT cliff in the dot-product loop would show as
    * 1024-d diverging. Cold and warm scans are split (the first pays
    * page-cache writeback), and the batch is re-run with a 512-row
    * columnar reader batch (the 4096-row default is 16 MB per thread at
    * 1024-d).
    */
  def dim(spark: SparkSession, a: Args): Fields = {
    val n64 = a.long(0, 2000000L)
    val nq = a.int(1, 8)
    hashVecs(spark, 10000, 64).agg(count(lit(1))).collect() // warmup
    val points = Seq(64, 256, 1024).map { dim =>
      val n = n64 * 64 / dim
      val emb = staged(hashVecs(spark, n, dim), s"dim$dim")
      val (_, tCold) = seconds(emb.agg(sum(element_at(col("embedding"), 1))).collect())
      val (_, tWarm) = seconds(emb.agg(sum(element_at(col("embedding"), 1))).collect())
      val qs = hashVecs(spark, nq, dim).select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val (_, tBatch) = seconds(Ann.bruteForceTopK(emb, qs, 10).collect())
      spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "512")
      val (_, tBatch512) = seconds(Ann.bruteForceTopK(emb, qs, 10).collect())
      spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "4096")
      ListMap("dim" -> dim, "n" -> n, "scan_cold_sec" -> tCold, "scan_warm_sec" -> tWarm,
        "batch_sec" -> tBatch, "batch_rb512_sec" -> tBatch512,
        "gflops" -> n.toDouble * nq * dim * 3 / tBatch / 1e9, // mul + add + square-acc
        "scored_gb_per_sec" -> n.toDouble * dim * 4 * nq / tBatch / 1e9)
    }
    Seq("n_queries" -> nq, "points" -> points)
  }

  /** MinHash signatures → banded LSH pairs → connected components over
    * `nDocs` ~20-token docs from a 50k vocab, where every 100th doc
    * copies its predecessor: every planted pair must surface
    * (planted_recall 1.000), so speed did not cost correctness.
    */
  def dedup(spark: SparkSession, a: Args): Fields = {
    val n = a.long(0, 100000L)
    val corpus = staged(spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 20).map(t =>
        concat(lit("w"), pmod(xxhash64(col("id") - (col("id") % 100 === 99).cast("long"),
          lit(t)), lit(50000)))): _*).as("text")), "dedup")
    corpus.count() // warm
    val (sigDf, tSig) = seconds(staged(
      graft.dedup.Dedup.minhashSignaturesTokens(corpus, 2, 8), "dedup-sig"))
    val pairs = graft.dedup.Dedup.minhashLshPairs(sigDf, 8, 2)
    val (nPairs, tLsh) = seconds(pairs.count())
    val planted = pairs.filter(col("db") === col("da") + 1 && col("db") % 100 === 99).count()
    val (nCanonical, tCc) = seconds(graft.dedup.Dedup.connectedComponents(corpus, pairs)
      .filter(col("doc_id") === col("cluster")).count())
    Seq("n_docs" -> n, "sig_sec" -> tSig, "lsh_sec" -> tLsh, "cc_sec" -> tCc,
      "docs_per_sec" -> n / (tSig + tLsh + tCc), "cand_pairs" -> nPairs,
      "n_canonical" -> nCanonical, "planted_recall" -> planted.toDouble / (n / 100))
  }

  /** The candidate-blocked near-dup operators at sizes where their
    * quadratic forms would be 10^8–10^9 comparisons: ED-Join-style
    * blocked levenshtein over `nDocs` ~30-token base-36 docs (every
    * 100th is its predecessor with the first char flipped) and
    * LSH-pruned leave-one-out 1-NN over `nVecs` 32-d vectors (every
    * 100th an exact copy). Both must keep full planted recall.
    */
  def nearDup(spark: SparkSession, a: Args): Fields = {
    val nDocs = a.long(0, 20000L)
    val nVecs = a.long(1, 50000L)
    // base-36 tokens ≈ natural-word character entropy (digit-only
    // tokens are a worst case for q-gram selectivity)
    val baseText = concat_ws(" ", (0 until 30).map(t =>
      conv(pmod(xxhash64(col("base_id"), lit(t)), lit(1500000)).cast("string"), 10, 36)): _*)
    val corpus = staged(spark.range(nDocs)
      .select(col("id").as("doc_id"),
        (col("id") - (col("id") % 100 === 99).cast("long")).as("base_id"))
      .select(col("doc_id"),
        when(col("doc_id") % 100 === 99, concat(lit("X"), substring(baseText, 2, 1000000)))
          .otherwise(baseText).as("text")), "ndup-docs")
    corpus.count() // warm
    val pairs = graft.dedup.Dedup.levenshteinPairs(corpus, prefixLen = 40, maxDist = 5, q = 4)
    val (nPairs, tLev) = seconds(pairs.count())
    val levPlanted = pairs.filter(col("db") === col("da") + 1 && col("db") % 100 === 99).count()

    val dim = 32
    val vecs = staged(spark.range(nVecs)
      .select(col("id").as("vec_id"),
        (col("id") - (col("id") % 100 === 99).cast("long")).as("base_id"),
        pmod(col("id"), lit(10)).as("label"))
      .select(col("vec_id"), col("label"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => (pmod(xxhash64(col("base_id"), i), lit(1000)) / 500.0 - 1.0).cast("float"))
          .as("embedding")), "ndup-emb")
    vecs.count() // warm
    val nn = Ann.knn1Lsh(vecs, nPlanes = 12, dim = dim)
    val (nAnswered, tKnn) = seconds(nn.count())
    val knnPlanted = nn.filter(col("va") % 100 === 99 && col("vb") === col("va") - 1 &&
      col("ns") <= 1e-9).count()
    Seq("n_docs" -> nDocs, "lev_sec" -> tLev, "lev_pairs" -> nPairs,
      "lev_planted_recall" -> levPlanted.toDouble / (nDocs / 100),
      "n_vecs" -> nVecs, "knn_sec" -> tKnn, "knn_answered" -> nAnswered,
      "knn_planted_recall" -> knnPlanted.toDouble / (nVecs / 100))
  }

  /** prefixFilterJaccard (t = 0.8) over `nDocs` ~20-token docs whose
    * tokens are skewed (tok = ⌊V·u²⌋, density ∝ 1/√tok) with the vocab
    * growing as the corpus does (V = max(50k, n), the Heaps-law regime):
    * the Zipfian case prefix filtering is designed for, where rare-first
    * order keeps hot tokens out of the join keys. Every 100th doc copies
    * its predecessor (J = 1), and the lemma makes recall exactly 1, so
    * planted_recall below 1.000 is a bug.
    */
  def prefixFilter(spark: SparkSession, a: Args): Fields = {
    val n = a.long(0, 500000L)
    val vocab = math.max(50000L, n)
    val corpus = staged(spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 20).map { t =>
        val src = col("id") - (col("id") % 100 === 99).cast("long")
        val u = pmod(xxhash64(src, lit(t)), lit(1000000L)) / lit(1000000.0)
        concat(lit("w"), floor(u * u * vocab).cast("long"))
      }: _*).as("text")), "pf")
    corpus.count() // warm
    val pairs = graft.dedup.Dedup.prefixFilterJaccard(corpus, 0.8)
    val (nPairs, tJoin) = seconds(pairs.count())
    val planted = pairs.filter(col("db") === col("da") + 1 && col("db") % 100 === 99).count()
    Seq("n_docs" -> n, "vocab" -> vocab, "join_sec" -> tJoin, "docs_per_sec" -> n / tJoin,
      "pairs" -> nPairs, "planted_recall" -> planted.toDouble / (n / 100))
  }

  /** asofJoin (views × clicks) and rangeJoinBucketed (clicks in 10-min
    * pre-purchase windows) over an `nRows`-event log of `nUsers` users:
    * both must stay equi-join / window shaped (linear shuffles, no
    * nested loops), so throughput extrapolates to cluster scale.
    */
  def joins(spark: SparkSession, a: Args): Fields = {
    val n = a.long(0, 20000000L)
    val users = a.long(1, 100000L)
    // ~n events over ~n seconds, 3 types
    val ev = staged(spark.range(n).select(
      col("id").as("event_id"),
      pmod(col("id") * 2654435761L, lit(users)).as("user_id"),
      (col("id") * 1000000L + pmod(col("id") * 40503L, lit(999983L))).as("ts"),
      element_at(array(lit("click"), lit("view"), lit("purchase")),
        (pmod(col("id") * 97L, lit(3L)) + 1).cast("int")).as("event_type")), "joins")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        (col("ts") - 600000000000L).as("st"), col("ts").as("en"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      .withColumnRenamed("ts", "bts")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts"))
    val (matched, tAsof) = seconds(
      graft.ops.Joins.asofJoin(views, clicks, Seq("user_id"), "ts", "bts")
        .filter(col("asof.bts").isNotNull).count())
    val (rangePairs, tRange) = seconds(graft.ops.Joins.rangeJoinBucketed(
      ev.filter(col("event_type") === "click").select(col("user_id"), col("ts")),
      purchases, Seq("user_id"), "ts", "st", "en", 600000000000L).count())
    Seq("rows" -> n, "users" -> users, "asof_sec" -> tAsof, "asof_matched" -> matched,
      "range_sec" -> tRange, "range_pairs" -> rangePairs)
  }

  /** The training-data pipeline operators over `nDocs` ~300-char docs
    * (every 10th leaks an email and a phone) and `nVecs` 64-d vectors:
    * PII scrub, token-budget selection, whitening, MMR, span-ngram
    * exact-substring dedup (~43 8-gram hashes per doc: one groupBy on the
    * gram, one join back), length-bucketed batching on a corpus where
    * 80% of docs share one token count (the shape the id-block level
    * exists for), and boundedRowNumber against a plain per-key
    * row_number on 5·nDocs rows where 80% share one key (the plain
    * window funnels the hot key into one sorting task).
    */
  def pipeline(spark: SparkSession, a: Args): Fields = {
    val nDocs = a.long(0, 1000000L)
    val nVecs = a.long(1, 1000000L)
    val vocab = array((0 until 100).map(i => lit(s"w$i")): _*)
    val d = staged(spark.range(nDocs).select(col("id").as("doc_id"),
      concat(
        concat_ws(" ", transform(sequence(lit(0), lit(49)),
          i => element_at(vocab, (pmod(xxhash64(col("id"), i), lit(100)) + 1).cast("int")))),
        when(pmod(col("id"), lit(10)) === 0,
          concat(lit(" u"), col("id").cast("string"), lit("@ex.com 555-123-4567")))
          .otherwise(lit(""))).as("text")), "pipe-docs")
    val e = staged(hashVecs(spark, nVecs, 64), "pipe-emb")
    d.count(); e.count() // warm file listing + codegen

    val (_, tPii) = seconds(graft.text.Pii.redact(d)
      .agg(sum(col("n_email")), sum(length(col("redacted")))).collect())
    val (_, tBudget) = seconds {
      val scored = d.select(col("doc_id"), lit(50L).as("n_tok"),
        (pmod(xxhash64(col("doc_id")), lit(10000)) / 10000.0).as("score"))
      graft.ops.Packing.selectByTokenBudget(scored, "doc_id", "n_tok", "score", nDocs * 25L)
        .agg(count(lit(1)), max("cum_tok")).collect()
    }
    val (_, tWhiten) = seconds(graft.embed.Whitening.whiten(e)
      .agg(sum(element_at(col("z"), 1))).collect())
    val (_, tMmr) = seconds {
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      graft.ann.Mmr.rerank(e.filter(col("vec_id") =!= 0), q, 50, 10, 0.5).collect()
    }
    val (_, tSpan) = seconds {
      val t = graft.text.TextPrimitives.tokens(col("text"))
      val grams = d.select(col("doc_id"), t.as("t"))
        .select(col("doc_id"), explode(
          when(size(col("t")) >= 8,
            transform(sequence(lit(1), size(col("t")) - 7),
              i => graft.functions.VectorFunctions.md5Long(
                concat_ws(" ", slice(col("t"), i, lit(8))))))
            .otherwise(array().cast("array<bigint>"))).as("g"))
      val dc = grams.groupBy("g").agg(countDistinct("doc_id").as("ndocs"))
      grams.join(dc, "g").groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup"))
        .agg(sum("n_dup"), count(lit(1))).collect()
    }
    val (_, tBatch) = seconds {
      val lens = d.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10)) < 8, lit(512L))
          .otherwise(pmod(xxhash64(col("doc_id")), lit(1024))).cast("long").as("n_tok"))
      graft.ops.Packing.bucketedBatches(lens, "doc_id", "n_tok",
        bucketWidth = 64L, nBuckets = 16, batchSize = 32, blockSize = 1L << 16).collect()
    }
    val hotKeyed = spark.range(5L * nDocs).select(
      when(pmod(col("id"), lit(10)) < 8, lit("hot"))
        .otherwise(concat(lit("k"), pmod(col("id"), lit(64)).cast("string"))).as("k"),
      col("id"))
    hotKeyed.count() // keep plan-shape cost out of the timings
    val (_, tBrn) = seconds(graft.ops.Packing.boundedRowNumber(hotKeyed, Seq("k"), "id",
      1L << 16, "r").agg(max("r"), count(lit(1))).collect())
    val (_, tPlainRn) = seconds(hotKeyed.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")))
      .agg(max("r"), count(lit(1))).collect())
    Seq("n_docs" -> nDocs, "n_vecs" -> nVecs,
      "pii_sec" -> tPii, "pii_docs_per_sec" -> nDocs / tPii,
      "budget_sec" -> tBudget, "budget_docs_per_sec" -> nDocs / tBudget,
      "whiten_sec" -> tWhiten, "whiten_vecs_per_sec" -> nVecs / tWhiten,
      "mmr_sec" -> tMmr, "mmr_vecs_per_sec" -> nVecs / tMmr,
      "span_sec" -> tSpan, "span_grams_per_sec" -> nDocs * 43 / tSpan,
      "batch_sec" -> tBatch, "batch_docs_per_sec" -> nDocs / tBatch,
      "brn_sec" -> tBrn, "plain_rn_sec" -> tPlainRn, "brn_rows" -> 5L * nDocs)
  }

  /** Three operators whose cost must stay linear in N:
    * - the Gramian treeAggregate kernel (CovMoments) over `nVecs`
    *   vectors at d ∈ {64, 256}: per-vector cost is one fused
    *   multiply-add loop, per-task state d² doubles, no shuffle growth;
    * - the capped minhash-LSH candidate join over `nDocs` docs, 10% of
    *   which share one text: the cap keeps the hot bucket from going
    *   quadratic (the uncapped form would materialize ~(N/10)² pairs
    *   and is not run);
    * - stat_bootstrap's ×32 Poisson-weight fan-out over `nRows` facts,
    *   map-side into one hash aggregate.
    */
  def gramianLshBootstrap(spark: SparkSession, a: Args): Fields = {
    val nVecs = a.long(0, 200000L)
    val nDocs = a.long(1, 500000L)
    val n = a.long(2, 20000000L)
    val gramian = Seq(64, 256).flatMap { d =>
      val emb = staged(spark.range(nVecs).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(d - 1)),
          i => (pmod(col("id") * (i + lit(13L)), lit(1000L)).cast("double") / 500.0 - 1.0)
            .cast("float")).as("embedding")), s"gram$d")
      emb.count() // warm page cache
      Seq(s"gramian_d${d}_sec" -> seconds(graft.embed.CovMoments.moments(emb))._2,
        s"gramian_d${d}_2nd_sec" -> seconds(graft.embed.CovMoments.moments(emb))._2)
    }
    val docs = staged(spark.range(nDocs).select(col("id").as("doc_id"),
      when(col("id") % 10 === 0, lit("the same boilerplate body of text"))
        .otherwise(concat_ws(" ",
          md5(col("id").cast("string")),
          md5((col("id") * 31L).cast("string")),
          md5((col("id") * 131L).cast("string")))).as("text")), "lsh")
    docs.count()
    import graft.dedup.Dedup
    val (_, tLsh) = seconds(Dedup.minhashLshPairs(
      Dedup.minhashSignaturesMapSide(docs, 5, 8), 8, 2).count())
    val (_, tOverflow) = seconds(Dedup.lshOverflow(
      Dedup.minhashSignaturesMapSide(docs, 5, 8), 8, 2).count())
    val vals = staged(spark.range(n).select(col("id").as("event_id"),
      (pmod(col("id") * 7919L, lit(1000L)).cast("double") / 100.0).as("value")), "vals")
    vals.count()
    val (_, tBoot) = seconds {
      import graft.functions.VectorFunctions.md5Long
      val u = (pmod(md5Long(concat(lit("bs:"),
        col("event_id").cast("string"), lit(":"), col("b").cast("string"))),
        lit(1000000)).cast("double") + 0.5) / 1000000.0
      val w = when(u < 0.367879, 0).when(u < 0.735759, 1)
        .when(u < 0.919699, 2).when(u < 0.981012, 3)
        .when(u < 0.996340, 4).when(u < 0.999406, 5).otherwise(6)
      vals.withColumn("b", explode(sequence(lit(0L), lit(31L))))
        .withColumn("w", w.cast("double"))
        .groupBy("b")
        .agg(sum(col("w") * col("value")).as("sv"), sum("w").as("sw"))
        .count()
    }
    Seq("n_vecs" -> nVecs, "n_docs" -> nDocs, "n_rows" -> n) ++ gramian ++
      Seq("capped_lsh_sec" -> tLsh, "lsh_overflow_sec" -> tOverflow,
        "bootstrap_x32_sec" -> tBoot)
  }

  /** Three rank shapes at N and 2N, which must stay ~linear:
    * - samp_matched_pairs' rank by Packing.boundedRowNumber over
    *   `nUsers` users, where a plain per-(band, arm) row_number would
    *   funnel a quarter of all users through one window task;
    * - stat_conformal's order statistic over `nOrders` orders, read off
    *   the DISTINCT-cents histogram (values, never rows: hist_rows must
    *   not grow with the facts);
    * - pipe_padding_waste's two global ranks over `nDocs` docs from the
    *   distributed range-sort + zipWithIndex (Ranking.withGlobalRank),
    *   with no single-partition stage.
    */
  def rankScans(spark: SparkSession, a: Args): Fields = {
    val nUsers = a.long(0, 2000000L)
    val nOrders = a.long(1, 10000000L)
    val nDocs = a.long(2, 2000000L)
    val pairs = Seq(1L, 2L).map(_ * nUsers).map { n =>
      val users = spark.range(n).select(col("id").as("user_id"),
        (col("id") % 4).as("band"), (col("id") % 2).as("arm"),
        (col("id") % 1000).cast("double").as("spend"))
      val (_, sec) = seconds {
        val r = graft.ops.Packing.boundedRowNumber(
          users, Seq("band", "arm"), "user_id", 1L << 20, "rn")
        val t = r.filter(col("arm") === 1).select(col("band"), col("rn"), col("spend").as("st"))
        val c = r.filter(col("arm") === 0).select(col("band"), col("rn"), col("spend").as("sc"))
        t.join(c, Seq("band", "rn")).groupBy("band")
          .agg(count(lit(1)), sum(col("st") - col("sc"))).collect()
      }
      ListMap("n" -> n, "sec" -> sec)
    }
    val conformal = Seq(1L, 2L).map(_ * nOrders).map { n =>
      // cents domain bounded at 5e6 distinct values
      val o = spark.range(n).select((col("id") % 5000000L).as("c"), (col("id") % 2).as("h"))
      val ((nh, qhat), sec) = seconds {
        val hist = o.filter(col("h") === 0).groupBy("c").agg(count(lit(1)).as("cnt"))
        val nh = hist.count()
        val w = org.apache.spark.sql.expressions.Window.orderBy("c")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val q = hist.withColumn("cum", sum("cnt").over(w))
          .filter(col("cum") >= lit((n / 2 * 9) / 10))
          .orderBy("c").limit(1).collect()
        (nh, q.headOption.map(_.getLong(0)))
      }
      ListMap("n" -> n, "sec" -> sec, "hist_rows" -> nh, "qhat" -> qhat)
    }
    val padding = Seq(1L, 2L).map(_ * nDocs).map { n =>
      val docs = spark.range(n).select(col("id").as("doc_id"),
        pmod(col("id") * 2654435761L, lit(2048L)).as("nt"))
      val (_, sec) = seconds {
        Seq(Seq(col("doc_id")), Seq(col("nt"), col("doc_id"))).foreach { ord =>
          graft.ops.Ranking.withGlobalRank(docs, "r", ord: _*)
            .withColumn("b", expr("(r - 1) DIV 8"))
            .groupBy("b").agg(sum("nt").as("st"), max("nt").as("mx"))
            .agg(count(lit(1)), sum("st"), sum("mx")).collect()
        }
      }
      ListMap("n" -> n, "sec" -> sec)
    }
    Seq("matched_pairs" -> pairs, "conformal" -> conformal, "padding_ranks" -> padding)
  }

  private def liveHeapMb(): Long = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) >> 20
  }

  /** The dense kernel over its cap: `nQueries` and twice that through
    * the `Ann.denseKernelTopK` dispatch against an `nCorpus` × `dim`
    * in-memory corpus, with the path taken, wall time and live heap
    * after each. Live heap must stay ~flat in the query doubles as the
    * batch doubles (the retained nq × k result rows are what grows).
    * `tile` forces the grid: at 1024-d the default cap is 8192 queries,
    * so 4096 queries at tile 1024 run a grid. Row-equality of both paths
    * is pinned in AnnSpec; this is the time and memory half.
    */
  def kernelTiles(spark: SparkSession, a: Args): Fields = {
    val nQueries = a.long(0, 4096L)
    val nCorpus = a.long(1, 12000L)
    val dim = a.int(2, 1024)
    val tile = a.int(3, 1 << 16)
    val corpus = arithVecs(spark, nCorpus, dim, 0)
      .select(col("qid").as("vec_id"), col("qv").as("embedding"))
      .localCheckpoint(eager = true) // fixture, not measured
    val (gridTile, _) = Ann.kernelPackingCaps(dim, tile, Ann.defaultKernelBlockRows)
    val points = Seq(1L, 2L).map(_ * nQueries).map { nq =>
      val q = arithVecs(spark, nq, dim, 1L << 32)
      val (rows, sec) = seconds(Ann.denseKernelTopK(corpus, q, 5, Ann.Cosine, tile = tile).count())
      require(rows == nq * 5, s"expected ${nq * 5} rows, got $rows")
      ListMap("nq" -> nq, "path" -> kernelPath(nq, dim, tile),
        "grid_tiles" -> (nq + gridTile - 1) / gridTile, "rows" -> rows, "sec" -> sec,
        "live_heap_mb" -> liveHeapMb())
    }
    Seq("corpus" -> nCorpus, "dim" -> dim, "tile" -> tile,
      "cap" -> Ann.fastPathCap(dim, tile), "points" -> points)
  }

  /** The block-matrix grid scans its corpus ONCE however many query
    * tiles the batch spans (a tiled loop would pay tiles × corpus
    * scans). The corpus counts its partition passes; over `nQueries`,
    * 2× and 4× that, split into `tile`-query tiles, the count must stay
    * at one pass per partition (slack for AQE stage retries) while the
    * tile count grows. Row counts are asserted, so the claim is about a
    * kernel that produced the full answer.
    */
  def gridScans(spark: SparkSession, a: Args): Fields = {
    val nQueries = a.long(0, 60000L)
    val nCorpus = a.long(1, 10000L)
    val dim = a.int(2, 8)
    val tile = a.int(3, 1 << 13)
    val scans = spark.sparkContext.longAccumulator("corpusScans")
    val corpus = scannedCorpus(spark, nCorpus, dim, scans).toDF("vec_id", "embedding")
    val points = Seq(1L, 2L, 4L).map(_ * nQueries).map { nq =>
      scans.reset()
      val (rows, sec) = seconds(Ann.denseKernelTopK(corpus, arithVecs(spark, nq, dim, 1L << 32),
        5, Ann.Cosine, tile = tile).count())
      val passes = scans.value / 16.0
      require(rows == nq * 5, s"expected ${nq * 5} rows, got $rows")
      require(passes <= 1.5, f"corpus scanned $passes%.1f times for one batch")
      ListMap("nq" -> nq, "path" -> kernelPath(nq, dim, tile),
        "tiles" -> (nq + tile - 1) / tile, "rows" -> rows, "sec" -> sec,
        "corpus_scans" -> passes)
    }
    Seq("corpus" -> nCorpus, "dim" -> dim, "tile" -> tile, "points" -> points)
  }

  /** The grid at the reference's production dim (1024-d, the Qdrant
    * collection shape of document_ingestor.py:86):
    * 1. the dim-aware packing caps (Ann.kernelPackingCaps) engage; the
    *    corpus must still be scanned once per batch;
    * 2. fast path against the grid forced on the same batches
    *    (`nqBase` and 2×), then the dispatch at 4× and just over the
    *    cap — what the cap costs at this dim;
    * 3. the grid's nSlots sweep at 4×: its replication volume is
    *    corpus × nTiles + queries × nSlots, and at 1024-d a query tile
    *    is 32 MB. Run the sweep forward and reversed: every point
    *    shares one JVM, so drift in time would pass for a slot effect.
    */
  def grid1024d(spark: SparkSession, a: Args): Fields = {
    val nCorpus = a.long(0, 20000L)
    val dim = a.int(1, 1024)
    val nqBase = a.long(2, 2048L)
    val slotSweep = a.str(3, "4,16,32").split(',').toSeq.map(_.toInt)
    val (tileEff, blockRowsEff) =
      Ann.kernelPackingCaps(dim, Ann.defaultKernelTile, Ann.defaultKernelBlockRows)
    val scans = spark.sparkContext.longAccumulator("corpusScans")
    val corpus = scannedCorpus(spark, nCorpus, dim, scans).toDF("vec_id", "embedding")
    def run(label: String, path: String, nq: Long)(kernel: DataFrame => Long) = {
      scans.reset()
      val (rows, sec) = seconds(kernel(arithVecs(spark, nq, dim, 1L << 32)))
      val passes = scans.value / 16.0
      require(rows == nq * 5, s"expected ${nq * 5} rows, got $rows")
      require(passes <= 1.5, f"corpus scanned $passes%.1f times at dim=$dim")
      ListMap("run" -> label, "path" -> path, "nq" -> nq, "rows" -> rows, "sec" -> sec,
        "corpus_scans" -> passes)
    }
    def dispatched(q: DataFrame) = Ann.denseKernelTopK(corpus, q, 5, Ann.Cosine).count()
    def grid(q: DataFrame, slots: Option[Int]) =
      Ann.blockedTop(corpus, q, 5, Ann.Cosine, nSlotsOverride = slots)
        .select(col("qid"), explode(col("top"))).count()
    val tile = Ann.defaultKernelTile
    val cap = Ann.fastPathCap(dim, tile)
    val sameBatch = Seq(1L, 2L).map(_ * nqBase).flatMap { nq =>
      Seq(run("dispatched", kernelPath(nq, dim, tile), nq)(dispatched),
        run("grid-forced", "grid", nq)(grid(_, None)))
    }
    val nqBig = nqBase * 4
    val straddle = Seq(nqBig, cap + nqBase).map(nq =>
      run("dispatched", kernelPath(nq, dim, tile), nq)(dispatched))
    val slots = slotSweep.map(s => run(s"grid-slots-$s", "grid", nqBig)(grid(_, Some(s))))
    Seq("dim" -> dim, "corpus" -> nCorpus, "tile_eff" -> tileEff,
      "block_rows_eff" -> blockRowsEff, "cap" -> cap,
      "runs" -> (sameBatch ++ straddle ++ slots))
  }

  /** The grid's constant factor, each piece timed alone (by default
    * 4096 queries against a 20000-row corpus at 1024-d): 16 packed
    * primitive rows of nQueries × dim doubles (32 MB at the defaults)
    * and the same bytes as nested (id, vector) arrays, each built alone
    * and through a repartition shuffle (serde cost); query-side
    * generation and decode; corpus generation; and the exact cosine
    * kernel alone, broadcast-style with no shuffle (FLOP cost).
    */
  def gridParts(spark: SparkSession, a: Args): Fields = {
    import spark.implicits._
    val nq = a.int(0, 4096); val nCorpus = a.long(1, 20000L); val dim = a.int(2, 1024)
    val nRep = 16
    def timed(label: String)(f: => Any) = s"${label}_sec" -> seconds(f)._2
    def packedRows(n: Int) = spark.range(n).map { i =>
      (i, new Array[Long](nq), new Array[Int](nq),
        Array.tabulate(nq * dim)(j => ((j + i) % 101 - 50) / 50.0))
    }
    def nestedRows(n: Int) = spark.range(n).map { i =>
      (i, Array.tabulate(nq)(q => (q.toLong,
        Array.tabulate(dim)(d => ((q + d + i) % 101 - 50) / 50.0))))
    }
    val vecs = arithVecs(spark, nq, dim, 1L << 32)
    val corpus = scannedCorpus(spark, nCorpus, dim, spark.sparkContext.longAccumulator)
    val bq = spark.sparkContext.broadcast(Array.tabulate(nq)(q =>
      Array.tabulate(dim)(d => ((q * 31 + d * 17) % 101 - 50) / 50.0)))
    val fields = Seq(
      timed("warmup")(spark.range(1000000).count()),
      timed("packed_build")(packedRows(nRep).map(_._4.length.toLong).reduce(_ + _)),
      timed("packed_shuffle")(packedRows(nRep).repartition(nRep, col("_1"))
        .map(_._4.length.toLong).reduce(_ + _)),
      timed("nested_build")(nestedRows(nRep).map(_._2.length.toLong).reduce(_ + _)),
      timed("nested_shuffle")(nestedRows(nRep).repartition(nRep, col("_1"))
        .map(_._2.length.toLong).reduce(_ + _)),
      timed("query_gen")(vecs.agg(count(lit(1)), max(size(col("qv")))).head()),
      timed("query_decode")(vecs.select(col("qid").as("_1"), col("qv").as("_2"))
        .as[(Long, Array[Double])].map(_._2.length.toLong).reduce(_ + _)),
      timed("corpus_gen")(corpus.map(_._2.length.toLong).reduce(_ + _)),
      timed("kernel")(corpus.mapPartitions { it =>
        val qs = bq.value
        val kern = Ann.cosineRounded6Kernel
        var acc = 0L
        it.foreach { case (_, v) =>
          var qi = 0
          while (qi < qs.length) { if (kern(v, qs(qi)) > 2.0) acc += 1; qi += 1 }
        }
        Iterator.single(acc)
      }.reduce(_ + _)))
    bq.destroy()
    Seq("dim" -> dim, "n_queries" -> nq, "corpus" -> nCorpus) ++ fields
  }
}
