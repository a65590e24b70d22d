package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1-shaped synthetic corpus generator (round 15, VERDICT ask 3).
  *
  * /root/testdata tops out at sf0.1, so the 10×-flush discipline
  * (which caught two real SF-dependent degeneracies at sf0.1 in
  * round 14) needs a self-generated sf1. This reproduces the driver
  * generator's SHAPE — measured off the real sf0.1 tables, see the
  * per-table notes — at 10× the row counts: same schemas, same
  * categorical domains, same value ranges/quantization, same
  * dup-injection structure in `documents`. Values are derived from
  * xxhash64 of (table, column, id), so generation is deterministic,
  * partition-invariant, and embarrassingly parallel — the same
  * generator would emit a 100 TB corpus on a real cluster by just
  * raising `sf`.
  *
  * The correctness sweep then runs engine-vs-oracle on THESE files
  * (Verify dumps Spark results; tools/check.py runs the same SQL in
  * DuckDB over the same parquet), so the generator doesn't need to
  * match the driver's RNG — only its shape — for the sweep to be a
  * real 554-query adjudication at sf1.
  *
  * runMain graft.GenTestData <outDir> [sf]   (sf defaults to 1.0)
  */
object GenTestData {

  /** uniform double in [0,1) from a salted per-row hash */
  private def u(salt: String): org.apache.spark.sql.Column =
    (pmod(xxhash64(lit(salt), col("id")), lit(1000000007L)).cast("double")
      / 1000000007.0)

  /** uniform long in [0,n) */
  private def ui(salt: String, n: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(lit(salt), col("id")), lit(n))

  /** Zipf(s)-distributed long in [0,n) — the skew knob (r16 ask 2).
    * Rank via the Pareto inverse transform floor(u^(-1/(s-1))),
    * clamped to the domain: rank 0's share is 1 − 2^−(s−1) (~29% at
    * s = 1.5), rank k's ∝ k^−s asymptotically — the hot-key property
    * guaranteed at 100 TB that the uniform flush corpora never
    * exercised. s ≤ 1 (incl. the default 0) falls through to the
    * uniform draw, byte-identical to the pre-knob generator.
    */
  private def zi(salt: String, n: Long, s: Double): org.apache.spark.sql.Column =
    if (s <= 1.0) ui(salt, n)
    else {
      val u = ((pmod(xxhash64(lit(salt), col("id")), lit(1000000007L))
        .cast("double") + 1.0) / 1000000007.0) // (0, 1]
      least(lit(n - 1), floor(pow(u, lit(-1.0 / (s - 1.0)))).cast("long") - 1)
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: GenTestData <outDir> [sf] [skew]")
    val out = args(0)
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    val skew = if (args.length > 2) args(2).toDouble else 0.0
    val spark = Harness.session()
    write(spark, out, sf, skew)
    spark.stop()
  }

  /** skew > 1 draws the high-cardinality keys (events.user_id,
    * orders.o_custkey, lineitem's three join keys, documents.source)
    * from [[zi]] and weights event_type ~60/15/10/8/7 instead of
    * uniform; skew = 0 (default) is the original uniform generator,
    * byte-identical.
    */
  def write(spark: SparkSession, out: String, sf: Double,
            skew: Double = 0.0): Unit = {
    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nLine = (6000000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    // embeddings grew 4× per 10× sf in the driver corpus (500 @0.01,
    // 2000 @0.1) — keep that curve: 8000 @1
    val nVecs = (2000 * math.pow(sf / 0.1, math.log(4) / math.log(10))).toLong

    def save(df: DataFrame, name: String): Unit = {
      df.coalesce(math.max(1, (8 * sf).toInt))
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[gen] $name: written")
    }

    // region/nation: fixed dimension tables (same at every sf)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(lit(regions.toArray), col("id").cast("int") + 1).as("r_name")),
      "region")
    save(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")

    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    save(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui("c_nat", 25).cast("int").as("c_nationkey"),
      round(u("c_bal") * 10999.99 - 1000.0, 2).as("c_acctbal"),
      element_at(lit(segments.toArray), (ui("c_seg", 5) + 1).cast("int"))
        .as("c_mktsegment")), "customer")

    save(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui("s_nat", 25).cast("int").as("s_nationkey"),
      round(u("s_bal") * 10999.99 - 1000.0, 2).as("s_acctbal")), "supplier")

    val adjs = Seq("large", "hot", "blue", "small", "red", "green", "shiny", "dull")
    val nouns = Seq("ring", "bolt", "gear", "cap", "pin", "rod", "nut", "disk")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    save(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        element_at(lit(adjs.toArray), (ui("p_adj", adjs.size) + 1).cast("int")),
        element_at(lit(nouns.toArray), (ui("p_nn", nouns.size) + 1).cast("int")))
        .as("p_name"),
      concat(lit("Brand#"), (ui("p_br", 25) + 1)).as("p_brand"),
      element_at(lit(types.toArray), (ui("p_ty", types.size) + 1).cast("int"))
        .as("p_type"),
      (ui("p_sz", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + u("p_pr") * 99.9, 2).as("p_retailprice")), "part")

    // orders: dates uniform 1995-01-01..2001-08-01 (2404 day span),
    // status/priority uniform and date-independent (measured)
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    save(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      zi("o_cust", nCust, skew).as("o_custkey"),
      element_at(lit(Array("O", "P", "F")), (ui("o_st", 3) + 1).cast("int"))
        .as("o_orderstatus"),
      round(lit(1000.0) + u("o_tp") * 499000.0, 2).as("o_totalprice"),
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        ui("o_dt", 2404).cast("int"))).as("o_orderdate"),
      element_at(lit(prios.toArray), (ui("o_pr", 5) + 1).cast("int"))
        .as("o_orderpriority")), "orders")

    // lineitem: orderkey by hash (lines/order ~Poisson(4), some orders
    // line-less, like the source); shipdate = an independent
    // orderdate-draw + 1..95 days (measured span 1995-01-02..
    // 2001-11-04, lag vs own order both signs)
    save(spark.range(nLine).select(
      zi("l_ok", nOrders, skew).as("l_orderkey"),
      zi("l_pk", nPart, skew).as("l_partkey"),
      zi("l_sk", nSupp, skew).as("l_suppkey"),
      (ui("l_ln", 7) + 1).cast("int").as("l_linenumber"),
      (ui("l_qt", 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u("l_ep") * 104100.0, 2).as("l_extendedprice"),
      (ui("l_di", 11).cast("double") / 100.0).as("l_discount"),
      (ui("l_tx", 9).cast("double") / 100.0).as("l_tax"),
      element_at(lit(Array("A", "N", "R")), (ui("l_rf", 3) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(lit(Array("F", "O")), (ui("l_ls", 2) + 1).cast("int"))
        .as("l_linestatus"),
      to_timestamp(date_add(date_add(lit("1995-01-01").cast("date"),
        ui("l_sd", 2404).cast("int")), (ui("l_sl", 95) + 1).cast("int")))
        .as("l_shipdate")), "lineitem")

    // events: Jan-2024 micro-precision timestamps, uniform users/types,
    // value ~ Exp(mean 50) rounded to cents, props a tiny JSON
    save(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros((lit(1704067200000000L) +
        pmod(xxhash64(lit("e_ts"), col("id")), lit(30L * 86400 * 1000000)))
        .cast("long")).as("ts"),
      zi("e_us", nUsers, skew).as("user_id"),
      (if (skew <= 1.0)
        element_at(lit(Array("click", "error", "purchase", "signup", "view")),
          (ui("e_ty", 5) + 1).cast("int"))
      else
        // zipf-weighted categorical: one hot type (~60%), full domain
        // preserved so every type-keyed oracle still has rows
        when(u("e_ty") < 0.60, "click").when(u("e_ty") < 0.75, "view")
          .when(u("e_ty") < 0.85, "purchase").when(u("e_ty") < 0.93, "signup")
          .otherwise("error")).as("event_type"),
      round(-log(lit(1.0) - u("e_va")) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", ui("e_k", 100)).as("props")), "events")

    // documents: 30-word vocab (28 content + stopwords 'the'/'a'),
    // n_tok uniform 10..100; 5% near-dups = an earlier doc's text +
    // " dup"; ~0.16% exact dups of an earlier doc (both measured)
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group",
      "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
      "row", "the", "agg", "key", "query", "a", "scan", "batch")
    val base = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(
        sequence(lit(0L), ui("d_nt", 91) + 9),
        i => element_at(lit(vocab.toArray),
          (pmod(xxhash64(lit("d_w"), col("id"), i), lit(30)) + 1).cast("int"))))
        .as("base_text"),
      when(u("d_lang") < 0.4, "en").when(u("d_lang") < 0.55, "de")
        .when(u("d_lang") < 0.70, "es").when(u("d_lang") < 0.85, "fr")
        .otherwise("zh").as("lang"),
      concat(lit("src"), zi("d_src", 20, skew)).as("source"),
      // dup roles: 0 = original, 1 = near-dup (+" dup"), 2 = exact dup
      when(ui("d_role", 1000) < 50, 1)
        .when(ui("d_role", 1000) >= 998, 2).otherwise(0).as("role"),
      ui("d_srcdoc", math.max(1, nDocs / 2)).as("src_doc"))
    val originals = base.filter(col("role") === 0)
      .select(col("doc_id").as("src_doc"), col("base_text").as("src_text"))
    val docs = base.join(originals, Seq("src_doc"), "left")
      .select(col("doc_id"),
        when(col("role") === 1 && col("src_text").isNotNull,
          concat(col("src_text"), lit(" dup")))
          .when(col("role") === 2 && col("src_text").isNotNull, col("src_text"))
          .otherwise(col("base_text")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    save(docs.orderBy("doc_id"), "documents")

    // embeddings: 64-d float ~N(0, 0.1) with a small per-label mean
    // shift (the source's within-label cosine is ~0.001 — barely
    // clustered), label uniform 0..9
    val dim = 64
    save(spark.range(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), d => {
        val u1 = (pmod(xxhash64(lit("v_a"), col("id"), d), lit(1000000007L))
          .cast("double") + 1.0) / 1000000008.0
        val u2 = (pmod(xxhash64(lit("v_b"), col("id"), d), lit(1000000007L))
          .cast("double") / 1000000007.0)
        val gauss = sqrt(lit(-2.0) * log(u1)) * cos(lit(2 * math.Pi) * u2)
        (gauss * 0.1 +
          when(pmod(col("id"), lit(10)) === pmod(d, lit(10)), 0.01)
            .otherwise(0.0))
          .cast("float")
      }).as("embedding"),
      pmod(xxhash64(lit("v_lb"), col("id")), lit(10)).cast("int").as("label")),
      "embeddings")
  }
}
