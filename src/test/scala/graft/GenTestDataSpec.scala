package graft

import org.apache.spark.sql.functions._

/** Pins the sf-corpus generator's SHAPE invariants (GenTestData) so a
  * future edit can't silently drift the flush corpora away from the
  * measured /root/testdata distributions: schemas, categorical
  * domains, scaling curve, and the documents dup-injection structure
  * that the dedup family's oracle sweeps rely on. Runs at sf=0.02 (a
  * ~120k-row lineitem) into a temp dir — small enough for the suite,
  * big enough that the 5%-near-dup / ~0.2%-exact-dup rates are
  * populated.
  */
class GenTestDataSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = SparkSpec.tempDir("graft-gen").toString
    GenTestData.write(spark, d, 0.02)
    d
  }

  test("row counts follow the measured scaling curve") {
    def n(t: String): Long = spark.read.parquet(s"$dir/$t.parquet").count()
    assert(n("region") == 5 && n("nation") == 25)
    assert(n("customer") == 3000 && n("supplier") == 200 && n("part") == 4000)
    assert(n("orders") == 30000 && n("lineitem") == 120000)
    assert(n("events") == 20000 && n("documents") == 1000)
    // embeddings grow 4x per 10x sf (the driver corpus's curve)
    val v = n("embeddings")
    assert(v >= 750 && v <= 850, s"embeddings count $v off the 4x-per-10x curve")
  }

  test("schemas and categorical domains match the reference corpus") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(li.columns.toSeq == Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate"))
    val flags = li.select("l_returnflag").distinct().collect().map(_.getString(0)).toSet
    assert(flags == Set("A", "N", "R"))
    val disc = li.agg(min("l_discount"), max("l_discount")).head()
    assert(disc.getDouble(0) == 0.0 && disc.getDouble(1) == 0.1)
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val types = ev.select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(types == Set("click", "error", "purchase", "signup", "view"))
    // ts spans Jan 2024 with sub-second precision (the TIMESTAMP the
    // Tables.events nanos contract normalizes)
    val span = ev.agg(min("ts").cast("date").cast("string"),
      max("ts").cast("date").cast("string")).head()
    assert(span.getString(0).startsWith("2024-01") &&
      span.getString(1).startsWith("2024-01"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs == Set("en", "de", "es", "fr", "zh"))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(emb.schema("embedding").dataType.simpleString == "array<float>")
    // emb_knn_vote's kernel drops null query vectors where its oracle
    // keeps them: the generator emits no null vector, each one 64-d
    assert(emb.filter(col("embedding").isNull).isEmpty)
    assert(emb.select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSet == Set(64))
  }

  test("documents carry the dup-injection structure the dedup sweeps need") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .localCheckpoint(eager = false)
    val n = docs.count()
    // ~5% near-dups: an original doc's text + the " dup" marker token
    val near = docs.filter(col("text").endsWith(" dup")).count()
    assert(near >= n / 40 && near <= n / 12, s"near-dup count $near of $n")
    // near-dups really are copies: stripping the marker matches some
    // other doc's text exactly
    val stripped = docs.filter(col("text").endsWith(" dup"))
      .select(expr("substring(text, 1, length(text) - 4)").as("base"),
        col("doc_id").as("dup_id"))
    val matched = stripped.join(docs, stripped("base") === docs("text")).count()
    assert(matched >= near, s"only $matched of $near near-dups match a source")
    // n_chars is derived from the final text (dup copies included)
    assert(docs.filter(col("n_chars") =!= length(col("text"))).count() == 0)
    // determinism: a second generation is byte-identical row-for-row
    val d2 = SparkSpec.tempDir("graft-gen2").toString
    GenTestData.write(spark, d2, 0.02)
    val again = spark.read.parquet(s"$d2/documents.parquet")
    assert(docs.exceptAll(again).isEmpty && again.exceptAll(docs).isEmpty)
  }

  private lazy val skewDir: String = {
    val d = SparkSpec.tempDir("graft-gen-skew").toString
    GenTestData.write(spark, d, 0.02, skew = 1.5)
    d
  }

  test("skew knob: zipfian keys hit top-1 share >= 20%, domains intact, default unchanged") {
    val d = skewDir
    def top1Share(table: String, key: String): Double = {
      val df = spark.read.parquet(s"$d/$table.parquet")
      val top = df.groupBy(key).count().orderBy(col("count").desc)
        .head.getLong(1).toDouble
      top / df.count()
    }
    // the r16 ask's bar: zipfian user/join keys, top-1 share >= 20%
    assert(top1Share("events", "user_id") >= 0.2)
    assert(top1Share("lineitem", "l_orderkey") >= 0.2)
    assert(top1Share("lineitem", "l_partkey") >= 0.2)
    assert(top1Share("lineitem", "l_suppkey") >= 0.2)
    assert(top1Share("orders", "o_custkey") >= 0.2)
    // hot event type ~60%, full five-type domain preserved so every
    // type-keyed oracle still has rows
    val ev = spark.read.parquet(s"$d/events.parquet")
    val tt = ev.groupBy("event_type").count().orderBy(col("count").desc).head
    assert(tt.getString(0) == "click" && tt.getLong(1).toDouble / ev.count() >= 0.5)
    assert(ev.select("event_type").distinct().count() == 5)
    // keys stay inside their referential domains (clamped zipf)
    val nOrders = spark.read.parquet(s"$d/orders.parquet").count()
    val okRange = spark.read.parquet(s"$d/lineitem.parquet")
      .agg(min("l_orderkey"), max("l_orderkey")).head
    assert(okRange.getLong(0) >= 0 && okRange.getLong(1) < nOrders)
    // the default-skew corpus is untouched by the knob: its top user
    // holds a sliver, not a fifth
    val ev0 = spark.read.parquet(s"$dir/events.parquet")
    val top0 = ev0.groupBy("user_id").count().orderBy(col("count").desc)
      .head.getLong(1).toDouble
    assert(top0 / ev0.count() < 0.05)
  }

  test("profiledJoin engages salting on the skewed corpus, stays plain on uniform") {
    // the r16 ask's point: the skew machinery had only ever met
    // synthetic crossing corpora in unit specs — here it meets the
    // GENERATOR's zipf output. top-1 l_orderkey share ~29% at s=1.5
    // crosses the 20% hotShare bar; the uniform corpus (~Poisson(4)
    // per key) stays far under it.
    val ordS = spark.read.parquet(s"$skewDir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val pjS = graft.ops.Skew.profiledJoin(
      spark.read.parquet(s"$skewDir/lineitem.parquet"), ordS, "l_orderkey", 8)
    assert(pjS.salted && pjS.top1Share >= 0.2,
      s"skewed corpus: salted=${pjS.salted} share=${pjS.top1Share}")
    val ordU = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val pjU = graft.ops.Skew.profiledJoin(
      spark.read.parquet(s"$dir/lineitem.parquet"), ordU, "l_orderkey", 8)
    assert(!pjU.salted && pjU.top1Share < 0.05,
      s"uniform corpus: salted=${pjU.salted} share=${pjU.top1Share}")
    // both forms return the same joined row count (salting is a
    // plan-shape change, not a semantics change)
    assert(pjS.df.count() ==
      spark.read.parquet(s"$skewDir/lineitem.parquet").join(ordS, Seq("l_orderkey")).count())
  }
}
