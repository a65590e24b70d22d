package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{md5Long, score}
import graft.text.TextPrimitives

/** Deduplication operators for training-data pipelines.
  *
  * Every operator is a shuffle-bounded DataFrame transform:
  * - exact: one hash-groupBy (map-side partial agg).
  * - MinHash: shingle explode → one groupBy computing all k mins in a
  *   single pass (no per-hash-function shuffle).
  * - LSH bands: shuffle carries only (band, band_hash) pairs, never
  *   full shingle sets — the 100 TB-safe candidate generation.
  * - SimHash: one groupBy with 32 conditional sums → 19,900-pair
  *   bounded self-join on the small signature table.
  *
  * The hash family is md5-based so the DuckDB oracle can reproduce it
  * bit-for-bit (see VectorFunctions.md5Long).
  */
object Dedup {

  val P: Long = 2147483647L // 2^31 - 1, MinHash modulus

  /** Exact dedup: group by content hash, keep the smallest doc_id. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("h")

  /** Pairwise n-gram Jaccard ≥ threshold over a bounded doc subset.
    * j = |A∩B| / (|A|+|B|-|A∩B|) computed from exact integer counts,
    * so the threshold compare is engine-exact.
    */
  def ngramJaccard(docs: DataFrame, n: Int, threshold: Double): DataFrame = {
    // r18: a lazy checkpoint on sh (the ngramJaccardCapped idiom —
    // three consumers) was measured ~0.05 s faster for
    // dedup_ngram_jaccard and REVERTED: it turns the query's analyzed
    // plan into a LogicalRDD, which is exactly the shape DedupSpec's
    // builds-its-own-edges-on-the-clock pin (the r17 VERDICT gaming
    // fix) must reject. The plan-level guarantee outranks the margin.
    val sh = TextPrimitives.charShingles(docs, "doc_id", "text", n)
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
    val a = sh.toDF("da", "sh")
    val b = sh.toDF("db", "sh")
    val inter = a.join(b, Seq("sh")).filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
    inter
      .join(cnt.toDF("da", "na"), "da")
      .join(cnt.toDF("db", "nb"), "db")
      .withColumn("j", col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")))
      .filter(col("j") >= threshold)
      .select(col("da"), col("db"), round(col("j"), 4).as("jaccard"))
      .orderBy("da", "db")
  }

  /** Prefix-filtered exact token-set Jaccard join (the SSJoin/PPJoin
    * candidate-generation idea: Chaudhuri et al. ICDE'06, Xiao et al.
    * WWW'08). Tokens are globally ordered rarest-first (df asc, token
    * asc); a doc with k distinct tokens exposes only its first
    * L = k − ceil(t·k) + 1 tokens as join keys. The prefix-filter
    * lemma guarantees any pair with J ≥ t shares a prefix token under
    * a common total order, so — unlike MinHash-LSH — recall is EXACTLY
    * 1 while the equi-join fans out on rare tokens only (the hot
    * "the"-style keys sort to the suffix and are never join keys).
    * Verification re-checks exact Jaccard on the candidates, so
    * output = brute force, at an index-join price.
    */
  def prefixFilterJaccard(docs: DataFrame, threshold: Double): DataFrame = {
    // r18 (guide §2.4 don't recompute): dt feeds both the df count and
    // the ordered-set build, and `sets` feeds FOUR consumers (two
    // candidate sides + two verify joins) — without checkpoints the
    // tokenize/distinct/df/collect_list pipeline re-ran per consumer
    // (48-Exchange plan). Same rows, same arithmetic.
    val dt = docs.select(col("doc_id"),
        explode(TextPrimitives.tokens(col("text"))).as("tok"))
      .distinct()
      .localCheckpoint(eager = false) // df pass + the sets join
    val df = dt.groupBy("tok").agg(count(lit(1)).as("df"))
    val sets = dt.join(df, "tok")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ord"))
      .select(col("doc_id"),
        expr("transform(ord, x -> x.tok)").as("toks"),
        size(col("ord")).as("k"))
      .withColumn("plen",
        col("k") - ceil(lit(threshold) * col("k")).cast("int") + 1)
      .withColumn("prefix", expr("slice(toks, 1, plen)"))
      .localCheckpoint(eager = false) // 2 candidate sides + 2 verify joins
    // candidate generation: equi-join on shared prefix tokens plus
    // the length filter (J ≥ t ⇒ |A∩B| ≤ min(ka,kb) and ≥ t·max —
    // so min ≥ t·max, else the pair can't qualify); the residual
    // length predicate prunes before the distinct/verify stages
    val cand = sets
      .select(col("doc_id").as("da"), col("k").as("ka2"), explode(col("prefix")).as("tok"))
      .join(sets.select(col("doc_id").as("db"), col("k").as("kb2"),
          explode(col("prefix")).as("tok2")),
        col("tok") === col("tok2") && col("da") < col("db") &&
          least(col("ka2"), col("kb2")) >=
            ceil(lit(threshold) * greatest(col("ka2"), col("kb2"))))
      .select("da", "db").distinct()
    cand
      .join(sets.select(col("doc_id").as("da"), col("toks").as("ta"), col("k").as("ka")), "da")
      .join(sets.select(col("doc_id").as("db"), col("toks").as("tb"), col("k").as("kb")), "db")
      .withColumn("ni", size(array_intersect(col("ta"), col("tb"))))
      .withColumn("j", col("ni") * lit(1.0) / (col("ka") + col("kb") - col("ni")))
      .filter(col("j") >= threshold)
      .select(col("da"), col("db"), round(col("j"), 4).as("jaccard"))
      .orderBy("da", "db")
  }

  /** Quadratic reference formulation of [[prefixFilterJaccard]] (kept
    * for the equivalence spec: identical output, no prefix filter).
    */
  def tokenJaccardQuadratic(docs: DataFrame, threshold: Double): DataFrame = {
    val dt = docs.select(col("doc_id"),
        explode(TextPrimitives.tokens(col("text"))).as("tok"))
      .distinct()
    val cnt = dt.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
    val inter = dt.toDF("da", "tok").join(dt.toDF("db", "tok2"),
        col("tok") === col("tok2") && col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
    inter
      .join(cnt.toDF("da", "na"), "da")
      .join(cnt.toDF("db", "nb"), "db")
      .withColumn("j", col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")))
      .filter(col("j") >= threshold)
      .select(col("da"), col("db"), round(col("j"), 4).as("jaccard"))
      .orderBy("da", "db")
  }

  /** [[ngramJaccard]] with a document-frequency cap on shingles: a
    * shingle present in more than `maxDf` docs is dropped before the
    * intersection join. At web scale a handful of stop-shingles
    * ("the ", " and ") appear in nearly every document; without the
    * cap the equi-join key for such a shingle fans out to |docs|²
    * rows in a single reducer — the classic skew death. Capping
    * bounds every join key's fan-out at maxDf² and barely moves the
    * Jaccard estimate (spec-asserted against the uncapped version on
    * docs without hot shingles).
    */
  def ngramJaccardCapped(docs: DataFrame, n: Int, threshold: Double,
                         maxDf: Int): DataFrame = {
    val sh0 = TextPrimitives.charShingles(docs, "doc_id", "text", n)
      .localCheckpoint(eager = false) // df pass + the capped join
    val df = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
    val sh = sh0.join(df.filter(col("df") <= maxDf), "sh").drop("df")
      .localCheckpoint(eager = false) // cnt + both self-join sides
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("cnt"))
    val a = sh.select(col("doc_id").as("da"), col("sh"))
    val b = sh.select(col("doc_id").as("db"), col("sh"))
    val inter = a.join(b, Seq("sh")).filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
    inter
      .join(cnt.toDF("da", "na"), "da")
      .join(cnt.toDF("db", "nb"), "db")
      .withColumn("j", col("ni") * lit(1.0) / (col("na") + col("nb") - col("ni")))
      .filter(col("j") >= threshold)
      .select(col("da"), col("db"), round(col("j"), 4).as("jaccard"))
      .orderBy("da", "db")
  }

  /** k MinHash values per doc in ONE pass over the shingle set:
    * m_j = min over shingles of ((a_j·h + b_j) mod P), h = md5Long mod P,
    * a_j = 2j+1, b_j = 7919j+13. Output: doc_id, m0..m{k-1}.
    */
  def minhashSignatures(docs: DataFrame, n: Int, k: Int): DataFrame =
    minhashSignaturesOver(
      TextPrimitives.charShingles(docs, "doc_id", "text", n), k)

  /** MinHash over token w-shingles (see TextPrimitives.tokenShingles)
    * — preferred for digit-heavy / small-alphabet corpora where char
    * n-grams over-collide.
    */
  def minhashSignaturesTokens(docs: DataFrame, nTokens: Int, k: Int): DataFrame =
    minhashSignaturesOver(
      TextPrimitives.tokenShingles(docs, "doc_id", "text", nTokens), k)

  /** k mins over a prepared (doc_id, sh) shingle frame. */
  def minhashSignaturesOver(sh: DataFrame, k: Int): DataFrame = {
    val hashed = sh.withColumn("hm", md5Long(col("sh")) % P)
    val mins = (0 until k).map { j =>
      min((col("hm") * (2 * j + 1) + (7919L * j + 13)) % P).as(s"m$j")
    }
    hashed.groupBy("doc_id").agg(mins.head, mins.tail: _*).orderBy("doc_id")
  }

  /** Map-side MinHash signature: the same m0..m{k-1} as
    * [[minhashSignatures]] but computed per ROW with higher-order
    * functions — no explode, no groupBy, no shuffle. This is the form
    * a streaming pipeline needs (stateful operators can't sit behind
    * a streaming aggregation) and the form a 100 TB batch scan
    * prefers when the doc text is already in hand (signature becomes
    * a scan-side projection). Spec asserts bit-equality with the
    * shuffle formulation.
    */
  def minhashSignaturesMapSide(docs: DataFrame, n: Int, k: Int): DataFrame = {
    val t = lower(trim(col("text")))
    val shs = array_distinct(transform(
      sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
      i => t.substr(i, lit(n))))
    val mins = (0 until k).map { j =>
      array_min(transform(col("hms"),
        hm => (hm * (2 * j + 1) + (7919L * j + 13)) % P)).as(s"m$j")
    }
    // null-text docs are KEPT with a null signature — exactly what
    // the explode form produces (charShingles' greatest(...,1) keeps
    // one null shingle per null doc; min over nulls is null), pinned
    // by the edge-frame case in DedupSpec
    docs.select(col("doc_id"),
        transform(shs, sh => md5Long(sh) % P).as("hms"))
      .select(col("doc_id") +: mins: _*)
  }

  /** Map-side twin of [[minhashSignaturesTokens]] — the same m0..m{k-1}
    * over distinct nTokens-token w-shingles, computed per ROW with
    * higher-order functions (no explode, no groupBy, no shuffle), the
    * [[minhashSignaturesMapSide]] idiom on the token basis. 1-token
    * docs emit the lone token (slice is clamped) exactly like the
    * explode form. Spec asserts bit-equality with the shuffle
    * formulation (DedupSpec).
    */
  def minhashSignaturesTokensMapSide(docs: DataFrame, nTokens: Int,
                                     k: Int): DataFrame = {
    val shs = array_distinct(transform(
      sequence(lit(0), greatest(size(col("toks")) - nTokens, lit(0))),
      i => concat_ws(" ", slice(col("toks"), i + lit(1), lit(nTokens)))))
    val mins = (0 until k).map { j =>
      array_min(transform(col("hms"),
        hm => (hm * (2 * j + 1) + (7919L * j + 13)) % P)).as(s"m$j")
    }
    // null-text docs: tokens(null) is null, the clamped slice turns it
    // into one "" shingle via concat_ws — same as the explode form
    // (DedupSpec edge pin)
    docs.select(col("doc_id"), TextPrimitives.tokens(col("text")).as("toks"))
      .select(col("doc_id"), transform(shs, sh => md5Long(sh) % P).as("hms"))
      .select(col("doc_id") +: mins: _*)
  }

  /** SQL mirror of [[minhashSignaturesOver]] over any shingle CTE. */
  def minhashOverSql(shCte: String, k: Int): String = {
    val mins = (0 until k).map { j =>
      s"CAST(min((hm * ${2 * j + 1} + ${7919L * j + 13}) % $P) AS BIGINT) AS m$j"
    }.mkString(", ")
    s"""SELECT doc_id, $mins FROM (
       |  SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % $P AS hm FROM (
       |    $shCte))
       |GROUP BY doc_id""".stripMargin
  }

  /** SQL mirror of [[minhashSignatures]] (CTE producing the same cols). */
  def minhashSigSql(n: Int, k: Int, where: String): String =
    minhashOverSql(
      TextPrimitives.charShinglesSql("documents", "doc_id", "text", n, where), k)

  /** Cap on LSH bucket membership. A degenerate corpus (N identical
    * docs, a boilerplate band) puts N docs in ONE bucket: an
    * N-element aggregation buffer on one task and N² exploded pairs.
    * Buckets over the cap are SKIPPED for pair generation — their
    * members are near-always boilerplate whose pairs are useless and
    * quadratic — and surfaced by [[lshOverflow]] so the pipeline can
    * log/re-band them. Test-scale buckets (≤ a few hundred docs) sit
    * far below the cap, so capped and uncapped results coincide on
    * the oracled queries.
    */
  val DefaultMaxBucket = 1000

  private def minhashBands(sig: DataFrame, k: Int, rows: Int,
                           idAs: String = "doc_id"): DataFrame = {
    val nBands = k / rows
    val bandCols = (0 until nBands).map { b =>
      concat_ws("_", (0 until rows).map(r => col(s"m${b * rows + r}")): _*)
    }
    sig.select(col("doc_id").as(idAs),
      posexplode(array(bandCols: _*)).as(Seq("b", "bv")))
  }

  /** Banded MinHash-LSH candidate pairs: k-signature split into bands
    * of `rows` values; docs sharing any band are candidates. The
    * shuffle key is (band_index, band_value) — constant bytes per doc.
    * Aggregation state per bucket is BOUNDED at maxBucket+1 members
    * (the TopK bounded buffer, not an unbounded collect_list);
    * over-cap buckets emit no pairs (see [[DefaultMaxBucket]]).
    */
  def minhashLshPairs(sig: DataFrame, k: Int, rows: Int,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // group docs per (band, bucket) then explode the member list into
    // pairs — the signature pipeline runs ONCE (a naive self-join
    // would execute it twice) and the shuffle carries one row per
    // non-empty bucket. doc_id rides TopK's double score field —
    // exact below 2^53.
    val bands = minhashBands(sig, k, rows)
    bands.groupBy("b", "bv")
      .agg(graft.ops.TopK.topk(maxBucket + 1)(
             col("doc_id").cast("double"), col("doc_id")).as("mem"),
           count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      .select(expr("transform(mem, x -> x.id)").as("ds"))
      .select(explode(col("ds")).as("da"), col("ds"))
      .select(col("da"), explode(col("ds")).as("db"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct().orderBy("da", "db")
  }

  /** Overflow audit for [[minhashLshPairs]]: the (band, bucket) keys
    * whose membership exceeds the cap, with exact sizes — the row a
    * production run logs next to the capped pair output.
    */
  def lshOverflow(sig: DataFrame, k: Int, rows: Int,
                  maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashBands(sig, k, rows).groupBy("b", "bv")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)
      .orderBy(col("n_docs").desc, col("b"), col("bv"))

  /** Incremental MinHash-LSH: candidate pairs of a NEW batch against
    * an EXISTING corpus signature table — the daily-increment shape at
    * 100 TB. The corpus signatures are precomputed and persist with
    * the collection (band values are write-time bucket columns), only
    * the batch's signatures are computed per run, and candidates come
    * from the (band, bucket) equi-join — batch×corpus never
    * materializes, and the corpus side is touched once regardless of
    * how many increments have landed before.
    * Output: (da = corpus doc, db = batch doc), distinct.
    */
  def minhashLshPairsIncremental(corpusSig: DataFrame, batchSig: DataFrame,
                                 k: Int, rows: Int,
                                 maxBucket: Int = DefaultMaxBucket)
      : DataFrame = {
    // aggregate each side to a BOUNDED member list per (band, bucket)
    // FIRST (the TopK buffer caps state at maxBucket+1), so (a) one
    // row per bucket crosses the join instead of one row per
    // doc-band, and (b) a hot key on either side drops via the n
    // filter before any fan-out — strictly less shuffle than the
    // r10 raw-band equi-join AND no extra hot-key passes
    def buckets(sig: DataFrame, idAs: String) =
      minhashBands(sig, k, rows, idAs).groupBy("b", "bv")
        .agg(graft.ops.TopK.topk(maxBucket + 1)(
               col(idAs).cast("double"), col(idAs)).as("mem"),
             count(lit(1)).as("n"))
        .filter(col("n") <= maxBucket)
        .select(col("b"), col("bv"),
          expr("transform(mem, x -> x.id)").as(idAs + "s"))
    buckets(corpusSig, "da").join(buckets(batchSig, "db"), Seq("b", "bv"))
      .select(explode(col("das")).as("da"), col("dbs"))
      .select(col("da"), explode(col("dbs")).as("db"))
      .filter(col("da") =!= col("db"))
      .select("da", "db").distinct().orderBy("da", "db")
  }

  /** 32-bit SimHash per doc: bit i set iff Σ_tokens (2·bit_i(h(tok))−1)
    * is positive (token multiplicity = weight). One explode + one
    * groupBy with 32 conditional sums.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"),
        explode(TextPrimitives.tokens(col("text"))).as("tok"))
      .withColumn("ht", md5Long(col("tok")))
    val sums = (0 until 32).map { i =>
      sum(when(shiftright(col("ht"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"s$i")
    }
    val agg = tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val sh = (0 until 32).map { i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), sh.as("simhash"))
  }

  /** SQL mirror of [[simhash]] (CTE producing doc_id, simhash). */
  def simhashSql(where: String): String = {
    val sums = (0 until 32).map { i =>
      s"sum(CASE WHEN (ht >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS s$i"
    }.mkString(", ")
    val bits = (0 until 32).map { i =>
      s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM (
       |  SELECT doc_id, $sums FROM (
       |    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS ht FROM (
       |      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
       |      FROM documents WHERE $where))
       |  GROUP BY doc_id)""".stripMargin
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxDist, via the
    * pigeonhole band index: split the 32 bits into maxDist+1 blocks —
    * two hashes within maxDist MUST share at least one exact block,
    * so candidates are generated by an equi-join on (block, value)
    * instead of an O(n²) cross product. Result is IDENTICAL to the
    * quadratic formulation (spec-asserted); only the join shape
    * changes — the 100 TB-safe version.
    */
  def simhashPairs(docs: DataFrame, maxDist: Int,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val nB = maxDist + 1
    val sig = simhash(docs)
    val bandCols = (0 until nB).map { b =>
      val lo = b * 32 / nB
      val hi = (b + 1) * 32 / nB
      shiftright(col("simhash"), lo).bitwiseAND(lit((1L << (hi - lo)) - 1))
    }
    val bands = sig.select(col("doc_id"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("b", "bv")))
    // bucket state bounded at maxBucket+1 via the TopK buffer
    // (doc_id rides the double score — exact below 2^53 — and the
    // 64-bit simhash rides the id slot); over-cap buckets skipped,
    // same policy as minhashLshPairs
    bands.groupBy("b", "bv")
      .agg(graft.ops.TopK.topk(maxBucket + 1)(
             col("doc_id").cast("double"), col("simhash")).as("mem"),
           count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      .select(col("mem").as("ds"))
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b2"))
      .filter(col("a.score") < col("b2.score"))
      .select(col("a.score").cast("long").as("da"),
        col("b2.score").cast("long").as("db"),
        expr("CAST(bit_count(a.id ^ b2.id) AS BIGINT)").as("dist"))
      .filter(col("dist") <= maxDist)
      .distinct()
      .orderBy("da", "db")
  }

  /** Quadratic reference formulation of [[simhashPairs]] (kept for
    * the equivalence spec).
    */
  def simhashPairsQuadratic(docs: DataFrame, maxDist: Int): DataFrame = {
    val sig = simhash(docs)
    val a = sig.toDF("da", "ha")
    val b = sig.toDF("db", "hb")
    a.join(b, col("da") < col("db"))
      .withColumn("dist", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("dist") <= maxDist)
      .select("da", "db", "dist")
      .orderBy("da", "db")
  }

  /** Positional q-grams of `c`: the k-th occurrence of gram g becomes
    * the set element "g#k", turning the gram MULTISET into a set whose
    * intersections equal multiset intersections — required for the
    * edit-distance overlap bound below.
    */
  private def qgrams(c: Column, q: Int): Column =
    when(length(c) < q, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(c) - q + 1),
        i => c.substr(i, lit(q))))

  /** Edit-distance near-dup with ED-Join-style candidate blocking:
    * identical output to [[levenshteinPairsQuadratic]] (spec-asserted)
    * without the unbounded cross product.
    *
    * Theory: one edit operation changes at most q positional q-grams,
    * so ed(a,b) ≤ t ⇒ their positional-gram sets share ≥ max(|A|,|B|)
    * − q·t grams. Prefix filter: order all grams globally by
    * (document frequency asc, gram) — rare first — and keep each
    * doc's first q·t+1 grams; any qualifying pair MUST collide on at
    * least one prefix gram, so candidates come from an EQUI-join on
    * (prefix gram), never an n² cross product. Docs too short for the
    * bound to bite (< q·t+q chars: a bounded-size class) fall back to
    * a broadcast pairing against everything, which keeps the operator
    * exact at any threshold. Exact levenshtein then runs only on
    * candidates. The rare-first canonical order doubles as skew
    * control: hot grams land at the back of prefixes, so join keys
    * stay low-fan-out.
    */
  def levenshteinPairs(docs: DataFrame, prefixLen: Int, maxDist: Int,
                       q: Int = 2): DataFrame = {
    val p = docs.select(col("doc_id"), substring(col("text"), 1, prefixLen).as("p"))
    val pi = q * maxDist + 1
    val rawGrams = p.select(col("doc_id"),
      posexplode(qgrams(col("p"), q)).as(Seq("pos", "g0")))
    val grams = rawGrams
      .withColumn("k", row_number().over(
        Window.partitionBy("doc_id", "g0").orderBy("pos")))
      .select(col("doc_id"), concat_ws("#", col("g0"), col("k")).as("g"))
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    // the prefix index is read twice by the candidate self-join:
    // persist it on first use instead of recomputing the gram windows
    val prefixGrams = grams.join(dfreq, "g")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("g"))))
      .filter(col("rn") <= pi)
      .select("doc_id", "g")
      .localCheckpoint(eager = false)
    val c1 = prefixGrams.toDF("da", "g")
      .join(prefixGrams.toDF("db", "g"), "g")
      .filter(col("da") < col("db"))
      .select("da", "db")
    // strings with fewer than q·t+1 grams: overlap bound is vacuous —
    // pair them with every doc (the class is bounded: length < q·t+q)
    val shortIds = p.filter(length(col("p")) <= q * maxDist + q - 1)
      .select(col("doc_id").as("sid"))
    val c2 = p.select(col("doc_id").as("oid")).crossJoin(broadcast(shortIds))
      .filter(col("oid") =!= col("sid"))
      .select(least(col("oid"), col("sid")).as("da"),
              greatest(col("oid"), col("sid")).as("db"))
    c1.union(c2).distinct()
      .join(p.toDF("da", "pa"), "da")
      .join(p.toDF("db", "pb"), "db")
      .filter(abs(length(col("pa")) - length(col("pb"))) <= maxDist)
      .select(col("da"), col("db"),
        levenshtein(col("pa"), col("pb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy("da", "db")
  }

  /** Quadratic reference formulation of [[levenshteinPairs]] (kept for
    * the equivalence spec).
    */
  def levenshteinPairsQuadratic(docs: DataFrame, prefixLen: Int,
                                maxDist: Int): DataFrame = {
    val p = docs.select(col("doc_id"), substring(col("text"), 1, prefixLen).as("p"))
    val a = p.toDF("da", "pa")
    val b = p.toDF("db", "pb")
    a.crossJoin(b).filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        levenshtein(col("pa"), col("pb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy("da", "db")
  }

  /** Connected components over a duplicate-pair graph: every doc gets
    * the min doc_id of its transitive duplicate cluster — the
    * canonical-document assignment that finishes a dedup pipeline
    * (pairs alone under-delete transitive chains A~B~C).
    *
    * Star-contraction rounds (the MapReduce-CC family): every node of
    * the pair graph adopts the representative h(v) = min(v, N(v)),
    * edges are rewritten onto representatives, and self-loops /
    * duplicate edges drop out. Dense dup clusters contract to a single
    * node in one round, so the edge set shrinks geometrically and the
    * surviving rounds track only the longest chain — for the random
    * id-order of hash-collision chains that is O(log chain), not
    * O(diameter) like plain min-label propagation.
    *
    * Driver-side cost is ONE job per round: the rewritten edge set is
    * marked `localCheckpoint(eager = false)` and the emptiness count
    * is its first use, so materialization and the convergence check
    * share a single action. The label table is a pure pointer-
    * composition chain over the (tiny, checkpointed) per-round h
    * tables and is materialized once at the end.
    */
  def connectedComponents(docs: DataFrame, pairs: DataFrame,
                          maxIters: Int = 10): DataFrame = {
    // materialize the pair pipeline ONCE (shingle → minhash → bands
    // must not recompute every iteration — or twice for the symmetric
    // union: both directions derive from the same persisted result)
    val p0 = pairs.select(col("da"), col("db")).localCheckpoint()
    var edges = p0
      .union(p0.select(col("db"), col("da")))
      .toDF("src", "dst")
    var labels = docs.select(col("doc_id"), col("doc_id").as("cluster"))
    var iter = 0
    var done = false
    // one contraction: (edges, labels) → (rewritten edges, labels)
    def contract(): Unit = {
      // h(x) = min(x, N(x)) for every node of the current graph
      // (symmetric edges ⇒ every node appears as src)
      val h = edges.groupBy("src").agg(min("dst").as("md"))
        .select(col("src").as("x"), least(col("src"), col("md")).as("hx"))
        .localCheckpoint(eager = false) // persisted by this round's count
      // compose the pointer: cluster := h(cluster). Invariant: a
      // cluster value is either a node of the current graph (covered
      // by h) or a terminal component-min (kept by the left join) —
      // a node only leaves the graph one round AFTER every pointer to
      // it was rewritten to its h.
      labels = labels.join(h, labels("cluster") === h("x"), "left")
        .select(col("doc_id"),
                coalesce(col("hx"), col("cluster")).as("cluster"))
      edges = edges
        .join(h.select(col("x").as("src"), col("hx").as("s2")), "src")
        .join(h.select(col("x").as("dst"), col("hx").as("d2")), "dst")
        .select(col("s2").as("src"), col("d2").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(eager = false)
    }
    while (iter < maxIters && !done) {
      // two contractions per driver round-trip: the emptiness count is
      // the only action, and it materializes both checkpoints at once
      contract(); contract()
      done = edges.count() == 0
      iter += 1
    }
    labels.orderBy("doc_id")
  }

  /** Canonical-document selection policy: within each duplicate
    * cluster keep the highest-quality member (ties → lowest doc_id).
    * `labels` is (doc_id, cluster) from [[connectedComponents]];
    * `quality` is (doc_id, quality). The per-cluster window is
    * bounded by cluster size (dup clusters are small by
    * construction), so the shuffle is keyed and skew-free — this is
    * the step that turns a dup GRAPH into the actual training-set
    * drop list.
    */
  def keepBest(labels: DataFrame, quality: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("quality").desc, col("doc_id"))
    labels.join(quality.select("doc_id", "quality"), "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
           max(when(col("rn") === 1, col("doc_id"))).as("kept_doc"),
           max("quality").as("best_quality"))
      .orderBy("cluster")
  }

  /** Scalable embedding near-dup: random-hyperplane signatures with
    * multiprobe expansion (each vector's bucket exploded to its
    * hamming-1 neighborhood) feed an EQUI-join — no cross product —
    * then exact cosine rescoring keeps precision at 1.0. Identical
    * vectors always share their exact bucket, so true duplicates are
    * never missed; lower-similarity pairs are found with LSH
    * probability (spec-asserted on planted duplicates).
    */
  def embeddingNearDupLsh(emb: DataFrame, threshold: Double,
                          nPlanes: Int, dim: Int): DataFrame = {
    import graft.ann.Ann
    val sig = Ann.signatures(emb, Ann.planes(emb.sparkSession, nPlanes, dim))
    val withSig = emb.join(sig, "vec_id")
    // probe keys: own bucket + each single-bit flip
    val flips = lit(0L) +: (0 until nPlanes).map(p => lit(1L << p))
    val probes = withSig.select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("bucket"), explode(array(flips: _*)).as("flip"))
      .select(col("va"), col("ea"), col("bucket").bitwiseXOR(col("flip")).as("pb"))
    val targets = withSig.select(col("vec_id").as("vb"),
      col("embedding").as("eb"), col("bucket").as("pb"))
    probes.join(targets, Seq("pb"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"), score(col("ea"), col("eb")).as("score"))
      .filter(col("score") >= threshold)
      .distinct()
      .orderBy("va", "vb")
  }

  /** Embedding-cosine near-dup pairs (score is the canonical rounded
    * cosine, so the threshold compare matches the oracle exactly).
    */
  def embeddingNearDup(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    // crossJoin + filter (not a `va < vb` join condition): the
    // conditionless BroadcastNestedLoopJoin keeps the downstream
    // filter+cosine inside whole-stage codegen
    a.crossJoin(b)
      .filter(col("va") < col("vb"))
      .withColumn("score", score(col("ea"), col("eb")))
      .filter(col("score") >= threshold)
      .select("va", "vb", "score")
      .orderBy("va", "vb")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the
    * embeddings, then inside each cell drop every vector whose cosine
    * to a LOWER-id cell-mate is >= threshold (keep-first greedy — the
    * paper's "keep one per ε-ball" applied in id order so the result
    * is deterministic). The quadratic pair scan is confined to a cell;
    * at corpus scale nCents grows ∝ √N so cell size stays bounded, and
    * the per-cell join is an equi-join on cid — no global shuffle of
    * pairs. Centroid convention matches AnnIndex.ivfProbeIndexed: the
    * nCents lowest vec_ids act as deterministic centroids.
    * Returns per-cell (cid, n_vecs, n_dropped, drop_frac).
    */
  def semanticDedup(emb: DataFrame, nCents: Int, threshold: Double): DataFrame = {
    val cents = emb.filter(col("vec_id") < nCents)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    // nearest centroid: window is bounded (nCents rows per vec_id)
    val w = Window.partitionBy("vec_id")
      .orderBy(score(col("embedding"), col("cv")).desc, col("cid"))
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
    val a = assigned.select(col("cid"), col("vec_id").as("va"), col("embedding").as("ea"))
    val b = assigned.select(col("cid"), col("vec_id").as("vb"), col("embedding").as("eb"))
    val dropped = a.join(b, "cid")
      .filter(col("va") < col("vb") && score(col("ea"), col("eb")) >= threshold)
      .select(col("cid"), col("vb")).distinct()
    assigned.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      .join(dropped.groupBy("cid").agg(count(lit(1)).as("n_dropped")), Seq("cid"), "left")
      .na.fill(0L, Seq("n_dropped"))
      .select(col("cid"), col("n_vecs"), col("n_dropped"),
              round(col("n_dropped") / col("n_vecs"), 4).as("drop_frac"))
      .orderBy("cid")
  }
}
