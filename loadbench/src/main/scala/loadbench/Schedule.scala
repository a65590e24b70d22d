package loadbench

import java.util.SplittableRandom

/** One scheduled call: its class, the tenant it touches (a size rank,
  * 0 = largest; -1 when the class has no tenant) and a per-call salt
  * the workload derives the call's arguments from.
  */
final case class Spec(cls: String, tenant: Int, salt: Long)

/** The seeded call schedules. Everything here is a pure function of
  * (seed, pass), so a run does a fixed amount of work, not a time
  * budget, and the same seed replays the same calls.
  *
  * Which tenant a call touches follows a fixed, seed-independent cycle
  * over the size ranks: the seed picks data, arguments and the order of
  * calls inside a pass, so runs with different seeds see the same mix
  * of tenant sizes. Every pass interleaves all of its workload's call
  * classes, so every class samples both slow and fast host phases.
  * Warm-up passes use negative pass numbers and the same shapes.
  */
object Schedule {

  /** SplitMix64 finaliser: decorrelates nearby seeds and salts. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(0x2545F4914F6CDD1DL)((h, p) => mix(h ^ p)))

  def shuffle[A](xs: Seq[A], r: SplittableRandom): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  /** Tenant sizes for `total` points over `tenants` ranks drawn from
    * Zipf(s): rank r gets a share ∝ (r+1)^-s, every tenant at least
    * `min` points, the rounding remainder on rank 0. Seed-independent.
    */
  def zipfSizes(total: Int, tenants: Int, s: Double, min: Int): Seq[Int] = {
    require(total >= tenants * min, s"$total points cannot give $tenants tenants $min each")
    val w = (1 to tenants).map(r => math.pow(r.toDouble, -s))
    val free = total - tenants * min
    val sizes = w.map(x => min + math.floor(free * x / w.sum).toInt)
    sizes.updated(0, sizes.head + total - sizes.sum)
  }

  /** Bit-reversed order of 0 until n (n a power of two): consecutive
    * entries land far apart in rank, so a short stretch of the cycle
    * already spans large and small tenants.
    */
  def spread(n: Int): Seq[Int] = {
    require(n > 0 && (n & (n - 1)) == 0, s"$n is not a power of two")
    val bits = Integer.numberOfTrailingZeros(n)
    (0 until n).map(i => if (bits == 0) 0 else Integer.reverse(i) >>> (32 - bits))
  }

  // ---- store_serve -------------------------------------------------

  /** Point-call classes and how many of each one pass makes. */
  val servePoint: Seq[(String, Int)] = Seq(
    "search" -> 2, "search_threshold" -> 2, "search_docs" -> 2,
    "scroll_after" -> 2, "retrieve" -> 2, "recommend" -> 2)
  /** Batch classes and the size rank each one always touches. */
  val serveBatch: Seq[(String, Int)] = Seq("search_batch" -> 0, "knn_graph" -> 1)

  /** Every pass has the same composition (classes and tenant ranks);
    * only the arguments and the order of calls change with the seed
    * and the pass, so the passes of a run are interchangeable samples.
    * The point calls of one pass spread over the size ranks.
    */
  def serve(seed: Long, pass: Int, tenants: Int): Seq[Spec] = {
    val r = rng(seed, 1, pass)
    val cycle = spread(tenants)
    val slots = servePoint.flatMap { case (cls, n) => Seq.fill(n)(cls) }
    val point = slots.zipWithIndex.map { case (cls, i) =>
      Spec(cls, cycle(i * tenants / slots.size), r.nextLong())
    }
    val batch = serveBatch.map { case (cls, rank) => Spec(cls, rank, r.nextLong()) }
    shuffle(point ++ batch, r)
  }

  // ---- store_ingest ------------------------------------------------

  val mutations: Seq[String] = Seq("upsert", "update_vector", "delete_doc", "delete_by_ids")
  /** The read-after-write class that follows each mutation class. */
  def readAfter(mutation: String): String = mutation match {
    case "upsert" | "update_vector" => "read_retrieve"
    case _ => "read_scroll"
  }
  /** Mutations per pass; compaction closes every pass. */
  val mutationsPerPass = 8

  def ingest(seed: Long, pass: Int, tenants: Int): Seq[Spec] = {
    val r = rng(seed, 2, pass)
    val kinds = shuffle(Seq.tabulate(mutationsPerPass)(i => mutations(i % mutations.size)), r)
    val touched = shuffle(Seq.tabulate(mutationsPerPass)(i =>
      Math.floorMod(pass.toLong * mutationsPerPass + i, tenants.toLong).toInt), r)
    kinds.zip(touched).flatMap { case (m, t) =>
      Seq(Spec(m, t, r.nextLong()), Spec(readAfter(m), t, r.nextLong()))
    } :+ Spec("compact", -1, r.nextLong())
  }

  // ---- train_prep --------------------------------------------------

  val trainQueries: Seq[String] = Seq(
    "q3_join_topk", "ev_sessionize", "dedup_minhash_lsh", "ann_knn_graph",
    "ann_blocked_topk", "pipe_e2e_prep")

  def train(seed: Long, pass: Int): Seq[Spec] = {
    val r = rng(seed, 3, pass)
    shuffle(trainQueries, r).map(q => Spec(q, -1, 0L))
  }
}
