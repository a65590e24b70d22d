package loadbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One point in graft's canonical collection schema. */
final case class Point(user_id: Long, vector_id: Long, doc_id: Long, chunk_id: Long,
                       title: String, embedding: Array[Float])

/** Deterministic inputs. A vector is a pure function of (seed, point
  * id, version), so the data is identical across runs and across
  * partitionings, and the driver-side model regenerates exactly the
  * vectors Spark wrote.
  */
object Data {

  val Dim = 1024
  val ChunksPerDoc = 8

  def vectorId(tenant: Long, doc: Long, chunk: Long): Long =
    tenant * 1000000000L + doc * 16 + chunk

  def title(doc: Long): String = s"doc-$doc"

  /** Uniform floats in [-1, 1). */
  def vector(seed: Long, id: Long, version: Long, dim: Int = Dim): Array[Float] = {
    val r = Schedule.rng(seed, id, version)
    Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)
  }

  /** A query near a stored vector: the vector plus uniform noise. */
  def nearQuery(base: Array[Float], salt: Long): Array[Float] = {
    val r = Schedule.rng(salt, 77)
    base.map(x => (x + 0.6 * (r.nextDouble() * 2 - 1)).toFloat)
  }

  def point(seed: Long, tenant: Long, doc: Long, chunk: Long, version: Long): Point = {
    val vid = vectorId(tenant, doc, chunk)
    Point(tenant, vid, doc, chunk, title(doc), vector(seed, vid, version))
  }

  /** Points j = 0 until size of `tenant`, eight chunks per document. */
  def tenantPoints(seed: Long, tenant: Int, size: Int): Iterator[Point] =
    Iterator.range(0, size).map(j =>
      point(seed, tenant, j / ChunksPerDoc, j % ChunksPerDoc, 0))

  /** The initial collection, generated on the executors. */
  def collection(spark: SparkSession, seed: Long, sizes: Seq[Int]): DataFrame = {
    import spark.implicits._
    // split big tenants into slices so generation spreads over cores
    val slices = sizes.zipWithIndex.flatMap { case (n, t) =>
      (0 until n by 512).map(from => (t, from, math.min(n, from + 512)))
    }
    spark.sparkContext.parallelize(slices, spark.sparkContext.defaultParallelism * 2)
      .flatMap { case (t, from, until) =>
        Iterator.range(from, until).map(j =>
          point(seed, t, j / ChunksPerDoc, j % ChunksPerDoc, 0))
      }.toDF()
  }

  /** Bytes of one point as a user submits it: three ids, the vector
    * and the title (the user id is the collection, not payload).
    */
  def userBytes(p: Point): Long = 3 * 8 + 4L * p.embedding.length + p.title.length
}
