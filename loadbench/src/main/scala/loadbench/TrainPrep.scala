package loadbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** train_prep: headline graft.queries over a GenTestData corpus, called
  * through SparkEntry.queries. graft.store is absent; Catalyst, shuffle
  * and checkpoint reuse dominate. The seed only permutes the order of
  * the queries inside each pass.
  *
  * The first (warm-up) pass is the verified one: each result is written
  * out for the DuckDB oracle (SparkEntry.oracleSql, compared by run.py
  * after the run) and fingerprinted; every later result of the query
  * must have the same fingerprint.
  */
final class TrainPrep(spark: SparkSession, seed: Long, dataDir: String, outDir: String)
    extends Workload {

  val name = "train_prep"
  val passSeconds = 5.0
  val classes: Seq[String] = Schedule.trainQueries
  val tables = Seq("customer", "orders", "lineitem", "events", "documents", "embeddings")
  private val verified = mutable.Map.empty[String, (Long, Long)]
  private var embeddings = 0L

  /** Opening the corpus: every table the queries read, scanned once. */
  def setup(rep: Int): Unit = {
    val counts = tables.map(t => t -> graft.Tables.load(spark, dataDir, t).count())
    embeddings = counts.toMap.apply("embeddings")
  }

  def schedule(pass: Int): Seq[Spec] = Schedule.train(seed, pass)

  /** Order-insensitive 64-bit fingerprint of a result: row count and
    * the sum of two 32-bit hashes of each row's text form.
    */
  def fingerprint(rows: Seq[Row]): (Long, Long) = {
    val h = rows.iterator.map { r =>
      val s = r.toString
      (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xFFFFFFFFL)
    }.sum
    (rows.size.toLong, h)
  }

  def call(s: Spec): Call = {
    val q = s.cls
    val cos = q match {
      case "ann_knn_graph" => embeddings * (embeddings - 1)
      case "ann_blocked_topk" => 64 * (embeddings - 1)
      case _ => 0L
    }
    Call(s, "queries", "query",
      () => graft.SparkEntry.queries(q)(spark, dataDir),
      df => (df.collect().toSeq, df.schema),
      out => {
        val (rows, schema) = out.asInstanceOf[(Seq[Row], StructType)]
        val fp = fingerprint(rows)
        verified.get(q) match {
          case None =>
            verified(q) = fp
            spark.createDataFrame(rows.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$q")
            None
          case Some(v) if v == fp => None
          case Some(v) =>
            Some(s"result differs from the verified one: ${fp._1} rows vs ${v._1}")
        }
      },
      cosines = cos)
  }

  /** The oracle SQL of every query, for run.py's DuckDB check. */
  def writeOracle(): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val json = classes.map { q =>
      val s = sql(q).flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
      s""""$q":"$s""""
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle.json"), json)
  }
}

object TrainPrep {
  /** Generates the corpus once per checkout: GenTestData is not seeded,
    * so every run reads the same tables. Written to a temporary
    * directory and renamed, so a killed run leaves no half corpus.
    */
  def ensureCorpus(spark: SparkSession, dir: String, sf: Double): Unit = {
    val target = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(target)) {
      val tmp = s"$dir.tmp"
      Files.delete(tmp)
      graft.GenTestData.write(spark, tmp, sf)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), target)
    }
  }
}
