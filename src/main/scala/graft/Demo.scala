package graft

import org.apache.spark.sql.functions._
import graft.store.{CollectionStorage, DocumentStore, VectorStore}

/** End-to-end walkthrough of the full pipeline a reference-service
  * user would run after switching to graft — ingest text, dedup,
  * build a persistent per-user collection, search it by text, compact
  * it. Prints one line per step.
  *
  * Usage: runMain graft.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 1. raw documents arrive
    val docs = Tables.documents(spark, sfDir)
    println(s"[1] corpus: ${docs.count()} documents")

    // 2. near-dup removal before indexing (MinHash-LSH candidates)
    val sig = dedup.Dedup.minhashSignaturesTokens(docs, 2, 8)
    val dupPairs = dedup.Dedup.minhashLshPairs(sig, 8, 2)
    val dropIds = dupPairs.select(col("db").as("doc_id")).distinct()
    val kept = docs.join(dropIds, Seq("doc_id"), "left_anti")
    println(s"[2] dedup: ${dupPairs.count()} candidate pairs, keeping ${kept.count()} docs")

    // 3. chunk + embed + upsert into a per-user collection
    val chunks = kept.select(
      (col("doc_id") % 4).as("user_id"), col("doc_id"),
      lit(0L).as("chunk_id"), concat(lit("doc-"), col("doc_id")).as("title"),
      col("text"))
    val empty = chunks.limit(0)
      .withColumn("vector_id", lit(0L))
      .withColumn("embedding", typedlit(Seq.empty[Double]))
      .select("user_id", "vector_id", "doc_id", "chunk_id", "title", "embedding")
    val coll = DocumentStore.upsertChunks(empty, chunks)
    val path = java.nio.file.Files.createTempDirectory("graft-demo").toString + "/coll"
    CollectionStorage.write(coll, path)
    println(s"[3] collection: ${coll.count()} points across " +
      s"${CollectionStorage.listUserIds(spark, path).size} user partitions at $path")

    // 4. text search within one user's collection (reference
    //    search_query semantics)
    val loaded = CollectionStorage.load(spark, path)
    val sample = kept.filter(col("doc_id") % 4 === 1).select("text").head().getString(0)
    val hits = DocumentStore.searchByText(loaded, 1L, sample, limit = 3).collect()
    println(s"[4] search: top hit doc=${hits.head.getAs[Long]("doc_id")} " +
      f"score=${hits.head.getAs[Double]("score")}%.4f (self-match expected 1.0)")

    // 5. operational upkeep: compaction
    CollectionStorage.compact(spark, path)
    println(s"[5] compacted: ${CollectionStorage.fileCounts(spark, path).values.sum} files total")

    spark.stop()
  }
}
