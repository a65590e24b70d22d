package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.Ingest
import graft.store.DocumentStore

class IngestSpec extends SparkSpec {

  private def writeFiles(prefix: String, files: (String, String)*): String = {
    val dir = SparkSpec.tempDir(prefix)
    files.foreach { case (name, content) =>
      Files.write(dir.resolve(name), content.getBytes("UTF-8"))
    }
    dir.toString
  }

  test("text-dir ingest: one row per file, stable ids, search finds content") {
    val dir = writeFiles("graft-ingest",
      "alpha.txt" -> "spark clusters shuffle data between executor partitions",
      "beta.txt"  -> "minhash bands bucket similar documents for dedup",
      "gamma.txt" -> "watermarks bound streaming state growth over time")
    val docs = Ingest.readTextDir(spark, dir).collect()
    assert(docs.length == 3)
    assert(docs.map(_.getAs[String]("title")).sorted.sameElements(
      Array("alpha.txt", "beta.txt", "gamma.txt")))
    assert(docs.map(_.getAs[Long]("doc_id")).distinct.length == 3)

    // ids derive from file NAMES: a re-staged copy of the landing zone
    // yields identical ids
    val dir2 = writeFiles("graft-ingest-moved",
      "alpha.txt" -> "different content, same file name")
    val id1 = Ingest.readTextDir(spark, dir).filter(col("title") === "alpha.txt")
      .head().getAs[Long]("doc_id")
    val id2 = Ingest.readTextDir(spark, dir2).head().getAs[Long]("doc_id")
    assert(id1 == id2)

    // end-to-end: ingest → searchable collection; re-ingest is idempotent
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long, Long, Long, String, Seq[Double])]
      .toDF("user_id", "vector_id", "doc_id", "chunk_id", "title", "embedding")
    val coll = Ingest.ingestTextDir(empty, spark, dir, userId = 1)
    val n = coll.count()
    assert(n >= 3)
    val hit = DocumentStore.searchByText(coll, 1L,
      "minhash bands bucket similar documents for dedup", limit = 1).head()
    assert(hit.getAs[String]("title") == "beta.txt")
    assert(hit.getAs[Double]("score") == 1.0)
    assert(Ingest.ingestTextDir(coll, spark, dir, userId = 1).count() == n)
  }

  test("jsonl ingest: explicit schema, malformed lines quarantined") {
    val dir = writeFiles("graft-jsonl", "batch.jsonl" ->
      """{"doc_id": 1, "title": "a", "text": "first document"}
        |{"doc_id": 2, "title": "b", "text": "second document"}
        |{not json at all
        |{"doc_id": 4, "title": "d", "text": "fourth document"}
        |""".stripMargin)
    val df = Ingest.readJsonl(spark, dir + "/batch.jsonl").cache()
    assert(df.count() == 4)
    val bad = df.filter(col("_corrupt").isNotNull).collect()
    assert(bad.length == 1 && bad.head.getAs[String]("_corrupt").startsWith("{not"))
    val good = df.filter(col("_corrupt").isNull)
    assert(good.count() == 3)
    assert(good.agg(sum("doc_id")).head().getLong(0) == 7L)
    df.unpersist()
  }

  test("csv ingest: header + explicit schema, bad row quarantined") {
    val dir = writeFiles("graft-csv", "docs.csv" ->
      """doc_id,title,text
        |1,a,first document
        |not_a_number,b,broken row
        |3,c,third document
        |""".stripMargin)
    val df = Ingest.readCsv(spark, dir + "/docs.csv").cache()
    assert(df.count() == 3)
    assert(df.filter(col("_corrupt").isNotNull).count() == 1)
    assert(df.filter(col("_corrupt").isNull).agg(sum("doc_id")).head().getLong(0) == 4L)
    df.unpersist()
  }

  test("binary-dir ingest: glob prunes listing, content round-trips") {
    val dir = writeFiles("graft-bin",
      "img1.bin" -> "fake-image-bytes-1",
      "img2.bin" -> "fake-image-bytes-two",
      "notes.txt" -> "not a binary asset")
    val df = Ingest.readBinaryDir(spark, dir, "*.bin")
    val rows = df.orderBy("path").collect()
    assert(rows.length == 2)
    assert(new String(rows.head.getAs[Array[Byte]]("content"), "UTF-8") ==
      "fake-image-bytes-1")
    assert(rows.map(_.getAs[Long]("length")).sameElements(Array(18L, 20L)))
  }

  test("qdrant point-export import: collections land canonical, searchable, quarantined") {
    def pt(id: String, doc: Long, chunk: Long, title: String, v: Seq[Double]) =
      s"""{"id": $id, "vector": [${v.mkString(",")}], "payload": {"DocId": $doc, "ChunkId": $chunk, "Title": "$title"}}"""
    val v1 = Seq(1.0, 0.0, 0.0, 0.0)
    val v2 = Seq(0.0, 1.0, 0.0, 0.0)
    val dir = writeFiles("graft-qdrant",
      "user_7.jsonl" -> Seq(pt("701", 1, 0, "t1", v1),
                            pt("702", 1, 1, "t1", v2),
                            "not json at all").mkString("\n"),
      "user_9.jsonl" -> pt("901", 5, 0, "t5", v2))
    // whole-dir import: user ids from the reference's user_<id> names
    val all = graft.sources.QdrantImport.readCollectionDumps(spark, dir)
    assert(all.columns.toSeq == Seq("user_id", "vector_id", "doc_id",
      "chunk_id", "title", "embedding"))
    val rows = all.orderBy("vector_id").collect()
    assert(rows.length == 3) // corrupt line quarantined, not imported
    assert(rows.map(_.getAs[Long]("user_id")).toSeq == Seq(7L, 7L, 9L))
    assert(rows.head.getAs[Long]("vector_id") == 701L &&
           rows.head.getAs[Long]("doc_id") == 1L &&
           rows.head.getAs[String]("title") == "t1")
    // the quarantine audit sees exactly the malformed line
    assert(graft.sources.QdrantImport
      .corruptRecords(spark, s"$dir/user_7.jsonl").count() == 1)
    // imported points serve the regular op surface
    assert(graft.store.VectorStore.scroll(all, 7L, 10).count() == 2)
    // ...and persist into the canonical partitioned layout
    val out = SparkSpec.tempDir("graft-qimp").toString + "/coll"
    graft.store.CollectionStorage.write(all, out)
    assert(graft.store.CollectionStorage.listCollectionDirs(spark, out) ==
      Seq(7L, 9L))
    // uuid-style point ids import un-coerced with numericIds = false
    val uu = graft.sources.QdrantImport.readPointsJsonl(
      spark, s"$dir/user_9.jsonl", "9", numericIds = false).collect()
    assert(uu.head.getAs[String]("vector_id") == "901")
  }

  test("qdrant export round-trips: write point dumps, re-import, frames equal") {
    val pts = graft.store.VectorStore.points(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("user_id") < 3)
    val dir = SparkSpec.tempDir("graft-qexp").toString
    val users = graft.sources.Export.writeQdrantPoints(pts, dir)
    assert(users == Seq("0", "1", "2"))
    assert(new java.io.File(s"$dir/user_1.jsonl").exists)
    val back = graft.sources.QdrantImport.readCollectionDumps(spark, dir)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getAs[Long]("user_id"), r.getAs[Long]("vector_id"),
       r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
       r.getAs[String]("title"), r.getSeq[Float](5).toSeq)
    }.toSet
    assert(canon(back) == canon(pts))
    // and the re-import serves the op surface like the original
    assert(graft.store.VectorStore.scroll(back, 1L, 10000).count() ==
      pts.filter(org.apache.spark.sql.functions.col("user_id") === 1).count())
  }
}
