package graft

import org.apache.spark.sql.functions._
import graft.store.{CollectionStorage, DocumentStore, VectorStore}

class StorageSpec extends SparkSpec {

  test("partitioned write + load: per-user reads are partition-pruned") {
    val dir = SparkSpec.tempDir("graft-coll").toString + "/coll"
    val pts = VectorStore.points(spark, sfDir)
    CollectionStorage.write(pts, dir)
    val loaded = CollectionStorage.load(spark, dir)
    assert(loaded.count() == pts.count())
    val pruned = loaded.filter(col("user_id") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("user_id"),
      s"expected partition pruning in:\n$plan")
    assert(pruned.count() == pts.filter(col("user_id") === 3).count())
  }

  test("string (uuid-style) user ids: round-trip, pruning, and full op surface") {
    // the reference's user_id is a string (document_ingestor.py:55–70,
    // uuid-style throughout dev.ipynb) — a string-keyed collection
    // must behave exactly like a long-keyed one
    val dir = SparkSpec.tempDir("graft-coll-uuid").toString + "/coll"
    val uuids = Seq("3f1a9c2e-aaaa-4f00-9d77-000000000001",
                    "3f1a9c2e-bbbb-4f00-9d77-000000000002")
    val pts = VectorStore.points(spark, sfDir)
      .filter(col("user_id") < 2)
      .withColumn("user_id",
        when(col("user_id") === 0, uuids(0)).otherwise(uuids(1)))
    CollectionStorage.write(pts, dir)
    val loaded = CollectionStorage.load(spark, dir)
    // user_id survives as STRING, not a coerced long
    assert(loaded.schema("user_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(loaded.count() == pts.count())
    // per-user read partition-prunes on the string key
    val pruned = loaded.filter(col("user_id") === uuids(0))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("user_id"),
      s"expected partition pruning in:\n$plan")
    assert(pruned.count() == pts.filter(col("user_id") === uuids(0)).count())
    // the op surface takes string user keys directly
    val n0 = VectorStore.scroll(loaded, uuids(0), 1000).count()
    assert(n0 > 0 && n0 == pruned.count())
    val afterDel = VectorStore.deleteDoc(loaded, uuids(0), 17L)
    assert(afterDel.filter(col("user_id") === uuids(0) &&
      col("doc_id") === 17).count() == 0)
    assert(afterDel.filter(col("user_id") === uuids(1)).count() ==
      pts.filter(col("user_id") === uuids(1)).count())
    assert(DocumentStore.searchByText(loaded, uuids(0), "alpha", 3, 0.0)
      .count() <= 3)
    // dynamic partition overwrite rewrites only the touched uuid
    CollectionStorage.overwriteUserPartitions(
      afterDel.filter(col("user_id") === uuids(0)), dir)
    val re = CollectionStorage.load(spark, dir)
    assert(re.filter(col("user_id") === uuids(0) && col("doc_id") === 17)
      .count() == 0)
    assert(re.filter(col("user_id") === uuids(1)).count() ==
      pts.filter(col("user_id") === uuids(1)).count())
    // ensure + list string collections; reference name mapping
    CollectionStorage.ensureCollection(spark, dir, "9e9e9e9e-cccc-4f00-9d77-3")
    assert(CollectionStorage.listCollectionNames(spark, dir).toSet ==
      (uuids :+ "9e9e9e9e-cccc-4f00-9d77-3").toSet)
    assert(VectorStore.collectionName("ab-cd-ef") == "user_ab_cd_ef")
  }

  test("dynamic partition overwrite touches only changed users") {
    val dir = SparkSpec.tempDir("graft-coll2").toString + "/coll"
    val pts = VectorStore.points(spark, sfDir)
    CollectionStorage.write(pts, dir)
    // delete doc 17 from user 1's collection, rewrite ONLY user 1
    val after = VectorStore.deleteDoc(pts, 1, 17).filter(col("user_id") === 1)
    CollectionStorage.overwriteUserPartitions(after, dir)
    val reloaded = CollectionStorage.load(spark, dir)
    assert(reloaded.filter(col("user_id") === 1 && col("doc_id") === 17).count() == 0)
    // other partitions untouched
    assert(reloaded.filter(col("user_id") =!= 1).count() ==
      pts.filter(col("user_id") =!= 1).count())
    assert(CollectionStorage.listUserIds(spark, dir) == (0L to 7L))
  }

  test("ensureCollection: empty collection exists, lists, and loads") {
    val dir = SparkSpec.tempDir("graft-coll3").toString + "/coll"
    val pts = VectorStore.points(spark, sfDir).filter(col("user_id") < 2)
    CollectionStorage.write(pts, dir)
    // create an empty collection for a brand-new user
    CollectionStorage.ensureCollection(spark, dir, 42L)
    CollectionStorage.ensureCollection(spark, dir, 42L) // idempotent
    assert(CollectionStorage.listCollectionDirs(spark, dir) == Seq(0L, 1L, 42L))
    // the table still loads; the empty collection holds zero points
    val loaded = CollectionStorage.load(spark, dir)
    assert(loaded.filter(col("user_id") === 42).count() == 0)
    assert(loaded.count() == pts.count())
    // data written later lands in the pre-created collection
    val incoming = pts.filter(col("user_id") === 0)
      .withColumn("user_id", lit(42L))
    CollectionStorage.overwriteUserPartitions(incoming, dir)
    assert(CollectionStorage.load(spark, dir)
      .filter(col("user_id") === 42).count() == incoming.count())
  }

  test("snapshot diff classifies added/removed/updated/unchanged points") {
    val s = spark
    val base = SparkSpec.tempDir("graft-diff").toString + "/coll"
    val pts = graft.store.VectorStore.points(s, sfDir)
    graft.store.CollectionStorage.writeSnapshot(pts, base)
    // v1: drop user 3's points, retitle user 2's, keep the rest
    val v1 = pts.filter(col("user_id") =!= 3)
      .withColumn("title", org.apache.spark.sql.functions
        .when(col("user_id") === 2, org.apache.spark.sql.functions.lit("re"))
        .otherwise(col("title")))
    graft.store.CollectionStorage.writeSnapshot(v1, base)
    val d = graft.store.CollectionStorage.diffSnapshots(s, base, 0L, 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byUser = pts.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d("removed") == byUser(3L))
    assert(d("updated") == byUser(2L))
    assert(d.getOrElse("added", 0L) == 0L)
    assert(d("unchanged") == pts.count() - byUser(3L) - byUser(2L))
  }

  test("snapshot versions: time travel, rollback read, retention") {
    val s = spark
    val base = SparkSpec.tempDir("graft-snap").toString + "/coll"
    val pts = graft.store.VectorStore.points(s, sfDir)
    val v0 = graft.store.CollectionStorage.writeSnapshot(pts, base)
    val v1 = graft.store.CollectionStorage.writeSnapshot(
      graft.store.VectorStore.deleteCollection(pts, 3), base)
    assert(v0 == 0L && v1 == 1L)
    val latest = graft.store.CollectionStorage.loadSnapshot(s, base)
    assert(latest.filter(col("user_id") === 3).count() == 0)
    // time travel: v0 still has user 3 (old versions immutable)
    val old = graft.store.CollectionStorage.loadSnapshot(s, base, Some(0L))
    assert(old.filter(col("user_id") === 3).count() > 0)
    assert(old.count() == pts.count())
    // retention: keep only the newest
    val dropped = graft.store.CollectionStorage.expireSnapshots(s, base, keep = 1)
    assert(dropped == Seq(0L))
    assert(graft.store.CollectionStorage.versions(s, base) == Seq(1L))
    intercept[IllegalArgumentException] {
      graft.store.CollectionStorage.loadSnapshot(s, base, Some(0L))
    }
  }

  test("DocumentStore: upsert text chunks then find them by text query") {
    val s = spark
    import s.implicits._
    val chunks = Seq(
      (1L, 10L, 0L, "doc-a", "spark engines scale vector search across clusters"),
      (1L, 10L, 1L, "doc-a", "minhash shingles deduplicate web corpora"),
      (1L, 11L, 0L, "doc-b", "streaming watermarks bound state growth"),
      (2L, 20L, 0L, "doc-c", "unrelated text about cooking pasta"))
      .toDF("user_id", "doc_id", "chunk_id", "title", "text")
    val empty = chunks.limit(0)
      .withColumn("vector_id", lit(0L))
      .withColumn("embedding", typedlit(Seq.empty[Double]))
      .select("user_id", "vector_id", "doc_id", "chunk_id", "title", "embedding")
    val coll = DocumentStore.upsertChunks(empty, chunks)
    assert(coll.count() == 4)
    val hits = DocumentStore.searchByText(coll, 1L,
      "spark engines scale vector search across clusters", limit = 2).collect()
    assert(hits.head.getAs[Long]("doc_id") == 10L)
    assert(hits.head.getAs[Long]("vector_id") != 0L)
    assert(hits.head.getAs[Double]("score") == 1.0)
    // doc-filtered search only sees doc 11
    val onDoc = DocumentStore.searchByTextOnDocs(coll, 1L, Seq(11L),
      "streaming watermarks", limit = 5).collect()
    assert(onDoc.map(_.getAs[Long]("doc_id")).toSet == Set(11L))
  }

  test("DocumentStore.updateChunk re-embeds in place") {
    val s = spark
    import s.implicits._
    val chunks = Seq(
      (1L, 10L, 0L, "doc-a", "original text about databases"))
      .toDF("user_id", "doc_id", "chunk_id", "title", "text")
    val empty = chunks.limit(0)
      .withColumn("vector_id", lit(0L))
      .withColumn("embedding", typedlit(Seq.empty[Double]))
      .select("user_id", "vector_id", "doc_id", "chunk_id", "title", "embedding")
    val coll = DocumentStore.upsertChunks(empty, chunks)
    val updated = DocumentStore.updateChunk(coll, 1L, 10L, 0L, "fresh text about lasers")
    val hit = DocumentStore.searchByText(updated, 1L, "fresh text about lasers", 1).head()
    assert(hit.getAs[Double]("score") == 1.0)
  }
}
