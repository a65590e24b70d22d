package graft

/** Pins the README walkthrough (graft.examples.ReadmeExample): the
  * documented example must keep compiling AND producing the behavior
  * the prose claims — top-2 search finds the duplicated chunk text,
  * MMR diversifies the near-copy away, scroll returns doc 1's chunks.
  */
class ReadmeExampleSpec extends SparkSpec {

  test("README end-to-end example runs and behaves as documented") {
    val path = SparkSpec.tempDir("graft-readme").toString
    val (hits, diversified, scrolled) = examples.ReadmeExample.run(spark, path)

    // search_query: top-2 cosine hits exist and are scored descending
    assert(hits.length == 2)
    val scores = hits.map(_.getAs[Double]("score"))
    assert(scores.toSeq == scores.sorted.reverse.toSeq)
    // the two best hits for "vector store" are the duplicated chunk
    // text (doc 1 chunk 0 and its doc 2 near-copy score identically)
    assert(hits.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))

    // MMR: 2 picks from a pool of 3; the picks are NOT the two
    // identical near-copies (diversification drops one of them)
    assert(diversified.length == 2)
    assert(diversified.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L))

    // scroll_user_doc: exactly doc 1's two chunks (cursor order is
    // by vector_id, so compare as a set)
    assert(scrolled.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")))
      .toSet == Set((1L, 0L), (1L, 1L)))
  }
}
