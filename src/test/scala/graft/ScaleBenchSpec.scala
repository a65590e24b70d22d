package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Runs every [[ScaleBench]] scenario once at its smallest size: each
  * must print one JSON line that parses and carries that scenario's
  * keys, so no scenario can rot unseen. The grid scenarios run with a
  * small forced tile, and must report the block-matrix grid path.
  */
class ScaleBenchSpec extends SparkSpec {

  private val smallest: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("query", Seq("text_token_count,ev_scd2", s"$sfDir,$sfDir", "1"),
      Seq("dirs", "reps", "sec", "ratio")),
    ("topk", Seq("2000", "2"),
      Seq("n", "n_queries", "scan_sec", "single_sec", "batch_sec", "mscores_per_sec")),
    ("dim", Seq("2000", "2"), Seq("n_queries", "points")),
    ("dedup", Seq("2000"),
      Seq("n_docs", "sig_sec", "lsh_sec", "cc_sec", "docs_per_sec", "cand_pairs",
        "n_canonical", "planted_recall")),
    ("near-dup", Seq("1000", "1000"),
      Seq("n_docs", "lev_sec", "lev_pairs", "lev_planted_recall", "n_vecs", "knn_sec",
        "knn_answered", "knn_planted_recall")),
    ("prefix-filter", Seq("2000"),
      Seq("n_docs", "vocab", "join_sec", "docs_per_sec", "pairs", "planted_recall")),
    ("joins", Seq("20000", "100"),
      Seq("rows", "users", "asof_sec", "asof_matched", "range_sec", "range_pairs")),
    ("pipeline", Seq("2000", "2000"),
      Seq("n_docs", "n_vecs", "pii_sec", "budget_sec", "whiten_sec", "mmr_sec", "span_sec",
        "batch_sec", "brn_sec", "plain_rn_sec", "brn_rows")),
    ("gramian-lsh-bootstrap", Seq("2000", "2000", "20000"),
      Seq("n_vecs", "n_docs", "n_rows", "gramian_d64_sec", "gramian_d256_sec",
        "capped_lsh_sec", "lsh_overflow_sec", "bootstrap_x32_sec")),
    ("rank-scans", Seq("2000", "20000", "2000"),
      Seq("matched_pairs", "conformal", "padding_ranks")),
    ("kernel-tiles", Seq("64", "200", "16", "16"),
      Seq("corpus", "dim", "tile", "cap", "points")),
    ("grid-scans", Seq("32", "200", "8", "16"), Seq("corpus", "dim", "tile", "points")),
    ("grid-1024d", Seq("200", "16", "32", "2"),
      Seq("dim", "corpus", "tile_eff", "block_rows_eff", "cap", "runs")),
    ("grid-parts", Nil,
      Seq("dim", "n_queries", "corpus", "packed_shuffle_sec", "nested_shuffle_sec",
        "kernel_sec")))

  test("the spec covers every registered scenario") {
    assert(smallest.map(_._1).toSet == ScaleBench.scenarios.keySet)
  }

  private def run(scenario: String, args: Seq[String]): JsonNode = {
    val line = ScaleBench.line(spark, scenario, args)
    assert(!line.contains('\n'), s"$scenario printed more than one line")
    val js = new ObjectMapper().readTree(line)
    assert(js.isObject && js.path("scenario").asText() == scenario)
    js
  }

  private def paths(points: JsonNode): Seq[String] =
    points.elements().asScala.map(_.path("path").asText()).toSeq

  smallest.foreach { case (scenario, args, keys) =>
    test(s"scenario $scenario prints one JSON line with its keys") {
      val js = run(scenario, args)
      val missing = keys.filterNot(js.has)
      assert(missing.isEmpty, s"$scenario lacks $missing in $js")
      scenario match {
        case "query" =>
          assert(!js.has("failed"), js.toString)
          assert(js.path("ratio").size() == Harness.named(args.head).size)
        case "kernel-tiles" | "grid-scans" =>
          assert(paths(js.path("points")).forall(_ == "grid"), js.toString)
        case "grid-1024d" =>
          val over = js.path("runs").elements().asScala.toSeq
            .filter(r => r.path("nq").asLong() > js.path("cap").asLong())
          assert(over.nonEmpty && over.forall(_.path("path").asText() == "grid"), js.toString)
        case _ =>
      }
    }
  }
}
