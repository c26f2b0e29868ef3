package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.QuerySpec.{BenchSkip, Headline, Parity}

/** The query registry's shape, checked without running a Spark job. */
class RegistrySpec extends AnyFunSuite {
  private val specs = SparkEntry.specs
  private def namesWith(tag: QuerySpec.Tag): Set[String] =
    specs.filter(_.is(tag)).map(_.name).toSet

  test("names are unique and the list is sorted by name") {
    val names = specs.map(_.name)
    assert(names.distinct == names,
      names.diff(names.distinct).mkString("duplicated: ", ", ", ""))
    assert(names == names.sorted)
  }

  test("139 queries: 136 with oracle SQL, the xxhash64 trio rows-only") {
    assert(specs.size == 139)
    assert(specs.count(_.oracleSql.isDefined) == 136)
    assert(specs.filter(_.oracleSql.isEmpty).map(_.name).toSet ==
      Set("q_dedup_pipeline", "q_minhash_pairs", "q_simhash_pairs"))
  }

  test("the headline set is the pinned round-1 battery") {
    // Frozen: Bench's headline_total must time the same work every round.
    val pinned = Set(
      // Queries core (round 1)
      "q_pack_flat", "q_pack_salted", "q_join_nested", "q_from_flat",
      "q_lists_roundtrip", "q_get_sub", "q_explode", "q_flatten_inner",
      "q_split", "q_nest_filter", "q_query_dialect", "q_dropna_fillna",
      "q_with_field", "q_eval_assign", "q_count_nested_by", "q_min_max",
      "q_describe", "q_sort_head", "q_map_rows_mean", "q_sessionize",
      "q_rollup", "q_set_ops", "q_map_rows_kernel", "q_struct_of_list",
      "q_describe_all", "q_explode_aligned", "q_element_index",
      // TrainingQueries (round 1)
      "q_dedup_exact", "q_dedup_pipeline", "q_minhash_rank", "q_minhash_pairs",
      "q_simhash_pairs", "q_jaccard_pairs", "q_embed_cosine_pairs",
      "q_ann_brute", "q_ann_lsh_buckets", "q_ann_lsh_topk", "q_ann_ivf",
      "q_token_stats", "q_quality", "q_lang_id", "q_fingerprint",
      "q_multimodal_meta")
    assert(namesWith(Headline) == pinned)
  }

  test("bench-skipped queries are parity artifacts outside the headline set") {
    assert(namesWith(BenchSkip).nonEmpty)
    assert(namesWith(BenchSkip).subsetOf(namesWith(Parity)))
    assert(namesWith(BenchSkip).intersect(namesWith(Headline)).isEmpty)
  }

  test("named keeps registry order and fails listing every unknown name") {
    assert(SparkEntry.named("q_take", "q_flagship").map(_.name) ==
      Seq("q_flagship", "q_take"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.named("q_flagship", "q_nope", "q_typo"))
    assert(e.getMessage.contains("unknown query names: q_nope, q_typo"))
  }
}
