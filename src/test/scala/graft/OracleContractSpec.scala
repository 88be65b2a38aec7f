package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** The frozen query contract: `SparkEntry.oracleSql` names and SQL text
  * stay byte-identical, and no two query definitions share a name (which
  * `SparkEntry.queries`' `.toMap` would drop silently).
  */
class OracleContractSpec extends AnyFunSuite {

  private val OracleNames = Seq(
    "q01_agg_lineitem", "q02_join_revenue_by_nation", "q03_semi_join", "q04_anti_join",
    "q05_topn_per_group", "q06_lead_lag", "q07_cube", "q08_setops", "q09_string_scalars",
    "q10_sort_limit", "q11_tokens_arrays", "q12_token_hist", "q13_tf_table",
    "q14_bigrams_top", "q15_fingerprint", "q16_exact_dedup", "q17_minhash_lsh_pairs",
    "q18_simhash", "q19_ngram_jaccard", "q19b_lsh_jaccard", "q20_cosine_topk",
    "q20b_ann_lsh", "q20c_ann_multiband", "q21_langid", "q22_quality", "q23_token_count",
    "q24_sessionize", "q25_hourly_agg", "q26_blocking_pairs", "q27_fs_scores",
    "q28_best_match", "q29_connected_components", "q30_grouping_sets", "q31_binary_meta",
    "q32_hash_sample", "q33_sorted_neighborhood", "q34_salted_blocking", "q35_link_merge",
    "q36_accuracy_report", "q37_nth_fp_example", "q38_hist_udaf", "q39_adjacent_suffix",
    "q40_suffix_trie", "q41_global_rownum")

  /** SHA-256 of the name-sorted `name\nsql` entries, joined by `\n`. */
  private val OracleSha256 = "da69010d43e4a68ccc51726643f70ad41f49a8c1513a76a8db0e01166d88fcc2"

  test("oracleSql holds the 44 frozen queries") {
    assert(OracleNames.length === 44)
    assert(SparkEntry.oracleSql.keys.toSeq.sorted === OracleNames.sorted)
  }

  test("oracleSql text is byte-identical to the frozen contract") {
    val blob = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (name, sql) => s"$name\n$sql" }.mkString("\n")
    val sha = MessageDigest.getInstance("SHA-256")
      .digest(blob.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
    assert(sha === OracleSha256)
  }

  test("allDefs names are distinct") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.diff(names.distinct).isEmpty, names.diff(names.distinct))
  }
}
