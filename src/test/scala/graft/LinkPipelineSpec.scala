package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end link-mode pipeline (Pipeline.runLink): exact-tuple cases in
  * the spirit of the reference's exact-matching tests
  * (tests/test_exact_matching.py:113-181) — each messy conversation must
  * resolve to the expected canonical with the expected match_reason, and
  * deterministic matches must win over probabilistic ones.
  */
class LinkPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def turnsOf(cid: String, texts: Seq[(String, String)]) =
    texts.zipWithIndex.map { case ((role, text), t) => (cid, t, role, text) }

  // Distinctive multi-turn conversations (rare tokens so salient-token
  // blocking fires; >= 5 turns so shingle/minhash features exist).
  private val convA = Seq(
    "user" -> "please migrate the zephyr database cluster to region osaka",
    "assistant" -> "starting zephyr migration with rolling snapshots",
    "user" -> "verify replication lag stays under forty milliseconds",
    "assistant" -> "replication lag peaked at twelve milliseconds all good",
    "user" -> "great close the ticket 88421 now")
  private val convB = Seq(
    "user" -> "draft a sonnet about the lighthouse keeper of blackrock",
    "assistant" -> "the keeper climbs the spiral stair at dusk",
    "user" -> "make the final couplet mention the november storm",
    "assistant" -> "and when november hurls its salt against the glass",
    "user" -> "perfect sign it with initials q v")
  private val convC = Seq(
    "user" -> "explain quaternion rotation for the drone stabilizer firmware",
    "assistant" -> "quaternions avoid gimbal lock by encoding orientation",
    "user" -> "show the slerp interpolation formula with normalization",
    "assistant" -> "slerp blends unit quaternions along the great arc",
    "user" -> "thanks upload the firmware patch 77310")
  private val convD = Seq(
    "user" -> "summarize the permafrost methane reading from station yakutsk",
    "assistant" -> "methane flux rose nine percent during the thaw window",
    "user" -> "compare against the 2019 baseline sensor grid",
    "assistant" -> "baseline comparison shows a persistent upward drift",
    "user" -> "archive the dataset under code 55902")

  // convB with one in-vocabulary token swapped (storm -> lighthouse, both
  // known to the canonical TF so the salient-token ranking is undisturbed)
  // AND one turn's role relabeled (assistant -> tool). The role change
  // moves it out of the cascade's block key (role_seq#len_band), forcing
  // the probabilistic path; intact salient tokens let the salient-composite
  // blocking rule fire.
  private val fuzzyB = convB
    .updated(2, "user" -> "make the final couplet mention the november lighthouse")
    .updated(3, "tool" -> convB(3)._2)

  // m_exact: identical to convA (deterministic cascade must claim it);
  // m_fuzzy: fuzzyB; m_unique: no canonical counterpart
  private def canonDf = (turnsOf("c_a", convA) ++ turnsOf("c_b", convB) ++ turnsOf("c_c", convC))
    .toDF("conv_id", "turn_idx", "role", "text")
  private def messyDf = (turnsOf("m_exact", convA) ++ turnsOf("m_fuzzy", fuzzyB) ++
      turnsOf("m_unique", convD))
    .toDF("conv_id", "turn_idx", "role", "text")

  test("runLink: exact duplicate -> deterministic, near-dup -> probabilistic, unique -> unmatched") {
    // tool/ts omitted: schema validation must add them as typed nulls
    val res = Pipeline.runLink(spark, messyDf, canonDf,
      Pipeline.Config(predictThreshold = -20, edgeThreshold = -6))

    val merged = res.merged
      .select("conv_id_r", "conv_id_l", "match_reason")
      .as[(String, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    assert(merged.get("m_exact").map(_._1).contains("c_a"))
    assert(merged("m_exact")._2 === "exact_match")
    assert(merged.get("m_fuzzy").map(_._1).contains("c_b"),
      s"m_fuzzy resolved to ${merged.get("m_fuzzy")}")
    assert(merged("m_fuzzy")._2 === "probabilistic")
    // unique messy record: no candidate pairs -> absent from the merge
    assert(!merged.contains("m_unique"),
      s"m_unique unexpectedly matched: ${merged.get("m_unique")}")
  }

  test("runLink: deterministic match wins over probabilistic for the same record") {
    // messy record is an exact dup of c_a AND would also pair with c_a
    // probabilistically — merged must carry the deterministic reason only.
    val canonical = turnsOf("c_a", convA) ++ turnsOf("c_b", convB)
    val messy = turnsOf("m_dup", convA)
    val res = Pipeline.runLink(spark,
      messy.toDF("conv_id", "turn_idx", "role", "text"),
      canonical.toDF("conv_id", "turn_idx", "role", "text"))
    val rows = res.merged.filter(col("conv_id_r") === "m_dup")
      .select("conv_id_l", "match_reason").as[(String, String)].collect()
    assert(rows.length === 1)
    assert(rows.head === ("c_a", "exact_match"))
  }

  test("runLink with suffix stage enabled keeps deterministic-stage precedence") {
    val canonical = turnsOf("c_a", convA) ++ turnsOf("c_b", convB)
    val messy = turnsOf("m_dup", convA)
    val res = Pipeline.runLink(spark,
      messy.toDF("conv_id", "turn_idx", "role", "text"),
      canonical.toDF("conv_id", "turn_idx", "role", "text"),
      Pipeline.Config(useSuffixStage = true))
    val rows = res.merged.filter(col("conv_id_r") === "m_dup")
      .select("conv_id_l", "match_reason").as[(String, String)].collect()
    assert(rows.length === 1)
    assert(rows.head === ("c_a", "exact_match"))
  }

  test("runLink resumes from its checkpoint; a changed Config recomputes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_link_ckpt")
    val cfg = Pipeline.Config(predictThreshold = -20, checkpointDir = Some(dir.toString))
    val stages = Seq("link_canon_sigs", "link_messy_sigs", "link_cascade", "link_pairs",
      "link_scored", "link_merged")
    def merged(r: Pipeline.LinkResult) = r.merged.collect().map(_.toString).sorted.toSeq

    val r1 = Pipeline.runLink(spark, messyDf, canonDf, cfg)
    val m1 = merged(r1)
    val ck = new graft.runtime.Checkpoints(spark, dir.toString)
    assert(dir.toFile.list().toSet.filter(ck.isCommitted) === stages.toSet)

    // recomputing a stage overwrites its directory, deleting this marker
    def kept(stage: String) = java.nio.file.Files.exists(dir.resolve(stage).resolve("_kept"))
    stages.foreach(s => java.nio.file.Files.createFile(dir.resolve(s).resolve("_kept")))

    val r2 = Pipeline.runLink(spark, messyDf, canonDf, cfg)
    assert(merged(r2) === m1)
    assert(r2.tierStats === r1.tierStats)
    assert(stages.forall(kept), s"recomputed: ${stages.filterNot(kept)}")

    Pipeline.runLink(spark, messyDf, canonDf, cfg.copy(predictThreshold = -19))
    assert(stages.forall(ck.isCommitted))
    assert(stages.forall(s => !kept(s)), s"reused under a changed Config: ${stages.filter(kept)}")
  }

  test("runLink rejects malformed input with aggregated schema errors") {
    val bad = Seq(("x", "oops")).toDF("conv_id", "text") // no turn_idx/role
    val canonical = turnsOf("c_a", convA).toDF("conv_id", "turn_idx", "role", "text")
    val e = intercept[IllegalArgumentException] {
      Pipeline.runLink(spark, bad, canonical)
    }
    assert(e.getMessage.contains("turn_idx"))
    assert(e.getMessage.contains("role"))
    assert(e.getMessage.contains("2 problem(s)"))
  }
}
