package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.blocking.{Blocking, BlockingResult, RuleTierStats}
import graft.refine.DistinguishingTokens
import graft.resolve.{ConnectedComponents, ExactCascade}
import graft.runtime.Checkpoints
import graft.score.Scoring
import graft.signature.Signatures

/** End-to-end transcript deduplication pipeline (BASELINE.json north_star):
  *
  *   turns -> per-conversation signatures (+ on-the-fly TF features)
  *         -> deterministic exact cascade (cheap wins first,
  *            reference matching_stages.py design)
  *         -> union-of-rules blocking (role-seq/salient/MinHash bands)
  *         -> Fellegi-Sunter scoring (JW + TF-product + cascades)
  *         -> distinguishing-token second pass
  *         -> threshold -> edges -> large-star/small-star clustering
  *
  * Every stage is a DataFrame => DataFrame function; with a checkpoint dir
  * the inter-stage boundaries commit to parquet and a rerun resumes from
  * the last committed stage.
  */
object Pipeline {

  final case class Config(
      predictThreshold: Double = -12,
      improveThreshold: Double = -20,
      /** clustering-edge gate on the FIRST-pass match_weight. The second
        * pass re-ranks candidates per record (reference usage: best-match
        * selection) but its magnitude scales with record length, so it is
        * not used to gate transitive merges.
        */
      edgeThreshold: Double = -6.0,
      topN: Int = 5,
      prior: Double = 1e-6,
      /** hot-block tiering (north_rule "salted hot-block splitting"):
        * blocks <= maxBlockRows join plainly, <= maxBlockRows*maxSaltFactor
        * join salted (no recall loss), above that sorted-neighborhood
        * salvage on sig_text order replaces the round-1 drop-at-cap.
        */
      maxBlockRows: Int = 200,
      maxSaltFactor: Int = 8,
      snmWindow: Int = 20,
      /** trie-fallback cascade stage (deepest-unique token suffix) in LINK
        * mode. Self-dedup mode ignores it: each record is its own deepest
        * suffix match there, so the stage can only re-find exact dups that
        * stage 1 already caught.
        */
      useSuffixStage: Boolean = false,
      /** edge-count gate for the exact driver-side union-find CC finish.
        * The conservative default assumes a 1g spark-submit driver
        * (ADVICE r3); callers that KNOW their driver heap (e.g. the
        * cluster bench's --driver-memory 8g) should raise it — a string
        * edge is ~150-300 B of driver Rows + union-find map, so ~2M edges
        * per spare GB is safe.
        */
      ccDriverFinishMaxEdges: Long = ConnectedComponents.DriverFinishMaxEdges,
      checkpointDir: Option[String] = None)

  /** `refined` is computed (and committed, with a checkpoint dir) on first read. */
  final case class Result(
      signatures: DataFrame,
      pairs: DataFrame,
      scored: DataFrame,
      clusters: DataFrame,
      /** per-rule skew-tier stats from the blocking stage */
      tierStats: Seq[RuleTierStats],
      nBlockingRules: Int)(refine: => DataFrame) {
    lazy val refined: DataFrame = refine
  }

  final case class LinkResult(
      messySignatures: DataFrame,
      canonicalSignatures: DataFrame,
      deterministic: DataFrame,
      pairs: DataFrame,
      scored: DataFrame,
      merged: DataFrame,
      tierStats: Seq[RuleTierStats],
      nBlockingRules: Int)

  /** Checkpoint-invalidation fingerprint: every config knob except the
    * checkpoint location itself. 128-bit MD5 — a 32-bit String.hashCode
    * collides with ~50% chance after ~77k distinct configs (ADVICE r2),
    * silently reusing a stale stage; MD5 makes that effectively impossible.
    */
  private def configFingerprint(cfg: Config): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(cfg.copy(checkpointDir = None).toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Stage boundaries of `run` and `runLink`; each truncates lineage.
    *
    * A boundary exists only where its output is read more than once, where
    * a caller reads it as a `Result`/`LinkResult` field, or where it ends
    * an expensive layer (signatures, pairs, scored) or the pipeline's
    * output; anything else runs inside the stage that reads it.
    *
    * A stage's commit is its only materialisation; no reader caches a
    * second copy on top of it. With a checkpoint dir a stage commits to
    * parquet, keyed by the config fingerprint so a config change recomputes
    * instead of serving stale stages. Without one it is a
    * localCheckpoint(eager = false). That is not fully lazy under AQE (on
    * in PipelineMain and the bench): the call plans and compiles the
    * stage's subplan and runs every shuffle map stage in it at once; only
    * the final stage waits for the first action, and the result is reused
    * after. Eager barriers (localCheckpoint(true))
    * were measured slower: the serial barriers dominated local wall.
    * Reference analogue: per-stage temp-table materialisation,
    * sql_pipeline/runner.py:471-491.
    */
  private final class Stages(spark: SparkSession, cfg: Config) {
    private val ckpt = cfg.checkpointDir.map(new Checkpoints(spark, _))
    private val fp = configFingerprint(cfg)

    def apply(name: String)(compute: => DataFrame): DataFrame =
      ckpt.map(_.stage(name, fp)(compute)).getOrElse(compute.localCheckpoint(false))

    /** A blocking stage: its pairs and per-rule tier stats. With a
      * checkpoint dir the stats are committed in the stage's manifest, so
      * a resumed stage returns the stats it was committed with.
      */
    def blocking(name: String)(
        compute: => BlockingResult): (DataFrame, Seq[RuleTierStats]) = ckpt match {
      case Some(c) =>
        val (pairs, info) = c.stageWithInfo(name, fp) {
          val res = compute
          (res.pairs, tierStatsJson(res.tierStats))
        }
        (pairs, tierStatsOf(info))
      case None =>
        val res = compute
        (res.pairs.localCheckpoint(false), res.tierStats)
    }
  }

  /** Tier stats as a blocking stage's manifest records them, and back. */
  private def tierStatsJson(stats: Seq[RuleTierStats]): JsonNode = {
    val arr = JsonNodeFactory.instance.arrayNode()
    stats.foreach(t => arr.addObject().put("rule", t.rule).put("n_salt_keys", t.nSaltKeys)
      .put("n_ultra_keys", t.nUltraKeys).put("n_one_sided_hot_keys", t.nOneSidedHotKeys))
    arr
  }

  private def tierStatsOf(json: JsonNode): Seq[RuleTierStats] =
    json.elements().asScala.map(t => RuleTierStats(t.get("rule").asInt(),
      t.get("n_salt_keys").asLong(), t.get("n_ultra_keys").asLong(),
      t.get("n_one_sided_hot_keys").asLong())).toSeq

  /** Attach the score-model feature columns to narrow (id_l, id_r,
    * match_key) pairs from the signature tables (one row per id).
    */
  def attachScoreCols(lSigs: DataFrame, rSigs: DataFrame, pairs: DataFrame): DataFrame = {
    val lCarry = lSigs.select(
      (col("conv_id").as("conv_id_l") +: Scoring.InputCols.map(c => col(c).as(c + "_l"))): _*)
    val rCarry = rSigs.select(
      (col("conv_id").as("conv_id_r") +: Scoring.InputCols.map(c => col(c).as(c + "_r"))): _*)
    pairs.join(lCarry, Seq("conv_id_l")).join(rCarry, Seq("conv_id_r"))
  }

  /** Score narrow pairs against their signature features (the isolated
    * scoring surface used by the benchmark's throughput metric).
    */
  def scorePairs(lSigs: DataFrame, rSigs: DataFrame, pairs: DataFrame, prior: Double): DataFrame =
    Scoring.scoreDefault(attachScoreCols(lSigs, rSigs, pairs), prior)

  /** Signatures stage body: per-conversation signatures, TF features from
    * `tfSource`'s token frequencies (the side's own signatures when None)
    * and the cascade/blocking `block_key`. When s0 is its own TF source it
    * has two readers, the TF table (collected to the driver by attachTf)
    * and the attach projection, so it is materialised once; without the
    * barrier each would recompute the per-conversation signature kernel.
    */
  private def signaturesWithTf(turns: DataFrame, tfSource: Option[DataFrame] = None): DataFrame = {
    val s0 = Signatures.signatures(turns)
    val sigs = if (tfSource.isEmpty) s0.localCheckpoint(false) else s0
    Signatures.attachTf(sigs, Signatures.tokenFrequencies(tfSource.getOrElse(sigs)))
      .withColumnRenamed("bk_role_len", "block_key")
  }

  private def skewConfig(cfg: Config): Blocking.SkewConfig =
    Blocking.SkewConfig(cfg.maxBlockRows, cfg.maxSaltFactor, cfg.snmWindow,
      snmSortCol = Some("sig_text"))

  /** Scoring stage body: first-pass scores above `predictThreshold`,
    * narrow (features are attached here, not carried across boundaries).
    */
  private def scoreAbove(
      lSigs: DataFrame, rSigs: DataFrame, pairs: DataFrame, cfg: Config): DataFrame =
    scorePairs(lSigs, rSigs, pairs, cfg.prior)
      .filter(col("match_weight") > cfg.predictThreshold)
      .select("conv_id_l", "conv_id_r", "match_key", "match_weight",
        "match_probability", "sig_text_l", "sig_text_r")

  /** Refine stage body: the second pass, keeping `keep`. */
  private def refine(scored: DataFrame, cfg: Config, keep: Seq[String]): DataFrame =
    DistinguishingTokens.improve(scored,
      DistinguishingTokens.Params(
        matchWeightThreshold = cfg.improveThreshold, topNMatches = cfg.topN))
      .select(keep.map(col): _*)

  def run(spark: SparkSession, turnsIn: DataFrame, cfg: Config = Config()): Result = {
    // fail fast with ALL schema problems aggregated (reference:
    // validation.py enforced before the deterministic pass)
    val turns = runtime.SchemaValidation.validateOrThrow(
      turnsIn, runtime.SchemaValidation.turnsSchema, "turns")
    val stage = new Stages(spark, cfg)

    // 1. signatures (+ TF attach from the corpus itself)
    val sigs = stage("signatures")(signaturesWithTf(turns))

    // 2. blocking on everything (cascade edges merge in at the end).
    // The pairs boundary stays NARROW (ids + match_key): materialising
    // carry-fattened pairs (turn texts + TF maps per side) at a stage
    // boundary measured ~100 s at 250k convs — the features are attached
    // inside the scoring stage instead, which emits a narrow result.
    val rules = Blocking.defaultRules(Signatures.Bands)
    val (pairs, tierStats) = stage.blocking("pairs") {
      Blocking.candidatePairsSelfWithStats(sigs, "conv_id", rules, skewConfig(cfg))
    }

    // 3. score (carry features joined in from the committed signatures)
    val scored = stage("scored")(scoreAbove(sigs, sigs, pairs, cfg))

    // 4. edges = confident first-pass pairs + deterministic cascade links.
    // The cascade is self-dedup: canonical side = all records, exact
    // duplicates collapse to the min id immediately. Self mode uses the
    // proven one-shuffle collapse of the full cascade — identical output
    // (ExactCascade.selfExactLinks doc + CascadeSpec equivalence test),
    // ~10 fewer serial stages (VERDICT r3 #4).
    val clusters = stage("clusters") {
      val cascade = ExactCascade.selfExactLinks(
        sigs.select(col("conv_id"), col("sig_text"), col("block_key")))
      val scoredEdges = scored.filter(col("match_weight") > cfg.edgeThreshold)
        .select(col("conv_id_l"), col("conv_id_r"))
      val cascadeEdges = cascade.select(
        col("conv_id").as("conv_id_l"), col("resolved_canonical_id").as("conv_id_r"))
      // no .distinct() here: ConnectedComponents.run canonicalises and
      // dedups the edge set itself — a pipeline-level distinct was a full
      // extra shuffle for nothing (VERDICT r3 #4 stage-floor audit)
      val edges = scoredEdges.unionByName(cascadeEdges)
      ConnectedComponents.assignAll(
        spark, sigs.select("conv_id"), edges,
        checkpointDir = cfg.checkpointDir.map(_ + "/cc"),
        driverFinishMaxEdges = cfg.ccDriverFinishMaxEdges)
    }

    // 5. second pass, on first read of `refined`
    Result(sigs, pairs, scored, clusters, tierStats, rules.length)(stage("refined") {
      refine(scored, cfg,
        Seq("conv_id_l", "conv_id_r", "match_weight", "match_weight_original", "mw_adjustment"))
    })
  }

  /** Link-mode pipeline: match each messy conversation to its best
    * canonical counterpart (the reference's primary entrypoint —
    * examples/example_matching.py:99-111 composed over
    * matching_stages.py + splink_model.py + match_candidate_selection.py):
    *
    *   1. signatures for both sides, TF table from the canonical corpus
    *      (the stable side — messy batches come and go);
    *   2. deterministic exact cascade messy -> canonical;
    *   3. blocking (canonical = _l, messy = _r) for UNMATCHED messy only
    *      (carry-forward semi-filter, reference input_filters.py);
    *   4. Fellegi-Sunter score + distinguishing-token second pass;
    *   5. best match per messy record (threshold + tie-break);
    *   6. merge: deterministic wins, probabilistic fills the rest
    *      (match_candidate_selection.py:100-130).
    */
  def runLink(
      spark: SparkSession,
      messyTurnsIn: DataFrame,
      canonicalTurnsIn: DataFrame,
      cfg: Config = Config()): LinkResult = {
    val messyTurns = runtime.SchemaValidation.validateOrThrow(
      messyTurnsIn, runtime.SchemaValidation.turnsSchema, "messy turns")
    val canonicalTurns = runtime.SchemaValidation.validateOrThrow(
      canonicalTurnsIn, runtime.SchemaValidation.turnsSchema, "canonical turns")
    val stage = new Stages(spark, cfg)

    // 1. signatures; one TF table (canonical corpus) applied to both sides
    // so a token's rarity means the same thing on each side of a pair.
    val canonSigs = stage("link_canon_sigs")(signaturesWithTf(canonicalTurns))
    // TF from the already-materialised canonical signatures (tokens col)
    val messySigs = stage("link_messy_sigs")(
      signaturesWithTf(messyTurns, tfSource = Some(canonSigs)))

    // 2. deterministic cascade
    val det = stage("link_cascade") {
      ExactCascade.run(
        messySigs.select(col("conv_id"), col("sig_text"), col("block_key")),
        canonSigs.select(col("conv_id"), col("sig_text"), col("block_key")),
        useSuffixStage = cfg.useSuffixStage)
    }

    // 3. blocking on the carry-forward (unmatched messy records only);
    // narrow pairs boundary, features joined at scoring time (see run()).
    val rules = Blocking.defaultRules(Signatures.Bands)
    val (pairs, tierStats) = stage.blocking("link_pairs") {
      val remaining = messySigs.join(det.select("conv_id"), Seq("conv_id"), "left_anti")
      Blocking.candidatePairsLinkWithStats(canonSigs, remaining, "conv_id", rules, skewConfig(cfg))
    }

    // 4-6. score; second pass, best match and merge in one stage
    val scored = stage("link_scored")(scoreAbove(canonSigs, messySigs, pairs, cfg))
    val merged = stage("link_merged") {
      val refined = refine(scored, cfg, Seq("conv_id_l", "conv_id_r", "match_weight"))
      graft.evaluate.Evaluate.mergeMatches(det, graft.evaluate.Evaluate.bestMatches(refined))
    }
    LinkResult(messySigs, canonSigs, det, pairs, scored, merged, tierStats, rules.length)
  }
}
