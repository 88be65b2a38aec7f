package graft.erbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.blocking.{Blocking, RuleTierStats}
import graft.evaluate.Evaluate
import graft.ingest.TranscriptGen
import graft.refine.DistinguishingTokens
import graft.resolve.{ConnectedComponents, ExactCascade}
import graft.runtime.Checkpoints
import graft.score.Scoring
import graft.signature.Signatures

/** What one call produced. `result` is (conv_id, cluster_id) for dedup and
  * (conv_id_r, conv_id_l) for link; `candidates` are the blocked pairs and
  * `exact` the cascade links.
  */
final case class CallOut(
    result: DataFrame,
    candidates: DataFrame,
    exact: DataFrame,
    tierStats: Seq[RuleTierStats],
    nRules: Int,
    edges: Option[DataFrame] = None)

/** Count plus an order-independent hash of the result rows. */
final case class Fingerprint(rows: Long, hash: String)

/** A workload's generated inputs and the two ways of running the pipeline
  * over them: the public entry point, and the same layers called one by
  * one under the tracer with a materialising barrier after each.
  */
trait Prepared {
  def fingerprintCols: (String, String)
  def run(ckptDir: Option[String]): CallOut
  def traced(ckptDir: Option[String], layer: Layer): CallOut
  /** Output checks; returns the list of violations (empty when correct). */
  def violations(out: CallOut, fp: Fingerprint): Seq[String]
  /** (f1, f1_blocked) */
  def quality(out: CallOut): (Double, Double)
  /** Truth-based blocking quality: (pair_recall, pair_precision). */
  def blockingQuality(out: CallOut): (Double, Double)
}

/** Runs `body` as the named traced layer. With `barrier` the span ends
  * only once the result is materialised; without it the body must
  * materialise its result itself.
  */
trait Layer {
  def apply(name: String, barrier: Boolean = true)(body: => DataFrame): DataFrame
}

object Workloads {
  val Names: Seq[String] = Seq("dedup", "link", "dedup_hot")

  /** TranscriptGen conversation-id slots for `dedup` and `link`. */
  val DedupSlots = 1600L
  val LinkSlots = 3200L
  /** Replay groups sized for both hot tiers: above `maxBlockRows *
    * maxSaltFactor` = 1600 rows (SNM salvage) and between `maxBlockRows` =
    * 200 and 1600 (salted).
    */
  val HotShape = HotGen.Shape(sessions = 400, replaysA = 1650, replaysB = 210)
  /** The hot corpus yields ~60k clustering edges, below the default
    * driver-finish gate of 100k; a lower gate sends them through the
    * distributed star rounds, which is the CC path this workload exists to
    * load.
    */
  val HotCcDriverFinishMaxEdges = 10000L

  def fingerprint(df: DataFrame, a: String, b: String): Fingerprint = {
    val r = df.agg(
      count(lit(1)),
      coalesce(sum(xxhash64(col(a), col(b)).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).cast("string")).head()
    Fingerprint(r.getLong(0), r.getString(1))
  }

  /** Generates the workload's inputs under `dir` and returns them ready
    * to run. Inputs are materialised here, so no call pays for them.
    */
  def prepare(spark: SparkSession, name: String, seed: Long, dir: String): Prepared = name match {
    case "dedup" =>
      val path = s"$dir/turns.parquet"
      TranscriptGen.turnsDF(spark, DedupSlots, seed).write.mode("overwrite").parquet(path)
      new Dedup(spark, spark.read.parquet(path),
        TranscriptGen.labels(spark, DedupSlots, seed).toDF().localCheckpoint(true),
        Pipeline.Config())
    case "dedup_hot" =>
      new Dedup(spark, HotGen.turns(spark, HotShape, seed).localCheckpoint(true),
        HotGen.labels(spark, HotShape).localCheckpoint(true),
        Pipeline.Config(ccDriverFinishMaxEdges = HotCcDriverFinishMaxEdges))
    case "link" =>
      val turns = TranscriptGen.turnsDF(spark, LinkSlots, seed)
      val variant = substring(col("conv_id"), 2, 10).cast("long") % 4
      val labels = TranscriptGen.labels(spark, LinkSlots, seed).toDF()
        .filter(col("conv_id") =!= col("correct_conv_id"))
      new Link(spark,
        messy = turns.filter(variant =!= 0).localCheckpoint(true),
        canonical = turns.filter(variant === 0).localCheckpoint(true),
        labels = labels.localCheckpoint(true))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def f1Of(tp: Long, fp: Long, fn: Long): Double =
    if (tp == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)

  /** Self-dedup through `Pipeline.run`. */
  final class Dedup(spark: SparkSession, turns: DataFrame, labels: DataFrame, baseCfg: Pipeline.Config)
      extends Prepared {
    private val convIds = turns.select("conv_id").distinct().localCheckpoint(true)
    private val nConvs = convIds.count()

    def fingerprintCols: (String, String) = ("conv_id", "cluster_id")

    def run(ckptDir: Option[String]): CallOut = {
      val r = Pipeline.run(spark, turns, baseCfg.copy(checkpointDir = ckptDir))
      CallOut(r.clusters, r.pairs, ExactCascade.selfExactLinks(
        r.signatures.select(col("conv_id"), col("sig_text"), col("block_key"))),
        r.tierStats, r.nBlockingRules)
    }

    /** `Pipeline.run`'s stage list, layer by layer. */
    def traced(ckptDir: Option[String], layer: Layer): CallOut = {
      val cfg = baseCfg.copy(checkpointDir = ckptDir)
      val ckpt = ckptDir.map(new Checkpoints(spark, _))
      def staged(name: String)(df: DataFrame): DataFrame = ckpt match {
        case Some(c) => layer("checkpoint", barrier = false)(c.stage(name, "erbench")(df))
        case None => df
      }
      val in = graft.runtime.SchemaValidation.validateOrThrow(
        turns, graft.runtime.SchemaValidation.turnsSchema, "turns")
      val s0 = layer("signatures")(Signatures.signatures(in))
      val tf = layer("tf")(Signatures.tokenFrequencies(s0))
      val sigs = staged("signatures")(layer("attach_tf")(
        Signatures.attachTf(s0, tf).withColumn("block_key", col("bk_role_len")))).persist()
      val cascade = staged("cascade")(layer("cascade")(ExactCascade.selfExactLinks(
        sigs.select(col("conv_id"), col("sig_text"), col("block_key")))))
      val rules = Blocking.defaultRules(Signatures.Bands)
      var tierStats: Seq[RuleTierStats] = Nil
      val pairs = staged("pairs")(layer("blocking") {
        val res = Blocking.candidatePairsSelfWithStats(sigs, "conv_id", rules,
          Blocking.SkewConfig(cfg.maxBlockRows, cfg.maxSaltFactor, cfg.snmWindow,
            snmSortCol = Some("sig_text")))
        tierStats = res.tierStats
        res.pairs
      })
      val scored = staged("scored")(layer("scoring")(
        Pipeline.scorePairs(sigs, sigs, pairs, cfg.prior)
          .filter(col("match_weight") > cfg.predictThreshold)
          .select("conv_id_l", "conv_id_r", "match_key", "match_weight",
            "match_probability", "sig_text_l", "sig_text_r")))
      staged("refined")(layer("refine")(
        DistinguishingTokens.improve(scored, DistinguishingTokens.Params(
          matchWeightThreshold = cfg.improveThreshold, topNMatches = cfg.topN))
          .select("conv_id_l", "conv_id_r", "match_weight", "match_weight_original",
            "mw_adjustment")))
      val edges = scored.filter(col("match_weight") > cfg.edgeThreshold)
        .select(col("conv_id_l"), col("conv_id_r"))
        .unionByName(cascade.select(
          col("conv_id").as("conv_id_l"), col("resolved_canonical_id").as("conv_id_r")))
      val clusters = staged("clusters")(layer("cc")(ConnectedComponents.assignAll(
        spark, sigs.select("conv_id"), edges,
        checkpointDir = cfg.checkpointDir.map(_ + "/cc"),
        driverFinishMaxEdges = cfg.ccDriverFinishMaxEdges)))
      CallOut(clusters, pairs, cascade, tierStats, rules.length, Some(edges))
    }

    def violations(out: CallOut, fp: Fingerprint): Seq[String] = {
      val distinct = out.result.select("conv_id").distinct().count()
      val foreign = out.result.join(convIds, Seq("conv_id"), "left_anti").count()
      Seq(
        (fp.rows != nConvs) -> s"${fp.rows} cluster rows for $nConvs conversations",
        (distinct != fp.rows) -> s"${fp.rows - distinct} conversations in more than one cluster",
        (foreign != 0) -> s"$foreign clustered ids are not input conversations"
      ).collect { case (true, msg) => msg }
    }

    def quality(out: CallOut): (Double, Double) = {
      val all = Evaluate.pairwiseF1AllLabelPairs(spark, out.result, labels).head()
      val blocked = Evaluate.pairwiseF1(spark, out.candidates, out.result, labels).head()
      (all.getAs[Double]("f1"), blocked.getAs[Double]("f1"))
    }

    def blockingQuality(out: CallOut): (Double, Double) = {
      val t = labels.select(col("conv_id"), col("correct_conv_id"))
      val truth = t.as("a").join(t.as("b"),
          col("a.correct_conv_id") === col("b.correct_conv_id") &&
            col("a.conv_id") < col("b.conv_id"))
        .select(col("a.conv_id").as("l"), col("b.conv_id").as("r"))
      val cand = out.candidates.select(
        least(col("conv_id_l"), col("conv_id_r")).as("l"),
        greatest(col("conv_id_l"), col("conv_id_r")).as("r"))
      // an exact-duplicate group resolves to one canonical id: every pair
      // inside the group is linked, not only the star edges
      val g = out.exact.select(col("conv_id"), col("resolved_canonical_id").as("g"))
        .unionByName(out.exact.select(col("resolved_canonical_id").as("conv_id"),
          col("resolved_canonical_id").as("g"))).distinct()
      val exactPairs = g.as("a").join(g.as("b"),
          col("a.g") === col("b.g") && col("a.conv_id") < col("b.conv_id"))
        .select(col("a.conv_id").as("l"), col("b.conv_id").as("r"))
      val covered = cand.unionByName(exactPairs).distinct()
      val nTruth = truth.count()
      val hit = truth.join(covered, Seq("l", "r"), "left_semi").count()
      val nCand = cand.count()
      val candTrue = cand.join(truth, Seq("l", "r"), "left_semi").count()
      (if (nTruth == 0) 1.0 else hit.toDouble / nTruth,
        if (nCand == 0) 0.0 else candTrue.toDouble / nCand)
    }
  }

  /** Messy-to-canonical linkage through `Pipeline.runLink`. */
  final class Link(spark: SparkSession, messy: DataFrame, canonical: DataFrame, labels: DataFrame)
      extends Prepared {
    private val messyIds = messy.select("conv_id").distinct().localCheckpoint(true)
    private val canonIds = canonical.select("conv_id").distinct().localCheckpoint(true)
    private val nMessy = messyIds.count()

    def fingerprintCols: (String, String) = ("conv_id_r", "conv_id_l")

    def run(ckptDir: Option[String]): CallOut = {
      val r = Pipeline.runLink(spark, messy, canonical, Pipeline.Config(checkpointDir = ckptDir))
      CallOut(r.merged, r.pairs, r.deterministic, r.tierStats, r.nBlockingRules)
    }

    /** `Pipeline.runLink`'s stage list, layer by layer. */
    def traced(ckptDir: Option[String], layer: Layer): CallOut = {
      require(ckptDir.isEmpty, "the traced link composition runs in memory")
      val cfg = Pipeline.Config()
      def valid(df: DataFrame, what: String) = graft.runtime.SchemaValidation.validateOrThrow(
        df, graft.runtime.SchemaValidation.turnsSchema, what)
      val messyIn = valid(messy, "messy turns")
      val canonIn = valid(canonical, "canonical turns")
      val c0 = layer("signatures")(Signatures.signatures(canonIn))
      val ctf = layer("tf")(Signatures.tokenFrequencies(c0))
      val canonSigs = layer("attach_tf")(
        Signatures.attachTf(c0, ctf).withColumn("block_key", col("bk_role_len"))).persist()
      val m0 = layer("signatures")(Signatures.signatures(messyIn))
      val mtf = layer("tf")(Signatures.tokenFrequencies(canonSigs))
      val messySigs = layer("attach_tf")(
        Signatures.attachTf(m0, mtf).withColumn("block_key", col("bk_role_len"))).persist()
      val det = layer("cascade")(ExactCascade.run(
        messySigs.select(col("conv_id"), col("sig_text"), col("block_key")),
        canonSigs.select(col("conv_id"), col("sig_text"), col("block_key")),
        useSuffixStage = cfg.useSuffixStage))
      val rules = Blocking.defaultRules(Signatures.Bands)
      var tierStats: Seq[RuleTierStats] = Nil
      val pairs = layer("blocking") {
        val remaining = messySigs.join(det.select("conv_id"), Seq("conv_id"), "left_anti")
        val res = Blocking.candidatePairsLinkWithStats(canonSigs, remaining, "conv_id", rules,
          Blocking.SkewConfig(cfg.maxBlockRows, cfg.maxSaltFactor, cfg.snmWindow,
            snmSortCol = Some("sig_text")))
        tierStats = res.tierStats
        res.pairs
      }
      val scored = layer("scoring")(
        Scoring.scoreDefault(Pipeline.attachScoreCols(canonSigs, messySigs, pairs), cfg.prior)
          .filter(col("match_weight") > cfg.predictThreshold)
          .select("conv_id_l", "conv_id_r", "match_key", "match_weight",
            "match_probability", "sig_text_l", "sig_text_r"))
      val refined = layer("refine")(
        DistinguishingTokens.improve(scored, DistinguishingTokens.Params(
          matchWeightThreshold = cfg.improveThreshold, topNMatches = cfg.topN))
          .select("conv_id_l", "conv_id_r", "match_weight"))
      val best = layer("best_merge")(Evaluate.bestMatches(refined))
      val merged = layer("best_merge")(Evaluate.mergeMatches(det, best))
      CallOut(merged, pairs, det, tierStats, rules.length)
    }

    def violations(out: CallOut, fp: Fingerprint): Seq[String] = {
      val distinct = out.result.select("conv_id_r").distinct().count()
      val notMessy = out.result.join(messyIds.withColumnRenamed("conv_id", "conv_id_r"),
        Seq("conv_id_r"), "left_anti").count()
      val notCanon = out.result.join(canonIds.withColumnRenamed("conv_id", "conv_id_l"),
        Seq("conv_id_l"), "left_anti").count()
      Seq(
        (distinct != fp.rows) -> s"${fp.rows - distinct} messy conversations matched twice",
        (notMessy != 0) -> s"$notMessy matched ids are not messy conversations",
        (notCanon != 0) -> s"$notCanon match targets are not canonical conversations"
      ).collect { case (true, msg) => msg }
    }

    private def candidatePairs(out: CallOut): DataFrame =
      out.candidates.select(col("conv_id_r").as("conv_id"), col("conv_id_l").as("correct_conv_id"))
        .unionByName(out.exact.select(col("conv_id"),
          col("resolved_canonical_id").as("correct_conv_id")))
        .distinct()

    def quality(out: CallOut): (Double, Double) = {
      val judged = labels.join(
          out.result.select(col("conv_id_r").as("conv_id"), col("conv_id_l").as("matched")),
          Seq("conv_id"), "left")
        .join(candidatePairs(out).withColumn("in_blocks", lit(true)),
          Seq("conv_id", "correct_conv_id"), "left")
        .select(
          (col("matched") === col("correct_conv_id")).as("right"),
          col("matched").isNotNull.as("answered"),
          coalesce(col("in_blocks"), lit(false)).as("in_blocks"))
      def f1Where(c: org.apache.spark.sql.Column): Double = {
        val r = judged.filter(c).agg(
          count(lit(1)),
          sum(when(col("right"), 1L).otherwise(0L)),
          sum(when(col("answered") && !col("right"), 1L).otherwise(0L))).head()
        val n = r.getLong(0)
        val tp = if (r.isNullAt(1)) 0L else r.getLong(1)
        val fp = if (r.isNullAt(2)) 0L else r.getLong(2)
        f1Of(tp, fp, n - tp)
      }
      (f1Where(lit(true)), f1Where(col("in_blocks")))
    }

    def blockingQuality(out: CallOut): (Double, Double) = {
      val cand = candidatePairs(out)
      val hit = labels.join(cand, Seq("conv_id", "correct_conv_id"), "left_semi").count()
      val pairs = out.candidates.select(
        col("conv_id_r").as("conv_id"), col("conv_id_l").as("correct_conv_id"))
      val nPairs = pairs.count()
      val truePairs = pairs.join(labels, Seq("conv_id", "correct_conv_id"), "left_semi").count()
      (hit.toDouble / nMessy, if (nPairs == 0) 0.0 else truePairs.toDouble / nPairs)
    }
  }
}
