package graft.resolve

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.SparkOrder

/** Deterministic exact-match cascade — the cheap first pass that removes
  * easy matches before probabilistic scoring (reference:
  * linking_model/exact_matching/matching_stages.py:214-307, traced in
  * SURVEY.md §3.2).
  *
  * Stage order (first match wins, like the reference's ordered stage list):
  *   1. exact: sig_text + blocking key equality against the canonical side
  *      deduped to its min id (reference LATERAL ... LIMIT 1,
  *      annotate_exact_matches.py:31-58);
  *   2. unique_shingle: the char-5-grams of the messy text that belong to
  *      exactly one canonical record of its block all point at the same
  *      canonical record, with at least 3 such hits (reference trigram
  *      stage, resolve_with_trigrams.py:54-157);
  *   3. (optional) suffix_trie: deepest-unique token-suffix resolution —
  *      the reference's trie fallback (resolve_with_trie.py:16-56, whose
  *      build_suffix_trie/find_address UDFs are external stubs even there)
  *      re-expressed RELATIONALLY: instead of materialising a per-group
  *      trie blob (a single-node data structure that must fit one
  *      executor and dies exactly at the scale it matters), every token
  *      suffix up to `MaxSuffixDepth` becomes a join key; the trie walk "descend
  *      as deep as possible, succeed iff the subtree holds exactly one id"
  *      is a max-k window over the suffix join with a min == max
  *      uniqueness gate on the candidate id (one distinct candidate).
  *      Same semantics, but distributed, AQE-planned and skew-handled like
  *      every other join in the engine.
  *
  * Stages 1-2 run as one block kernel (`exactAndShingleLinks`). The
  * reference carries unmatched rows forward between stages (left_anti,
  * matching_stages.py:173-183) and reduces the canonical side to the
  * blocks those rows occupy (input_filters.py:40-96). That reduction only
  * drops blocks no remaining record is in, so a record's stage-2 result
  * does not depend on which other records matched in stage 1: the kernel
  * computes both stages for every record and applies the precedence per
  * id at the end. Stage 3 still carries forward with left_anti.
  *
  * Scale shape of stages 1-2: one small aggregate of rows per block key,
  * broadcast back as the bucket count of each large block; one shuffle of
  * (id, sig_text) on (block_key, bucket); one map-side combined aggregate
  * on the messy id. A block of more than 200 rows is split into
  * S = ceil(rows / 200) buckets by the hash of each shingle (its exact key
  * by the hash of sig_text), so no task holds a hot block whole; a record
  * of a split block ships each bucket only the shingles that hash there,
  * so its shuffled bytes do not grow with S (its row count grows as
  * min(shingles, S)).
  */
object ExactCascade {

  /** Deepest-unique token-suffix resolution (the trie fallback, stage 3 —
    * see object doc). For each messy record, find the LARGEST k such that
    * its last-k-token suffix matches >= 1 canonical record in the same
    * block; the record resolves iff that deepest suffix identifies exactly
    * one canonical id and k >= `MinSuffixDepth` (a 1-token suffix is a
    * generic sign-off in transcripts, not evidence). Suffixes are capped at
    * `MaxSuffixDepth` tokens so the exploded key volume is
    * O(rows * MaxSuffixDepth). q40's oracle SQL fixes the same 2 and 12.
    *
    * @return (id, resolved_canonical_id, depth, match_reason='suffix_trie')
    */
  def resolveWithSuffixes(
      messy: DataFrame,
      canonical: DataFrame,
      idCol: String = "conv_id"): DataFrame = {
    def suffixKeys(df: DataFrame, outId: String): DataFrame = {
      val toks = split(col("sig_text"), " ")
      df.select(col(idCol).as(outId), col("block_key"), toks.as("__toks"))
        .withColumn("k", explode(
          when(size(col("__toks")) > 0,
            sequence(lit(1), least(size(col("__toks")), lit(MaxSuffixDepth))))
            .otherwise(array().cast("array<int>"))))
        .select(col(outId), col("block_key"), col("k"),
          array_join(slice(col("__toks"), -col("k"), col("k")), " ").as("suffix"))
    }
    // canonical: per (block, depth, suffix) uniqueness + witness.
    // Rows with >1 candidate are KEPT — a deepest match that is ambiguous
    // must fail, not fall back to a shallower unique one (find_address
    // returns NULL when the walk ends on a multi-id subtree).
    // Uniqueness gate is min == max, NOT countDistinct == 1: Spark plans
    // a distinct aggregate as a two-level aggregate with an extra
    // Exchange keyed on (group keys, cand_id), where min/max are
    // single-phase and map-side combinable — one exchange over the
    // exploded suffix table instead of two (guide §2.3/§2.4; q40's plan:
    // 8 -> 6 Exchanges, plans/r06). cand_id is non-null (inner join), so
    // the predicates are exactly equivalent; the witness was min() already.
    val canonAgg = suffixKeys(canonical, "cand_id")
      .groupBy(col("block_key"), col("k"), col("suffix"))
      .agg(min(col("cand_id")).as("cand_id"), max(col("cand_id")).as("__cand_max"))
    val deepest = suffixKeys(messy, idCol)
      .join(canonAgg, Seq("block_key", "k", "suffix"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol)).orderBy(col("k").desc)))
      .filter(col("__rn") === 1 && col("cand_id") === col("__cand_max") &&
        col("k") >= MinSuffixDepth)
    deepest.select(col(idCol), col("cand_id").as("resolved_canonical_id"),
      col("k").cast("long").as("depth"), lit("suffix_trie").as("match_reason"))
  }

  /** SELF-dedup collapse of `run(records, records)`: provably equal output
    * in ONE window shuffle instead of the full cascade's ~10 stages
    * (VERDICT r3 #4 — the composed pipeline's serial stage floor).
    *
    * Proof the collapse is exact. With messy == canonical:
    * (1) stage 1's inner join matches EVERY non-null-keyed record to the
    *     min-id record of its own (sig_text, block_key) group — each record
    *     is present on the canonical side, so its own group always exists;
    *     null sig_text/block_key rows never join (SQL null keys) in either
    *     stage. So `remaining` is exactly the null-keyed rows, whose
    *     shingle joins also fail on the null block_key → stage 2 emits
    *     nothing. (2) Even ignoring (1): any shingle s of record m is held
    *     by m itself on the canonical side, so s being "unique to one
    *     candidate" forces that candidate to BE m — a self-link dropped by
    *     the identity filter. Hence self-mode cascade ≡ min-id-of-group
    *     minus identity links.
    * `records` carries (conv_id, sig_text, block_key).
    */
  def selfExactLinks(records: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sig_text"), col("block_key"))
    records
      .filter(col("sig_text").isNotNull && col("block_key").isNotNull)
      .select(col("conv_id"), min(col("conv_id")).over(w).as("resolved_canonical_id"))
      .filter(col("conv_id") =!= col("resolved_canonical_id"))
      .withColumn("match_reason", lit("exact_match"))
  }

  /** Link messy -> canonical. Both frames need (id, sig_text, block_key),
    * the ids of one type: a string or an integral type. Returns (id,
    * resolved_canonical_id, match_reason) for matched rows. Lazy: no Spark
    * job runs until the result is read; reading it scans each input twice
    * (once for the block sizes), so pass materialised inputs.
    */
  def run(
      messy: DataFrame,
      canonical: DataFrame,
      idCol: String = "conv_id",
      useSuffixStage: Boolean = false): DataFrame = {
    val stage12 = exactAndShingleLinks(messy, canonical, idCol)
    if (!useSuffixStage) stage12
    else {
      // Stage 3: trie fallback on rows stages 1-2 left unmatched.
      val remaining2 = messy.join(stage12.select(idCol), Seq(idCol), "left_anti")
      val canonFiltered2 = canonical.join(
        remaining2.select(col("block_key")).distinct(), Seq("block_key"), "left_semi")
      val trieMatch = resolveWithSuffixes(remaining2, canonFiltered2, idCol)
        .select(col(idCol), col("resolved_canonical_id"), col("match_reason"))
      stage12.unionByName(trieMatch)
    }
  }

  private val MinSuffixDepth = 2
  private val MaxSuffixDepth = 12
  private val ShingleLen = 5
  private val MinHits = 3 // resolve_with_trigrams.py:121-134
  /** Most rows of one block a stage 1-2 group holds; a larger block is
    * split into ceil(rows / BlockRows) buckets.
    */
  private val BlockRows = 200

  /** Stages 1-2 (see object doc), with the semantics of the reference
    * column plan (row_number dedupe + join, left_anti, shingle explode,
    * min/max gates; `CascadeColumnOracle` in the test tree):
    *   - shingles are the distinct 5-grams by code point (Spark's
    *     length/substr), none under 5 code points;
    *   - a NULL sig_text or block_key matches nothing;
    *   - the exact dedupe orders ids NULLs first, then by Spark's order
    *     (UTF-8 bytes for strings); shingle ownership skips NULL ids, as
    *     min/max do;
    *   - left_anti never removes a NULL messy id, so it can get both an
    *     exact and a unique_shingle row.
    * One deliberate difference: messy ids are record keys. An id with
    * several rows gets one exact row, its min non-NULL candidate, where
    * the column plan emits one per matched row; all NULL messy ids group
    * together, so several NULL-id rows with exact matches also give one
    * exact row.
    */
  private def exactAndShingleLinks(
      messy: DataFrame,
      canonical: DataFrame,
      idCol: String): DataFrame = {
    def side(df: DataFrame, isMessy: Boolean) = df
      .filter(col("sig_text").isNotNull && col("block_key").isNotNull)
      .select(col("block_key"), lit(isMessy).as("__messy"), col(idCol).as("__id"),
        col("sig_text"))
    val in = side(messy, isMessy = true).unionByName(side(canonical, isMessy = false))
    val idType = in.schema("__id").dataType
    val idOrder = SparkOrder(idType)

    // Bucket count of each split block, broadcast to its rows; a NULL
    // __buckets means one bucket.
    val split = in.groupBy(col("block_key")).count()
      .filter(col("count") > BlockRows)
      .select(col("block_key"), ceil(col("count") / BlockRows).cast(IntegerType).as("__buckets"))
    val sized = in.join(broadcast(split), Seq("block_key"), "left")

    // A row of a one-bucket block ships sig_text, its shingles derived in
    // the group. A row of a split block ships to each bucket only the
    // distinct shingles that hash there, concatenated (each is 5 code
    // points), and sig_text only to the bucket of its exact key: its
    // shuffle is O(length) bytes plus one row per bucket it reaches.
    val routedSchema = StructType(Seq(in.schema("block_key"),
      StructField("__bucket", IntegerType, nullable = false)) ++ in.schema.tail.map {
        case f if f.name == "sig_text" => f.copy(nullable = true)
        case f => f
      } :+ StructField("__shingles", StringType))
    val routed = sized.flatMap { r =>
      val (key, isMessy, id, text) = (r.get(0), r.get(1), r.get(2), r.getString(3))
      if (r.isNullAt(4)) Iterator(Row(key, 0, isMessy, id, text, null))
      else {
        val s = r.getInt(4)
        val exactAt = bucketOf(text, s)
        val byBucket = shingles(text).distinct.groupBy(bucketOf(_, s))
        (byBucket.keySet + exactAt).iterator.map(b => Row(key, b, isMessy, id,
          if (b == exactAt) text else null, byBucket.getOrElse(b, Array.empty[String]).mkString))
      }
    }(Encoders.row(routedSchema))

    val partialSchema = StructType(Seq(
      StructField("__id", idType),
      StructField("__exact", BooleanType, nullable = false),
      StructField("__exact_cand", idType),
      StructField("__cand_min", idType),
      StructField("__cand_max", idType),
      StructField("__hits", LongType, nullable = false)))
    val partials = routed.groupBy(col("block_key"), col("__bucket"))
      .as(Encoders.row(StructType(routedSchema.take(2))), Encoders.row(routedSchema))
      .flatMapSortedGroups(col("__messy"))((_: Row, group: Iterator[Row]) =>
        linkBucket(group, idOrder)
      )(Encoders.row(partialSchema))
      .toDF()

    val outSchema = StructType(Seq(
      StructField(idCol, idType),
      StructField("resolved_canonical_id", idType),
      StructField("match_reason", StringType, nullable = false)))
    partials.groupBy(col("__id"))
      .agg(max(col("__exact")).as("__exact"), min(col("__exact_cand")).as("__exact_cand"),
        min(col("__cand_min")).as("__cand_min"), max(col("__cand_max")).as("__cand_max"),
        sum(col("__hits")).as("__hits"))
      .flatMap { r =>
        val id = r.get(0)
        val exact = r.getBoolean(1)
        val unique = !r.isNullAt(3) && r.get(3) == r.get(4) && r.getLong(5) >= MinHits
        (if (exact) Iterator(Row(id, r.get(2), "exact_match")) else Iterator.empty) ++
          (if ((!exact || id == null) && unique) Iterator(Row(id, r.get(3), "unique_shingle"))
           else Iterator.empty)
      }(Encoders.row(outSchema))
      .toDF()
  }

  /** One (block_key, bucket) group, canonical rows first (`__messy`
    * sorts false first). A row's shingles are its packed `__shingles`
    * in a split block, else derived from its sig_text; a NULL
    * sig_text means its exact key is in another bucket. Emits (id, exact,
    * exact_cand, cand_min, cand_max, hits) for each messy row with an
    * exact hit or a unique shingle hit in this bucket.
    */
  private def linkBucket(group: Iterator[Row], idOrder: Ordering[Any]): Iterator[Row] = {
    val minIdOfText = mutable.HashMap.empty[String, Any]
    val ownerOf = mutable.HashMap.empty[String, Any]
    val seen = mutable.HashSet.empty[String]
    group.flatMap { r =>
      val id = r.get(3)
      val text = r.getString(4)
      val grams: Iterable[String] =
        if (r.isNullAt(5)) shingles(text) else unpack(r.getString(5))
      if (!r.getBoolean(2)) {
        if (text != null) minIdOfText.get(text) match {
          case Some(m) if m == null || (id != null && idOrder.gteq(id, m)) =>
          case _ => minIdOfText.update(text, id)
        }
        if (id != null) grams.foreach { s =>
          ownerOf.get(s) match {
            case None => ownerOf.update(s, id)
            case Some(o) => if (o != Ambiguous && o != id) ownerOf.update(s, Ambiguous)
          }
        }
        Iterator.empty
      } else {
        val exact = text != null && minIdOfText.contains(text)
        var hits = 0L
        var lo: Any = null
        var hi: Any = null
        seen.clear()
        grams.foreach { s =>
          if (seen.add(s)) ownerOf.get(s) match {
            case Some(o) if o != Ambiguous =>
              hits += 1
              if (lo == null || idOrder.lt(o, lo)) lo = o
              if (hi == null || idOrder.gt(o, hi)) hi = o
            case _ =>
          }
        }
        if (!exact && hits == 0) Iterator.empty
        else Iterator(Row(id, exact, if (exact) minIdOfText(text) else null, lo, hi, hits))
      }
    }
  }

  /** Marks a shingle held by more than one canonical id. */
  private case object Ambiguous

  private def bucketOf(key: String, nBuckets: Int): Int =
    Math.floorMod(MurmurHash3.stringHash(key), nBuckets)

  /** The char-5-grams of `text` by code point, in order, with repeats. */
  private def shingles(text: String): Array[String] = {
    val n = text.codePointCount(0, text.length)
    if (n < ShingleLen) Array.empty
    else if (n == text.length)
      Array.tabulate(n - ShingleLen + 1)(i => text.substring(i, i + ShingleLen))
    else {
      val at = new Array[Int](n + 1) // UTF-16 offset of each code point
      for (k <- 1 to n) at(k) = text.offsetByCodePoints(at(k - 1), 1)
      Array.tabulate(n - ShingleLen + 1)(i => text.substring(at(i), at(i + ShingleLen)))
    }
  }

  /** The shingles of a `__shingles` string: consecutive runs of 5 code
    * points.
    */
  private def unpack(packed: String): Seq[String] =
    Iterator.unfold(0) { i =>
      if (i == packed.length) None
      else {
        val j = packed.offsetByCodePoints(i, ShingleLen)
        Some((packed.substring(i, j), j))
      }
    }.toSeq
}
