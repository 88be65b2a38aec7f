package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression function library shared by the whole engine.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (no Scala UDFs on the hot path). Where a deterministic cross-engine hash
  * is needed (MinHash / SimHash / fingerprints that must be reproducible in
  * the DuckDB oracle), we derive a 60-bit integer from `md5`, which both
  * engines compute identically. For pure-Spark hot paths where oracle parity
  * is not needed, prefer `xxhash64` (cheaper).
  */
object GraftFunctions {

  /** Deterministic 60-bit non-negative hash, identical in Spark and DuckDB.
    * Spark:  conv(substring(md5(x), 1, 15), 16, 10) :: long
    * DuckDB: CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)
    */
  def portableHash64(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Seeded variant: mixes a seed into the hashed payload. */
  def portableHash64(c: Column, seed: Int): Column =
    portableHash64(concat(lit(s"s$seed|"), c.cast("string")))

  /** Kirsch-Mitzenmacher double-hashing family ("Less Hashing, Same
    * Performance", 2006): ALL k hash functions derive from ONE md5 digest —
    * g_k(x) = (h1(x) + (k+1) * (h2(x) mod Q)) mod P, with h1/h2 the two
    * independent 60-bit halves of the digest (hex chars 1-15 / 16-30).
    * The digest dominates MinHash cost, so this is ~k times cheaper than
    * one digest per seed. Exact long arithmetic, no overflow
    * (h1 < 2^60, (k+1)*(h2 mod Q) < 2^60 for k <= 31), and bit-for-bit
    * reproducible in DuckDB:
    *   (CAST('0x'||substr(md5(x),1,15) AS BIGINT) +
    *    (k+1) * (CAST('0x'||substr(md5(x),16,15) AS BIGINT) % Q)) % P
    */
  val KmQ = 36028797018963913L // largest prime < 2^55
  val KmP = 576460752303423433L // largest prime < 2^59

  def portableKmHash64(c: Column, seed: Int): Column = {
    val digest = md5(c.cast("string"))
    val h1 = conv(substring(digest, 1, 15), 16, 10).cast("long")
    val h2 = conv(substring(digest, 16, 15), 16, 10).cast("long") % lit(KmQ)
    (h1 + lit((seed + 1).toLong) * h2) % lit(KmP)
  }

  /** Fast path (not oracle-portable): seeded xxhash64. */
  def fastHash64(c: Column, seed: Int): Column = xxhash64(lit(seed), c)

  // ---------------------------------------------------------------------
  // Text normalisation (reference: cleaning/steps/normalisation.py:40-117 —
  // upper-case, punctuation strip, whitespace collapse; re-expressed for
  // transcript text rather than UK addresses).
  // ---------------------------------------------------------------------

  /** Canonical text normal form: uppercase, punctuation -> space, collapse
    * whitespace, trim. Idempotent (property-tested).
    */
  def normText(c: Column): Column = {
    val upper0 = upper(c)
    val noPunct = regexp_replace(upper0, "[\\p{Punct}]", " ")
    trim(regexp_replace(noPunct, "\\s+", " "))
  }

  /** Whitespace tokens of the normal form; empty string -> empty array. */
  def tokens(c: Column): Column = {
    val n = normText(c)
    when(length(n) === 0, array().cast("array<string>")).otherwise(split(n, " "))
  }

  /** Word n-grams of a token array as space-joined strings
    * (reference builds bigrams via list_zip of shifted slices,
    * post_linkage/identify_distinguishing_tokens.py:164-191).
    *
    * Implemented as zip_with over n shifted slices — NOT a transform whose
    * lambda slices `toks` by index: a lambda body referencing a non-
    * attribute input re-inlines and re-evaluates it once PER ELEMENT (no
    * CSE through HOF lambdas), so when callers pass the full
    * tokenise-regex chain the old form cost ~50 evaluations of two
    * regexp_replaces per row — measured 13.5 s of q17's 31 s at sf0.1.
    * zip_with's slice inputs are ordinary child expressions, evaluated
    * once per row, and its lambda touches only element attributes.
    */
  def wordNgrams(toks: Column, n: Int): Column = {
    val sz = size(toks)
    val m = sz - (n - 1)
    val joined = (1 until n).foldLeft(slice(toks, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), m), (a, b) => concat_ws(" ", a, b))
    }
    when(sz < n, array().cast("array<string>")).otherwise(joined)
  }

  // ---------------------------------------------------------------------
  // MinHash / SimHash (north_star: MinHash of concatenated turn text).
  // ---------------------------------------------------------------------

  /** MinHash signature: for each of k seeded hash functions, the minimum
    * hash over a row's element array. Explodes the array, computes the k
    * seeded hashes per (row, element) once and aggregates with groupBy-min
    * (map-side combinable). Oracle-portable when `portable=true`. A column
    * form (k array_min(transform(...)) per row) re-inlines the element-array
    * expression once per seed (CollapseProject + HOF lambdas defeat
    * common-subexpression elimination), which multiplies the shingle+hash
    * cost by k — measured 300s vs seconds at sf0.1.
    *
    * @return DataFrame(idCol, sigCol: array<long>) — one row per input row
    *         with a non-empty element array.
    */
  def minhashAggregate(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      elems: Column,
      k: Int,
      portable: Boolean = false,
      sigCol: String = "minhash_sig"): org.apache.spark.sql.DataFrame = {
    val exploded = df.select(col(idCol), explode(elems).as("__e"))
    // portable path: ONE md5 per element for all k functions (plain
    // projection, so codegen subexpression elimination shares the digest
    // across the k output columns)
    val hashCols = (0 until k).map { s =>
      (if (portable) portableKmHash64(col("__e"), s) else fastHash64(col("__e"), s)).as(s"__h$s")
    }
    exploded.select(col(idCol) +: hashCols: _*)
      .groupBy(col(idCol))
      .agg(min(col("__h0")).as("__m0"), (1 until k).map(s => min(col(s"__h$s")).as(s"__m$s")): _*)
      .select(col(idCol), array((0 until k).map(s => col(s"__m$s")): _*).as(sigCol))
  }

  /** LSH band keys from a MinHash signature: `bands` keys, each hashing
    * `rowsPerBand` consecutive signature slots together with the band index.
    */
  def minhashBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    val keys = (0 until bands).map { b =>
      concat_ws("_", lit(b), array_join(slice(sig, b * rowsPerBand + 1, rowsPerBand), "_"))
    }
    array(keys: _*)
  }

  /** SimHash over the low `bits` bits of each element hash: bit b of the
    * result is 1 iff the sum over elements of (+1 if bit set else -1) > 0.
    * Oracle-portable (md5-derived hashes).
    */
  def simhash(elems: Column, bits: Int = 32): Column = {
    val hashed = transform(elems, e => portableHash64(e))
    val counts = aggregate(
      hashed,
      array_repeat(lit(0L), bits),
      (acc, h) =>
        zip_with(
          acc,
          transform(sequence(lit(0), lit(bits - 1)),
            i => when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1L, lit(1L))
              .otherwise(lit(-1L))),
          (a, d) => a + d
        )
    )
    aggregate(
      zip_with(counts, sequence(lit(0), lit(bits - 1)).cast("array<bigint>"),
        (cnt, i) => when(cnt > 0, call_function("shiftleft", lit(1L), i.cast("int")))
          .otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc + x
    )
  }

  // ---------------------------------------------------------------------
  // Set / vector similarity.
  // ---------------------------------------------------------------------

  /** Jaccard similarity of two arrays treated as sets. Empty-union -> 0.0. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0d, lit(0d)).otherwise(inter / uni)
  }

  /** Integer-scaled (×1e8) half-up Jaccard of two arrays-as-sets, emitted as
    * BIGINT. Integer inputs + the shared (2a+b) div (2b) half-up identity
    * (non-negative operands) make this EXACT on both engines — unlike a
    * rounded DOUBLE, which diverges at ulp level (README oracle-parity
    * notes). Empty-union -> 0. The `(n - n%d)/d` floor-div is exact: the
    * numerator is a multiple of d and the quotient < 2^53.
    */
  def jaccardE8(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b)).cast("long")
    val u = size(array_union(a, b)).cast("long")
    val num = lit(2L) * i * lit(100000000L) + u
    val den = lit(2L) * u
    when(u === 0L, lit(0L)).otherwise(((num - num % den) / den).cast("long"))
  }

  /** Dot product of two equal-length numeric arrays. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0d), (acc, x) => acc + x)

  /** L2 norm. */
  def l2norm(a: Column): Column = sqrt(aggregate(a, lit(0d), (acc, x) => acc + x * x))

  /** Cosine similarity; zero-norm guarded to 0.0. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2norm(a) * l2norm(b)
    when(n === 0d, lit(0d)).otherwise(d / n)
  }

  /** Cosine similarity scaled ×1e6 and emitted as BIGINT (half-away round
    * then exact truncating cast of the integral double), with the two
    * vectors' L2 norms supplied as columns so a pair join can project each
    * side's norm ONCE per vector instead of re-folding both per pair.
    * `na`/`nb` MUST be `l2norm(a)`/`l2norm(b)`; a zero norm product
    * scores 0.
    *
    * Emitting an integer removes the rounded-DOUBLE representation
    * divergence between Spark (BigDecimal HALF_UP) and DuckDB (float-math
    * round); it still requires the underlying cosine double to be computed
    * identically on both engines, which the sequential left-fold in
    * `dot`/`l2norm` and the oracle's list_reduce guarantee.
    */
  def cosineE6Pre(a: Column, b: Column, na: Column, nb: Column): Column = {
    val n = na * nb
    val c = when(n === 0d, lit(0d)).otherwise(dot(a, b) / n)
    round(c * lit(1000000d)).cast("long")
  }

  // ---------------------------------------------------------------------
  // Histogram maps (reference: list_aggregate(arr,'histogram') — DuckDB's
  // array->MAP(value->count); SURVEY.md §2.4. Spark has no histogram
  // aggregate; built per-row from the array with sort+boundary counting,
  // which keeps it inside whole-stage codegen.)
  // ---------------------------------------------------------------------

  /** Per-row histogram of a non-null string array as map<string, int>
    * (counts). One `aggregate` fold over the sorted array — the input
    * expression is evaluated exactly once (an index-based formulation that
    * references the sorted array inside HOF lambdas re-inlines and
    * re-evaluates the sort per element: O(n^2 log n) per row, measured as
    * a single task pinning a core for 30+ minutes). The fold's entry-array
    * copy happens only at run boundaries, so cost is O(n + distinct^2).
    */
  def histMap(arr: Column): Column = {
    val zero = struct(
      array().cast("array<struct<key:string,value:int>>").as("entries"),
      lit(null).cast("string").as("prev"),
      lit(0).as("cnt"))
    def closeRun(acc: Column): Column =
      concat(acc.getField("entries"),
        array(struct(acc.getField("prev").as("key"), acc.getField("cnt").as("value"))))
    val folded = aggregate(
      array_sort(arr),
      zero,
      (acc, x) =>
        when(acc.getField("prev").isNull,
          struct(acc.getField("entries").as("entries"), x.as("prev"), lit(1).as("cnt")))
          .when(x === acc.getField("prev"),
            struct(acc.getField("entries").as("entries"),
              acc.getField("prev").as("prev"), (acc.getField("cnt") + 1).as("cnt")))
          .otherwise(
            struct(closeRun(acc).as("entries"), x.as("prev"), lit(1).as("cnt"))),
      acc => when(acc.getField("prev").isNull, acc.getField("entries"))
        .otherwise(closeRun(acc)))
    map_from_entries(folded)
  }

  /** Rolling polynomial fingerprint of a string array (document
    * fingerprinting). Bounded modular arithmetic so neither Spark (ANSI
    * overflow) nor the DuckDB oracle overflows, and both compute the exact
    * same value: acc' = (acc*31 + h%1000003) % 900719925474099.
    */
  def rollingFingerprint(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => (acc * lit(31L) + portableHash64(t) % lit(1000003L)) % lit(900719925474099L))
}
