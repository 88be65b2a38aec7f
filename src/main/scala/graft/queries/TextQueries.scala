package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Text-analysis operators over the `documents` table: tokenisation, token
  * histograms, TF tables, n-grams, language-ID heuristic, quality scoring,
  * token counting, fingerprinting (training-data-pipeline surface; also the
  * transcript-signature machinery re-expressed — reference:
  * cleaning/steps/tokenisation.py + term_frequencies.py).
  */
object TextQueries {
  import Tables.load

  /** Shared oracle fragment: DuckDB equivalent of GraftFunctions.normText +
    * tokens (upper, punct->space, collapse ws, trim, split on single space).
    */
  val duckToks: String =
    "string_split(trim(regexp_replace(regexp_replace(upper(text), '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')"

  val stopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  val defs: Seq[QueryDef] = Seq(
    // --- q11: tokenisation + array ops (size, distinct, slice, reverse,
    // join — SURVEY §2.9 list-function surface).
    QueryDef(
      "q11_tokens_arrays",
      (s, dir) => {
        val d = load(s, dir, "documents")
        val toks = tokens(col("text"))
        d.select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          array_join(slice(toks, 1, 3), " ").as("first3"),
          array_join(reverse(slice(toks, 1, 3)), " ").as("first3_rev"),
          array_join(array_sort(array_distinct(slice(toks, 1, 10))), ",").as("sorted_first10"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents)
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct,
               array_to_string(toks[1:3], ' ') AS first3,
               array_to_string(list_reverse(toks[1:3]), ' ') AS first3_rev,
               array_to_string(list_sort(list_distinct(toks[1:10])), ',') AS sorted_first10
        FROM t
      """)
    ),

    // --- q12: per-document token histogram, exploded to rows (reference
    // list_aggregate(arr,'histogram'), SURVEY §2.4 — exploded so the map is
    // order-independent for the compare).
    QueryDef(
      "q12_token_hist",
      (s, dir) => {
        // kept in the round-5 shape: the tokenise chain is ~0.3 s
        // single-task at sf0.1, so the fan-out + barrier treatment that
        // wins seconds on the shingle/minhash queries measured NEGATIVE
        // here (0.73 s -> 0.99 s) — the added exchanges cost more than the
        // parallelised chain saves
        val d = load(s, dir, "documents")
        d.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
          .groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("cnt"))
      },
      Some(s"""
        SELECT doc_id, token, count(*) AS cnt
        FROM (SELECT doc_id, unnest($duckToks) AS token FROM documents) t
        GROUP BY doc_id, token
      """)
    ),

    // --- q13: corpus-level token relative-frequency table (reference:
    // cleaning/steps/term_frequencies.py:20-30 count(*)/sum(count(*)) OVER()).
    QueryDef(
      "q13_tf_table",
      (s, dir) => {
        // kept in the round-5 shape — same measured-negative note as q12
        val d = load(s, dir, "documents")
        // rel_freq emitted integer-scaled at 1e8 via the shared half-up
        // identity (2a+b) div (2b) — never a rounded DOUBLE (r2 ulp class).
        // e8 (not e10) so 2·cnt·1e8 stays under 2^63 up to cnt ~4.6e10 —
        // no practical sf ceiling (ADVICE r4: e10 overflowed at cnt ~4.6e8).
        val counted = d.select(explode(tokens(col("text"))).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        // corpus total as a broadcast 1-row scalar, NOT an unpartitioned
        // window (VERDICT r4 #4): sum().over(Window.partitionBy()) funnels
        // the whole vocab through one WindowExec partition; the broadcast
        // nested-loop join keeps the plan parallel (same pattern as the
        // pipeline TF total, PLANS.md).
        val total = counted.agg(sum(col("cnt")).as("total"))
        counted
          .crossJoin(broadcast(total))
          .withColumn("rel_freq_e8", expr("(2 * cnt * 100000000 + total) div (2 * total)"))
          .filter(col("cnt") >= 3)
          .select(col("token"), col("cnt"), col("rel_freq_e8"))
      },
      Some(s"""
        WITH tok AS (SELECT unnest($duckToks) AS token FROM documents),
        counted AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        tot AS (SELECT token, cnt, (SELECT sum(cnt) FROM counted) AS total FROM counted)
        SELECT token, cnt,
               CAST((2 * cnt * 100000000 + total) // (2 * total) AS BIGINT) AS rel_freq_e8
        FROM tot WHERE cnt >= 3
      """)
    ),

    // --- q14: word bigrams + top-5 per lang (reference bigram machinery,
    // identify_distinguishing_tokens.py:164-191, as an n-gram query).
    QueryDef(
      "q14_bigrams_top",
      (s, dir) => {
        // round-6 A/B (OPTIMIZATION_r06.md q14 note; count action, both
        // JIT orders): steady-state the fan-out + pre-explode-barrier
        // treatment ties the plain r5 shape (~2.0 s vs ~2.3 s, within the
        // 1.9-2.5 s spread),
        // and in bench context the plain shape reads faster because it
        // shares warm codegen with q12/q13 (which reverted in a104b9b for
        // the same reason) — so q14 keeps the plain round-5 plan.
        val d = load(s, dir, "documents")
        val bg = d.select(col("lang"),
            explode(wordNgrams(tokens(col("text")), 2)).as("bigram"))
          .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("bigram").asc)
        bg.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      },
      Some(s"""
        WITH t AS (SELECT lang, $duckToks AS toks FROM documents),
        bg AS (
          SELECT lang, unnest(list_transform(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]),
                 x -> x[1] || ' ' || x[2])) AS bigram
          FROM t WHERE len(toks) >= 2),
        counted AS (SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY lang, bigram)
        SELECT lang, bigram, cnt, rn FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram ASC) AS rn
          FROM counted) q
        WHERE rn <= 5
      """)
    ),

    // --- q15: rolling-hash document fingerprint (portable modular fold).
    QueryDef(
      "q15_fingerprint",
      (s, dir) => {
        val d = load(s, dir, "documents")
        d.select(col("doc_id"), rollingFingerprint(tokens(col("text"))).as("fingerprint"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents)
        SELECT doc_id,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT), list_transform(toks,
                   tok -> CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT))),
                 (acc, h) -> (acc * 31 + h % 1000003) % 900719925474099) AS fingerprint
        FROM t
      """)
    ),

    // --- q21: n-gram-heuristic language ID: per-language stopword-set hit
    // ratio, argmax with deterministic tie-break.
    QueryDef(
      "q21_langid",
      (s, dir) => {
        val d = load(s, dir, "documents")
        val toks = tokens(lower(col("text")))
        // score per lang = fraction of tokens in that lang's marker set
        val markers: Map[String, Seq[String]] = Map(
          "en" -> Seq("THE", "A", "OF", "AND", "TO", "IS"),
          "fr" -> Seq("LE", "LA", "DE", "ET", "UN", "EST"),
          "es" -> Seq("EL", "LA", "DE", "Y", "UN", "ES"),
          "de" -> Seq("DER", "DIE", "DAS", "UND", "EIN", "IST"))
        // scores integer-scaled at 1e8: exact half-up of hits/n over integer
        // inputs (no emitted DOUBLE — r2 ulp class); argmax on the scaled
        // integers is order-equivalent to the ratio argmax.
        def hits(m: Seq[String]): Column = size(filter(toks, t => t.isin(m: _*))).cast("long")
        val base = d.select(col("doc_id"), col("lang"),
          hits(markers("en")).as("h_en"), hits(markers("fr")).as("h_fr"),
          hits(markers("es")).as("h_es"), hits(markers("de")).as("h_de"),
          greatest(size(toks), lit(1)).cast("long").as("n"))
        def score(h: String): Column = expr(s"(2 * $h * 100000000 + n) div (2 * n)")
        val scored = base.select(col("doc_id"), col("lang"),
          score("h_en").as("score_en_e8"), score("h_fr").as("score_fr_e8"),
          score("h_es").as("score_es_e8"), score("h_de").as("score_de_e8"))
        scored.withColumn("predicted_lang",
          when(col("score_en_e8") >= col("score_fr_e8") && col("score_en_e8") >= col("score_es_e8") &&
            col("score_en_e8") >= col("score_de_e8"), lit("en"))
            .when(col("score_fr_e8") >= col("score_es_e8") &&
              col("score_fr_e8") >= col("score_de_e8"), lit("fr"))
            .when(col("score_es_e8") >= col("score_de_e8"), lit("es"))
            .otherwise(lit("de")))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, lang, $duckToks AS toks FROM documents),
        scored AS (
          SELECT doc_id, lang,
            CAST((2 * len(list_filter(toks, x -> list_contains(['THE','A','OF','AND','TO','IS'], x)))
              * 100000000 + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1)) AS BIGINT) AS score_en_e8,
            CAST((2 * len(list_filter(toks, x -> list_contains(['LE','LA','DE','ET','UN','EST'], x)))
              * 100000000 + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1)) AS BIGINT) AS score_fr_e8,
            CAST((2 * len(list_filter(toks, x -> list_contains(['EL','LA','DE','Y','UN','ES'], x)))
              * 100000000 + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1)) AS BIGINT) AS score_es_e8,
            CAST((2 * len(list_filter(toks, x -> list_contains(['DER','DIE','DAS','UND','EIN','IST'], x)))
              * 100000000 + greatest(len(toks), 1)) // (2 * greatest(len(toks), 1)) AS BIGINT) AS score_de_e8
          FROM t)
        SELECT *,
          CASE WHEN score_en_e8 >= score_fr_e8 AND score_en_e8 >= score_es_e8 AND score_en_e8 >= score_de_e8 THEN 'en'
               WHEN score_fr_e8 >= score_es_e8 AND score_fr_e8 >= score_de_e8 THEN 'fr'
               WHEN score_es_e8 >= score_de_e8 THEN 'es'
               ELSE 'de' END AS predicted_lang
        FROM scored
      """)
    ),

    // --- q22: document quality scoring (length / punctuation / stopword
    // ratios — training-data filtering surface).
    QueryDef(
      "q22_quality",
      (s, dir) => {
        // all three ratios integer-scaled at 1e8 via (2a+b) div (2b) over
        // integer numerators/denominators — exact half-up on both engines,
        // no emitted DOUBLE (r2 ulp class). quality_pass's 10·distinct > 3·n
        // is the exact integer form of distinct/n > 0.3.
        val d = load(s, dir, "documents")
        val toks = tokens(col("text"))
        val base = d.select(
          col("doc_id"),
          length(col("text")).cast("long").as("len_chars"),
          size(toks).as("n_tokens"),
          size(filter(toks, t => t.isin(stopwordsEn.map(_.toUpperCase): _*))).cast("long")
            .as("sw_hits"),
          (length(col("text")) - length(regexp_replace(col("text"), "[\\p{Punct}]", "")))
            .cast("long").as("n_punct"),
          aggregate(toks, lit(0L), (a, t) => a + length(t)).as("sum_tok_len"),
          size(array_distinct(toks)).cast("long").as("n_distinct"))
        base.select(
          col("doc_id"), col("len_chars"), col("n_tokens"),
          expr("(2 * sw_hits * 100000000 + greatest(n_tokens, 1)) div (2 * greatest(n_tokens, 1))")
            .as("stopword_ratio_e8"),
          expr("(2 * n_punct * 100000000 + greatest(len_chars, 1)) div (2 * greatest(len_chars, 1))")
            .as("punct_ratio_e8"),
          expr("(2 * sum_tok_len * 100000000 + greatest(n_tokens, 1)) div (2 * greatest(n_tokens, 1))")
            .as("mean_token_len_e8"),
          (col("n_tokens") >= 20 && col("n_distinct") * 10 > col("n_tokens") * 3)
            .as("quality_pass"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, text, $duckToks AS toks FROM documents),
        base AS (
          SELECT doc_id,
            length(text)::BIGINT AS len_chars,
            len(toks) AS n_tokens,
            len(list_filter(toks, x -> list_contains(['THE','A','OF','AND','TO','IN','IS','ON','FOR','WITH'], x)))::BIGINT AS sw_hits,
            (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))::BIGINT AS n_punct,
            list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> length(x)::BIGINT)),
              (a, b) -> a + b) AS sum_tok_len,
            len(list_distinct(toks))::BIGINT AS n_distinct
          FROM t)
        SELECT doc_id, len_chars, n_tokens,
          CAST((2 * sw_hits * 100000000 + greatest(n_tokens, 1))
               // (2 * greatest(n_tokens, 1)) AS BIGINT) AS stopword_ratio_e8,
          CAST((2 * n_punct * 100000000 + greatest(len_chars, 1))
               // (2 * greatest(len_chars, 1)) AS BIGINT) AS punct_ratio_e8,
          CAST((2 * sum_tok_len * 100000000 + greatest(n_tokens, 1))
               // (2 * greatest(n_tokens, 1)) AS BIGINT) AS mean_token_len_e8,
          (n_tokens >= 20 AND n_distinct * 10 > n_tokens * 3) AS quality_pass
        FROM base
      """)
    ),

    // --- q23: token counting, whitespace + BPE-ish regex classes.
    QueryDef(
      "q23_token_count",
      (s, dir) => {
        val d = load(s, dir, "documents")
        d.select(
          col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
            .as("bpeish_tokens"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("numeric_tokens"))
      },
      Some("""
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpeish_tokens,
               len(regexp_extract_all(text, '[0-9]+')) AS numeric_tokens
        FROM documents
      """)
    ),

    // --- q38: custom typed UDAF — per-language token histogram by merging
    // per-document histMaps with graft.functions.HistMerge (map-side
    // combinable partial maps; SURVEY §2.4 custom-UDAF row). Oracle = the
    // plain unnest + GROUP BY, which must agree exactly.
    QueryDef(
      "q38_hist_udaf",
      (s, dir) => {
        val d = load(s, dir, "documents", fanout = true)
        d.select(col("lang"), histMap(tokens(col("text"))).as("h"))
          .groupBy(col("lang"))
          .agg(graft.functions.HistMerge(col("h")).as("h"))
          .select(col("lang"), explode(col("h")).as(Seq("token", "cnt")))
      },
      Some(s"""
        SELECT lang, token, count(*)::INT AS cnt
        FROM (SELECT lang, unnest($duckToks) AS token FROM documents) t
        GROUP BY lang, token
      """)
    ),

    // --- q39: LAG of ARRAYS — adjacent-record comparison in (lang, doc_id)
    // order: token-set jaccard vs the previous document plus the common-
    // suffix length of the token arrays (the reference's adjacent-records
    // suffix variant, token_parsing.py lag/lead of list columns).
    QueryDef(
      "q39_adjacent_suffix",
      (s, dir) => {
        val d = load(s, dir, "documents")
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id").asc)
        // two projections separated by the Window operator: toks/prev_toks
        // are ATTRIBUTES in the outer select, so the HOF lambdas below do
        // not re-inline the tokenisation regex chain per element
        val withPrev = d
          .select(col("lang"), col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("prev_toks", lag(col("toks"), 1).over(w))
        val a = col("toks")
        val b = col("prev_toks")
        val m = least(size(a), size(b))
        val suffixLen = aggregate(
          sequence(lit(1), m),
          struct(lit(true).as("ok"), lit(0).as("n")),
          (acc, i) =>
            when(acc.getField("ok") && element_at(a, -i) === element_at(b, -i),
              struct(lit(true).as("ok"), (acc.getField("n") + 1).as("n")))
              .otherwise(struct(lit(false).as("ok"), acc.getField("n").as("n"))),
          acc => acc.getField("n"))
        withPrev.select(
          col("lang"), col("doc_id"),
          size(col("toks")).as("n_tokens"),
          when(b.isNull, lit(null).cast("long"))
            .otherwise(jaccardE8(array_distinct(a), array_distinct(b)))
            .as("jaccard_prev_e8"),
          when(b.isNull, lit(null).cast("int"))
            .when(m === 0, lit(0))
            .otherwise(suffixLen).as("common_suffix_len"))
      },
      Some(s"""
        WITH t AS (SELECT lang, doc_id, $duckToks AS toks FROM documents),
        w AS (SELECT lang, doc_id, toks,
                     LAG(toks, 1) OVER (PARTITION BY lang ORDER BY doc_id ASC) AS prev_toks
              FROM t)
        SELECT lang, doc_id, len(toks) AS n_tokens,
               CASE WHEN prev_toks IS NULL THEN NULL
                    ELSE CAST((2 * len(list_intersect(list_distinct(toks), list_distinct(prev_toks)))
                               * 100000000 + greatest(len(list_distinct(toks || prev_toks)), 1))
                              // (2 * greatest(len(list_distinct(toks || prev_toks)), 1)) AS BIGINT)
                    END AS jaccard_prev_e8,
               CASE WHEN prev_toks IS NULL THEN NULL
                    WHEN least(len(toks), len(prev_toks)) = 0 THEN 0
                    ELSE len(list_filter(range(1, least(len(toks), len(prev_toks)) + 1),
                         k -> toks[len(toks)-k+1:] = prev_toks[len(prev_toks)-k+1:])) END
                 AS common_suffix_len
        FROM w
      """)
    )
  )
}
