package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.{Portable, TextAnalysis => TA}
import graft.operators.C4Rules
import graft.queries.Tables.{spread, t}

/** Text-analysis queries over the `documents` table: token counting,
  * corpus profiling, language-ID heuristic, quality scoring, document
  * fingerprinting. North-star operators for training-data pipelines
  * (BASELINE.json); no counterpart in the reference (its only text
  * handling is filename parsing, src/transform.py:120).
  */
object TextQueries {

  // Fake "languages" with discriminative marker sets over the synthetic
  // vocabulary; the heuristic itself is corpus-agnostic.
  private val markers: Seq[(String, Seq[String])] = Seq(
    "sqlish" -> Seq("table", "row", "column", "query", "filter"),
    "sparkish" -> Seq("spark", "shuffle", "partition", "stream", "batch"),
    "plain" -> Seq("the", "a", "fast", "slow", "small", "big"))

  private def markerHitsSql(ms: Seq[String]): String =
    s"len(list_intersect(list_distinct(string_split(text, ' ')), [${ms.map(m => s"'$m'").mkString(", ")}]))"

  private val stop = TA.EnMarkers
  private val stopListSql = s"[${stop.map(m => s"'$m'").mkString(", ")}]"

  // q234 RAKE stoplist: the classic function words present in the
  // synthetic vocabulary plus a few high-frequency content words so
  // candidate runs break often enough to form phrase-sized units (the
  // corpus is single-register word soup; a pure function-word list
  // would leave near-document-length runs)
  private val RAKE_STOP: Seq[String] =
    TA.EnMarkers ++ Seq("join", "hash", "row", "batch", "scan")
  private val RAKE_STOP_SQL = RAKE_STOP.map(w => s"'$w'").mkString(", ")

  /** q281's tail sampling rate: the CCNet deployment keeps head and
    * middle fully and samples the tail — 2000 bp (20%) here, realized
    * with the standing pmd5 sampling hash (the q83/q136/q247
    * mechanics). Interpolated into the oracle (the q270-modulus
    * rule). */
  private val TAIL_KEEP_BP = 2000L

  /** q287's training-sequence length (tokens). 512 keeps every rule of
    * the packing non-vacuous at sf0.01 (multiple cuts per source, so
    * boundary-straddling docs exist) while staying a realistic
    * power-of-two context size. Interpolated into the oracle. */
  private val PACK_LEN = 512L

  /** q272's per-document CCNet scoring pipeline — ONE Spark statement
    * of the self-trained surprise model shared by every tercile
    * consumer (q272's aggregate fold, q281's stratified sampling
    * manifest): bigrams explode once (persisted — feeds both count
    * tables), vocabulary-keyed scoring joins, one (doc_id, mbits,
    * lang, n_chars) row per scorable doc, PERSISTED (the fold
    * consumes it three times; the harness frees it via clearCache). */
  private def ccnetPerDoc(docs: DataFrame): DataFrame = {
    val bg = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), explode(when(size(col("ts")) >= 2,
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .persist()
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    bg.join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(v)) // one-row frame
      .select(col("doc_id"),
        (length(bin(expr("(c1 + v) div (c12 + 1)"))) - 1)
          .cast(LongType).as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sb"))
      .select(col("doc_id"), expr("1000 * sb div n_bigrams").as("mbits"))
      .join(docs.select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("doc_id"))
      .persist()
  }

  /** The q272 oracle CTE chain through `bounds` — ONE DuckDB
    * statement of the scoring + tercile arithmetic, shared by
    * q272/q281 so the self-trained model and its boundaries cannot
    * drift between consumers. */
  private def ccnetCtes: String = s"""toks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        bg AS (
          SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
          FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
          WHERE len(ts) >= 2),
        c12 AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bg GROUP BY 1, 2),
        c1 AS (
          SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
        v AS (
          SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
          FROM (SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents)),
        perdoc AS (
          SELECT s.doc_id,
                 CAST(1000 * sum(bits) AS BIGINT) // count(*) AS mbits,
                 any_value(d.lang) AS lang,
                 any_value(d.n_chars) AS n_chars
          FROM (SELECT bg.doc_id,
                       CAST(length(printf('%b',
                         (c1.c1 + v.v) // (c12.c12 + 1))) - 1 AS BIGINT)
                         AS bits
                FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v) s
          JOIN documents d ON d.doc_id = s.doc_id
          GROUP BY s.doc_id),
        hist AS (
          SELECT lang,
                 ${graft.streaming.CcnetStream.guardDuckSql("mbits")}
                   AS mbits,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM perdoc GROUP BY lang, perdoc.mbits),
        n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
              FROM perdoc GROUP BY 1),
        cum AS (
          SELECT hist.lang, mbits,
                 sum(cnt) OVER (PARTITION BY hist.lang ORDER BY mbits)
                   AS cum, n
          FROM hist JOIN n USING (lang)),
        bounds AS (
          SELECT lang,
                 min(CASE WHEN cum >= (n + 2) // 3 THEN mbits END) AS b1,
                 min(CASE WHEN cum >= (2 * n + 2) // 3 THEN mbits END)
                   AS b2
          FROM cum GROUP BY 1)"""

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    Q(
      "q21_token_stats",
      "Token counting: whitespace tokens, regex (BPE-ish) tokens, " +
        "distinct tokens, mean token length — per document.",
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          TA.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          TA.regexTokenCount(col("text")).cast(LongType).as("n_tokens_regex"),
          TA.distinctTokenCount(col("text")).cast(LongType).as("n_distinct"),
          TA.meanTokenLen(col("text")).as("mean_token_len")),
      Some("""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(regexp_extract_all(text, '\w+|[^\w\s]', 0)) AS n_tokens_regex,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                 / len(string_split(text, ' ')) AS mean_token_len
        FROM documents""")),
    // ----------------------------------------------------------------
    Q(
      "q22_text_profile",
      "Corpus profile rollup by language: doc counts, token totals, " +
        "exact mean chars, source fan-out.",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("n_tokens", TA.tokenCount(col("text")))
          .groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast(LongType)).as("total_tokens"),
            (sum(col("n_chars")).cast(DoubleType) / count(lit(1))).as("avg_chars"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy(col("lang")),
      Some("""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
               CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
               count(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang ORDER BY lang""")),
    // ----------------------------------------------------------------
    Q(
      "q23_lang_id",
      "Language-ID heuristic: distinct-marker-hit argmax with fixed " +
        "tie-break, 'und' fallback; compared against the labeled lang.",
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          col("lang"),
          TA.langIdHeuristic(col("text"), markers).as("pred_lang")),
      Some(s"""
        SELECT doc_id, lang,
               CASE
                 WHEN s0 >= s1 AND s0 >= s2 AND s0 > 0 THEN 'sqlish'
                 WHEN s1 >= s2 AND s1 > 0 THEN 'sparkish'
                 WHEN s2 > 0 THEN 'plain'
                 ELSE 'und' END AS pred_lang
        FROM (SELECT doc_id, lang, text,
                     ${markerHitsSql(markers(0)._2)} AS s0,
                     ${markerHitsSql(markers(1)._2)} AS s1,
                     ${markerHitsSql(markers(2)._2)} AS s2
              FROM documents)""")),
    // ----------------------------------------------------------------
    Q(
      "q24_quality_score",
      "Quality scoring: length norm + type-token ratio + stopword " +
        "ratio -> composite score and bucket.",
      (s, dir) =>
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            TA.typeTokenRatio(col("text")).as("ttr"),
            TA.stopwordRatio(col("text"), stop).as("stop_ratio"),
            TA.qualityScore(col("text"), stop).as("score"))
          .withColumn("bucket",
            when(col("score") >= 0.7, "high")
              .when(col("score") >= 0.5, "medium")
              .otherwise("low")),
      Some(s"""
        SELECT doc_id, ttr, stop_ratio, score,
               CASE WHEN score >= 0.7 THEN 'high'
                    WHEN score >= 0.5 THEN 'medium'
                    ELSE 'low' END AS bucket
        FROM (
          SELECT doc_id, ttr, stop_ratio,
                 least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
                   + ttr * 0.4 + stop_ratio * 0.2 AS score, text
          FROM (
            SELECT doc_id, text,
                   CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS ttr,
                   CAST(len(list_filter(string_split(text, ' '),
                            tk -> list_contains($stopListSql, tk))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS stop_ratio
            FROM documents))""")),
    // ----------------------------------------------------------------
    Q(
      "q45_edit_distance",
      "Fuzzy near-dup by Levenshtein distance: supplier-name pairs " +
        "within edit distance 2. Candidates come from a length-cell " +
        "EQUI-join (q43's cell trick): every name lands in cell " +
        "`length div 3`; |len(a)-len(b)| <= 2 (necessary for dist <= 2) " +
        "implies the cells differ by at most 1, so the probe side " +
        "explodes into {cell-1, cell, cell+1} and equi-joins the build " +
        "side's single cell — each qualifying pair matches exactly once " +
        "(on the build row's unique cell), so no dedup pass is needed. " +
        "Pair enumeration is bounded per cell instead of cartesian; " +
        "no BroadcastNestedLoopJoin in the plan.",
      (s, dir) => {
        val sup = t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"),
            expr("length(s_name) div 3").as("cell"))
        // spread the PROBE side (r16): supplier is a single-split scan
        // and uniform name lengths put most rows in one cell, so the
        // per-pair levenshtein otherwise evaluates on ONE core (guide
        // §2.5 input skew; measured 4 tasks / 1.7 s at sf0.1). On a
        // multi-split cluster scan spread() is a no-op.
        val probe = spread(sup, col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
          explode(array(col("cell") - 1, col("cell"), col("cell") + 1))
            .as("cell_key"))
        val build = sup.withColumnRenamed("cell", "cell_key")
        // the length band stays as a cheap post-join conjunct; BOTH cheap
        // conditions (band + pair ordering) guard the levenshtein so the
        // pushed-down dist filter never evaluates it on unordered pairs
        // (cheap-first evaluation, as in q30)
        val band = abs(length(col("l.s_name")) - length(col("r.s_name"))) <= 2
        val guarded = when(band && col("l.s_suppkey") < col("r.s_suppkey"),
          levenshtein(col("l.s_name"), col("r.s_name")))
        probe.as("l").join(build.as("r"),
            col("l.cell_key") === col("r.cell_key") &&
            col("l.s_suppkey") < col("r.s_suppkey") && band)
          .select(col("l.s_suppkey").as("id_a"), col("r.s_suppkey").as("id_b"),
            guarded.as("dist"))
          .filter(col("dist") <= 2)
      },
      Some("""
        SELECT id_a, id_b, dist FROM (
          SELECT l.s_suppkey AS id_a, r.s_suppkey AS id_b,
                 CASE WHEN abs(length(l.s_name) - length(r.s_name)) <= 2
                      THEN CAST(levenshtein(l.s_name, r.s_name) AS INTEGER) END AS dist
          FROM supplier l JOIN supplier r ON l.s_suppkey < r.s_suppkey)
        WHERE dist <= 2""")),
    // ----------------------------------------------------------------
    Q(
      "q46_median",
      "Exact median by deterministic rank selection (no interpolation-" +
        "formula drift between engines): per-segment median account " +
        "balance as the mean of the two middle ranked values.",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("c_mktsegment"))
          .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
        t(s, dir, "customer")
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("c_mktsegment"))))
          // integer floor-div (`div`), NOT Column./ which is double division
          // and would silently drop the lower-middle row for even n
          .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("n div 2 + 1"))
          .groupBy(col("c_mktsegment"))
          .agg((sum(col("c_acctbal")) / count(lit(1))).as("median_acctbal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        SELECT c_mktsegment, sum(c_acctbal) / count(*) AS median_acctbal
        FROM (SELECT c_mktsegment, c_acctbal,
                     row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal ASC, c_custkey ASC) AS rn,
                     count(*) OVER (PARTITION BY c_mktsegment) AS n
              FROM customer)
        WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),
    // ----------------------------------------------------------------
    Q(
      "q47_word_count",
      "The canonical exploded word count: top-20 tokens across the " +
        "corpus with deterministic tie-break.",
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token").asc)
          .limit(20),
      Some("""
        SELECT token, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""")),
    // ----------------------------------------------------------------
    Q(
      "q25_fingerprint",
      "Document fingerprinting: polynomial rolling hash over the token " +
        "sequence (order-sensitive, unlike the set-based measures).",
      (s, dir) =>
        t(s, dir, "documents").select(
          col("doc_id"),
          Portable.rollingFingerprint(col("text")).as("fp")),
      Some(s"""
        SELECT doc_id, ${Portable.rollingFingerprintSql("text")} AS fp
        FROM documents""")),
    // ----------------------------------------------------------------
    Q(
      "q63_oov_rate",
      "Out-of-vocabulary rate per document against the corpus's own " +
        "top-50 token vocabulary (count-desc, token-asc tiebreak): " +
        "the vocabulary-coverage quality signal tokenizer pipelines " +
        "filter on. The tiny vocab broadcasts; per-doc stats are one " +
        "aggregation over the exploded tokens.",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        val vocab = broadcast(
          t(s, dir, "documents")
            .select(explode(split(col("text"), " ")).as("tok"))
            .groupBy("tok").agg(count(lit(1)).as("c"))
            .orderBy(col("c").desc, col("tok").asc)
            .limit(50)
            .select(col("tok"), lit(1).as("iv")))
        toks.join(vocab, Seq("tok"), "left")
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_tokens"),
            coalesce(sum(col("iv")), lit(0)).cast("long").as("n_known"))
          .select(col("doc_id"), col("n_tokens"), col("n_known"),
            (lit(1.0) - col("n_known").cast("double") / col("n_tokens"))
              .as("oov_rate"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        vocab AS (
          SELECT tok, 1 AS iv
          FROM (SELECT tok, count(*) AS c FROM toks GROUP BY tok
                ORDER BY c DESC, tok ASC LIMIT 50))
        SELECT doc_id, count(*) AS n_tokens,
               CAST(coalesce(sum(iv), 0) AS BIGINT) AS n_known,
               1.0 - CAST(coalesce(sum(iv), 0) AS DOUBLE) / count(*) AS oov_rate
        FROM toks LEFT JOIN vocab USING (tok)
        GROUP BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "q61_repetition_stats",
      "Gopher/C4-style repetition signals per document: duplicate-word " +
        "fraction (1 - distinct/total), top-unigram fraction and " +
        "top-bigram fraction, plus the standard flag (dup > 0.3 or " +
        "top unigram > 0.2). The canonical repetition-quality ruleset " +
        "for pretraining corpora — two token-keyed aggregations, " +
        "exact integer counts, mirrored division shapes.",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        val toks = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        val ua = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(
            sum(col("c")).as("total"), max(col("c")).as("topc"),
            count(lit(1)).as("nd"))
        val withTs = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
        val bg = withTs.select(col("doc_id"),
          explode(when(size(col("ts")) >= 2,
            transform(sequence(lit(1), size(col("ts")) - 1),
              i => concat_ws(" ", element_at(col("ts"), i), element_at(col("ts"), i + 1))))
            .otherwise(array().cast("array<string>"))).as("bg"))
        val ba = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(
            sum(col("c")).as("btotal"), max(col("c")).as("btopc"))
        val joined = ua.join(ba, Seq("doc_id"), "left")
        joined.select(
          col("doc_id"),
          col("total").as("n_words"), col("nd").as("n_distinct"),
          (lit(1.0) - col("nd").cast("double") / col("total")).as("dup_word_frac"),
          (col("topc").cast("double") / col("total")).as("top_unigram_frac"),
          when(col("btotal").isNull, lit(0.0))
            .otherwise(col("btopc").cast("double") / col("btotal")).as("top_bigram_frac"))
          .withColumn("flagged",
            ((lit(1.0) - col("n_distinct").cast("double") / col("n_words")) > 0.3 ||
              (col("top_unigram_frac") > 0.2)).cast("int"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        uni AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        ua AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS total,
                 CAST(max(c) AS BIGINT) AS topc, CAST(count(*) AS BIGINT) AS nd
          FROM uni GROUP BY doc_id),
        bgl AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(ts) >= 2
                   THEN list_transform(generate_series(1, len(ts) - 1),
                          i -> ts[i] || ' ' || ts[i+1])
                   ELSE CAST([] AS VARCHAR[]) END) AS bg
          FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)),
        bi AS (SELECT doc_id, bg, count(*) AS c FROM bgl GROUP BY 1, 2),
        ba AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS btotal,
                 CAST(max(c) AS BIGINT) AS btopc
          FROM bi GROUP BY doc_id)
        SELECT ua.doc_id, total AS n_words, nd AS n_distinct,
               1.0 - CAST(nd AS DOUBLE) / total AS dup_word_frac,
               CAST(topc AS DOUBLE) / total AS top_unigram_frac,
               CASE WHEN btotal IS NULL THEN 0.0
                    ELSE CAST(btopc AS DOUBLE) / btotal END AS top_bigram_frac,
               CAST((1.0 - CAST(nd AS DOUBLE) / total) > 0.3
                    OR (CAST(topc AS DOUBLE) / total) > 0.2 AS INTEGER) AS flagged
        FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id"""))
    ,
    // ----------------------------------------------------------------
    Q(
      "q112_rank_fluency",
      "Reference-corpus fluency score — the cheap perplexity proxy " +
        "with a real train/apply split: token frequencies learned on " +
        "one hash-half of the corpus (the reference), each document of " +
        "the other half scored by the mean frequency TIER of its " +
        "tokens (tier = floor(log2 f), computed as binary-string " +
        "length so both engines get exact integers — no transcendental " +
        "drift; out-of-reference tokens score tier -1). Common-word " +
        "text scores high, rare-word or junk text low — the graded " +
        "extension of q63's binary OOV cut. The frequency table joins " +
        "token-keyed (q51's cost class, never broadcast-bounded); " +
        "per-source means are integer milli-units on a +1-shifted " +
        "tier scale (OOV = 0), keeping every quotient non-negative — " +
        "Spark's `div` truncates toward zero where DuckDB's `//` " +
        "floors, so a negative mean would diverge between engines.",
      (s, dir) => {
        val d = spread(t(s, dir, "documents"), col("doc_id"))
          .select(col("source"),
            (Portable.pmd5(concat(lit("d:"), col("doc_id").cast("string"))) % 2)
              .as("half"),
            explode(split(col("text"), " ")).as("tk"))
        val freqs = d.filter(col("half") === 0)
          .groupBy(col("tk")).agg(count(lit(1)).as("f"))
          .select(col("tk"), (length(bin(col("f"))) - 1).as("tier"))
        d.filter(col("half") === 1)
          .join(freqs, Seq("tk"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(coalesce(col("tier"), lit(-1L)) + 1).as("sum_tier1"))
          .select(col("source"), col("n_tokens"), col("sum_tier1"),
            expr("sum_tier1 * 1000 div n_tokens").as("fluency_milli"))
      },
      Some(s"""
        WITH tok AS (
          SELECT source,
                 ${Portable.pmd5Sql("concat('d:', CAST(doc_id AS VARCHAR))")} % 2 AS half,
                 unnest(string_split(text, ' ')) AS tk
          FROM documents),
        fr AS (
          SELECT tk, CAST(length(bin(count(*))) - 1 AS BIGINT) AS tier
          FROM tok WHERE half = 0 GROUP BY tk)
        SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(coalesce(tier, -1) + 1) AS BIGINT) AS sum_tier1,
               CAST(sum(coalesce(tier, -1) + 1) AS BIGINT) * 1000
                 // count(*) AS fluency_milli
        FROM tok LEFT JOIN fr USING (tk)
        WHERE half = 1
        GROUP BY source""")),
    // ----------------------------------------------------------------
    Q(
      "q120_gram_diversity",
      "Within-source 3-gram diversity (type/token ratio in basis " +
        "points): distinct shingles * 10000 div total shingles per " +
        "source — the self-repetition / mode-collapse monitor for " +
        "generated or boilerplate-heavy sources (low diversity = " +
        "templated text; q110's novelty rate is the CROSS-snapshot " +
        "complement). Grams travel as 8-byte hashes from the scan " +
        "stage on — text never shuffles — and the per-source answer " +
        "is source-cardinality rows after one keyed agg.",
      (s, dir) => {
        val g = spread(t(s, dir, "documents"), col("doc_id"))
          .select(col("source"),
            explode(Portable.shingleHashesFromTokens(
              Portable.tokenHashes(col("text")))).as("g"))
        g.groupBy(col("source"))
          .agg(count(lit(1)).as("n_grams"),
            countDistinct(col("g")).as("n_distinct"))
          .select(col("source"), col("n_grams"), col("n_distinct"),
            expr("n_distinct * 10000 div n_grams").as("diversity_bp"))
      },
      Some(s"""
        WITH th AS (
          SELECT source, ${Portable.tokenHashesSql("text")} AS th
          FROM documents),
        g AS (
          SELECT source, unnest(${Portable.shingleHashesFromTokensSql("th")}) AS g
          FROM th)
        SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
               CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
               CAST(count(DISTINCT g) AS BIGINT) * 10000
                 // count(*) AS diversity_bp
        FROM g GROUP BY source""")),
    // ----------------------------------------------------------------
    Q(
      "q141_text_normalize",
      "Text canonicalization — the pre-dedup normalization pass (the " +
        "C4 recipe: lowercase, strip non-alphanumerics, collapse " +
        "whitespace) with the content digest OF THE NORMALIZED FORM — " +
        "the key under which 'same text modulo case and punctuation' " +
        "collapses where q26's raw-byte digest would not. Pure " +
        "scan-stage projection: lower + two regexp_replace passes + " +
        "trim, all codegen builtins with identical regex semantics on " +
        "both engines (character class and ' +' collapse; DuckDB " +
        "needs the explicit 'g' flag Spark applies by default). Per " +
        "doc: token counts before/after and the 60-bit digest — only " +
        "24 bytes per row ever reach the output, the full text never " +
        "shuffles. Unicode NFKC would need a JVM Normalizer call (a " +
        "non-codegen mapPartitions seam, same class as the multimodal " +
        "codec); this corpus is ASCII so the codegen path is the " +
        "complete story here.",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast(LongType).as("n_tokens_raw"),
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")).as("norm"))
          .select(col("doc_id"), col("n_tokens_raw"),
            size(split(col("norm"), " ")).cast(LongType).as("n_tokens_norm"),
            Portable.pmd5(col("norm")).as("norm_digest"))
      },
      Some(s"""
        WITH n AS (
          SELECT doc_id,
                 CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens_raw,
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
          FROM documents)
        SELECT doc_id, n_tokens_raw,
               CAST(length(string_split(norm, ' ')) AS BIGINT) AS n_tokens_norm,
               ${Portable.pmd5Sql("norm")} AS norm_digest
        FROM n""")),
    // ----------------------------------------------------------------
    Q(
      "q147_bigram_lm",
      "Bigram language-model scoring — q112's fluency proxy upgraded " +
        "from unigram frequency to CONDITIONAL structure: bigram and " +
        "unigram counts learned on one hash-half of the corpus, the " +
        "other half scored per adjacent token pair by the integer " +
        "negative-log2 of p(w2|w1) ~ tier(c(w1)) - tier(c(w1,w2)) " +
        "(tiers via binary-string length — exact, no transcendentals; " +
        "c12 <= c1 keeps every term non-negative). An unseen bigram " +
        "over a known w1 scores tier(c1)+1 — one bit worse than any " +
        "observed continuation; an unknown w1 a flat 20-bit penalty. " +
        "Adjacent pairs come from zipping the token array against its " +
        "own tail IN the scan stage (no positional self-join, no " +
        "window); the count tables join token-keyed (q51's cost " +
        "class, never broadcast-bounded) and per-source means are " +
        "integer milli-bits. Low = predictable fluent text; high = " +
        "junk or shuffled text — the score a quality-filter thresholds.",
      (s, dir) => {
        val d = spread(t(s, dir, "documents"), col("doc_id"))
          .select(col("source"),
            (Portable.pmd5(concat(lit("d:"), col("doc_id").cast("string"))) % 2)
              .as("half"),
            split(col("text"), " ").as("arr"))
        val uni = d.select(col("half"), explode(col("arr")).as("w1"))
          .filter(col("half") === 0)
          .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
          .select(col("w1"), (length(bin(col("c1"))) - 1).cast(LongType).as("t1"))
        val pairs = d
          .withColumn("a1", slice(col("arr"), lit(1), size(col("arr")) - 1))
          .withColumn("a2", slice(col("arr"), lit(2), size(col("arr")) - 1))
          .select(col("source"), col("half"),
            explode(arrays_zip(col("a1"), col("a2"))).as("p"))
          .select(col("source"), col("half"),
            col("p.a1").as("w1"), col("p.a2").as("w2"))
        val bi = pairs.filter(col("half") === 0)
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
          .select(col("w1"), col("w2"),
            (length(bin(col("c12"))) - 1).cast(LongType).as("t12"))
        pairs.filter(col("half") === 1)
          .join(uni, Seq("w1"), "left")
          .join(bi, Seq("w1", "w2"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(when(col("t1").isNull, 20L)
              .when(col("t12").isNull, col("t1") + 1L)
              .otherwise(col("t1") - col("t12"))).as("sum_nll2"))
          .select(col("source"), col("n_bigrams"), col("sum_nll2"),
            expr("sum_nll2 * 1000 div n_bigrams").as("nll2_milli"))
      },
      Some(s"""
        WITH d AS (
          SELECT source,
                 ${Portable.pmd5Sql("concat('d:', CAST(doc_id AS VARCHAR))")} % 2 AS half,
                 string_split(text, ' ') AS l
          FROM documents),
        uni AS (
          SELECT tk AS w1, CAST(length(bin(count(*))) - 1 AS BIGINT) AS t1
          FROM (SELECT half, unnest(l) AS tk FROM d)
          WHERE half = 0 GROUP BY tk),
        pr AS (
          SELECT source, half,
                 unnest(list_transform(generate_series(1, len(l) - 1),
                   i -> l[i])) AS w1,
                 unnest(list_transform(generate_series(1, len(l) - 1),
                   i -> l[i + 1])) AS w2
          FROM d),
        bi AS (
          SELECT w1, w2, CAST(length(bin(count(*))) - 1 AS BIGINT) AS t12
          FROM pr WHERE half = 0 GROUP BY w1, w2)
        SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CASE WHEN t1 IS NULL THEN 20
                             WHEN t12 IS NULL THEN t1 + 1
                             ELSE t1 - t12 END) AS BIGINT) AS sum_nll2,
               CAST(sum(CASE WHEN t1 IS NULL THEN 20
                             WHEN t12 IS NULL THEN t1 + 1
                             ELSE t1 - t12 END) AS BIGINT) * 1000
                 // count(*) AS nll2_milli
        FROM pr LEFT JOIN uni USING (w1) LEFT JOIN bi USING (w1, w2)
        WHERE half = 1
        GROUP BY source""")),
    // ----------------------------------------------------------------
    Q(
      "q234_rake_keywords",
      "RAKE keyword extraction (Rose et al. 2010): candidate phrases " +
        "are the maximal token runs between stopwords, each word " +
        "scores degree/frequency (degree = total length of phrases " +
        "containing it, frequency = its occurrence count — both over " +
        "the WHOLE corpus), and a phrase scores the sum of its member " +
        "words' scores; output is the top-20 distinct phrases. Word " +
        "scores are integer basis points (deg x 10000 div freq), so " +
        "phrase scores are exact integer sums and the top-20 rides a " +
        "total order (score, occurrences, phrase text). Phrase " +
        "segmentation is the sessionization trick: a running count of " +
        "stopwords keys each token to its run — one doc-partitioned " +
        "window, no self-join; phrase text reassembles with the " +
        "ordered-fold idiom (sort collected (idx, tok) structs — " +
        "collect_list alone has no order contract). SCALE SHAPE: " +
        "windows and groupBys key on (doc_id, run) — high cardinality " +
        "— the word-score join moves only (word, 2 longs) pairs, and " +
        "the final distinct-phrase roll-up shuffles phrase strings " +
        "whose length the stopword density bounds.",
      (s, dir) => {
        val toks = spread(t(s, dir, "documents"), col("doc_id"))
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("idx", "tok")))
          .withColumn("is_stop", col("tok").isin(RAKE_STOP: _*))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("idx"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        // persisted (r16): `runs` feeds THREE consumers (phrases, the
        // word-score join, the phrase-score join) and `phrases` two —
        // unpersisted, each consumer re-ran the token explode + the
        // doc-partitioned run window (ReuseExchange dedups only the
        // exchange, not the window compute above it). Freed by the
        // harness's clearCache-after-terminal-action contract.
        val runs = toks
          .withColumn("run", sum(when(col("is_stop"), 1L).otherwise(0L)).over(w))
          .where(!col("is_stop"))
          .persist()
        val phrases = runs.groupBy(col("doc_id"), col("run"))
          .agg(count(lit(1)).as("plen"),
            array_join(transform(array_sort(collect_list(struct(col("idx"),
              col("tok")))), x => x.getField("tok")), " ").as("phrase"))
          .persist()
        val wordStats = runs.join(phrases, Seq("doc_id", "run"))
          .groupBy(col("tok"))
          .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
          .withColumn("wscore_bp", expr("deg * 10000 div freq"))
        val scored = runs.join(wordStats.select(col("tok"), col("wscore_bp")), "tok")
          .groupBy(col("doc_id"), col("run"))
          .agg(sum(col("wscore_bp")).as("pscore"))
        phrases.join(scored, Seq("doc_id", "run"))
          .groupBy(col("phrase"))
          .agg(count(lit(1)).as("n_occ"), max(col("pscore")).as("score_bp"))
          .orderBy(col("score_bp").desc, col("n_occ").desc, col("phrase"))
          .limit(20)
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, i AS idx, arr[i] AS tok,
                 CASE WHEN arr[i] IN ($RAKE_STOP_SQL) THEN 1 ELSE 0 END AS is_stop
          FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
               unnest(generate_series(1, len(arr))) u(i)),
        runs AS (
          SELECT doc_id, idx, tok,
                 sum(is_stop) OVER (PARTITION BY doc_id ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
          FROM toks
          QUALIFY is_stop = 0),
        phrases AS (
          SELECT doc_id, run, CAST(count(*) AS BIGINT) AS plen,
                 string_agg(tok, ' ' ORDER BY idx) AS phrase
          FROM runs GROUP BY doc_id, run),
        wordstats AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS freq,
                 CAST(sum(plen) AS BIGINT) AS deg
          FROM runs JOIN phrases USING (doc_id, run)
          GROUP BY tok),
        scored AS (
          SELECT doc_id, run,
                 CAST(sum(deg * 10000 // freq) AS BIGINT) AS pscore
          FROM runs JOIN wordstats USING (tok)
          GROUP BY doc_id, run)
        SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ,
               CAST(max(pscore) AS BIGINT) AS score_bp
        FROM phrases JOIN scored USING (doc_id, run)
        GROUP BY phrase
        ORDER BY score_bp DESC, n_occ DESC, phrase
        LIMIT 20""")),
    // ----------------------------------------------------------------
    Q(
      "q245_suffix_ranks",
      "Distributed suffix array by prefix doubling (Manber-Myers) " +
        "over a document slice: the lexicographic dense rank of " +
        "EVERY suffix of every document — the index structure behind " +
        "exact-substring dedup, longest-repeated-substring " +
        "memorization audits and corpus pattern counts. The oracle " +
        "deliberately states the NAIVE spelling (materialize each " +
        "suffix string, dense_rank over the sorted strings — " +
        "quadratic bytes in document length), so the hash match " +
        "PROVES the O(log maxDocLen)-round integer construction " +
        "equal to it, sentinel semantics included (a suffix that is " +
        "a prefix of another ranks first; duplicate documents keep " +
        "all their suffix ranks tied, dense over DISTINCT suffixes). " +
        "SCALE SHAPE: text is touched once (the per-position " +
        "character projection); every doubling round shuffles only " +
        "(doc, pos, rank) triples and re-ranks a distinct-pair frame " +
        "via range-sort + zipWithIndex — never an unpartitioned " +
        "window, never a suffix payload; rounds are cut by " +
        "operators.Rounds with deterministic release once the " +
        "result lands, so lineage stays O(1).",
      (s, dir) => {
        val slice = t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(25)) === 0)
          .select("doc_id", "text")
        // the persisted index (SuffixIndex): built once per corpus
        // snapshot, shared with q246 (same m25 slice); stale-stamp
        // detection rebuilds when the corpus moves. The stamp hashes
        // (id, text length) only — a SAME-LENGTH in-place edit is
        // stamp-invisible and requires bumping the tag (fold the
        // ingest epoch in) to force the rebuild
        graft.operators.SuffixIndex.ranks(s, "m25", slice, "doc_id", "text")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
        s AS (
          SELECT doc_id, unnest(range(1, length(text) + 1)) AS pos
          FROM d),
        sfx AS (
          SELECT s.doc_id, s.pos,
                 substr(d.text, CAST(s.pos AS INT)) AS suf
          FROM s JOIN d USING (doc_id))
        SELECT doc_id, CAST(pos AS BIGINT) AS pos,
               CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT)
                 AS suffix_rank
        FROM sfx""")),
    // ----------------------------------------------------------------
    Q(
      "q246_repeated_substrings",
      "Longest repeated substrings — the memorization/contamination " +
        "audit a training corpus runs before release (a substring " +
        "repeated verbatim is what a model can regurgitate): the " +
        "classic suffix-array reduction — every repeat is a longest-" +
        "common-prefix of suffixes ADJACENT in suffix order, so rank " +
        "adjacency from q245's prefix-doubling index finds them all " +
        "in one pass. Equal suffixes (duplicate docs/tails) chain " +
        "through a rank-partitioned lag window and report their FULL " +
        "length; distinct neighbors (rank r's last member vs r+1's " +
        "first) fold an 80-char-capped snippet comparison — a repeat " +
        "that saturates the cap is flagged regardless of true extent. " +
        "Top-20 under a total order with both (doc, pos) witnesses " +
        "and the snippet. The oracle derives the SAME pairs from the " +
        "naive direct suffix sort (lag over ORDER BY suffix string), " +
        "so the hash match proves rank adjacency == sorted adjacency. " +
        "SCALE SHAPE: suffix strings never materialize on the engine " +
        "side — one cap-char snippet per suffix (linear bytes), tie " +
        "windows partition by rank, the boundary join is an equi-join " +
        "on the rank key, and the LCP fold is a codegen'd bounded " +
        "sequence — where the oracle's spelling carries full O(n^2) " +
        "suffix bytes through its sort.",
      (s, dir) => {
        val slice = t(s, dir, "documents")
          .filter(pmod(col("doc_id"), lit(25)) === 0)
          .select("doc_id", "text")
        // consumer half over the q245-shared persisted index — the
        // prefix-doubling build runs once per corpus snapshot for the
        // m25 slice, whichever of q245/q246 touches it first (tag-bump
        // rule for stamp-invisible edits: see q245)
        graft.operators.SuffixArray.repeatedSubstringsFromRanks(
          graft.operators.SuffixIndex.ranks(s, "m25", slice, "doc_id", "text"),
          slice, "doc_id", "text")
          .orderBy(col("lcp_len").desc, col("d1"), col("p1"),
            col("d2"), col("p2"))
          .limit(20)
      },
      Some("""
        WITH d AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
        s AS (
          SELECT doc_id, unnest(range(1, length(text) + 1)) AS pos
          FROM d),
        sfx AS (
          SELECT s.doc_id, s.pos,
                 substr(d.text, CAST(s.pos AS INT)) AS suf
          FROM s JOIN d USING (doc_id)),
        adj AS (
          SELECT doc_id AS d2, pos AS p2, suf,
                 lag(doc_id) OVER w AS d1, lag(pos) OVER w AS p1,
                 lag(suf) OVER w AS prev
          FROM sfx WINDOW w AS (ORDER BY suf, doc_id, pos)),
        scored AS (
          SELECT d1, CAST(p1 AS BIGINT) AS p1, d2, CAST(p2 AS BIGINT) AS p2,
                 suf,
                 CASE WHEN prev = suf THEN length(suf)
                      ELSE coalesce(list_min(list_filter(
                             range(1, least(length(substr(prev, 1, 80)),
                                            length(substr(suf, 1, 80))) + 1),
                             i -> substr(prev, CAST(i AS INT), 1)
                                  <> substr(suf, CAST(i AS INT), 1))) - 1,
                           least(length(substr(prev, 1, 80)),
                                 length(substr(suf, 1, 80)))) END AS lcp
          FROM adj WHERE d1 IS NOT NULL)
        SELECT d1, p1, d2, p2, CAST(lcp AS BIGINT) AS lcp_len,
               substr(suf, 1, CAST(least(lcp, 80) AS INT)) AS snippet
        FROM scored
        ORDER BY lcp_len DESC, d1, p1, d2, p2 LIMIT 20""")),
    // ----------------------------------------------------------------
    Q(
      "q260_exactsubstr_decontam",
      "Exact-substring decontamination over the suffix index " +
        "(SuffixArray.substringHits): 24-char verbatim excerpts of " +
        "held-out eval docs (doc_id < 100, every other one) counted " +
        "at every position they occur in a training slice — the " +
        "ZERO-false-negative complement to q71's hash-based 13-gram " +
        "decon (gram hashing admits collision false positives and " +
        "tokenization misses sub-token matches; here the match is " +
        "the string itself, and n_hits = 0 rows are kept so every " +
        "query is scored). The index is the rank-DEDUPLICATED " +
        "snippet table: equal suffixes — duplicate docs/tails, " +
        "exactly what a contaminated corpus is full of — collapse to " +
        "one weighted row, so the probe equi-joins the small " +
        "broadcast eval side against DISTINCT suffixes, never " +
        "positions. The oracle states the NAIVE quadratic scan " +
        "(every training position enumerated, substr-compared), so " +
        "the hash match proves the index lookup exact — overlapping " +
        "occurrences, cross-document, multiplicities included. " +
        "Training side sliced doc_id % 10 = 0 (the q245 " +
        "harness-density knob, not an algorithmic limit).",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        val train = docs
          .filter(col("doc_id") >= 100 && pmod(col("doc_id"), lit(10)) === 0)
          .select("doc_id", "text")
        val evalq = docs
          .filter(col("doc_id") < 100 && pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id").as("eval_id"),
            expr("substring(text, CAST(1 + doc_id % 37 AS INT), 24)")
              .as("q"))
        // consumer half over the persisted training-slice index (its
        // own tag — the m10 slice differs from q245/q246's m25): every
        // eval-set refresh probes the standing index (tag-bump rule
        // for stamp-invisible edits: see q245)
        graft.operators.SuffixArray.substringHitsFromRanks(
          graft.operators.SuffixIndex.ranks(s, "m10", train, "doc_id", "text"),
          train, "doc_id", "text", evalq, "eval_id", "q", 24)
      },
      Some("""
        WITH train AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id >= 100 AND doc_id % 10 = 0),
        q AS (
          SELECT doc_id AS eval_id,
                 substr(text, CAST(1 + doc_id % 37 AS INT), 24) AS q
          FROM documents WHERE doc_id < 100 AND doc_id % 2 = 0),
        qv AS (SELECT eval_id, q FROM q WHERE len(q) = 24),
        pos AS (
          SELECT t.doc_id, CAST(u.i AS INT) AS i, t.text
          FROM train t, UNNEST(range(1, len(t.text) - 24 + 2)) AS u(i))
        SELECT qv.eval_id, qv.q, CAST(count(p.doc_id) AS BIGINT) AS n_hits
        FROM qv LEFT JOIN pos p ON substr(p.text, p.i, 24) = qv.q
        GROUP BY 1, 2""")),
    // ----------------------------------------------------------------
    Q(
      "q262_bigram_surprise",
      "Per-DOCUMENT perplexity-proxy scoring — the grain q112/q147 " +
        "stop short of: q147 reports per-SOURCE mean bits (a corpus " +
        "health readout), but the CCNet/Gopher filter decision is " +
        "per document, so this scores every doc by its total and " +
        "per-bigram BITS OF SURPRISE under a Laplace-smoothed bigram " +
        "LM trained on the corpus itself: for each adjacent pair, " +
        "floor(-log2 p) with p = (c12+1)/(c1+V) — smoothing replaces " +
        "q147's unseen-bigram penalty cases (self-trained, every " +
        "bigram is seen >= once; the +1/+V keeps the estimator " +
        "proper when the model is later applied to NEW batches). " +
        "Boilerplate floods score near 0 bits/bigram (memorized), " +
        "gibberish scores high — the keep/drop threshold column. " +
        "The floor-log2 is a stated coarsening computed with NO " +
        "floats anywhere: den >= num always (c12 <= c1, V >= 1), so " +
        "floor(log2(den/num)) = bitlength(den div num) - 1 — pure " +
        "integer arithmetic both engines state identically (bin() " +
        "string length / printf('%b')), immune to libm log " +
        "divergence at representability boundaries. Docs with fewer " +
        "than 2 tokens have no bigrams and are dropped. SCALE " +
        "SHAPE: the corpus is exploded once into bigram instances " +
        "(persisted — it feeds the count tables and the scoring " +
        "join); counts are token-keyed aggregations; scoring is two " +
        "vocabulary-keyed equi-joins plus a 1-row broadcast V — " +
        "never a text rescan, never a global sort; one bounded row " +
        "per document crosses the final shuffle.",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        // the q67 convention: bg feeds three consumers shuffling on
        // different keys — persist keeps lineage; the harness frees it
        // via clearCache
        val bg = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"), explode(when(size(col("ts")) >= 2,
            transform(sequence(lit(1), size(col("ts")) - 1),
              i => struct(element_at(col("ts"), i).as("w1"),
                element_at(col("ts"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
            .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
          .persist()
        val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
        val v = docs.select(explode(split(col("text"), " ")).as("tok"))
          .agg(countDistinct(col("tok")).as("v"))
        bg.join(c12, Seq("w1", "w2"))
          .join(c1, Seq("w1"))
          .crossJoin(broadcast(v)) // one-row frame
          .select(col("doc_id"),
            // floor(log2((c1+V)/(c12+1))) as pure integer arithmetic
            (length(bin(expr("(c1 + v) div (c12 + 1)"))) - 1)
              .cast(LongType).as("bits"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("bits")).as("surprise_bits"))
          .select(col("doc_id"), col("n_bigrams"), col("surprise_bits"),
            expr("1000 * surprise_bits div n_bigrams")
              .as("milli_bits_per_bigram"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        bg AS (
          SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
          FROM toks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
          WHERE len(ts) >= 2),
        c12 AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM bg GROUP BY 1, 2),
        c1 AS (
          SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
        v AS (
          SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
          FROM (SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents)),
        scored AS (
          SELECT bg.doc_id,
                 CAST(length(printf('%b', (c1.c1 + v.v) // (c12.c12 + 1)))
                   - 1 AS BIGINT) AS bits
          FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(bits) AS BIGINT) AS surprise_bits,
               CAST(1000 * sum(bits) AS BIGINT) // count(*)
                 AS milli_bits_per_bigram
        FROM scored GROUP BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "q263_bigram_surprise_heldout",
      "Cross-batch LM surprise — the deployment shape of q262 and " +
        "the ORACLE for [[graft.streaming.LmStream]]'s smoothed " +
        "path: the bigram model trains on the TRAINING split " +
        "(doc_id >= 100) only, and scores the HELD-OUT batch " +
        "(doc_id < 100) — the arriving-data quality gate, where " +
        "q262's self-trained inner joins cannot go. Held-out " +
        "bigrams the model never saw take the Laplace-smoothed " +
        "path the +1/+V exists for: unseen (w1,w2) keeps the " +
        "context's c1; an unseen CONTEXT WORD scores " +
        "floor(log2(V)) — both spelled as LEFT joins with " +
        "COALESCE(...,0), identical on both engines, and the same " +
        "float-free floor-log2 (bitlength of the integer quotient, " +
        "minus one) as q262. Held-out docs with fewer than 2 " +
        "tokens have no bigrams and drop. SCALE SHAPE: the " +
        "training corpus is exploded once into bigram instances " +
        "(persisted — it feeds c12 AND c1); the eval side joins " +
        "are vocabulary-keyed equi-joins against model tables " +
        "bounded by training vocabulary, plus a 1-row broadcast V " +
        "— scoring N arriving documents never rescans training " +
        "text (the LmStream twin makes the same read incremental).",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        def bigrams(d: org.apache.spark.sql.DataFrame) = d
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"), explode(when(size(col("ts")) >= 2,
            transform(sequence(lit(1), size(col("ts")) - 1),
              i => struct(element_at(col("ts"), i).as("w1"),
                element_at(col("ts"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
            .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val train = docs.filter(col("doc_id") >= 100)
        // persisted: feeds the c12 AND c1 aggregations (q67 cache
        // convention; the harness frees it via clearCache)
        val tbg = bigrams(train).persist()
        val c12 = tbg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val c1 = tbg.groupBy("w1").agg(count(lit(1)).as("c1"))
        val v = train.select(explode(split(col("text"), " ")).as("tok"))
          .agg(countDistinct(col("tok")).as("v"))
        bigrams(docs.filter(col("doc_id") < 100))
          .join(c12, Seq("w1", "w2"), "left")
          .join(c1, Seq("w1"), "left")
          .crossJoin(broadcast(v)) // one-row frame
          .select(col("doc_id"),
            (length(bin(expr(
              "(coalesce(c1, 0L) + v) div (coalesce(c12, 0L) + 1)"))) - 1)
              .cast(LongType).as("bits"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("bits")).as("surprise_bits"))
          .select(col("doc_id"), col("n_bigrams"), col("surprise_bits"),
            expr("1000 * surprise_bits div n_bigrams")
              .as("milli_bits_per_bigram"))
      },
      Some("""
        WITH ttoks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents
          WHERE doc_id >= 100),
        tbg AS (
          SELECT ts[i] AS w1, ts[i + 1] AS w2
          FROM ttoks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
          WHERE len(ts) >= 2),
        c12 AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM tbg GROUP BY 1, 2),
        c1 AS (
          SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM tbg GROUP BY 1),
        v AS (
          SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
          FROM (SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE doc_id >= 100)),
        etoks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents
          WHERE doc_id < 100),
        ebg AS (
          SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
          FROM etoks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
          WHERE len(ts) >= 2),
        scored AS (
          SELECT ebg.doc_id,
                 CAST(length(printf('%b',
                   (COALESCE(c1.c1, 0) + v.v)
                     // (COALESCE(c12.c12, 0) + 1))) - 1 AS BIGINT) AS bits
          FROM ebg
          LEFT JOIN c12 ON ebg.w1 = c12.w1 AND ebg.w2 = c12.w2
          LEFT JOIN c1 ON ebg.w1 = c1.w1
          CROSS JOIN v)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(bits) AS BIGINT) AS surprise_bits,
               CAST(1000 * sum(bits) AS BIGINT) // count(*)
                 AS milli_bits_per_bigram
        FROM scored GROUP BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "q264_anylen_decontam",
      "Variable-length exact-substring decontamination over the SAME " +
        "persisted suffix index as q260: real leak probes come in " +
        "MIXED lengths (a benchmark's answer strings are not all 24 " +
        "chars), so the eval set here extracts 8-to-24-char snippets " +
        "and the lookup answers every length class with one pure " +
        "equi-join against the rank-deduplicated snippet table " +
        "(snippets sized to the longest query, truncated per class) " +
        "— `substringHitsAnyLenFromRanks`, the consumer that " +
        "completes the FromRanks family (it used to rebuild the " +
        "index internally; now it probes the q260-shared standing " +
        "m10 index, one prefix-doubling build per corpus snapshot " +
        "between them — tag-bump rule for stamp-invisible edits: " +
        "see q245). The oracle states the NAIVE quadratic scan " +
        "(every training position, substr-compared at each query's " +
        "OWN length), so the hash match proves the per-length-class " +
        "decomposition exact — overlapping occurrences, " +
        "multiplicities, zero-hit queries kept. SCALE SHAPE: the " +
        "length-class list is collected but bounded by the longest " +
        "query STRING (17 classes here), never query count or " +
        "corpus; each class is a broadcast-eval equi-join against " +
        "DISTINCT suffixes, never positions.",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        val train = docs
          .filter(col("doc_id") >= 100 && pmod(col("doc_id"), lit(10)) === 0)
          .select("doc_id", "text")
        val evalq = docs
          .filter(col("doc_id") < 100 && pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id").as("eval_id"),
            expr("substring(text, CAST(1 + doc_id % 29 AS INT), " +
              "CAST(8 + doc_id % 17 AS INT))").as("q"))
        graft.operators.SuffixArray.substringHitsAnyLenFromRanks(
          graft.operators.SuffixIndex.ranks(s, "m10", train, "doc_id", "text"),
          train, "doc_id", "text", evalq, "eval_id", "q")
      },
      Some("""
        WITH train AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id >= 100 AND doc_id % 10 = 0),
        q AS (
          SELECT doc_id AS eval_id,
                 substr(text, CAST(1 + doc_id % 29 AS INT),
                        CAST(8 + doc_id % 17 AS INT)) AS q
          FROM documents WHERE doc_id < 100 AND doc_id % 2 = 1),
        qv AS (SELECT eval_id, q FROM q WHERE len(q) >= 1),
        pos AS (
          SELECT t.doc_id, CAST(u.i AS INT) AS i, t.text
          FROM train t, UNNEST(range(1, len(t.text) + 1)) AS u(i))
        SELECT qv.eval_id, qv.q,
               CAST(count(p.doc_id) AS BIGINT) AS n_hits
        FROM qv LEFT JOIN pos p ON substr(p.text, p.i, len(qv.q)) = qv.q
        GROUP BY 1, 2""")),
    // ----------------------------------------------------------------
    Q(
      "q266_longest_match",
      "Longest contamination SPAN per eval document (cap 40) — the " +
        "Lee et al. decontamination metric q260/q264 stop short of: " +
        "not whether a fixed excerpt occurs, but the length of the " +
        "LONGEST run of each eval doc appearing verbatim anywhere in " +
        "the training slice, plus a deterministic witness (the " +
        "lexicographically smallest span of that length). " +
        "operators.LongestMatch runs a per-document K-ARY SEARCH " +
        "(fanout 6 -> 2 rounds; measured best against fanout 3's 3 " +
        "rounds and the single-round all-lengths extreme, whose " +
        "class-explosion cost dominates) over span lengths against the " +
        "q260/q264-shared standing m10 suffix index: existence of a " +
        "length-l match is monotone in l, every doc starts at the " +
        "same [0, cap] interval and probes the lengths splitting its " +
        "interval into near-equal sevenths — the distinct probe-" +
        "length list per round is bounded by the interval structure " +
        "(~2*cap*fanout in total), never by eval count or corpus " +
        "size. Each round is ONE broadcast equi-join on (length, " +
        "prefix): the once-persisted rank-deduplicated snippet table " +
        "explodes map-only by the round's class list and the eval " +
        "probe frame BROADCASTS — the corpus-sized index never " +
        "shuffles; eval text explodes to (position x fanout x " +
        "rounds) query rows, linear in the SMALL side. The oracle " +
        "states the naive all-lengths scan (every train position x " +
        "every length up to the cap, hash-joined per length), so the " +
        "hash match proves the search converges to the true maximum " +
        "with the exact witness — cap saturation, zero-match docs " +
        "(0/null) included. SCALE SHAPE: log7(cap) driver-sequenced " +
        "rounds (round latency is the toy-scale cost; each round is " +
        "one snippet-table scan regardless of scale), per-round " +
        "state cut by operators.Rounds with deterministic predecessor " +
        "release (the Coverage cut — lineage-kept persist " +
        "would double the logical plan per round).",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        val train = docs
          .filter(col("doc_id") >= 100 && pmod(col("doc_id"), lit(10)) === 0)
          .select("doc_id", "text")
        val evalDocs = docs
          .filter(col("doc_id") < 100 && pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id").as("eval_id"), col("text"))
        // the snippet table is STANDING (r16): derived once per corpus
        // generation from the m10 ranks (SuffixIndex.snippets, stamp-
        // guarded), so a run pays one fingerprint check + the search —
        // not a ranks-join + rank-dedup groupBy per run
        graft.operators.LongestMatch.longestMatchFromSnips(
          graft.operators.SuffixIndex.snippets(
            s, "m10", train, "doc_id", "text", 40),
          evalDocs, "eval_id", "text", 40)
      },
      Some("""
        WITH train AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id >= 100 AND doc_id % 10 = 0),
        ev AS (
          SELECT doc_id AS eval_id, text FROM documents
          WHERE doc_id < 100 AND doc_id % 2 = 0),
        lens AS (SELECT unnest(range(1, 41)) AS l),
        tl AS (
          SELECT DISTINCT l, substr(t.text, CAST(i AS INT), CAST(l AS INT)) AS s
          FROM train t, UNNEST(range(1, len(t.text) + 1)) AS u(i), lens
          WHERE i + l - 1 <= len(t.text)),
        el AS (
          SELECT eval_id, l, substr(e.text, CAST(i AS INT), CAST(l AS INT)) AS s
          FROM ev e, UNNEST(range(1, len(e.text) + 1)) AS u(i), lens
          WHERE i + l - 1 <= len(e.text)),
        hit AS (SELECT eval_id, el.l, el.s FROM el JOIN tl USING (l, s)),
        best AS (SELECT eval_id, max(l) AS ml FROM hit GROUP BY 1),
        wit AS (
          SELECT h.eval_id, min(h.s) AS witness
          FROM hit h JOIN best b ON h.eval_id = b.eval_id AND h.l = b.ml
          GROUP BY 1)
        SELECT e.eval_id, CAST(coalesce(b.ml, 0) AS BIGINT) AS match_len,
               w.witness
        FROM ev e LEFT JOIN best b USING (eval_id)
                  LEFT JOIN wit w USING (eval_id)""")),
    // ----------------------------------------------------------------
    Q(
      "q269_backoff_surprise",
      "TRIGRAM stupid-backoff LM scoring (Brants et al. 2007) — the " +
        "CCNet-style quality filter one order above q262/q263's " +
        "bigram: the model trains on doc_id >= 100 and scores every " +
        "held-out doc's trigram stream, backing off trigram -> " +
        "bigram -> unigram -> OOV. The backoff factor is alpha = 1/4 " +
        "— A POWER OF TWO, so each backoff level adds EXACTLY 2 bits " +
        "(-log2(x * 4^-k) = -log2 x + 2k with no floor interaction) " +
        "and the whole statement stays float-free: every level's " +
        "ratio has num <= den by construction (c123 <= its context " +
        "total, bigram count <= its first-token total, c3 <= N), so " +
        "bits = bitlength(den div num) - 1 plus 2 per level backed " +
        "off, 6 + bitlength(N) - 1 for an out-of-vocabulary token. " +
        "Output per held-out doc: trigram count, total surprise " +
        "bits, and the per-level hit counts (n_tri/n_bi/n_uni/" +
        "n_oov) — the novelty signature that separates memorized " +
        "boilerplate (all trigram hits, near-0 bits) from " +
        "paraphrase (bigram/unigram backoffs) from gibberish (OOV). " +
        "Docs with fewer than 3 tokens have no trigrams and drop " +
        "(q262's rule, one order up). SCALE SHAPE: training text " +
        "explodes ONCE into trigram and bigram instances (persisted " +
        "— each feeds its numerator AND its context-denominator " +
        "aggregation); all five model tables are vocabulary-keyed " +
        "aggs; scoring is five vocabulary-keyed LEFT equi-joins " +
        "plus a 1-row broadcast N — never a training rescan, one " +
        "bounded row per doc out.",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        val train = docs.filter(col("doc_id") >= 100)
        def grams(d: org.apache.spark.sql.DataFrame, n: Int) = d
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"), explode(when(size(col("ts")) >= n,
            transform(sequence(lit(1), size(col("ts")) - (n - 1)),
              i => struct((1 to n).map(j =>
                element_at(col("ts"), i + (j - 1)).as(s"w$j")): _*)))
            .otherwise(array().cast(
              s"array<struct<${(1 to n).map(j => s"w$j:string").mkString(",")}>>")))
            .as("g"))
          .select(col("doc_id") +: (1 to n).map(j =>
            col(s"g.w$j").as(s"w$j")): _*)
        // persisted: each instance frame feeds its numerator AND its
        // context-denominator agg (q67 cache convention)
        val t3 = grams(train, 3).persist()
        val t2 = grams(train, 2).persist()
        val c123 = t3.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
        val c12t = t3.groupBy("w1", "w2").agg(count(lit(1)).as("c12t"))
        val c23 = t2.select(col("w1").as("w2"), col("w2").as("w3"))
          .groupBy("w2", "w3").agg(count(lit(1)).as("c23"))
        val c2 = t2.select(col("w1").as("w2"))
          .groupBy("w2").agg(count(lit(1)).as("c2"))
        val c3 = train.select(explode(split(col("text"), " ")).as("w3"))
          .groupBy("w3").agg(count(lit(1)).as("c3"))
        val nTok = train.select(explode(split(col("text"), " ")).as("tok"))
          .agg(count(lit(1)).as("n"))
        val lvl = expr("""CASE
          WHEN c123 IS NOT NULL THEN 1
          WHEN c23 IS NOT NULL THEN 2
          WHEN c3 IS NOT NULL THEN 3
          ELSE 4 END""")
        val bits = expr("""CAST(CASE
          WHEN c123 IS NOT NULL THEN length(bin(c12t div c123)) - 1
          WHEN c23 IS NOT NULL THEN length(bin(c2 div c23)) - 1 + 2
          WHEN c3 IS NOT NULL THEN length(bin(n div c3)) - 1 + 4
          ELSE length(bin(n)) - 1 + 6 END AS BIGINT)""")
        grams(docs.filter(col("doc_id") < 100), 3)
          .join(c123, Seq("w1", "w2", "w3"), "left")
          .join(c12t, Seq("w1", "w2"), "left")
          .join(c23, Seq("w2", "w3"), "left")
          .join(c2, Seq("w2"), "left")
          .join(c3, Seq("w3"), "left")
          .crossJoin(broadcast(nTok)) // one-row frame
          .select(col("doc_id"), lvl.as("lvl"), bits.as("bits"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_trigrams"),
            sum(col("bits")).as("surprise_bits"),
            sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_tri"),
            sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_bi"),
            sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_uni"),
            sum(when(col("lvl") === 4, 1L).otherwise(0L)).as("n_oov"))
      },
      Some("""
        WITH ttoks AS (
          SELECT string_split(text, ' ') AS ts FROM documents
          WHERE doc_id >= 100),
        t3 AS (
          SELECT ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3
          FROM ttoks, unnest(generate_series(1, len(ts) - 2)) AS u(i)
          WHERE len(ts) >= 3),
        t2 AS (
          SELECT ts[i] AS w1, ts[i + 1] AS w2
          FROM ttoks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
          WHERE len(ts) >= 2),
        c123 AS (
          SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c123
          FROM t3 GROUP BY 1, 2, 3),
        c12t AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12t
          FROM t3 GROUP BY 1, 2),
        c23 AS (
          SELECT w1 AS w2, w2 AS w3, CAST(count(*) AS BIGINT) AS c23
          FROM t2 GROUP BY 1, 2),
        c2 AS (
          SELECT w1 AS w2, CAST(count(*) AS BIGINT) AS c2
          FROM t2 GROUP BY 1),
        c3 AS (
          SELECT tok AS w3, CAST(count(*) AS BIGINT) AS c3
          FROM (SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE doc_id >= 100) GROUP BY 1),
        ntok AS (
          SELECT CAST(count(*) AS BIGINT) AS n
          FROM (SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE doc_id >= 100)),
        etoks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents
          WHERE doc_id < 100),
        e3 AS (
          SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2, ts[i + 2] AS w3
          FROM etoks, unnest(generate_series(1, len(ts) - 2)) AS u(i)
          WHERE len(ts) >= 3),
        scored AS (
          SELECT e3.doc_id,
                 CASE WHEN c123.c123 IS NOT NULL THEN 1
                      WHEN c23.c23 IS NOT NULL THEN 2
                      WHEN c3.c3 IS NOT NULL THEN 3
                      ELSE 4 END AS lvl,
                 CAST(CASE
                   WHEN c123.c123 IS NOT NULL
                     THEN length(printf('%b', c12t.c12t // c123.c123)) - 1
                   WHEN c23.c23 IS NOT NULL
                     THEN length(printf('%b', c2.c2 // c23.c23)) - 1 + 2
                   WHEN c3.c3 IS NOT NULL
                     THEN length(printf('%b', ntok.n // c3.c3)) - 1 + 4
                   ELSE length(printf('%b', ntok.n)) - 1 + 6
                   END AS BIGINT) AS bits
          FROM e3
          LEFT JOIN c123 ON e3.w1 = c123.w1 AND e3.w2 = c123.w2
                        AND e3.w3 = c123.w3
          LEFT JOIN c12t ON e3.w1 = c12t.w1 AND e3.w2 = c12t.w2
          LEFT JOIN c23 ON e3.w2 = c23.w2 AND e3.w3 = c23.w3
          LEFT JOIN c2 ON e3.w2 = c2.w2
          LEFT JOIN c3 ON e3.w3 = c3.w3
          CROSS JOIN ntok)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
               CAST(sum(bits) AS BIGINT) AS surprise_bits,
               CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_tri,
               CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_bi,
               CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_uni,
               CAST(sum(CASE WHEN lvl = 4 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_oov
        FROM scored GROUP BY doc_id""")),
    // ----------------------------------------------------------------
    Q(
      "q272_ccnet_buckets",
      "CCNet-style perplexity bucketing (Wenzek et al. 2020, the " +
        "public CommonCrawl-curation recipe): per LANGUAGE, documents " +
        "split into head/middle/tail TERCILES of q262's per-doc LM " +
        "surprise (milli-bits per bigram under the self-trained " +
        "Laplace-smoothed bigram model, the same float-free " +
        "bitlength floor-log2) — head = the least-surprising third, " +
        "the slice CCNet keeps preferentially. The tercile split " +
        "NEVER sorts the corpus: per-doc scores aggregate into a " +
        "(lang, milli_bits) HISTOGRAM whose support is bounded by " +
        "the score range (thousandths of bits-per-bigram, a few " +
        "thousand distinct cells), the cumulative count runs as a " +
        "window over that bounded histogram, boundaries are b1 = " +
        "min score with cum >= ceil(n/3) and b2 = min score with " +
        "cum >= ceil(2n/3) (ceil spelled (n+2) div 3 / (2n+2) div 3 " +
        "— integers, identical in both engines), and the languages-" +
        "cardinality boundary table BROADCASTS back onto the per-doc " +
        "frame. Boundary ties take the LOWER bucket (score <= b1 is " +
        "head), so bucket sizes deviate from n/3 exactly where " +
        "scores tie — stated, deterministic, and how percentile " +
        "thresholds behave in the recipe. Docs with fewer than 2 " +
        "tokens have no bigrams and drop (q262's rule). Output per " +
        "(lang, bucket): doc count, surviving chars, total " +
        "milli-bits, and the language's boundaries — the table a " +
        "mixture owner reads to set the keep fraction. SCALE SHAPE: " +
        "one bigram explode (persisted — feeds both count tables), " +
        "vocabulary-keyed scoring joins, one bounded row per doc, " +
        "a support-bounded histogram window (PARTITIONED by lang, " +
        "never corpus-wide), and a broadcast boundary join.",
      (s, dir) =>
        // the fold is CcnetStream.bucketsOf — ONE statement of the
        // tercile recipe shared with q274 and the 23rd streaming twin,
        // including the enforced [0, 62000] histogram-support guard
        graft.streaming.CcnetStream.bucketsOf(
          ccnetPerDoc(spread(t(s, dir, "documents"), col("doc_id")))),
      Some(s"""
        WITH ${ccnetCtes}
        SELECT p.lang,
               CASE WHEN mbits <= b1 THEN 'head'
                    WHEN mbits <= b2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(mbits) AS BIGINT) AS sum_milli_bits,
               CAST(min(b1) AS BIGINT) AS b1, CAST(min(b2) AS BIGINT) AS b2
        FROM perdoc p JOIN bounds USING (lang)
        GROUP BY 1, 2""")),
    // ----------------------------------------------------------------
    Q(
      "q281_quality_mixture",
      "Quality-STRATIFIED sampling manifest — the deployment step " +
        "CCNet's terciles exist for (Wenzek et al. 2020 keep the " +
        "head preferentially; FineWeb-class pipelines sample the " +
        "tail rather than drop it): per (source, bucket) over q272's " +
        "self-trained per-language terciles, the stratum's size and " +
        "the SAMPLED keep decision — head and middle kept fully, " +
        s"tail kept at $TAIL_KEEP_BP bp via the standing " +
        "deterministic pmd5 sampling hash (the q83/q136/q247 " +
        "mechanics: keep iff pmd5('ccq:' || id) % 10000 < rate — no " +
        "floats, no RNG state, both engines identical). Documents " +
        "with no bigrams are unscorable and absent (q262's rule — " +
        "the gate form fails them closed; this manifest reports the " +
        "scorable corpus). Output per (source, bucket): doc/char " +
        "counts, kept doc/char counts, kept bp — the " +
        "quality-aware mixture table a sampler executes, " +
        "source-resolved where q272 reports per language. SCALE " +
        "SHAPE: q272's scoring shape verbatim (ONE persisted bigram " +
        "explode feeding both count tables, vocabulary-keyed joins, " +
        "support-bounded histogram window, broadcast boundary join " +
        "via the SHARED ccnetPerDoc/bucketedOf statements), one " +
        "narrow per-doc keep projection, a (source x 3)-bounded " +
        "aggregation.",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        val bk = graft.streaming.CcnetStream
          .bucketedOf(ccnetPerDoc(docs))
          .select(col("doc_id"), col("n_chars"), col("bucket"))
          .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        val kept = bk.withColumn("keep", col("bucket") =!= "tail" ||
          Portable.pmd5(concat(lit("ccq:"), col("doc_id").cast("string")))
            % 10000L < TAIL_KEEP_BP)
        kept.groupBy(col("source"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            coalesce(sum(when(col("keep"), col("n_chars"))), lit(0L))
              .as("kept_chars"))
          .withColumn("kept_bp", expr("n_kept * 10000 div n_docs"))
      },
      Some(s"""
        WITH ${ccnetCtes},
        bk AS (
          SELECT p.doc_id, d.source, p.n_chars,
                 CASE WHEN mbits <= b1 THEN 'head'
                      WHEN mbits <= b2 THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM perdoc p JOIN bounds USING (lang)
          JOIN documents d ON d.doc_id = p.doc_id),
        k AS (
          SELECT source, bucket, n_chars,
                 bucket <> 'tail' OR
                   ${Portable.pmd5Sql(
                     "concat('ccq:', CAST(doc_id AS VARCHAR))")}
                     % 10000 < $TAIL_KEEP_BP AS keep
          FROM bk)
        SELECT source, bucket, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
               CAST(coalesce(sum(n_chars) FILTER (WHERE keep), 0)
                 AS BIGINT) AS kept_chars,
               CAST(count(*) FILTER (WHERE keep) AS BIGINT) * 10000
                 // CAST(count(*) AS BIGINT) AS kept_bp
        FROM k GROUP BY 1, 2""")),
    // ----------------------------------------------------------------
    Q(
      "q273_gopher_rules",
      "Gopher-style rule-based quality gate (Rae et al. 2021, " +
        "Appendix A — the public heuristic-filter recipe that " +
        "precedes every model-based score): each document checked " +
        "against four structural rules, every threshold CROSS-" +
        "MULTIPLIED into pure integer comparisons so no ratio is " +
        "ever computed. The rule SHAPES are Appendix A's; three " +
        "CONSTANTS deliberately deviate from the paper, recalibrated " +
        "to this synthetic short-document corpus so no conjunct is " +
        "vacuous: (1) word count in " +
        s"[${graft.operators.GopherRules.MinWords}, " +
        s"${graft.operators.GopherRules.MaxWords}] (paper: [50, " +
        "1e5] — at 50 the lower bound rejects almost everything " +
        "here); (2) mean word length in [4.4, 10] (paper: [3, 10] — " +
        "the synthetic vocabulary's mean never drops to 3, so the " +
        "lower bound is raised until the rule fires) spelled " +
        "10*wchars >= 44*nw AND wchars <= 10*nw, with wchars = " +
        "len(text) - (nw - 1) exact for the single-space-separated " +
        "corpus; (3) at least 2 stop words from an 8-word list — the " +
        "paper's list is 'the be to of and that have with'; this " +
        "corpus never inflects 'be/have', so the list swaps in its " +
        "own highest-frequency function words ('the a of to and in " +
        "is it'), same cardinality and same >= 2 bar; (4) lexical " +
        "diversity distinct/total >= 40% spelled 5*ndist >= 2*nw " +
        "(the duplicate-content proxy at this corpus's single-line " +
        "grain — the paper's line/paragraph dup rules have no lines " +
        "to bind on here). Output per " +
        "source: doc count, each rule's violation count, the " +
        "all-rules pass count and pass rate in basis points — the " +
        "pre-filter audit row that tells a pipeline owner which rule " +
        "is eating their corpus. SCALE SHAPE: one pure per-row " +
        "projection over the scan (no joins, no windows; the token " +
        "split runs once per row and feeds all four rules), then a " +
        "source-bounded aggregation — the cheapest possible gate " +
        "shape, which is exactly why recipes run rules first.",
      (s, dir) => {
        import graft.operators.GopherRules
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        // the rule statement is GopherRules — the SAME code the
        // CurateStream rule gate admits with, so the deployed gate
        // sits under this query's DuckDB oracle
        val (nw, wchars, stopw, ndist) = GopherRules.metrics(col("text"))
        val m = docs.select(col("source"), nw.as("nw"),
          wchars.as("wchars"), stopw.as("stopw"), ndist.as("ndist"))
        val flagged = m.select(col("source") +:
          GopherRules.rules(col("nw"), col("wchars"), col("stopw"),
            col("ndist")).map { case (name, pred) => pred.as(name) }: _*)
        flagged.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(!col("r_wc"), 1L).otherwise(0L)).as("v_wordcount"),
            sum(when(!col("r_mwl"), 1L).otherwise(0L)).as("v_meanlen"),
            sum(when(!col("r_stop"), 1L).otherwise(0L)).as("v_stopword"),
            sum(when(!col("r_div"), 1L).otherwise(0L)).as("v_diversity"),
            sum(when(col("r_wc") && col("r_mwl") && col("r_stop") &&
              col("r_div"), 1L).otherwise(0L)).as("n_pass"))
          .select(col("source"), col("n_docs"), col("v_wordcount"),
            col("v_meanlen"), col("v_stopword"), col("v_diversity"),
            col("n_pass"), expr("n_pass * 10000 div n_docs").as("pass_bp"))
      },
      Some(s"""
        WITH m AS (
          SELECT source,
                 ${graft.operators.GopherRules.metricsDuckSql("text")
                   .mkString(",\n                 ")}
          FROM documents),
        f AS (
          SELECT source,
                 ${graft.operators.GopherRules.rulesDuckSql
                   .map { case (n, sql) => s"$sql AS $n" }
                   .mkString(",\n                 ")}
          FROM m)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (WHERE NOT r_wc) AS BIGINT)
                 AS v_wordcount,
               CAST(count(*) FILTER (WHERE NOT r_mwl) AS BIGINT)
                 AS v_meanlen,
               CAST(count(*) FILTER (WHERE NOT r_stop) AS BIGINT)
                 AS v_stopword,
               CAST(count(*) FILTER (WHERE NOT r_div) AS BIGINT)
                 AS v_diversity,
               CAST(count(*) FILTER (WHERE r_wc AND r_mwl AND r_stop
                 AND r_div) AS BIGINT) AS n_pass,
               CAST(count(*) FILTER (WHERE r_wc AND r_mwl AND r_stop
                 AND r_div) AS BIGINT) * 10000
                 // CAST(count(*) AS BIGINT) AS pass_bp
        FROM f GROUP BY 1""")),
    // ----------------------------------------------------------------
    Q(
      "q274_ccnet_heldout",
      "CCNet bucketing at its DEPLOYMENT shape — the oracle for " +
        "[[graft.streaming.CcnetStream]] (the q263-to-LmStream " +
        "relationship, restated for the bucketing recipe): the " +
        "reference LM trains on the TRAINING split (doc_id >= 100) " +
        "ONLY and stays frozen; the held-out batch (doc_id < 100) is " +
        "scored with q263's smoothed LEFT-join arithmetic (never-" +
        "seen bigrams and contexts take the +1/+V Laplace paths) and " +
        "split head/middle/tail per language by q272's histogram " +
        "tercile fold — the Spark side routes through CcnetStream." +
        "bucketsOf, the SAME shared fold the 23rd streaming twin " +
        "reads with, so the twin's boundary arithmetic itself sits " +
        "under this DuckDB oracle. SCALE SHAPE: training text " +
        "explodes once (persisted — feeds c12 AND c1), scoring is " +
        "vocabulary-keyed left joins + a broadcast V, per-doc rows " +
        "are bounded, and the tercile fold runs over the support-" +
        "bounded (lang, milli_bits) histogram with a broadcast " +
        "boundary join — never a corpus sort, never a training " +
        "rescan.",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        def bigrams(d: org.apache.spark.sql.DataFrame) = d
          .select(col("doc_id"), split(col("text"), " ").as("ts"))
          .select(col("doc_id"), explode(when(size(col("ts")) >= 2,
            transform(sequence(lit(1), size(col("ts")) - 1),
              i => struct(element_at(col("ts"), i).as("w1"),
                element_at(col("ts"), i + 1).as("w2"))))
            .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
            .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val train = docs.filter(col("doc_id") >= 100)
        // persisted: feeds the c12 AND c1 aggregations (q67 cache
        // convention; the harness frees it via clearCache)
        val tbg = bigrams(train).persist()
        val c12 = tbg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val c1 = tbg.groupBy("w1").agg(count(lit(1)).as("c1"))
        val v = train.select(explode(split(col("text"), " ")).as("tok"))
          .agg(countDistinct(col("tok")).as("v"))
        val evalDocs = docs.filter(col("doc_id") < 100)
        val perDoc = bigrams(evalDocs)
          .join(c12, Seq("w1", "w2"), "left")
          .join(c1, Seq("w1"), "left")
          .crossJoin(broadcast(v)) // one-row frame
          .select(col("doc_id"),
            (length(bin(expr(
              "(coalesce(c1, 0L) + v) div (coalesce(c12, 0L) + 1)"))) - 1)
              .cast(LongType).as("bits"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sb"))
          .select(col("doc_id"), expr("1000 * sb div n_bigrams").as("mbits"))
          .join(evalDocs.select(col("doc_id"), col("lang"), col("n_chars")),
            Seq("doc_id"))
          // persisted: bucketsOf consumes perDoc THREE times (histogram,
          // per-language totals, final bucket join) — without this the
          // whole eval-side scoring pipeline re-plans per consumer
          // (ExplainAuditSpec's q274 lock counts the bigram explodes)
          .persist()
        graft.streaming.CcnetStream.bucketsOf(perDoc)
      },
      Some(s"""
        WITH ttoks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents
          WHERE doc_id >= 100),
        tbg AS (
          SELECT ts[i] AS w1, ts[i + 1] AS w2
          FROM ttoks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
          WHERE len(ts) >= 2),
        c12 AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
          FROM tbg GROUP BY 1, 2),
        c1 AS (
          SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM tbg GROUP BY 1),
        v AS (
          SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
          FROM (SELECT unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE doc_id >= 100)),
        etoks AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents
          WHERE doc_id < 100),
        ebg AS (
          SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
          FROM etoks, unnest(generate_series(1, len(ts) - 1)) AS u(i)
          WHERE len(ts) >= 2),
        perdoc AS (
          SELECT s.doc_id,
                 CAST(1000 * sum(bits) AS BIGINT) // count(*) AS mbits,
                 any_value(d.lang) AS lang,
                 any_value(d.n_chars) AS n_chars
          FROM (SELECT ebg.doc_id,
                       CAST(length(printf('%b',
                         (COALESCE(c1.c1, 0) + v.v)
                           // (COALESCE(c12.c12, 0) + 1))) - 1 AS BIGINT)
                         AS bits
                FROM ebg
                LEFT JOIN c12 ON ebg.w1 = c12.w1 AND ebg.w2 = c12.w2
                LEFT JOIN c1 ON ebg.w1 = c1.w1
                CROSS JOIN v) s
          JOIN documents d ON d.doc_id = s.doc_id
          GROUP BY s.doc_id),
        hist AS (
          SELECT lang,
                 ${graft.streaming.CcnetStream.guardDuckSql("mbits")}
                   AS mbits,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM perdoc GROUP BY lang, perdoc.mbits),
        n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
              FROM perdoc GROUP BY 1),
        cum AS (
          SELECT hist.lang, mbits,
                 sum(cnt) OVER (PARTITION BY hist.lang ORDER BY mbits)
                   AS cum, n
          FROM hist JOIN n USING (lang)),
        bounds AS (
          SELECT lang,
                 min(CASE WHEN cum >= (n + 2) // 3 THEN mbits END) AS b1,
                 min(CASE WHEN cum >= (2 * n + 2) // 3 THEN mbits END)
                   AS b2
          FROM cum GROUP BY 1)
        SELECT p.lang,
               CASE WHEN mbits <= b1 THEN 'head'
                    WHEN mbits <= b2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars,
               CAST(sum(mbits) AS BIGINT) AS sum_milli_bits,
               CAST(min(b1) AS BIGINT) AS b1, CAST(min(b2) AS BIGINT) AS b2
        FROM perdoc p JOIN bounds USING (lang)
        GROUP BY 1, 2""")),
    // ----------------------------------------------------------------
    Q(
      "q277_repetition_rules",
      "Gopher REPETITION rules (Rae et al. 2021, Appendix A's other " +
        "half — q273 covers the structural rules, this covers the " +
        "repeated-content ones): per document, the MAXIMUM character " +
        "fraction covered by any single {2,3,4}-gram must stay under " +
        "the paper's 20/18/16 percent (a stated deviation: the paper " +
        "takes the most FREQUENT gram's coverage, this takes the max " +
        "coverage over grams — the stricter bound, since a longer but " +
        "rarer gram can dominate), and no 3-gram may repeat inside " +
        "the document at all (the paper binds duplicate {5..10}-grams " +
        "— this corpus never repeats a 5-gram internally, 0/500 " +
        "probed, so the dup rule is recalibrated to n=3 at zero " +
        "tolerance; a vacuous conjunct audits nothing). Coverage is " +
        "the STATED integer definition occurrences x gram string " +
        "length (overlaps counted), compared cross-multiplied: " +
        "covered*100 <= pct*n_chars — no ratio is ever computed. " +
        "Documents too short to form an n-gram pass that rule " +
        "vacuously (both engines coalesce the missing flag to pass). " +
        "Output per source: doc count, per-rule violation counts, " +
        "all-pass count and rate in basis points. SCALE SHAPE: ONE " +
        "explode produces every (n, gram) instance for all three " +
        "sizes in a single corpus pass (an 8-byte gram hash travels, " +
        "never the gram text); counts are (doc, n, hash)-keyed " +
        "aggregations; the per-(doc, n) roll-up is bounded rows; " +
        "flags pivot with conditional aggregation and join back as a " +
        "narrow per-doc set; the final aggregation is source-bounded.",
      (s, dir) => {
        import graft.operators.GopherRules
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        // the flag pipeline is GopherRules.repetitionFlags — the SAME
        // statement the CurateStream repetition gate admits with, so
        // the deployed gate sits under this query's DuckDB oracle
        val flags = GopherRules.repetitionFlags(docs, "doc_id", "text")
        docs.select(col("doc_id"), col("source"))
          .join(flags, Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(!col("r_top2"), 1L).otherwise(0L)).as("v_top2"),
            sum(when(!col("r_top3"), 1L).otherwise(0L)).as("v_top3"),
            sum(when(!col("r_top4"), 1L).otherwise(0L)).as("v_top4"),
            sum(when(!col("r_dup3"), 1L).otherwise(0L)).as("v_dup3"),
            sum(when(col("rep_pass"), 1L).otherwise(0L)).as("n_pass"))
          .select(col("source"), col("n_docs"), col("v_top2"),
            col("v_top3"), col("v_top4"), col("v_dup3"), col("n_pass"),
            expr("n_pass * 10000 div n_docs").as("pass_bp"))
      },
      Some(s"""
        WITH toks AS (
          SELECT doc_id, CAST(len(text) AS BIGINT) AS nc,
                 string_split(text, ' ') AS ts
          FROM documents),
        gr AS (
          SELECT doc_id, nc, n,
                 ${Portable.pmd5Sql("g")} AS gh,
                 CAST(len(g) AS BIGINT) AS gl
          FROM (
            SELECT doc_id, nc, nn.n AS n,
                   list_aggregate(ts[i:i+nn.n-1], 'string_agg', ' ') AS g
            FROM toks,
                 unnest(generate_series(1, len(ts))) AS u(i),
                 (SELECT unnest([${graft.operators.GopherRules.TopGramMaxPct
                   .map(_._1).mkString(", ")}]) AS n) AS nn
            WHERE i + nn.n - 1 <= len(ts))),
        cnt AS (
          SELECT doc_id, n, gh, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(max(gl) AS BIGINT) AS gl,
                 CAST(max(nc) AS BIGINT) AS nc
          FROM gr GROUP BY 1, 2, 3),
        pdn AS (
          SELECT doc_id, n, max(cnt * gl) AS topcov,
                 coalesce(sum(CASE WHEN cnt > 1 THEN cnt * gl END), 0)
                   AS dupcov,
                 max(nc) AS nc
          FROM cnt GROUP BY 1, 2),
        flags AS (
          SELECT doc_id,
                 ${graft.operators.GopherRules.TopGramMaxPct.map { case (n, pct) =>
                   s"coalesce(max(CASE WHEN n = $n THEN " +
                     s"topcov * 100 <= $pct * nc END), true) AS r_top$n"
                 }.mkString(",\n                 ")},
                 coalesce(max(CASE WHEN n = ${graft.operators.GopherRules.DupGramN}
                   THEN dupcov * 100 <= ${graft.operators.GopherRules.DupGramMaxPct} * nc
                   END), true) AS r_dup3
          FROM pdn GROUP BY 1),
        fl AS (
          SELECT d.source,
                 coalesce(r_top2, true) AS r_top2,
                 coalesce(r_top3, true) AS r_top3,
                 coalesce(r_top4, true) AS r_top4,
                 coalesce(r_dup3, true) AS r_dup3
          FROM documents d LEFT JOIN flags USING (doc_id))
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (WHERE NOT r_top2) AS BIGINT) AS v_top2,
               CAST(count(*) FILTER (WHERE NOT r_top3) AS BIGINT) AS v_top3,
               CAST(count(*) FILTER (WHERE NOT r_top4) AS BIGINT) AS v_top4,
               CAST(count(*) FILTER (WHERE NOT r_dup3) AS BIGINT) AS v_dup3,
               CAST(count(*) FILTER (WHERE r_top2 AND r_top3 AND r_top4
                 AND r_dup3) AS BIGINT) AS n_pass,
               CAST(count(*) FILTER (WHERE r_top2 AND r_top3 AND r_top4
                 AND r_dup3) AS BIGINT) * 10000
                 // CAST(count(*) AS BIGINT) AS pass_bp
        FROM fl GROUP BY 1""")),
    // ----------------------------------------------------------------
    Q(
      "q283_c4_line_audit",
      "C4 structural line/page audit (Raffel et al. 2020, §2.2 — the " +
        "line-level half of the public recipe; Gopher q273/q277 audit " +
        "documents, C4 audits LINES). This corpus has no newlines or " +
        "punctuation, so a 'line' is derived by CONTENT-DEFINED " +
        "segmentation (the rsync/LBFS chunking idea): a sentence ends " +
        s"at every word with pmd5(word) % ${C4Rules.SentModulus} == 0 " +
        "— boundaries move with the words, so shared text segments " +
        "identically at any offset (the property the q284 span dedup " +
        "needs; a fixed window would misalign after one insertion). " +
        "Rule mapping, stated: words after the last boundary are an " +
        "UNTERMINATED tail and drop (the terminal-punctuation rule — " +
        "the boundary word IS the period); sentences under " +
        s"${C4Rules.MinSentWords} words drop (the paper's constant, " +
        s"verbatim); pages with fewer than ${C4Rules.MinSentences} " +
        "surviving sentences drop (the paper's constant, verbatim). " +
        "The page-term rules (badwords / lorem ipsum / braces) are " +
        "the q88/q92 blocklist shape, audited there. Output per " +
        "source: docs, terminated sentences, short-sentence drops, " +
        "unterminated-tail docs, failed pages, passing pages, " +
        "surviving sentences — every count from C4Rules.audit, the " +
        "SAME statement the CurateStream c4Gate filters with. SCALE " +
        "SHAPE: ONE per-row array projection (split once; boundary " +
        "filter, slices and counts are lambdas over it) — no join, " +
        "no window; one source-bounded aggregation.",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        docs.select(col("source"), C4Rules.audit(col("text")).as("a"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("a.n_sent")).as("n_sent"),
            sum(col("a.n_short")).as("n_short_sent"),
            sum(when(col("a.unterminated"), 1L).otherwise(0L))
              .as("v_unterminated"),
            sum(when(!col("a.page_pass"), 1L).otherwise(0L))
              .as("v_few_sent"),
            sum(when(col("a.page_pass"), 1L).otherwise(0L)).as("n_pages"),
            sum(when(col("a.page_pass"), col("a.n_kept")).otherwise(0L))
              .as("kept_sent"))
      },
      Some({
        // ONE SQL spelling of the segmentation: the audit reads the
        // shared keptCtes chain's own stages (bnds for the terminated/
        // tail facts, sent for the survivors) — never a second copy
        s"""
        WITH ${C4Rules.keptCtes("a", "documents", "text")},
        audit AS (
          SELECT b.doc_id,
                 len(b.bp) AS n_sent,
                 (len(b.bp) = 0 OR b.bp[len(b.bp)] < len(b.ts))
                   AS unterminated,
                 len(k.kept) AS n_kept
          FROM abnds b JOIN asent k USING (doc_id))
        SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_sent) AS BIGINT) AS n_sent,
               CAST(sum(n_sent - n_kept) AS BIGINT) AS n_short_sent,
               CAST(count(*) FILTER (WHERE unterminated) AS BIGINT)
                 AS v_unterminated,
               CAST(count(*) FILTER (WHERE n_kept
                 < ${C4Rules.MinSentences}) AS BIGINT) AS v_few_sent,
               CAST(count(*) FILTER (WHERE n_kept
                 >= ${C4Rules.MinSentences}) AS BIGINT) AS n_pages,
               CAST(coalesce(sum(n_kept) FILTER (WHERE n_kept
                 >= ${C4Rules.MinSentences}), 0) AS BIGINT) AS kept_sent
        FROM audit JOIN documents d USING (doc_id) GROUP BY 1"""
      })),
    // ----------------------------------------------------------------
    Q(
      "q284_c4_span_dedup",
      "C4 keep-one span dedup (Raffel et al. 2020, §2.2: 'we " +
        "discarded all but one of any three-sentence span occurring " +
        "more than once') — the recipe's cross-DOCUMENT dedup grain, " +
        "distinct from q97's ExactSubstr cut (which removes EVERY " +
        "copy; C4 keeps the first). Over q283's content-defined " +
        "sentences: structural line/page rules first (the paper's " +
        "order), then every three-consecutive-sentence span is " +
        "64-bit-hashed and each duplicated span keeps only its " +
        "global first occurrence (winner = min (doc_id, position) — " +
        "the paper leaves 'one' unspecified; the pin makes both " +
        "engines and every replay agree). Losing occurrences " +
        "surrender their three sentences (a sentence falls if ANY " +
        "losing span covers it); text is rewritten from the " +
        "survivors and fully-consumed documents leave. Output per " +
        "surviving page: word count and portable hash of the " +
        "rewritten text — the corpus digest. SCALE SHAPE: " +
        "segmentation is scan-stage; the dedup's irreducible " +
        "exchange is the span-hash aggregation (64-bit hashes " +
        "travel, never span text); winners resolve by groupBy-min, " +
        "not a corpus window; only documents that LOSE a span pay " +
        "the sentence-level reassembly exchange (the q97 " +
        "untouched-bypass shape).",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        C4Rules.spanDedup(docs.select(col("doc_id"), col("source"),
            col("text")), "doc_id", "text")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast(LongType).as("n_words"),
            Portable.pmd5(col("text")).as("thash"))
      },
      Some({
        // NOTE (r16 hash-scheme change, recorded per the r16 advisory):
        // the engine keys spans by xxhash64 over the three sentence
        // pmd5 hashes while this oracle keys them by pmd5 of the
        // joined span text. Through r15 both engines computed the
        // IDENTICAL hash, so even a hash collision matched by
        // construction; since r16 the grouping agreement is
        // collision-probabilistic (~n^2/2^61 for n distinct spans) —
        // equal spans still always agree (equal sentence triples =>
        // equal keys on both sides), only colliding UNEQUAL spans
        // could diverge.
        s"""
        WITH ${C4Rules.keptCtes("c4", "documents", "text")},
        pg AS (
          SELECT doc_id, kept FROM c4sent WHERE ${C4Rules.pagePassSql}),
        sp AS (
          SELECT doc_id, j AS spos,
                 ${Portable.pmd5Sql("array_to_string(list_slice(kept, " +
                   s"j, j + ${C4Rules.SpanSentences - 1}), ' ')")}
                   AS sh
          FROM pg, unnest(generate_series(1,
            len(kept) - ${C4Rules.SpanSentences - 1})) AS u(j)),
        lose AS (
          SELECT doc_id, spos FROM (
            SELECT doc_id, spos, row_number() OVER (
              PARTITION BY sh ORDER BY doc_id, spos) AS rn
            FROM sp) WHERE rn > 1),
        rem AS (
          SELECT DISTINCT doc_id, spos + k AS kidx
          FROM lose, unnest([${(0 until C4Rules.SpanSentences)
            .mkString(", ")}]) AS o(k)),
        srows AS (
          SELECT doc_id, j AS kidx, kept[j] AS sent
          FROM pg, unnest(generate_series(1, len(kept))) AS u(j)),
        keep2 AS (
          SELECT r.doc_id, r.kidx, r.sent FROM srows r
          WHERE NOT EXISTS (SELECT 1 FROM rem
            WHERE rem.doc_id = r.doc_id AND rem.kidx = r.kidx)),
        txt AS (
          SELECT doc_id, string_agg(sent, ' ' ORDER BY kidx) AS text2
          FROM keep2 GROUP BY 1)
        SELECT t.doc_id, d.source,
               CAST(len(string_split(text2, ' ')) AS BIGINT) AS n_words,
               ${Portable.pmd5Sql("text2")} AS thash
        FROM txt t JOIN documents d USING (doc_id)"""
      })),
    // ----------------------------------------------------------------
    Q(
      "q285_bpe_merges",
      "BPE merge learning (Sennrich et al. 2016 — the public subword-" +
        "vocabulary recipe modern tokenizers descend from): the first " +
        s"${graft.operators.Bpe.Rounds} learned merges over the corpus, " +
        "(round, a, b, count). The corpus is touched ONCE (the word-" +
        "count hash agg); every round after that is VOCABULARY-bounded " +
        "— pair counts over the (word, count, symbols) table, one " +
        "argmax row to the driver, one staged merge projection. Merge " +
        "semantics are the reference implementation's greedy left-to-" +
        "right non-overlapping scan, stated as a CLOSED FORM (self-" +
        "pair runs merge at even offsets from the run head) so both " +
        "engines express it as pure array lambdas — BpeSpec pins the " +
        "closed form against an independent imperative reference over " +
        "every short sequence. Ties break (count desc, pair asc), so " +
        "reruns and both engines learn the identical table. The table " +
        "is STANDING (BpeIndex — stamp-guarded warehouse table, the " +
        "DsirIndex/q280 discipline): trained once per corpus " +
        "generation, reread by q286/q287 and the TokenBudgetStream " +
        "monitor; the oracle retrains from scratch, so the hash " +
        "match proves standing == inline. SCALE " +
        "SHAPE: one corpus-wide exchange total at BUILD time; " +
        "per-round work is " +
        "vocab-keyed aggregation (corpus-size-independent); driver " +
        "traffic is ONE row per round; the classic incremental pair-" +
        "count update is a vocab-bounded optimization of the recount " +
        "this trainer performs, stated in the operator doc.",
      (s, dir) => {
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        // the STANDING merge table (BpeIndex — stamp-guarded, built
        // once per corpus generation); the oracle retrains from
        // scratch, so the hash match proves standing == inline
        graft.operators.BpeIndex.table(s, "docs", docs, "doc_id", "text")
          .select(col("round"), col("a"), col("b"), col("cnt"))
      },
      Some(s"""
        WITH ${graft.operators.Bpe.trainCtes("documents",
          graft.operators.Bpe.Rounds)}
        ${graft.operators.Bpe.mergesSelectSql(graft.operators.Bpe.Rounds)}""")),
    // ----------------------------------------------------------------
    Q(
      "q286_bpe_tokenize",
      "Corpus token statistics under the q285-learned BPE merges " +
        "(read FROZEN from the standing BpeIndex table — never " +
        "retrained inline) — " +
        "the number a token-budget owner actually needs (q24/q121/" +
        "q279 count whitespace words; a trained tokenizer does not): " +
        "per source, word count, BPE token count and tokens-per-word " +
        "in basis points (integer arithmetic, both engines). " +
        "Tokenization happens on the VOCABULARY (one staged merge " +
        "projection per learned round over the word table), and the " +
        "corpus joins against that map by word — the map-side shape. " +
        "SCALE SHAPE: the trainer's one corpus pass + vocab-bounded " +
        "rounds (q285), then one exploded-word join keyed on the " +
        "word (broadcastable when the vocabulary is bounded, shuffle-" +
        "keyed otherwise) and a source-bounded aggregation; token " +
        "ARRAYS never leave the vocab table — only their lengths " +
        "travel.",
      (s, dir) => {
        import graft.operators.{Bpe, BpeIndex}
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        // frozen merges from the STANDING BpeIndex table (q285's
        // generation — never retrained inline, the q280 convention)
        val merges = BpeIndex.mergeList(s, "docs", docs, "doc_id", "text")
        // the fold is Bpe.tokenStats — ONE statement shared with the
        // 28th streaming twin (TokenBudgetStream), so the live monitor
        // sits under this oracle transitively
        Bpe.tokenStats(docs, "text", merges)
          .withColumn("tokens_per_word_bp",
            expr("n_tokens * 10000 div n_words"))
      },
      Some(s"""
        WITH ${graft.operators.Bpe.trainCtes("documents",
          graft.operators.Bpe.Rounds)},
        tv AS (
          SELECT word, CAST(len(form) AS BIGINT) AS ntok
          FROM v${graft.operators.Bpe.Rounds}),
        w AS (
          SELECT source, unnest(string_split(text, ' ')) AS word
          FROM documents)
        SELECT source, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(ntok) AS BIGINT) AS n_tokens,
               CAST(sum(ntok) AS BIGINT) * 10000
                 // CAST(count(*) AS BIGINT) AS tokens_per_word_bp
        FROM w JOIN tv USING (word) GROUP BY 1""")),
    // ----------------------------------------------------------------
    Q(
      "q287_pack_manifest",
      "Sequence-packing manifest under the q285-learned BPE merges " +
        "(read FROZEN from the standing BpeIndex table) — " +
        "the concatenate-then-chunk packing every GPT-style pipeline " +
        "runs (documents concatenated in a pinned order, the token " +
        s"stream cut into $PACK_LEN-token training sequences, no " +
        "padding): per source, the sequence count, the documents " +
        "straddling a cut (they contribute gradient across two " +
        "sequences — the number a packing owner watches), the final " +
        "partial sequence's tokens, and utilization in bp. Order is " +
        "pinned to doc_id within source, so both engines and every " +
        "rerun cut identically. Per-document token counts come from " +
        "the tokenized vocabulary (q286's map join); the packing " +
        "itself is ONE per-source ordered prefix sum over narrow " +
        "(source, doc_id, n_tok) rows — a document crosses a cut iff " +
        "(cum - tok) div L != (cum - 1) div L, pure integers. SCALE " +
        "SHAPE: the window partitions by source and carries three " +
        "integer columns, never text; at corpus scale the prefix sum " +
        "is the standard two-pass form (per-partition partials + " +
        "broadcast offsets) and the manifest aggregation is " +
        "source-bounded.",
      (s, dir) => {
        import graft.operators.{Bpe, BpeIndex}
        import org.apache.spark.sql.expressions.Window
        val docs = spread(t(s, dir, "documents"), col("doc_id"))
        // frozen merges from the standing table (the q280 convention)
        val merges = BpeIndex.mergeList(s, "docs", docs, "doc_id", "text")
        val tv = Bpe.tokenizedVocab(docs, "text", merges)
          .select(col("word"), size(col("form")).cast(LongType).as("ntok"))
        val perDoc = docs.select(col("source"), col("doc_id"),
            explode(split(col("text"), " ")).as("word"))
          .join(tv, Seq("word"))
          .groupBy(col("source"), col("doc_id"))
          .agg(sum(col("ntok")).as("tok"))
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        perDoc
          .withColumn("cum", sum(col("tok")).over(w))
          .select(col("source"), col("tok"), col("cum"),
            // pure integer floor division on both engines (a double
            // quotient would be hash-fragile at large cums)
            expr(s"((cum - tok) div $PACK_LEN) != ((cum - 1) div $PACK_LEN)")
              .as("split"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("tok")).as("n_tokens"),
            expr(s"(max(cum) + ${PACK_LEN - 1}) div $PACK_LEN")
              .as("n_seqs"),
            sum(when(col("split"), 1L).otherwise(0L)).as("n_docs_split"),
            expr(s"max(cum) % $PACK_LEN").as("tail_tokens"))
          .withColumn("util_bp",
            expr(s"n_tokens * 10000 div (n_seqs * $PACK_LEN)"))
      },
      Some(s"""
        WITH ${graft.operators.Bpe.trainCtes("documents",
          graft.operators.Bpe.Rounds)},
        tv AS (
          SELECT word, CAST(len(form) AS BIGINT) AS ntok
          FROM v${graft.operators.Bpe.Rounds}),
        pd AS (
          SELECT source, doc_id, CAST(sum(ntok) AS BIGINT) AS tok
          FROM (SELECT source, doc_id,
                       unnest(string_split(text, ' ')) AS word
                FROM documents) w
          JOIN tv USING (word)
          GROUP BY 1, 2),
        c AS (
          SELECT source, tok,
                 CAST(sum(tok) OVER (PARTITION BY source ORDER BY doc_id)
                   AS BIGINT) AS cum
          FROM pd)
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(tok) AS BIGINT) AS n_tokens,
               (max(cum) + ${PACK_LEN - 1}) // $PACK_LEN AS n_seqs,
               CAST(count(*) FILTER (WHERE (cum - tok) // $PACK_LEN
                 <> (cum - 1) // $PACK_LEN) AS BIGINT) AS n_docs_split,
               max(cum) % $PACK_LEN AS tail_tokens,
               CAST(sum(tok) AS BIGINT) * 10000
                 // ((max(cum) + ${PACK_LEN - 1}) // $PACK_LEN
                   * $PACK_LEN) AS util_bp
        FROM c GROUP BY 1"""))
  )
}
