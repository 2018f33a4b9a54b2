package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Byte-pair-encoding merge learning and application (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units" — the public subword-vocabulary recipe every modern
  * tokenizer descends from), as VOCABULARY-BOUNDED Spark arithmetic:
  * token-budget numbers over whitespace words (q24/q121/q279) become
  * real once the engine can state what a trained tokenizer would do
  * to the corpus.
  *
  * DIVISION OF WORK — the property that makes BPE train at 100 TB:
  * the corpus is touched ONCE, by the word-count aggregation
  * ([[vocab]] — one hash agg, the only corpus-wide exchange). Every
  * training round after that runs on the (word, count) table, whose
  * cardinality is the corpus VOCABULARY — executor-scale but corpus-
  * size-independent — and ships exactly one argmax row to the driver
  * per round (the [[graft.operators.Similarity]] bounded-driver-row
  * convention). Tokenization under a frozen merge list is a map-side
  * join of exploded words against the tokenized vocabulary.
  *
  * MERGE SEMANTICS, stated once: a merge (a, b) rewrites every word's
  * symbol sequence greedily LEFT TO RIGHT, non-overlapping, the scan
  * continuing after each match's second symbol — the reference
  * implementation's behavior. Greedy matching has a CLOSED FORM: for
  * a != b occurrences can never overlap, so every (a, b) adjacency
  * merges; for a == b, within each maximal run of a's the merge
  * starts at even offsets from the run head ([a,a,a] -> [aa,a],
  * [a,a,a,a] -> [aa,aa]). Both engines state that closed form as
  * pure array expressions ([[mergeOnce]] / [[mergeOnceSql]]) — no
  * fold, no UDF, no recursion — and BpeSpec pins the Spark side
  * against an independent Scala reference over run-heavy fixtures.
  *
  * Ties in the pair-count argmax break deterministically
  * (count DESC, then (a, b) lexicographic) so both engines and every
  * rerun learn the identical merge table.
  *
  * The classic pair-count UPDATE trick (adjust counts incrementally
  * after each merge instead of recounting) is a vocab-bounded
  * optimization of the recount this trainer performs; at the vocab
  * grain the recount is one small hash agg per round, and the
  * recount form is the one an oracle can mirror. */
object Bpe {

  /** Default merge rounds for q285/q286 — enough to surface
    * multi-character subwords on the synthetic vocabulary while the
    * oracle's unrolled round CTEs stay readable. */
  val Rounds = 8

  // ------------------------------------------------------------------
  // shared arithmetic (Spark side)
  // ------------------------------------------------------------------

  /** A word's initial symbol sequence: its characters. The empty-word
    * guard matters: Spark sequence(1, 0) DESCENDS where DuckDB's
    * generate_series returns [] — without it the engines would
    * silently diverge on an empty token. */
  def charSymbols(w: Column): Column =
    when(length(w) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(w)),
        i => w.substr(i, lit(1))))

  /** One greedy merge (a, b) -> a+b over a symbol array — the closed
    * form of left-to-right non-overlapping matching (see the object
    * doc). Pure array lambdas; stays scan-stage. */
  def mergeOnce(l: Column, a: String, b: String): Column = {
    val isPair = (i: Column) =>
      element_at(l, i) === a && element_at(l, i + 1) === b
    // for a == b: offset within the maximal run of a's ending at i —
    // merge starts at even offsets. i = 1 guard: sequence(1, 0)
    // DESCENDS in Spark, and element_at(l, 0) is an ANSI error.
    val isStart =
      if (a != b) isPair
      else (i: Column) => isPair(i) && {
        val lastNonA = when(i === 1, lit(0)).otherwise(
          coalesce(array_max(filter(sequence(lit(1), i - 1),
            j => element_at(l, j) =!= a)), lit(0)))
        (i - lastNonA - 1) % 2 === 0
      }
    val starts = filter(sequence(lit(1), size(l) - 1), isStart)
    when(size(l) < 2, l).otherwise(
      filter(
        transform(sequence(lit(1), size(l)), i =>
          when(array_contains(starts, i), lit(a + b))
            .when(array_contains(starts, i - 1),
              lit(null).cast(StringType))
            .otherwise(element_at(l, i))),
        x => x.isNotNull))
  }

  /** Apply a FROZEN ordered merge list. Column-expression chaining is
    * per-merge; call sites that chain many merges should stage one
    * projection per merge (the [[tokenizedVocab]] shape) so the plan
    * stays linear. */
  def applyMerges(l: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(l) { case (c, (a, b)) => mergeOnce(c, a, b) }

  /** The corpus word-count table — THE one corpus-wide pass. */
  def vocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Pair counts over a (word, cnt, form) vocabulary frame. */
  def pairCounts(forms: DataFrame): DataFrame =
    forms.select(col("cnt"), explode(
        when(size(col("form")) < 2,
          array().cast("array<struct<a:string,b:string>>"))
          .otherwise(transform(sequence(lit(1), size(col("form")) - 1),
            i => struct(element_at(col("form"), i).as("a"),
              element_at(col("form"), i + 1).as("b"))))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Learn `rounds` merges from the corpus: the driver loop. Per
    * round: one vocab-bounded pair-count agg, ONE argmax row to the
    * driver, one staged projection applying the merge. Returns
    * (round, a, b, cnt) in learn order; stops early if no pair is
    * left. Each round's vocabulary frame is materialized and its plan
    * cut ([[graft.operators.Rounds.Persist]]), and the previous
    * round's freed — peak cache is two vocab tables. */
  def trainMerges(docs: DataFrame, textCol: String,
      rounds: Int): Seq[(Int, String, String, Long)] = {
    val loop = new graft.operators.Rounds(docs.sparkSession,
      graft.operators.Rounds.Persist)
    def materialize(df: DataFrame): DataFrame =
      loop.next(df, count(lit(1))).frame
    var forms = materialize(vocab(docs, textCol)
      .withColumn("form", charSymbols(col("word"))))
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = pairCounts(forms)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((r, a, b, c))
        forms = materialize(
          forms.withColumn("form", mergeOnce(col("form"), a, b)))
        r += 1
      }
    }
    loop.close()
    learned.result()
  }

  /** The tokenized vocabulary under a frozen merge list: (word, cnt,
    * form) with one STAGED projection per merge (linear plan — see
    * [[applyMerges]]). The map tokenization joins against. */
  def tokenizedVocab(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    merges.foldLeft(
      vocab(docs, textCol).withColumn("form", charSymbols(col("word")))) {
      case (df, (a, b)) =>
        df.withColumn("form", mergeOnce(col("form"), a, b))
    }

  /** Per-source (n_words, n_tokens) under a frozen merge list — ONE
    * statement shared by the batch query (q286) and the streaming
    * token-budget monitor ([[graft.streaming.TokenBudgetStream]]),
    * the bucketsOf discipline. `docs` needs (source, textCol).
    * Tokenization runs on the frame's OWN word table (a pure function
    * of each word under frozen merges, so batch grain never changes
    * the answer); only token COUNTS leave the vocab join. */
  def tokenStats(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val tv = tokenizedVocab(docs, textCol, merges)
      .select(col("word"), size(col("form")).cast(LongType).as("ntok"))
    docs.select(col("source"),
        explode(split(col(textCol), " ")).as("word"))
      .join(tv, Seq("word"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("ntok")).as("n_tokens"))
  }

  /** Persist a learned merge table (the frozen-model form streaming
    * consumers score against — the DsirIndex/MixtureStream
    * convention). */
  def saveMerges(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(Int, String, String, Long)], table: String): Unit = {
    import spark.implicits._
    merges.map { case (r, a, b, c) => (r.toLong, a, b, c) }
      .toDF("round", "a", "b", "cnt")
      .write.mode("overwrite").saveAsTable(table)
  }

  /** Load a frozen merge list in learn order — driver-bounded by the
    * merge-round count (a tokenizer-vocabulary-sized constant, never
    * corpus-scaled). */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
      table: String): Seq[(String, String)] =
    spark.table(table).orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  // ------------------------------------------------------------------
  // DuckDB spellings (interpolated by the oracles)
  // ------------------------------------------------------------------

  private def q(s: String): String = "'" + s.replace("'", "''") + "'"

  /** SQL for a word's character symbols. */
  def charSymbolsSql(w: String): String =
    s"list_transform(generate_series(1, len($w)), i -> $w[i])"

  /** SQL twin of [[mergeOnce]] over list column `l` and merge columns
    * `a`/`b` (single-row merge CTE cross-joined in): the same closed
    * form, same null-emit-filter shape. `selfPair` mirrors the
    * Scala-side a != b specialization: the round CTEs cannot know the
    * learned pair at build time, so the oracle always carries the
    * parity term guarded by `$a = $b OR ...` — identical value. */
  def mergeOnceSql(l: String, a: String, b: String): String = {
    val starts =
      s"""list_filter(generate_series(1, len($l) - 1),
         |  i -> $l[i] = $a AND $l[i + 1] = $b AND ($a <> $b OR
         |    (i - coalesce(list_max(list_filter(
         |       generate_series(1, i - 1), j -> $l[j] <> $a)), 0) - 1)
         |      % 2 = 0))""".stripMargin
    s"""CASE WHEN len($l) < 2 THEN $l ELSE
       |  list_filter(list_transform(generate_series(1, len($l)),
       |    i -> CASE WHEN list_contains($starts, i) THEN $a || $b
       |              WHEN list_contains($starts, i - 1) THEN NULL
       |              ELSE $l[i] END),
       |    x -> x IS NOT NULL) END""".stripMargin
  }

  /** The unrolled training CTE chain: `v0` (char-symbol vocabulary
    * over `fromSql`, which must expose a text column named `text`),
    * then per round k: `p{k}` pair counts, `m{k}` the 1-row argmax,
    * `v{k}` the merged vocabulary. LEFT JOIN ON TRUE keeps `v{k}`
    * alive if merges run out. Callers read the merge table via
    * [[mergesSelectSql]] or tokenize via the final `v{rounds}`. */
  def trainCtes(fromSql: String, rounds: Int): String = {
    val v0 =
      s"""v0 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS cnt,
         |         ${charSymbolsSql("word")} AS form
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word
         |        FROM $fromSql)
         |  GROUP BY 1)""".stripMargin
    val roundsSql = (1 to rounds).map { k =>
      val prev = s"v${k - 1}"
      s"""p$k AS (
         |  SELECT form[i] AS a, form[i + 1] AS b,
         |         CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM $prev, unnest(generate_series(1, len(form) - 1)) AS u(i)
         |  GROUP BY 1, 2),
         |m$k AS (
         |  SELECT a, b, cnt FROM p$k
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |v$k AS (
         |  SELECT word, v.cnt AS cnt,
         |         CASE WHEN m.a IS NULL THEN form
         |              ELSE ${mergeOnceSql("form", "m.a", "m.b")} END
         |           AS form
         |  FROM $prev v LEFT JOIN m$k m ON true)""".stripMargin
    }
    (v0 +: roundsSql).mkString(",\n")
  }

  /** The learned merge table over [[trainCtes]]' round CTEs:
    * (round, a, b, cnt). */
  def mergesSelectSql(rounds: Int): String =
    (1 to rounds).map(k =>
      s"SELECT CAST($k AS BIGINT) AS round, a, b, cnt FROM m$k")
      .mkString("\n        UNION ALL ")
}
