package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training over a DISTRIBUTED word-frequency
  * table — the full tokenizer-training loop, of which q90 is the first
  * iteration. The corpus collapses to (word, count) once; every merge
  * round then runs two tiny jobs over the vocabulary only:
  *
  *   1. count adjacent symbol pairs weighted by word frequency
  *      (map-side-combined groupBy on the vocab table);
  *   2. fuse the argmax pair in every word's symbol sequence — a
  *      per-row left-to-right fold (`aggregate` HOF, codegen).
  *
  * At 100 TB the vocab is millions of rows where the corpus is
  * trillions, so the per-round cost is noise next to the one corpus
  * pass that produced the counts. The argmax pair (one row) is the
  * only thing that ever reaches the driver. Tiebreak is total
  * (count DESC, left ASC, right ASC), so the merge sequence is
  * deterministic on any cluster.
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String, count: Long)

  /** Split a word into single-character symbols. The split point must
    * have a character on BOTH sides — `(?!^)` alone also matches at
    * end-of-string, and Spark's split (unlike Scala's) KEEPS the
    * resulting trailing empty string. DOTALL so the lookahead also
    * sees line terminators (tokens are only space-split upstream, so
    * a symbol can be "\n"). */
  def charSymbols(word: Column): Column = split(word, "(?s)(?!^)(?=.)")

  /** Adjacent symbol pairs of one word as structs {l, r}. Guarded:
    * for a 1-symbol word `sequence(1, 0)` DESCENDS and element_at(0)
    * is an ANSI error. */
  private def pairsOf(sym: Column): Column =
    when(size(sym) >= 2,
      transform(sequence(lit(1), size(sym) - 1), i =>
        struct(element_at(sym, i).as("l"), element_at(sym, i + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** One greedy left-to-right merge pass: every non-overlapping
    * occurrence of (a, b) in the symbol sequence fuses to a+b. A fold
    * with (out, prev) state — after a fuse, prev resets, so "aaa" under
    * (a,a) becomes [aa, a], the standard BPE behavior. */
  def mergePair(symbols: Column, a: String, b: String): Column = {
    // NULL is the "no pending symbol" sentinel — an empty-STRING symbol
    // (charSymbols("") yields [""]) is a legal symbol and must flush;
    // prev === a is null-safe (NULL === a is falsy), symbols themselves
    // are never null (split output).
    val zero = struct(
      array().cast("array<string>").as("out"),
      lit(null).cast("string").as("prev"))
    val step = (st: Column, s: Column) => {
      val out = st.getField("out")
      val prev = st.getField("prev")
      when(prev === a && s === b,
        struct(concat(out, array(lit(a + b))).as("out"),
          lit(null).cast("string").as("prev")))
        .otherwise(struct(
          when(prev.isNull, out).otherwise(concat(out, array(prev))).as("out"),
          s.as("prev")))
    }
    val fin = (st: Column) =>
      when(st.getField("prev").isNull, st.getField("out"))
        .otherwise(concat(st.getField("out"), array(st.getField("prev"))))
    aggregate(symbols, zero, step, fin)
  }

  /** Train `nMerges` BPE merges from a (word, count) table. Returns the
    * merge sequence; stops early when no pair occurs twice. Columns:
    * `wordCol` string, `countCol` integral. */
  def train(wordCounts: DataFrame, nMerges: Int,
      wordCol: String = "w", countCol: String = "f"): Seq[Merge] = {
    // per-round cache discipline ([[graft.operators.Rounds.Persist]]):
    // persist the round, truncate its plan, and free the PREDECESSOR
    // only after the successor has materialized — the fold plan never
    // nests however many merge rounds run.
    val loop = new graft.operators.Rounds(wordCounts.sparkSession,
      graft.operators.Rounds.Persist)
    def materialize(df: DataFrame): DataFrame =
      loop.next(df, count(lit(1))).frame
    var cur = materialize(wordCounts
      .select(col(countCol).cast("long").as("f"),
        charSymbols(col(wordCol)).as("sym")))
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var exhausted = false
    while (rank < nMerges && !exhausted) {
      val top = cur
        .select(col("f"), explode(pairsOf(col("sym"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("f")).as("n"))
        .filter(col("n") >= 2)
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      top.headOption match {
        case None => exhausted = true
        case Some(row) =>
          val (a, b, n) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += Merge(rank, a, b, n)
          cur = materialize(
            cur.select(col("f"), mergePair(col("sym"), a, b).as("sym")))
          rank += 1
      }
    }
    loop.close()
    merges.result()
  }

  /** Tokenize words with a trained merge sequence (merges applied in
    * rank order — the inference side of [[train]]). */
  def applyMerges(word: Column, merges: Seq[Merge]): Column =
    merges.sortBy(_.rank).foldLeft(charSymbols(word)) { (sym, m) =>
      mergePair(sym, m.left, m.right)
    }
}
