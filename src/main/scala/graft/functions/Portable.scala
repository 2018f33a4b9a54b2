package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic, cross-engine-portable column combinators.
  *
  * Everything here is built from `org.apache.spark.sql.functions._` only, so
  * it stays inside whole-stage codegen (no UDFs) AND has a bit-identical
  * DuckDB SQL equivalent — the property the driver's oracle compare needs.
  *
  * The workhorse is [[pmd5]]: a 60-bit hash both engines compute identically
  * (`conv(substr(md5(s),1,15),16,10)` in Spark ==
  * `CAST('0x' || substr(md5(s),1,15) AS BIGINT)` in DuckDB). Murmur3
  * (`hash`) / `xxhash64` are Spark-only, so they can't be oracled.
  */
object Portable {

  /** 60-bit portable hash of a string column (first 15 hex chars of md5).
    *
    * When a SparkSession is active (always, on the driver building a
    * query), this routes through the native codegen expression
    * [[graft.expressions.Pmd5Hash60]] — bit-identical value, no
    * hex-string round trip on the engine's hottest primitive. The
    * composed form remains as the session-free fallback and as the
    * executable definition the DuckDB oracles mirror.
    *
    * Session-free (round 14): the expression rides INSIDE the Column
    * (GraftSqlBridge.column), so a Column built under one session
    * analyzes under any other — streaming foreachBatch clones,
    * newSession() clones, thread-local sessions — with no registry
    * coupling (Pmd5Spec pins it). The active-session match below only
    * chooses native-vs-composed; when no session is active the
    * composed form produces the identical value. */
  def pmd5(c: Column): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) => graft.expressions.Pmd5Hash60(s, c)
      case None => pmd5Composed(c)
    }

  /** The portable composed form of [[pmd5]] — what `pmd5Sql` mirrors. */
  def pmd5Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Driver-side twin of [[pmd5]] — same value, computed in Scala. Used
    * to precompute literal tables (e.g. LSH hyperplanes) so the hash
    * never runs per-row on the executors. */
  def pmd5Local(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Salted variant: independent hash family member `i` (for MinHash etc.). */
  def pmd5Salted(i: Int, c: Column): Column = pmd5(concat(lit(s"$i:"), c))

  /** DuckDB SQL text equivalent of [[pmd5]] applied to SQL fragment `s`. */
  def pmd5Sql(s: String): String =
    s"CAST(concat('0x', substr(md5($s), 1, 15)) AS BIGINT)"

  def pmd5SaltedSql(i: Int, s: String): String = pmd5Sql(s"concat('$i:', $s)")

  /** Whitespace tokens (single-space split — the corpus is single-spaced). */
  def tokens(text: Column): Column = split(text, " ")

  /** `n`-word shingles joined by a space: one string per window position.
    * Empty result if the document has fewer than `n` tokens.
    *
    * Spark: transform(sequence(0, size-n), i -> concat_ws(' ', slice(toks, i+1, n)))
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast(ArrayType(StringType)))
      .otherwise(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** DuckDB equivalent of [[wordShingles]] over SQL fragment `textSql`. */
  def wordShinglesSql(textSql: String, n: Int): String = {
    val toks = s"string_split($textSql, ' ')"
    s"""CASE WHEN len($toks) < $n THEN []
       | ELSE list_transform(generate_series(1, len($toks) - ${n - 1}),
       |        i -> array_to_string(list_slice($toks, i, i + ${n - 1}), ' '))
       | END""".stripMargin.replaceAll("\n", " ")
  }

  /** MinHash family: md5 is paid ONCE per shingle ([[baseHashes]]); the
    * k family members are affine maps (a_i*h + b_i) mod P over that base
    * hash — the standard construction, 16x cheaper than k salted md5
    * passes and identical arithmetic in both engines. P = 2^31-1 keeps
    * a_i*h below 2^62 (no 64-bit overflow on either side). */
  val MinhashP = 2147483647L // 2^31 - 1 (prime)

  def minhashParams(i: Int): (Long, Long) =
    (pmd5Local(s"a$i") % (MinhashP - 1) + 1, pmd5Local(s"b$i") % MinhashP)

  /** Base hash per shingle: pmd5 reduced into the family field. */
  def baseHashes(shingles: Column): Column =
    transform(shingles, s => pmd5(s) % MinhashP)

  /** 3-word-shingle hashes via token-hash combination: each TOKEN is
    * md5-hashed once, shingle hashes are polynomial combinations mod P.
    * ~7x fewer md5 calls than hashing each shingle string, and the
    * shingle strings are never materialized — the hot-loop version for
    * large corpora. Empty when the doc has <3 tokens. */
  val ShingleB = 1000003L // combination base; P*B < 2^52, no overflow

  /** Token-hash array (one md5 per token). Materialize this as a column
    * before combining — expression references inside lambdas re-evaluate
    * their argument, so the hashing must sit behind a projection. */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => pmd5(t) % MinhashP)

  /** Shingle hashes from a MATERIALIZED token-hash array column:
    * zip_with over shifted slices — each array evaluates once per row,
    * the combine is pure arithmetic. */
  def shingleHashesFromTokens(th: Column): Column = {
    val n = size(th)
    val h12 = zip_with(th, slice(th, lit(2), n - 1),
      (x, y) => (x * ShingleB + y) % MinhashP)
    val h123 = zip_with(h12, slice(th, lit(3), n - 2),
      (x, y) => (x * ShingleB + y) % MinhashP)
    when(n < 3, array().cast(ArrayType(LongType)))
      .otherwise(slice(h123, lit(1), n - 2))
  }

  /** DuckDB twin: token-hash list expression + the same combine. `thSql`
    * must be a plain column reference (materialized in a CTE). */
  def tokenHashesSql(textSql: String): String =
    s"list_transform(string_split($textSql, ' '), t -> ${pmd5Sql("t")} % $MinhashP)"

  def shingleHashesFromTokensSql(th: String): String =
    s"""CASE WHEN len($th) < 3 THEN CAST([] AS BIGINT[])
       | ELSE list_transform(generate_series(1, len($th) - 2),
       |        i -> (($th[i] * $ShingleB + $th[i + 1]) % $MinhashP
       |              * $ShingleB + $th[i + 2]) % $MinhashP)
       | END""".stripMargin.replaceAll("\n", " ")

  /** MinHash member `i` over a base-hash array column. Empty array ->
    * Long.MaxValue sentinel (kept deterministic). */
  def minhash(i: Int, hashes: Column): Column = {
    val (a, b) = minhashParams(i)
    coalesce(
      array_min(transform(hashes, h => (lit(a) * h + lit(b)) % MinhashP)),
      lit(Long.MaxValue))
  }

  def minhashSql(i: Int, hashesSql: String): String = {
    val (a, b) = minhashParams(i)
    s"coalesce(list_min(list_transform($hashesSql, h -> ($a * h + $b) % $MinhashP)), ${Long.MaxValue})"
  }

  /** Polynomial rolling-hash fingerprint over the token sequence, mod 1e9+7.
    * h_0 = 0; h_k = (h_{k-1} * 31 + (pmd5(tok) % 1e6)) % 1e9+7 — all
    * intermediates < 2^45, so no 64-bit overflow in either engine. */
  val FpMod = 1000000007L
  def rollingFingerprint(text: Column): Column =
    aggregate(
      tokens(text),
      lit(0L),
      (h, t) => (h * 31L + pmod(pmd5(t), lit(1000000L))) % FpMod)

  def rollingFingerprintSql(textSql: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($textSql, ' '), t -> ${pmd5Sql("t")} % 1000000)), (h, x) -> (h * 31 + x) % $FpMod)"

  /** DuckDB CTE block mirroring [[graft.operators.Dedup.repeatedGramRuns]]
    * over the `documents` table: defines `d(doc_id, ts)`, `g`, `dup`, `m`
    * and `runs(doc_id, mn, mx)`. Shared by the q78 and q97 oracles so the
    * mask definition cannot drift between them. Interpolate after WITH and
    * follow with further CTEs or the final SELECT. */
  def repeatedRunCtesSql(gramLen: Int): String = s"""
        d AS (
          SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        g AS (
          SELECT doc_id, i AS pos,
                 ${pmd5Sql(
                   s"array_to_string(list_slice(ts, i, i + ${gramLen - 1}), ' ')")} AS gh
          FROM d, unnest(generate_series(1,
                 greatest(len(ts) - ${gramLen - 1}, 0))) t(i)),
        dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
        m AS (
          SELECT doc_id, pos,
                 pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
          FROM g JOIN dup USING (gh)),
        runs AS (
          SELECT doc_id, min(pos) AS mn, max(pos) AS mx
          FROM m GROUP BY doc_id, grp)"""
}
