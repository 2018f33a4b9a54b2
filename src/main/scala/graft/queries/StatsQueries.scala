package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.{spread, t}

/** Exact nonparametric / drift statistics (q248+): the inferential
  * layer a corpus pipeline runs to DECIDE whether two slices differ —
  * rank correlation between quality signals, concentration of the
  * length distribution, location shift between language strata, and
  * distribution drift between event populations in both classic
  * norms (KS sup-distance and Wasserstein-1 transport cost).
  *
  * Every statistic here is chosen BECAUSE its classical form is a
  * rational number of integer moments: ranks, counts and cross-
  * multiplied moments accumulate exactly (DECIMAL(38,0) across
  * shuffles — HUGEINT on the oracle side), and the single final
  * integer division lands on the bp/milli scale identically on both
  * engines. No sqrt, no log, no float accumulation anywhere — the
  * z-/p-value normalizations that would need them are deliberately
  * left to the caller (the exact statistic is the portable part).
  *
  * Tie handling uses midranks spelled as integers: the average rank
  * of a tie group, doubled to stay integral — `2*rank() + count(tie
  * group) - 1` (avg of rank..rank+c-1, times 2). Both engines state
  * the same window expression, so ties cannot drift.
  *
  * Numeric bounds (ENFORCED, not latent): with per-group row count
  * n, doubled midranks reach 2n, the Pearson-on-ranks cross moments
  * reach 4n^3-ish magnitudes and the q248 quotient squares them —
  * DECIMAL(38,0)/HUGEINT holds exactly to n ~ 3*10^4 per group
  * (q253's S-statistic quotient stays ~n^4*10^4, safe to ~3*10^8).
  * Past the bound Spark's non-ANSI DECIMAL(38,0) would overflow to
  * silent NULLs where DuckDB HUGEINT errors loudly, so both sides of
  * q248/q253 carry an explicit raise_error/error() guard on n — the
  * bound fails IDENTICALLY on both engines instead of diverging. The
  * scale path past the guard is the q241 histogram rule, stated as
  * its own oracled query (q259): discretize the variable into
  * bounded buckets FIRST — midranks of a bucketed histogram ARE the
  * midranks of its ties, so bucketing is not an approximation of the
  * rank statistics, it is a coarsening both engines state
  * identically.
  */
object StatsQueries {

  /** Doubled midrank of `value` within `part`: 2 * avg rank of the
    * tie group, an exact integer. */
  private def midrank2(part: Seq[String], value: String) =
    (rank().over(Window.partitionBy(part.map(col): _*).orderBy(col(value)))
      .cast(LongType) * 2
      + count(lit(1)).over(Window.partitionBy((part :+ value).map(col): _*))
      - 1)

  private val dec38 = DecimalType(38, 0)
  // q253's enforced exactness bound: s^2*10^4 ~ n^4*10^4 stays inside
  // DECIMAL(38,0) to n ~ 3e8 per group. Interpolated into BOTH the
  // Spark guard and the oracle guard (the q270-modulus rule).
  private val KENDALL_MAX_N = 300000000L
  // q261's replication factor: the fixture corpus replicated 100000x
  // through the histogram cells (counts multiply; cells merge by
  // addition). Interpolated into both engines.
  private val SPEARMAN_REPL = 100000L

  val all: Seq[Q] = Seq(
    // ----------------------------------------------------------------
    Q(
      "q248_spearman_rank",
      "Spearman rank correlation between document length (chars) and " +
        "token count per source — the monotone-association audit " +
        "between two quality signals (does one screen imply the " +
        "other?). Pearson on doubled midranks, fully exact: the " +
        "output is SIGNED rho^2 in bp (sign(num) * num^2*10000 div " +
        "(d1*d2)) — algebraically determined by the integer moments, " +
        "so NO sqrt ever runs (rho itself would need one; rho = " +
        "sign * sqrt(rho2s_bp/10000) is caller math). Constant " +
        "columns (zero rank variance) are filtered — rho is " +
        "undefined there on both engines. Moments accumulate in " +
        "DECIMAL(38,0) (HUGEINT oracle-side); the per-group " +
        "exactness bound n <= 20000 (derived: the quotient's " +
        "intermediate num^2*10^4 <= 10^4*(n^2(n^2-1)/3)^2 clears " +
        "10^38 past n ~ 23,400 — see SpearmanHist's object doc) is " +
        "ENFORCED by a raise_error/error() guard " +
        "that fails identically on both engines (q261's slope-" +
        "product form is the sanctioned path past it, exact to " +
        "n <= 1e9). SCALE SHAPE: " +
        "two rank windows " +
        "partitioned by source (+ a tie-count window each), then one " +
        "map-side-combined moment aggregation; six numbers per " +
        "source cross the final shuffle.",
      (s, dir) => {
        val b = spread(t(s, dir, "documents"), col("doc_id"))
          .select(col("source"), col("doc_id"),
            col("n_chars").as("x"),
            size(split(col("text"), " ")).cast(LongType).as("y"))
        val r = b
          .withColumn("rx2", midrank2(Seq("source"), "x"))
          .withColumn("ry2", midrank2(Seq("source"), "y"))
        val m = r.groupBy(col("source")).agg(
          count(lit(1)).cast(dec38).as("n"),
          sum(col("rx2").cast(dec38)).as("sx"),
          sum(col("ry2").cast(dec38)).as("sy"),
          sum((col("rx2") * col("ry2")).cast(dec38)).as("sxy"),
          sum((col("rx2") * col("rx2")).cast(dec38)).as("sxx"),
          sum((col("ry2") * col("ry2")).cast(dec38)).as("syy"))
        m.select(col("source"), col("n"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("d1"),
            (col("n") * col("syy") - col("sy") * col("sy")).as("d2"))
          .filter(col("d1") > 0 && col("d2") > 0)
          .select(col("source"), col("n").cast(LongType).as("n"),
            // the exactness bound, enforced: the quotient's intermediate
            // num^2*10^4 <= 10^4*(n^2(n^2-1)/3)^2 clears DECIMAL(38,0)
            // past n ~ 23,400 (and HUGEINT past n ~ 25,200) — under
            // Spark 4's ANSI mode that is an ArithmeticException at a
            // DIFFERENT |rho| than DuckDB's overflow, so a looser guard
            // would NOT fail identically; 20000 is safely inside both
            when(col("n") > 20000,
              raise_error(concat(lit("q248_spearman_rank: group "),
                col("source"),
                lit(" exceeds the n<=20000 DECIMAL(38,0) exactness" +
                  " bound; use q261_spearman_scaled (exact to n<=1e9)")))
                .cast(LongType))
              .otherwise(when(col("num") < 0, -1L).otherwise(1L)
                * expr("num * num * 10000 div (d1 * d2)"))
              .cast(LongType).as("rho2s_bp"))
      },
      Some("""
        WITH b AS (
          SELECT source, doc_id, n_chars AS x,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS y
          FROM documents),
        r AS (
          SELECT source,
                 2 * rank() OVER (PARTITION BY source ORDER BY x)
                   + count(*) OVER (PARTITION BY source, x) - 1 AS rx2,
                 2 * rank() OVER (PARTITION BY source ORDER BY y)
                   + count(*) OVER (PARTITION BY source, y) - 1 AS ry2
          FROM b),
        m AS (
          SELECT source, CAST(count(*) AS HUGEINT) AS n,
                 CAST(sum(rx2) AS HUGEINT) AS sx,
                 CAST(sum(ry2) AS HUGEINT) AS sy,
                 CAST(sum(CAST(rx2 AS HUGEINT) * ry2) AS HUGEINT) AS sxy,
                 CAST(sum(CAST(rx2 AS HUGEINT) * rx2) AS HUGEINT) AS sxx,
                 CAST(sum(CAST(ry2 AS HUGEINT) * ry2) AS HUGEINT) AS syy
          FROM r GROUP BY 1),
        d AS (
          SELECT source, n,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS d1,
                 n * syy - sy * sy AS d2
          FROM m)
        SELECT source, CAST(n AS BIGINT) AS n,
               CASE WHEN n > 20000 THEN CAST(error(
                 'q248_spearman_rank: group ' || source ||
                 ' exceeds the n<=20000 DECIMAL(38,0) exactness' ||
                 ' bound; use q261_spearman_scaled (exact to n<=1e9)')
                 AS BIGINT)
               ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                 * ((num * num * 10000) // (d1 * d2)) AS BIGINT)
               END AS rho2s_bp
        FROM d WHERE d1 > 0 AND d2 > 0"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q249_gini_length",
      "Gini coefficient of the per-source document-length " +
        "distribution — the concentration datasheet stat (gini_bp " +
        "near 0: uniform lengths; near 10000: a few giant docs carry " +
        "the source). Exact rational form on the ascending rank: " +
        "gini = (2*sum(i*w) - (n+1)*sum(w)) / (n*sum(w)), floor-" +
        "divided onto bp. The rank i orders by (w, doc_id) — tied " +
        "weights contribute the same w at swapped positions, so the " +
        "tiebreak provably cannot change sum(i*w) and the statistic " +
        "is total-order-free. sum(i*w) accumulates in DECIMAL(38,0): " +
        "it reaches n^2*w magnitudes (~10^22 at a 10^9-doc source) " +
        "where a raw BIGINT sum would silently wrap. SCALE SHAPE: " +
        "one rank window partitioned by source, one map-side-" +
        "combined aggregation; three numbers per source shuffle.",
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("w"), col("doc_id"))
        spread(t(s, dir, "documents"), col("doc_id"))
          .select(col("source"), col("doc_id"), col("n_chars").as("w"))
          .withColumn("i", row_number().over(w).cast(LongType))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("w").cast(dec38)).as("sw"),
            sum((col("i") * col("w")).cast(dec38)).as("siw"))
          .filter(col("sw") > 0)
          .select(col("source"), col("n"),
            col("sw").cast(LongType).as("total_chars"),
            expr("CAST((2 * siw - (n + 1) * sw) * 10000" +
              " div (n * sw) AS BIGINT)").as("gini_bp"))
      },
      Some("""
        WITH r AS (
          SELECT source, n_chars AS w,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY n_chars, doc_id) AS BIGINT) AS i
          FROM documents),
        g AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(w) AS HUGEINT) AS sw,
                 CAST(sum(CAST(i AS HUGEINT) * w) AS HUGEINT) AS siw
          FROM r GROUP BY 1)
        SELECT source, n, CAST(sw AS BIGINT) AS total_chars,
               CAST((2 * siw - (n + 1) * sw) * 10000
                 // (n * sw) AS BIGINT) AS gini_bp
        FROM g WHERE sw > 0"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q250_mannwhitney_u",
      "Mann-Whitney U (Wilcoxon rank-sum) per source: does the " +
        "English stratum run longer documents than the rest? The " +
        "location-shift test that needs NO distributional assumption " +
        "— exactly the comparison a mixed-language corpus cannot do " +
        "with a t-test. Doubled midranks over the COMBINED group " +
        "keep ties exact; u2_en = 2*U_en = sum(midrank2 | en) - " +
        "n_en*(n_en+1) is an exact integer, and the effect size is " +
        "the rank-biserial r in bp: 10000 - u2*10000 div " +
        "(n_en*n_oth) (+10000: every English doc shorter than every " +
        "other; -10000: the reverse; U's z-normalization is caller " +
        "math — it needs a sqrt). Sources missing either stratum are " +
        "filtered (the test is undefined). SCALE SHAPE: one rank " +
        "window partitioned by source + the tie-count window, one " +
        "map-side-combined aggregation; four numbers per source " +
        "shuffle.",
      (s, dir) => {
        val b = spread(t(s, dir, "documents"), col("doc_id"))
          .select(col("source"), col("doc_id"),
            col("n_chars").as("x"),
            when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
        b.withColumn("m2", midrank2(Seq("source"), "x"))
          .groupBy(col("source"))
          .agg(sum(col("is_en")).as("n_en"),
            sum(lit(1L) - col("is_en")).as("n_oth"),
            sum((col("is_en") * col("m2")).cast(dec38)).as("r_en2"))
          .filter(col("n_en") > 0 && col("n_oth") > 0)
          .select(col("source"), col("n_en"), col("n_oth"),
            expr("CAST(r_en2 - n_en * (n_en + 1) AS BIGINT)").as("u2_en"))
          .select(col("source"), col("n_en"), col("n_oth"), col("u2_en"),
            expr("10000 - CAST(CAST(u2_en AS DECIMAL(38,0)) * 10000" +
              " div (n_en * n_oth) AS BIGINT)").as("effect_bp"))
      },
      Some("""
        WITH b AS (
          SELECT source, doc_id, n_chars AS x,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en
          FROM documents),
        r AS (
          SELECT source, is_en,
                 2 * rank() OVER (PARTITION BY source ORDER BY x)
                   + count(*) OVER (PARTITION BY source, x) - 1 AS m2
          FROM b),
        g AS (
          SELECT source, CAST(sum(is_en) AS BIGINT) AS n_en,
                 CAST(sum(1 - is_en) AS BIGINT) AS n_oth,
                 CAST(sum(CAST(is_en AS HUGEINT) * m2) AS HUGEINT) AS r_en2
          FROM r GROUP BY 1),
        u AS (
          SELECT source, n_en, n_oth,
                 CAST(r_en2 - n_en * (n_en + 1) AS BIGINT) AS u2_en
          FROM g WHERE n_en > 0 AND n_oth > 0)
        SELECT source, n_en, n_oth, u2_en,
               10000 - CAST(CAST(u2_en AS HUGEINT) * 10000
                 // (n_en * n_oth) AS BIGINT) AS effect_bp
        FROM u"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q251_w1_drift",
      "Wasserstein-1 (earth-mover) distance between the purchase and " +
        "click value distributions, per week — the drift MAGNITUDE in " +
        "value units, complementing q252's KS sup-norm (KS says " +
        "'they differ somewhere'; W1 says 'moving one distribution " +
        "onto the other costs this many cents per unit mass'; a tiny " +
        "uniform shift moves W1 but barely moves KS, a sharp local " +
        "spike does the reverse — a drift monitor wants both norms). " +
        "Exact via the 1-D closed form: W1 = integral |ecdfP - " +
        "ecdfC| = sum over adjacent observed values of |cumP*nC - " +
        "cumC*nP| * gap / (nP*nC) — cross-multiplied cumulative " +
        "counts weighted by the support gap, one floor division onto " +
        "millicents at the end. Unbinned: the support is the " +
        "observed cents values themselves, not a histogram guess " +
        "(q105's binned total-variation is the coarse cousin). " +
        "Both norms share operators/DriftStat: the (week, cents) " +
        "histogram is the sufficient statistic and MERGES BY " +
        "ADDITION, which is what streaming/DriftStream exploits; a " +
        "single-support week prices W1 = 0 (two point masses at one " +
        "value), not an absent row. " +
        "SCALE SHAPE: identical to q252 — the (week, cents) " +
        "aggregation bounds the frame by the value range, cumulative " +
        "+ lead windows partition by week, one sum per week " +
        "shuffles.",
      (s, dir) =>
        graft.operators.DriftStat.stats(
          graft.operators.DriftStat.histogram(t(s, dir, "events")))
          .select(col("week"), col("n_purchase"), col("n_click"),
            col("w1_millicents")),
      Some("""
        WITH e AS (
          SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   // 7 AS week,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS is_p
          FROM events WHERE event_type IN ('purchase', 'click')),
        pc AS (
          SELECT week, cents, CAST(sum(is_p) AS BIGINT) AS cp,
                 CAST(sum(1 - is_p) AS BIGINT) AS cc
          FROM e GROUP BY 1, 2),
        c AS (
          SELECT week, cents,
                 sum(cp) OVER (PARTITION BY week ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_p,
                 sum(cc) OVER (PARTITION BY week ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_c,
                 lead(cents, 1) OVER (PARTITION BY week ORDER BY cents)
                   - cents AS gap,
                 sum(cp) OVER (PARTITION BY week) AS n_p,
                 sum(cc) OVER (PARTITION BY week) AS n_c
          FROM pc)
        SELECT week, CAST(n_p AS BIGINT) AS n_purchase,
               CAST(n_c AS BIGINT) AS n_click,
               -- a single-support week has no gaps: W1 = 0 (two point
               -- masses at the same value), NOT an absent row
               CAST(sum(CASE WHEN gap IS NOT NULL
                 THEN abs(CAST(cum_p AS HUGEINT) * n_c
                   - CAST(cum_c AS HUGEINT) * n_p) * gap
                 ELSE 0 END) * 1000
                 // (n_p * n_c) AS BIGINT) AS w1_millicents
        FROM c WHERE n_p > 0 AND n_c > 0
        GROUP BY week, n_p, n_c"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q252_ks_drift",
      "Two-sample Kolmogorov-Smirnov distance between the purchase " +
        "and click value distributions, per week — the distribution-" +
        "drift monitor (a ks_bp spike says the two populations " +
        "stopped looking alike — THE check run between a corpus " +
        "refresh and its predecessor, or treatment vs control). " +
        "Exact: D = max |ecdfP - ecdfC| evaluated at every observed " +
        "value is max |cumP*nC - cumC*nP| / (nP*nC) — an integer " +
        "max over cross-multiplied cumulative counts, floor-divided " +
        "onto bp. Values stay cents (DECIMAL(12,2)*100, the q241 " +
        "rule): grouped and ordered, never float-accumulated, so the " +
        "supremum is bit-identical on both engines. SCALE SHAPE: one " +
        "(week, cents) aggregation bounds the frame by the VALUE " +
        "RANGE (not the event count), cumulative windows partition " +
        "by week, and one max per week shuffles; nothing global " +
        "ever sorts.",
      (s, dir) =>
        graft.operators.DriftStat.stats(
          graft.operators.DriftStat.histogram(t(s, dir, "events")))
          .select(col("week"), col("n_purchase"), col("n_click"),
            col("ks_bp")),
      Some("""
        WITH e AS (
          SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   // 7 AS week,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS is_p
          FROM events WHERE event_type IN ('purchase', 'click')),
        pc AS (
          SELECT week, cents, CAST(sum(is_p) AS BIGINT) AS cp,
                 CAST(sum(1 - is_p) AS BIGINT) AS cc
          FROM e GROUP BY 1, 2),
        c AS (
          SELECT week,
                 sum(cp) OVER (PARTITION BY week ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_p,
                 sum(cc) OVER (PARTITION BY week ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_c,
                 sum(cp) OVER (PARTITION BY week) AS n_p,
                 sum(cc) OVER (PARTITION BY week) AS n_c
          FROM pc)
        SELECT week, CAST(n_p AS BIGINT) AS n_purchase,
               CAST(n_c AS BIGINT) AS n_click,
               CAST(max(abs(CAST(cum_p AS HUGEINT) * n_c
                 - CAST(cum_c AS HUGEINT) * n_p)) * 10000
                 // (n_p * n_c) AS BIGINT) AS ks_bp
        FROM c WHERE n_p > 0 AND n_c > 0
        GROUP BY week, n_p, n_c"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q253_kendall_tau",
      "Kendall tau-b between document length and token count per " +
        "source — the pairwise-concordance partner of q248's " +
        "Spearman (tau counts ORDER AGREEMENTS; Spearman correlates " +
        "RANKS — an outlier's rank moves Spearman far more, so a " +
        "robust monotone-association audit wants both). The naive " +
        "statistic is O(n^2) sign products; the engine DECOMPOSES by " +
        "value buckets into three exactly-disjoint pair classes: " +
        "(A) different x-bucket AND different y-bucket — the sign " +
        "product is determined by BUCKET order alone, so these pairs " +
        "fold into the (bx, by) CELL table and a cell-pair join " +
        "bounded by the distinct support, never the row count; (B) " +
        "same x-bucket — resolved exactly by an equi-keyed self-join " +
        "inside the bucket; (C) same y-bucket with different " +
        "x-buckets — x-sign from bucket order, y-sign exact inside " +
        "the y-bucket. S = A + B + C is the exact Kendall S; ties " +
        "feed the tau-b denominator (n0-n1)(n0-n2) from per-value " +
        "tie counts. SKEW SHAPE: buckets are OCCUPANCY-AWARE " +
        "equi-depth ids (operators/Buckets) and rows collapse to " +
        "WEIGHTED distinct (x, y) combos before any self-join — a " +
        "heavily-tied value sits alone in a singleton bucket whose " +
        "intra-bucket pairs all tie (sign 0), so classes B/C skip it " +
        "outright instead of materializing O(m^2) join rows (the " +
        "fixed-width `x div 64` hazard). Output is signed tau^2 in " +
        "bp (the q248 rule: no sqrt ever runs); magnitudes stay " +
        "~n^4, so DECIMAL(38,0) is exact to ~1e9 rows per group — " +
        "four orders beyond Spearman's moment bound. All sign " +
        "products are CASE comparisons — integer on both engines " +
        "(signum would be a double). The oracle states the naive " +
        "all-pairs double sum, so the hash match PROVES the " +
        "decomposition exhaustive and disjoint, ties included.",
      (s, dir) => {
        // persisted (r16): `b` is referenced SIX times (both equi-depth
        // bucketings, the combo collapse, and the three tie-count
        // aggregates n0/n1/n2) and its projection re-tokenizes the
        // corpus per reference when unpersisted. Freed by the
        // harness's clearCache-after-terminal-action contract.
        val b = spread(t(s, dir, "documents"), col("doc_id"))
          .select(col("source"), col("doc_id"),
            col("n_chars").as("x"),
            size(split(col("text"), " ")).cast(LongType).as("y"))
          .persist()
        val xb = graft.operators.Buckets.equiDepth(
            b.select(col("source"), col("x")), Seq("source"), "x", 64L)
          .withColumnRenamed("bkt", "bx")
          .withColumnRenamed("light", "xlight")
        val yb = graft.operators.Buckets.equiDepth(
            b.select(col("source"), col("y")), Seq("source"), "y", 64L)
          .withColumnRenamed("bkt", "by")
          .withColumnRenamed("light", "ylight")
        // ties collapse to weighted combos BEFORE any self-join; a
        // same-combo pair has sign product 0, so combos are the exact
        // pair universe (strict orders below count each unordered
        // cross-combo pair once)
        // referenced by all three classes (five join inputs) and built
        // from a shuffle + two joins — persist, or every class
        // re-aggregates (the q254 lesson; the harness clears cache
        // between queries)
        val combos = b.groupBy(col("source"), col("x"), col("y"))
          .agg(count(lit(1)).as("cnt"))
          .join(xb, Seq("source", "x"))
          .join(yb, Seq("source", "y"))
          .persist()
        // (A) cross-bucket pairs: cell table joined to itself per
        // source (hash equi-join on source), ordered bx1 < bx2 so each
        // unordered pair counts once; contribution cnt1*cnt2*sign(by).
        val cells = combos.groupBy(col("source"), col("bx"), col("by"))
          .agg(sum(col("cnt")).as("cnt"))
        val a = cells.as("c1")
          .join(cells.as("c2"), col("c1.source") === col("c2.source"))
          .filter(col("c1.bx") < col("c2.bx") && col("c1.by") =!= col("c2.by"))
          .groupBy(col("c1.source").as("source"))
          .agg(sum((col("c1.cnt") * col("c2.cnt")).cast(dec38)
            * when(col("c2.by") > col("c1.by"), 1L).otherwise(-1L))
            .as("s_a"))
        // (B) same x-bucket: exact sign products inside the bucket.
        // Only LIGHT buckets can hold two distinct x (heavy buckets
        // are singleton-valued: every pair ties on x, sign 0), so the
        // join skips them; (x, y) lex order counts each pair once.
        val l = combos.filter(col("xlight"))
        val bPairs = l.as("p1")
          .join(l.as("p2"), col("p1.source") === col("p2.source")
            && col("p1.bx") === col("p2.bx"))
          .filter(struct(col("p1.x"), col("p1.y"))
            < struct(col("p2.x"), col("p2.y")))
          .groupBy(col("p1.source").as("source"))
          .agg(sum((col("p1.cnt") * col("p2.cnt")).cast(dec38)
            * when(col("p2.x") > col("p1.x"), 1L)
              .when(col("p2.x") < col("p1.x"), -1L).otherwise(0L)
            * when(col("p2.y") > col("p1.y"), 1L)
              .when(col("p2.y") < col("p1.y"), -1L).otherwise(0L))
            .as("s_b"))
        // (C) same y-bucket, different x-bucket: x-sign from bucket
        // order (bx1 < bx2 both orders the pair and fixes sign_x = +1),
        // y-sign exact. Heavy y-buckets tie on y (sign 0) — skipped.
        val ly = combos.filter(col("ylight"))
        val cPairs = ly.as("p1")
          .join(ly.as("p2"), col("p1.source") === col("p2.source")
            && col("p1.by") === col("p2.by"))
          .filter(col("p1.bx") < col("p2.bx"))
          .groupBy(col("p1.source").as("source"))
          .agg(sum((col("p1.cnt") * col("p2.cnt")).cast(dec38)
            * when(col("p2.y") > col("p1.y"), 1L)
              .when(col("p2.y") < col("p1.y"), -1L).otherwise(0L))
            .as("s_c"))
        // tie structure for the tau-b denominator
        val n0 = b.groupBy(col("source")).agg(count(lit(1)).as("n"))
          .select(col("source"), col("n"),
            expr("CAST(n AS DECIMAL(38,0)) * (n - 1) div 2").as("n0"))
        val n1 = b.groupBy(col("source"), col("x"))
          .agg(count(lit(1)).as("t"))
          .groupBy(col("source"))
          .agg(sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1) div 2"))
            .as("n1"))
        val n2 = b.groupBy(col("source"), col("y"))
          .agg(count(lit(1)).as("t"))
          .groupBy(col("source"))
          .agg(sum(expr("CAST(t AS DECIMAL(38,0)) * (t - 1) div 2"))
            .as("n2"))
        n0.join(n1, "source").join(n2, "source")
          .join(a, Seq("source"), "left")
          .join(bPairs, Seq("source"), "left")
          .join(cPairs, Seq("source"), "left")
          .select(col("source"), col("n"),
            (coalesce(col("s_a"), lit(0L)) + coalesce(col("s_b"), lit(0L))
              + coalesce(col("s_c"), lit(0L))).as("s_stat"),
            (col("n0") - col("n1")).as("d1"),
            (col("n0") - col("n2")).as("d2"))
          .filter(col("d1") > 0 && col("d2") > 0)
          .select(col("source"), col("n"),
            col("s_stat").cast(LongType).as("s_stat"),
            // enforced exactness bound (object doc): s^2*10^4 ~ n^4*10^4
            // stays inside DECIMAL(38,0) to n ~ 3e8 per group
            when(col("n") > KENDALL_MAX_N,
              raise_error(concat(lit("q253_kendall_tau: group "),
                col("source"),
                lit(" exceeds the n<=3e8 DECIMAL(38,0) exactness" +
                  " bound for the squared-S quotient")))
                .cast(LongType))
              .otherwise(when(col("s_stat") < 0, -1L).otherwise(1L)
                * expr("s_stat * s_stat * 10000 div (d1 * d2)"))
              .cast(LongType).as("taub2s_bp"))
      },
      Some(s"""
        WITH b AS (
          SELECT source, doc_id, n_chars AS x,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS y
          FROM documents),
        s AS (
          SELECT p1.source,
                 CAST(sum(
                   (CASE WHEN p2.x > p1.x THEN 1
                         WHEN p2.x < p1.x THEN -1 ELSE 0 END)
                   * (CASE WHEN p2.y > p1.y THEN 1
                           WHEN p2.y < p1.y THEN -1 ELSE 0 END))
                   AS HUGEINT) AS s_stat
          FROM b p1 JOIN b p2
            ON p1.source = p2.source AND p1.doc_id < p2.doc_id
          GROUP BY 1),
        n0 AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(count(*) AS HUGEINT) * (count(*) - 1) // 2 AS n0
          FROM b GROUP BY 1),
        n1 AS (
          SELECT source, CAST(sum(CAST(t AS HUGEINT) * (t - 1) // 2)
                   AS HUGEINT) AS n1
          FROM (SELECT source, x, count(*) AS t FROM b GROUP BY 1, 2)
          GROUP BY 1),
        n2 AS (
          SELECT source, CAST(sum(CAST(t AS HUGEINT) * (t - 1) // 2)
                   AS HUGEINT) AS n2
          FROM (SELECT source, y, count(*) AS t FROM b GROUP BY 1, 2)
          GROUP BY 1),
        j AS (
          SELECT n0.source, n0.n, coalesce(s.s_stat, 0) AS s_stat,
                 n0.n0 - n1.n1 AS d1, n0.n0 - n2.n2 AS d2
          FROM n0 JOIN n1 USING (source) JOIN n2 USING (source)
          LEFT JOIN s USING (source))
        SELECT source, n, CAST(s_stat AS BIGINT) AS s_stat,
               CASE WHEN n > $KENDALL_MAX_N THEN CAST(error(
                 'q253_kendall_tau: group ' || source ||
                 ' exceeds the n<=3e8 DECIMAL(38,0) exactness' ||
                 ' bound for the squared-S quotient') AS BIGINT)
               ELSE CAST((CASE WHEN s_stat < 0 THEN -1 ELSE 1 END)
                 * ((s_stat * s_stat * 10000) // (d1 * d2))
                 AS BIGINT)
               END AS taub2s_bp
        FROM j WHERE d1 > 0 AND d2 > 0"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q254_theilsen_slope",
      "Theil-Sen slope of token count against document length per " +
        "source — the ROBUST trend partner of q237's OLS (the median " +
        "pairwise slope tolerates up to ~29% wild outliers before it " +
        "moves; a least-squares fit moves with ONE). Integerized " +
        "first: each x-distinct pair contributes floor(1000*dy/dx) " +
        "— milli-tokens per char — and the estimator is the lower " +
        "median of that integer multiset. The engine NEVER " +
        "materializes a pair: operators/TheilSen pins the median by " +
        "parametric search — count(slope <= t) becomes an INVERSION " +
        "count of z = 1000*y - (t+1)*x against x-order (no division " +
        "anywhere engine-side), counted by q253's occupancy-aware " +
        "bucket decomposition over tie-collapsed weighted combos, " +
        "with 63 probes per round shrinking every source's " +
        "candidate interval 64x simultaneously. The interval is " +
        "SEEDED from the adjacent-slope envelope (every pairwise " +
        "slope is a mediant of adjacent ones), so near-linear groups " +
        "converge in 1-2 rounds instead of the ~6 the full +/-2^21 " +
        "range needs; search state stays an operators.Rounds-cut " +
        "DataFrame, nothing per-group on the driver. The oracle " +
        "states the naive O(n^2) pair " +
        "median (offset +2^21 so DuckDB's floor-// agrees on " +
        "negative dy) — the hash match proves the whole search " +
        "exact: probe algebra, inversion decomposition, and median " +
        "index, ties included.",
      (s, dir) =>
        graft.operators.TheilSen.slopeMilli(
          spread(t(s, dir, "documents"), col("doc_id"))
            .select(col("source"), col("n_chars"),
              size(split(col("text"), " ")).cast(LongType).as("ntok")),
          "source", "n_chars", "ntok")
          .select(col("g").as("source"), col("n_pairs"),
            col("theilsen_milli")),
      Some(s"""
        WITH b AS (
          SELECT source, n_chars AS x,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS y
          FROM documents),
        p AS (
          SELECT b1.source AS source,
                 CAST((1000 * (b2.y - b1.y)
                       + ${graft.operators.TheilSen.MaxAbsMilli} * (b2.x - b1.x))
                   // (b2.x - b1.x)
                   - ${graft.operators.TheilSen.MaxAbsMilli} AS BIGINT) AS s
          FROM b b1 JOIN b b2
            ON b1.source = b2.source AND b1.x < b2.x),
        r AS (
          SELECT source, s,
                 row_number() OVER (PARTITION BY source ORDER BY s) AS rn,
                 count(*) OVER (PARTITION BY source) AS np
          FROM p)
        SELECT source, CAST(np AS BIGINT) AS n_pairs,
               s AS theilsen_milli
        FROM r WHERE rn = (np + 1) // 2"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q255_isotonic_calibration",
      "Isotonic calibration curve — finished-order rate against " +
        "price level per priority, smoothed to the best-fitting " +
        "NON-DECREASING step function (the PAVA fit every " +
        "probability-calibration pipeline runs before trusting a " +
        "score as a rate). operators/Isotonic evaluates PAVA's " +
        "closed minimax form fitted[i] = max_{j<=i} min_{k>=i} " +
        "avg(y[j..k]) over level prefix sums — pure relational " +
        "algebra, no sequential stack — with every mean comparison " +
        "cross-multiplied in DECIMAL(38,0): the fit is EXACT " +
        "rationals end to end, floored onto bp only at the output. " +
        "The corpus is touched ONCE (the groupBy producing per-level " +
        "(w, y) sufficient statistics); the minimax then costs " +
        "O(B^3) rows per group for B price levels — constant once " +
        "the binning is fixed, parallel across groups. The oracle " +
        "states the same minimax as NOT-EXISTS argmin/argmax SQL, so " +
        "the hash match proves the fold machinery; IsotonicSpec pins " +
        "minimax == sequential PAVA against a BigInt stack " +
        "reference. Pool ids count exact strict increases between " +
        "neighboring fitted values — equal-value plateaus share a " +
        "pool even when their unreduced representatives differ.",
      (s, dir) => {
        val cents = t(s, dir, "orders").select(
          col("o_orderpriority").as("g"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 2000000").as("lvl"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("f"))
        val lv = cents.groupBy(col("g"), col("lvl"))
          .agg(count(lit(1)).as("w"), sum(col("f")).as("y"))
        graft.operators.Isotonic.fitLevels(lv, "g", "lvl", "w", "y")
          .select(col("g").as("priority"), col("lvl"),
            col("i").cast(LongType).as("i"), col("w"), col("y"),
            expr("CAST(10000 * y div w AS BIGINT)").as("raw_bp"),
            expr("CAST((10000 * CAST(fn AS DECIMAL(38,0))) div fd AS BIGINT)")
              .as("fitted_bp"),
            col("pool").cast(LongType).as("pool"))
      },
      Some("""
        WITH cents AS (
          SELECT o_orderpriority AS g,
                 CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   // 2000000 AS lvl,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f
          FROM orders),
        lv AS (
          SELECT g, lvl, CAST(count(*) AS BIGINT) AS w,
                 CAST(sum(f) AS BIGINT) AS y
          FROM cents GROUP BY g, lvl),
        pre AS (
          SELECT g, lvl, w, y,
                 CAST(row_number() OVER wl AS BIGINT) AS i,
                 CAST(sum(y) OVER wl AS BIGINT) AS s,
                 CAST(sum(w) OVER wl AS BIGINT) AS wc
          FROM lv WINDOW wl AS (PARTITION BY g ORDER BY lvl)),
        b0 AS (
          SELECT g, i, s, wc FROM pre
          UNION ALL SELECT DISTINCT g, 0, 0, 0 FROM pre),
        pairs AS (
          SELECT a.g, a.i + 1 AS j, b.i AS k,
                 b.s - a.s AS n, b.wc - a.wc AS d
          FROM b0 a JOIN pre b ON a.g = b.g AND a.i < b.i),
        tri AS (
          SELECT p.g, q.i, p.j, p.k, p.n, p.d
          FROM pairs p
          JOIN pre q ON p.g = q.g AND p.j <= q.i AND q.i <= p.k),
        mins AS (
          SELECT g, i, j, n, d FROM tri t
          WHERE NOT EXISTS (SELECT 1 FROM tri u
            WHERE u.g = t.g AND u.i = t.i AND u.j = t.j
              AND (CAST(u.n AS HUGEINT) * t.d < CAST(t.n AS HUGEINT) * u.d
                   OR (CAST(u.n AS HUGEINT) * t.d
                         = CAST(t.n AS HUGEINT) * u.d
                       AND u.k < t.k)))),
        fit AS (
          SELECT g, i, n, d FROM mins t
          WHERE NOT EXISTS (SELECT 1 FROM mins u
            WHERE u.g = t.g AND u.i = t.i
              AND (CAST(u.n AS HUGEINT) * t.d > CAST(t.n AS HUGEINT) * u.d
                   OR (CAST(u.n AS HUGEINT) * t.d
                         = CAST(t.n AS HUGEINT) * u.d
                       AND u.j < t.j)))),
        step AS (
          SELECT g, i, n, d,
                 CASE WHEN lag(n) OVER wi IS NULL THEN 1
                      WHEN CAST(lag(n) OVER wi AS HUGEINT) * d
                             < CAST(n AS HUGEINT) * (lag(d) OVER wi) THEN 1
                      ELSE 0 END AS st
          FROM fit WINDOW wi AS (PARTITION BY g ORDER BY i)),
        pool AS (
          SELECT g, i, n, d,
                 CAST(sum(st) OVER (PARTITION BY g ORDER BY i) AS BIGINT)
                   AS pool
          FROM step)
        SELECT p.g AS priority, r.lvl, r.i, r.w, r.y,
               CAST(10000 * CAST(r.y AS HUGEINT) // r.w AS BIGINT) AS raw_bp,
               CAST(10000 * CAST(p.n AS HUGEINT) // p.d AS BIGINT)
                 AS fitted_bp,
               p.pool
        FROM pool p JOIN pre r ON p.g = r.g AND p.i = r.i"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q256_cusum_changepoint",
      "CUSUM changepoint per event-type series — WHERE did the level " +
        "shift? The classic statistic argmax_tau |S_tau - " +
        "(tau/n)*S_n| over the daily-revenue cumulative sum, " +
        "multiplied through by n so the score is the exact integer " +
        "|n*S_tau - tau*S_n| — no division, no float, ties broken " +
        "toward the earliest day so both engines pick identically. " +
        "One pass builds per-(type, day) cent sums (the only " +
        "corpus-width stage), one window per type cumsums them, and " +
        "the argmax is the house top-1 row_number shape — eligible " +
        "for the TopKPerKey rewrite, and the per-type totals join " +
        "broadcasts (5 rows). Day-level sufficient statistics are " +
        "the scale move: the corpus never sorts globally, series " +
        "length bounds every window, and the (type, day) table " +
        "MERGES BY ADDITION — operators/Cusum is shared with " +
        "streaming/CusumStream, whose log of per-batch day deltas " +
        "recovers this exact statistic after any stream prefix. " +
        "Split means leave as exact milli-cents floors (values are " +
        "nonnegative, so Spark's truncating div and DuckDB's " +
        "flooring // agree).",
      (s, dir) =>
        graft.operators.Cusum.changepoints(
          graft.operators.Cusum.daily(t(s, dir, "events"))),
      Some("""
        WITH daily AS (
          SELECT event_type AS g, CAST(ts AS DATE) AS day,
                 CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100
                               AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        pre AS (
          SELECT g, day, x,
                 CAST(row_number() OVER wd AS BIGINT) AS tau,
                 CAST(sum(x) OVER wd AS BIGINT) AS s
          FROM daily WINDOW wd AS (PARTITION BY g ORDER BY day)),
        tot AS (
          SELECT g, max(tau) AS n, CAST(sum(x) AS BIGINT) AS sn
          FROM pre GROUP BY g),
        scored AS (
          SELECT p.g, p.day, p.tau, p.s, t.n, t.sn,
                 abs(t.n * p.s - p.tau * t.sn) AS gap
          FROM pre p JOIN tot t ON p.g = t.g WHERE p.tau < t.n),
        best AS (
          SELECT *, row_number() OVER (PARTITION BY g
                      ORDER BY gap DESC, tau ASC) AS rn
          FROM scored)
        SELECT g AS event_type, n, tau, day AS change_day, gap,
               CAST(1000 * s // tau AS BIGINT) AS mean_before_milli,
               CAST(1000 * (sn - s) // (n - tau) AS BIGINT)
                 AS mean_after_milli
        FROM best WHERE rn = 1"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q257_conformal_threshold",
      "Split-conformal calibration thresholds per source at three " +
        "miscoverage levels — the distribution-free abstention rule " +
        "(Vovk): with n calibration scores, the level-alpha " +
        "threshold is the ceil((n+1)(1-alpha))-th smallest score, " +
        "and any future exchangeable score lands at-or-below it " +
        "with probability >= 1-alpha. The index is exact integer " +
        "arithmetic — k = ((n+1)*(10000-alpha_bp) + 9999) div 10000 " +
        "— the selection is one per-source rank under the total " +
        "order (score, doc_id), and k > n rows abstain (dropped, " +
        "the standard small-sample conformal outcome). The second " +
        "pass counts actual coverage on the calibration set " +
        "(covered >= k always; strictly greater exactly when the " +
        "threshold value ties past the rank) — ties make coverage a " +
        "LAW the hash gate re-proves per run. Nonconformity here is " +
        "document length; any integer score column plugs in. Scale: " +
        "one rank window per source, thresholds broadcast back (a " +
        "few rows), nothing global.",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("source"),
          col("doc_id"), col("n_chars").cast(LongType).as("score"))
        val ranked = d.withColumn("k",
          row_number().over(Window.partitionBy(col("source"))
            .orderBy(col("score").asc, col("doc_id").asc)).cast(LongType))
        val ks = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
          .select(col("source"), col("n"),
            explode(array(lit(100L), lit(500L), lit(1000L))).as("alpha_bp"))
          .withColumn("k",
            expr("((n + 1) * (10000 - alpha_bp) + 9999) div 10000"))
          .filter(col("k") <= col("n"))
        val thr = ks.join(ranked.select(col("source"), col("k"),
            col("score").as("threshold")), Seq("source", "k"))
        val cov = d.join(broadcast(thr), Seq("source"))
          .filter(col("score") <= col("threshold"))
          .groupBy(col("source"), col("alpha_bp"))
          .agg(count(lit(1)).as("covered"))
        thr.join(cov, Seq("source", "alpha_bp"))
          .select(col("source"), col("alpha_bp"), col("n"), col("k"),
            col("threshold"), col("covered"),
            expr("CAST(10000 * covered div n AS BIGINT)").as("coverage_bp"))
      },
      Some("""
        WITH d AS (
          SELECT source, doc_id, CAST(n_chars AS BIGINT) AS score
          FROM documents),
        ranked AS (
          SELECT source, score,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY score ASC, doc_id ASC) AS BIGINT) AS k
          FROM d),
        ks AS (
          SELECT source, n, alpha_bp,
                 ((n + 1) * (10000 - alpha_bp) + 9999) // 10000 AS k
          FROM (SELECT source, CAST(count(*) AS BIGINT) AS n
                FROM d GROUP BY source),
               unnest([CAST(100 AS BIGINT), CAST(500 AS BIGINT),
                       CAST(1000 AS BIGINT)]) AS u(alpha_bp)),
        thr AS (
          SELECT ks.source, ks.alpha_bp, ks.n, ks.k,
                 r.score AS threshold
          FROM ks JOIN ranked r ON ks.source = r.source AND ks.k = r.k
          WHERE ks.k <= ks.n),
        cov AS (
          SELECT t.source, t.alpha_bp,
                 CAST(count(*) AS BIGINT) AS covered
          FROM d JOIN thr t
            ON d.source = t.source AND d.score <= t.threshold
          GROUP BY t.source, t.alpha_bp)
        SELECT t.source, t.alpha_bp, t.n, t.k, t.threshold, c.covered,
               CAST(10000 * c.covered // t.n AS BIGINT) AS coverage_bp
        FROM thr t JOIN cov c
          ON t.source = c.source AND t.alpha_bp = c.alpha_bp"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q258_robust_scale",
      "Robust location/scale per event type — median, MAD and the " +
        "5%-trimmed mean of the cent values, the outlier-tolerant " +
        "triple a monitoring pipeline prefers over mean/stddev " +
        "(one fat-fingered order moves a mean arbitrarily; it moves " +
        "these not at all). All exact: the median is the lower-" +
        "median order statistic (rank (n+1) div 2 under the total " +
        "(cents, event_id) order), the MAD re-ranks the absolute " +
        "deviations |x - median| in a second per-type window pass " +
        "against the broadcast medians, and the trimmed mean drops " +
        "exactly t = n*500 div 10000 rows at each rank tail and " +
        "emits the remainder's mean as a milli floor (values " +
        "nonnegative, so both engines floor identically). Two rank " +
        "windows per type and two broadcast joins of 5-row frames — " +
        "per-type series bound every sort; nothing global.",
      (s, dir) => {
        val d = t(s, dir, "events").select(
          col("event_type").as("g"), col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("x"))
        val w1 = Window.partitionBy(col("g"))
          .orderBy(col("x").asc, col("event_id").asc)
        val r1 = d.withColumn("r", row_number().over(w1).cast(LongType))
          .withColumn("n",
            count(lit(1)).over(Window.partitionBy(col("g"))))
        val med = r1.filter(col("r") === expr("(n + 1) div 2"))
          .select(col("g"), col("n"), col("x").as("med"))
        val dev = d.join(broadcast(med), Seq("g"))
          .withColumn("ad", abs(col("x") - col("med")))
        val w2 = Window.partitionBy(col("g"))
          .orderBy(col("ad").asc, col("event_id").asc)
        val mad = dev.withColumn("r2", row_number().over(w2).cast(LongType))
          .filter(col("r2") === expr("(n + 1) div 2"))
          .select(col("g"), col("ad").as("mad"))
        val trim = r1
          .withColumn("t", expr("n * 500 div 10000"))
          .filter(col("r") > col("t") && col("r") <= col("n") - col("t"))
          .groupBy(col("g"))
          .agg(sum(col("x")).as("ts"), count(lit(1)).as("tn"),
            min(col("t")).as("t"))
        med.join(mad, Seq("g")).join(trim, Seq("g"))
          .select(col("g").as("event_type"), col("n"),
            col("med").as("median_cents"), col("mad").as("mad_cents"),
            col("t").as("trim_each_side"), col("tn").as("trimmed_n"),
            expr("CAST(1000 * ts div tn AS BIGINT)")
              .as("trimmed_mean_milli"))
      },
      Some("""
        WITH d AS (
          SELECT event_type AS g, event_id,
                 CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
          FROM events),
        r1 AS (
          SELECT g, event_id, x,
                 CAST(row_number() OVER (PARTITION BY g
                   ORDER BY x ASC, event_id ASC) AS BIGINT) AS r,
                 CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
          FROM d),
        med AS (
          SELECT g, n, x AS med FROM r1 WHERE r = (n + 1) // 2),
        mad AS (
          SELECT g, ad AS mad FROM (
            SELECT d.g, abs(d.x - m.med) AS ad, m.n,
                   CAST(row_number() OVER (PARTITION BY d.g
                     ORDER BY abs(d.x - m.med) ASC, d.event_id ASC)
                     AS BIGINT) AS r2
            FROM d JOIN med m ON d.g = m.g)
          WHERE r2 = (n + 1) // 2),
        trim AS (
          SELECT g, CAST(sum(x) AS BIGINT) AS ts,
                 CAST(count(*) AS BIGINT) AS tn,
                 CAST(min(t) AS BIGINT) AS t
          FROM (SELECT g, x, r, n, n * 500 // 10000 AS t FROM r1)
          WHERE r > t AND r <= n - t GROUP BY g)
        SELECT m.g AS event_type, m.n, m.med AS median_cents,
               a.mad AS mad_cents, t.t AS trim_each_side,
               t.tn AS trimmed_n,
               CAST(1000 * t.ts // t.tn AS BIGINT) AS trimmed_mean_milli
        FROM med m JOIN mad a ON m.g = a.g JOIN trim t ON m.g = t.g"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q259_spearman_hist",
      "Histogram-coarsened Spearman per source — the q241 rule stated " +
        "as its own statistic: discretize FIRST (chars div 16, tokens " +
        "div 4), then rank-correlate the buckets. Midranks of a " +
        "bucketed histogram ARE the midranks of its ties, so this is " +
        "not an approximation of rank statistics, it is a coarsening " +
        "both engines state identically — and it changes the COMPUTE " +
        "shape, not just the support: the midranks come from the " +
        "cumulative histogram (ranks c+1..c+t average to a doubled " +
        "2c+t+1), so the rank windows run over the bounded bucket " +
        "frame, never the row count — the corpus is touched exactly " +
        "once by the (source, xb, yb) cell aggregation, which is also " +
        "MERGEABLE by addition: streaming/SpearmanStream binds this " +
        "exact operator (shared operators/SpearmanHist) to the " +
        "TwinLog additive protocol, so a stream of per-batch cell deltas " +
        "recovers this statistic after any prefix. Output is signed " +
        "rho^2 in bp via the same moment algebra as q248, with the " +
        "same ENFORCED n <= 20000 DECIMAL(38,0) exactness guard — " +
        "coarsening bounds the WINDOW support, not the moment " +
        "magnitudes (midranks scale with the row count n whatever " +
        "the bucket width), so the path past the guard is q261's " +
        "slope-product on these same cells, not wider buckets. " +
        "SCALE SHAPE: one corpus-width aggregation, two windows over " +
        "bucket counts, one moments reduce; six numbers per source " +
        "cross the final shuffle.",
      (s, dir) =>
        // cells persisted (r16): moments() reads the cell table three
        // times (two marginal windows + the join base) — unpersisted,
        // the "corpus touched exactly once" aggregation re-ran per
        // reference. Freed by the clearCache contract. The streaming
        // twin folds a pre-merged log (bounded rows) and stays as is.
        graft.operators.SpearmanHist.rho(
          graft.operators.SpearmanHist.cells(
            spread(t(s, dir, "documents"), col("doc_id"))).persist()),
      Some("""
        WITH h AS (
          SELECT source, n_chars // 16 AS xb,
                 CAST(len(string_split(text, ' ')) AS BIGINT) // 4 AS yb,
                 CAST(count(*) AS BIGINT) AS cnt
          FROM documents GROUP BY 1, 2, 3),
        mx AS (
          SELECT source, xb,
                 2 * COALESCE(sum(t) OVER (PARTITION BY source ORDER BY xb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + t + 1 AS mx2
          FROM (SELECT source, xb, CAST(sum(cnt) AS BIGINT) AS t
                FROM h GROUP BY 1, 2)),
        my AS (
          SELECT source, yb,
                 2 * COALESCE(sum(t) OVER (PARTITION BY source ORDER BY yb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + t + 1 AS my2
          FROM (SELECT source, yb, CAST(sum(cnt) AS BIGINT) AS t
                FROM h GROUP BY 1, 2)),
        m AS (
          SELECT h.source, CAST(sum(cnt) AS HUGEINT) AS n,
                 CAST(sum(CAST(cnt AS HUGEINT) * mx2) AS HUGEINT) AS sx,
                 CAST(sum(CAST(cnt AS HUGEINT) * my2) AS HUGEINT) AS sy,
                 CAST(sum(CAST(cnt AS HUGEINT) * mx2 * my2) AS HUGEINT) AS sxy,
                 CAST(sum(CAST(cnt AS HUGEINT) * mx2 * mx2) AS HUGEINT) AS sxx,
                 CAST(sum(CAST(cnt AS HUGEINT) * my2 * my2) AS HUGEINT) AS syy
          FROM h
          JOIN mx ON h.source = mx.source AND h.xb = mx.xb
          JOIN my ON h.source = my.source AND h.yb = my.yb
          GROUP BY 1),
        d AS (
          SELECT source, n,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS d1,
                 n * syy - sy * sy AS d2
          FROM m)
        SELECT source, CAST(n AS BIGINT) AS n,
               CASE WHEN n > 20000 THEN CAST(error(
                 'q259_spearman_hist: group ' || source ||
                 ' exceeds the n<=20000 DECIMAL(38,0) exactness' ||
                 ' bound; use q261_spearman_scaled (centi-rho' ||
                 ' slope-product, exact to n<=1e9)') AS BIGINT)
               ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                 * ((num * num * 10000) // (d1 * d2)) AS BIGINT)
               END AS rho2s_bp
        FROM d WHERE d1 > 0 AND d2 > 0"""),
    ),
    // ----------------------------------------------------------------
    Q(
      "q261_spearman_scaled",
      "Large-n Spearman via the slope-product identity — the REAL " +
        "scale path past q248/q259's n<=20000 exactness bound, " +
        "proven PAST that bound in this very query: rho^2 = b_yx * " +
        "b_xy, the product of the two rank-regression slopes, each " +
        "floor-quantized to centi-rho ((|num|*100 div d1) * " +
        "(|num|*100 div d2)) so NO squared moment ever forms — the " +
        "largest intermediate is |num|*100 <= 100*n^4/3, inside " +
        "DECIMAL(38,0)/HUGEINT to the enforced n <= 1e9 (a 50,000x " +
        "raise; see SpearmanHist's object doc for the bound algebra " +
        "and the d1 >= n^2(n-1) lemma that keeps each LONG quotient " +
        "under 2e6). Rounding is STATED, deterministic, and " +
        "identical on both engines (floor of non-negative integers): " +
        "the bp output sits within ~(q1+q2+1) below exact " +
        "rho^2*10^4 — centi-rho precision. The n > 20000 fixture is " +
        s"the $SPEARMAN_REPL-x-REPLICATED corpus: replication multiplies every " +
        "histogram cell count by k (cells merge by addition — the " +
        "q259/SpearmanStream protocol), so this computes, exactly, " +
        s"rho of a corpus of n = $SPEARMAN_REPL * count(documents) rows per " +
        "source (2.5e6 at sf0.01) — millions of rows through the " +
        "DECIMAL moment path the old guard claimed impossible. " +
        "SCALE SHAPE: identical to q259 — one corpus-width cell " +
        "aggregation, windows over the bounded bucket support, one " +
        "moments reduce; six numbers per source cross the final " +
        "shuffle.",
      (s, dir) =>
        // cells persisted (r16) — the q259 rationale, same three
        // moments() consumers
        graft.operators.SpearmanHist.rhoScaled(
          graft.operators.SpearmanHist.cells(
            spread(t(s, dir, "documents"), col("doc_id")))
            .withColumn("cnt", col("cnt") * lit(SPEARMAN_REPL))
            .persist()),
      Some(s"""
        WITH h AS (
          SELECT source, n_chars // 16 AS xb,
                 CAST(len(string_split(text, ' ')) AS BIGINT) // 4 AS yb,
                 CAST(count(*) AS BIGINT) * $SPEARMAN_REPL AS cnt
          FROM documents GROUP BY 1, 2, 3),
        mx AS (
          SELECT source, xb,
                 2 * COALESCE(sum(t) OVER (PARTITION BY source ORDER BY xb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + t + 1 AS mx2
          FROM (SELECT source, xb, CAST(sum(cnt) AS BIGINT) AS t
                FROM h GROUP BY 1, 2)),
        my AS (
          SELECT source, yb,
                 2 * COALESCE(sum(t) OVER (PARTITION BY source ORDER BY yb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + t + 1 AS my2
          FROM (SELECT source, yb, CAST(sum(cnt) AS BIGINT) AS t
                FROM h GROUP BY 1, 2)),
        m AS (
          SELECT h.source, CAST(sum(cnt) AS HUGEINT) AS n,
                 CAST(sum(CAST(cnt AS HUGEINT) * mx2) AS HUGEINT) AS sx,
                 CAST(sum(CAST(cnt AS HUGEINT) * my2) AS HUGEINT) AS sy,
                 CAST(sum(CAST(cnt AS HUGEINT) * mx2 * my2) AS HUGEINT) AS sxy,
                 CAST(sum(CAST(cnt AS HUGEINT) * mx2 * mx2) AS HUGEINT) AS sxx,
                 CAST(sum(CAST(cnt AS HUGEINT) * my2 * my2) AS HUGEINT) AS syy
          FROM h
          JOIN mx ON h.source = mx.source AND h.xb = mx.xb
          JOIN my ON h.source = my.source AND h.yb = my.yb
          GROUP BY 1),
        d AS (
          SELECT source, n,
                 n * sxy - sx * sy AS num,
                 n * sxx - sx * sx AS d1,
                 n * syy - sy * sy AS d2
          FROM m)
        SELECT source, CAST(n AS BIGINT) AS n,
               CASE WHEN n > ${graft.operators.SpearmanHist.ScaledMaxN}
                 THEN CAST(error(
                 'q261_spearman_scaled: group ' || source ||
                 ' exceeds the n<=1e9 DECIMAL(38,0) slope-product' ||
                 ' bound; shard the group (cells merge by addition)')
                 AS BIGINT)
               ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                 * ((abs(num) * 100 // d1) * (abs(num) * 100 // d2))
                 AS BIGINT)
               END AS rho2s_bp
        FROM d WHERE d1 > 0 AND d2 > 0"""),
    ),
  )
}
