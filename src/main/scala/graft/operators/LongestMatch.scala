package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** Longest exact-substring contamination span per evaluation document
  * — the Lee et al. ("Deduplicating Training Data Makes Language
  * Models Better") decontamination METRIC that q260/q264's fixed- and
  * mixed-length probes stop short of: not "does this 24-char excerpt
  * occur", but "what is the LONGEST run of this eval document that
  * appears verbatim anywhere in the training corpus" (capped at a
  * stated maximum span).
  *
  * Algorithm: per-document K-ARY SEARCH over span lengths against the
  * standing suffix index. Existence of a length-l match is MONOTONE in
  * l (every prefix of a match is a match), so each document maintains
  * an interval [lo, hi] with "match at lo" / "no match at hi+1"
  * invariants; each round probes the `fanout` lengths splitting the
  * interval into fanout+1 near-equal segments, so
  * ceil(log_{fanout+1}(cap+1)) rounds converge every document —
  * fanout trades a little probe volume for sequential round DEPTH
  * (driver-sequenced rounds are the toy-scale latency; at corpus
  * scale each round costs one scan of the persisted snippet table
  * regardless). All documents start at the SAME [0, cap] interval (a
  * probe longer than the document simply contributes no queries and
  * reads as a miss), so the live intervals stay nested splits of
  * [0, cap] — the distinct probe-length list per round is bounded by
  * the interval structure and in total by ~2·cap·fanout, NEVER by
  * document count or corpus size.
  *
  * Each probe round: the active documents explode into (doc, position)
  * queries at their interval midpoints; each distinct midpoint length
  * probes the rank-deduplicated snippet table (built ONCE from the
  * persisted [[SuffixIndex]] ranks, the substringHitsFromRanks
  * construction, persisted across all rounds) with an INNER equi-join
  * whose probe side BROADCASTS — the corpus-sized index never moves,
  * the eval side is benchmark-sized by definition. A final probe at
  * the converged length recovers a deterministic witness (the
  * lexicographically smallest matching span).
  *
  * SCALE SHAPE: one text pass to build the snippet table (amortized
  * further by the standing index — one prefix-doubling build per
  * corpus snapshot shared with q260/q264); log2(cap) rounds, each a
  * map-only broadcast-join scan of the persisted snippet table per
  * length class; per-round driver traffic = ONE bounded aggregation
  * returning the distinct-mid list together with the exact probe-frame
  * row count (the broadcast gate's input — r17; counting the probe
  * frame itself was a second pure-scheduling job per round). Eval text
  * explodes to (position x round) query rows — linear in EVAL corpus
  * size, the small side.
  */
object LongestMatch {

  /** @param ranks    suffix ranks of `train` ([[SuffixIndex.ranks]] —
    *                 thunk so cost is deferred to first use)
    * @param train    training documents (idCol, textCol)
    * @param evalDocs evaluation documents (eIdCol, eTextCol)
    * @param cap      maximum reported span length (a span saturating
    *                 the cap reports exactly `cap` — stated coarsening)
    * @param fanout   probes per document per round (fanout+1-ary
    *                 search); 1 = classic binary search
    * @param broadcastMaxRows probe-frame row bound up to which the
    *                 probe side broadcasts into the index join; past
    *                 it the hint is DROPPED and the join shuffles both
    *                 sides — an explicit broadcast() is never demoted
    *                 by Spark, so a huge eval corpus would otherwise
    *                 OOM the driver (the Coverage hint-dropping rule)
    * @return one row per eval document: (eIdCol, match_len, witness);
    *         match_len = 0 and witness = null when no character of the
    *         document occurs in training */
  def longestMatchFromRanks(ranks: => DataFrame, train: DataFrame,
      idCol: String, textCol: String, evalDocs: DataFrame,
      eIdCol: String, eTextCol: String, cap: Int,
      fanout: Int = 6, broadcastMaxRows: Long = 1L << 20): DataFrame = {
    require(cap >= 1)
    // rank-deduplicated cap-char snippet table over the standing index
    // (the substringHitsFromRanks construction, existence-only: counts
    // dropped), derived inline per call. Callers on the warehouse-
    // managed index path pass [[SuffixIndex.snippets]]'s standing
    // table to [[longestMatchFromSnips]] instead (r16) and skip this
    // per-run derivation.
    val base = train.select(col(idCol).cast(LongType).as("__id"),
      col(textCol).as("__t"))
    val snipsInline = ranks.join(base, col(idCol) === col("__id"))
      .select(col("suffix_rank").as("__r"),
        expr(s"substring(__t, CAST(pos AS INT), $cap)").as("__snip"))
      .groupBy(col("__r"))
      .agg(min(col("__snip")).as("__snip"))
      .select(col("__snip"))
    longestMatchFromSnips(snipsInline, evalDocs, eIdCol, eTextCol, cap,
      fanout, broadcastMaxRows)
  }

  /** [[longestMatchFromRanks]] over an ALREADY-DERIVED snippet frame
    * (one `__snip` string per distinct suffix rank — e.g. the standing
    * [[SuffixIndex.snippets]] table). The search reads nothing else of
    * the training corpus. */
  def longestMatchFromSnips(snippets: DataFrame, evalDocs: DataFrame,
      eIdCol: String, eTextCol: String, cap: Int,
      fanout: Int = 6, broadcastMaxRows: Long = 1L << 20): DataFrame = {
    require(cap >= 1)
    require(fanout >= 1)

    // persisted — it feeds every probe round
    val snips = snippets.select(col("__snip")).persist()

    // state: [lo, hi] per doc — match at lo holds (lo = 0 trivially),
    // no match past hi can hold (hi = cap, the stated ceiling).
    // Cut every round by [[Rounds.Local]] (the Coverage cut): each
    // round's plan references its predecessor TWICE (probe derivation
    // + the hit join), so lineage-kept persist would double the
    // logical plan per round — plan normalization alone goes
    // exponential in the round count. The predecessor's blocks are
    // released deterministically each round.
    val loop = new Rounds(evalDocs.sparkSession, Rounds.Local)
    var state = loop.next(evalDocs
      .select(col(eIdCol), col(eTextCol).as("__et"),
        lit(0L).as("__lo"), lit(cap.toLong).as("__hi"))).frame

    // (eId, q) probe frame for the active docs at their own probe
    // length `lenCol`; a probe longer than the document yields no rows
    def probes(active: DataFrame, lenCol: String): DataFrame = active
      .select(col(eIdCol), col(lenCol).as("__l"),
        explode(when(length(col("__et")) >= col(lenCol),
          sequence(lit(1L), length(col("__et")) - col(lenCol) + 1))
          .otherwise(array().cast(ArrayType(LongType)))).as("__p"),
        col("__et"))
      .select(col(eIdCol), col("__l"),
        expr("substring(__et, CAST(__p AS INT), CAST(__l AS INT))").as("__q"))

    // snippet prefixes at every length class of a round, generated by
    // a map-only explode of the persisted table — the index never
    // shuffles; fan-out is the (interval-structure-bounded) class count, and
    // a snippet shorter than a class length yields its whole self,
    // which no length-l query can equal (queries are exactly l chars)
    def prefixes(lens: Seq[Long]): DataFrame = snips
      .select(explode(array(lens.map(l =>
        struct(lit(l).as("__l"),
          expr(s"substring(__snip, 1, $l)").as("__pfx"))): _*)).as("e"))
      .select(col("e.__l").as("__l"), col("e.__pfx").as("__pfx"))

    // probe-side broadcast gate: the hint applies only while the probe
    // frame is small (rows counted on the already-persisted frame);
    // past the bound it DROPS and the join shuffles both sides — an
    // explicit broadcast() is never demoted, so a huge eval corpus
    // would otherwise OOM the driver (the Coverage hint-dropping rule)
    def gated(df: DataFrame, rows: Long): DataFrame =
      if (rows <= broadcastMaxRows) broadcast(df) else df

    // k-ary search: each active doc probes the `fanout` lengths that
    // split its interval into fanout+1 near-equal segments —
    // p_i = lo + ceil(i*(hi-lo)/(fanout+1)), deduped and sorted —
    // trading a little probe volume (x fanout) for sequential DEPTH:
    // rounds = ceil(log_{fanout+1}(cap+1)) instead of log_2. The
    // driver-sequenced round latency is the toy-scale cost; at corpus
    // scale each round is one scan of the persisted snippet table
    // either way.
    val seg = fanout + 1
    val psExpr = expr(s"""sort_array(array_distinct(transform(
        sequence(1L, ${fanout}L), i -> __lo + (i * (__hi - __lo) +
          ${seg - 1}L) div ${seg}L)))""")
    // absolute backstop: binary rounds always suffice; the loop exits
    // via the empty-lens check as soon as every doc converges
    val maxRounds = 64 - java.lang.Long.numberOfLeadingZeros(cap.toLong)
    var r = 0
    var live = true
    while (r < maxRounds && live) {
      val active = state.filter(col("__lo") < col("__hi"))
        .withColumn("__ps", psExpr)
      // ONE driver job returns both the round's distinct probe lengths
      // (interval-structure-bounded) and the EXACT probe-frame row
      // count (each doc contributes max(0, len - l + 1) rows per
      // probed length, by construction of [[probes]]) — r17: the
      // count previously ran as its own job over a persisted probe
      // frame that the round's single join consumer never re-read,
      // i.e. one pure-scheduling job per round for a number this
      // aggregation already knows.
      val lenStats = active
        .select(explode(col("__ps")).as("__l"), length(col("__et"))
          .cast(LongType).as("__n"))
        .groupBy(col("__l"))
        .agg(sum(greatest(col("__n") - col("__l") + 1L, lit(0L))).as("__c"))
        .collect()
      val lens = lenStats.map(_.getLong(0)).sorted.toSeq
      if (lens.isEmpty) live = false
      else {
        val qRows = lenStats.map(_.getLong(1)).sum
        val qf = probes(active.withColumn("__l", explode(col("__ps"))),
          "__l")
        // per-doc MAX hit length among its probes (null = all missed)
        val p = prefixes(lens)
        val hits = p.join(gated(qf, qRows),
          p("__l") === qf("__l") && p("__pfx") === qf("__q"))
          .groupBy(col(eIdCol)).agg(max(qf("__l")).as("__mh"))
        // hits is one row per probing doc (<= qRows, so the same gate
        // applies) — broadcast keeps the state update shuffle-free
        // while the eval side is small. New interval: lo' = best hit
        // (or lo); hi' = just below the smallest probe past lo' (all
        // probes, when everything missed), or hi when the top probe hit
        state = loop.next(state.join(gated(hits, qRows), Seq(eIdCol), "left")
          .withColumn("__ps", psExpr)
          .select(col(eIdCol), col("__et"),
            when(col("__lo") < col("__hi"),
              coalesce(col("__mh"), col("__lo"))).otherwise(col("__lo"))
              .as("__lo2"),
            when(col("__lo") < col("__hi"),
              coalesce(expr(
                "array_min(filter(__ps, p -> p > coalesce(__mh, __lo))) - 1"),
                col("__hi"))).otherwise(col("__hi")).as("__hi2"))
          .withColumnRenamed("__lo2", "__lo")
          .withColumnRenamed("__hi2", "__hi")).frame // ONE materialize job
      }
      r += 1
    }

    // witness probe at the converged length: the lexicographically
    // smallest matching span (deterministic); distinct converged
    // lengths bounded by cap. Same one-job lens+rows fold as the
    // search rounds (r17).
    val matched = state.filter(col("__lo") > 0)
    val wStats = matched
      .select(col("__lo").as("__l"), length(col("__et"))
        .cast(LongType).as("__n"))
      .groupBy(col("__l"))
      .agg(sum(greatest(col("__n") - col("__l") + 1L, lit(0L))).as("__c"))
      .collect()
    val wLens0 = wStats.map(_.getLong(0)).sorted.toSeq
    // no matches anywhere: run the real pipeline over the (empty)
    // matched frame once so the witness schema has one source of truth
    val wLens = if (wLens0.isEmpty) Seq(1L) else wLens0
    val wp = prefixes(wLens)
    val wq = probes(matched, "__lo")
    val wRows = wStats.map(_.getLong(1)).sum
    val witnesses = wp.join(gated(wq, wRows),
      wp("__l") === wq("__l") && wp("__pfx") === wq("__q"))
      .groupBy(col(eIdCol)).agg(min(col("__q")).as("witness"))

    // materialize the eval-sized result eagerly so the corpus-sized
    // snippet cache and the final state can be released
    // deterministically NOW; the result's own (small) blocks go to the
    // ContextCleaner when the caller drops the frame
    val result = Rounds.result(
      state.join(gated(witnesses, wRows), Seq(eIdCol), "left")
        .select(col(eIdCol), col("__lo").as("match_len"),
          col("witness").cast(StringType).as("witness")))
    loop.close()
    snips.unpersist(blocking = false)
    result
  }
}
