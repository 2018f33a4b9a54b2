package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed suffix array by prefix doubling (Manber–Myers with the
  * active-set refinement): the lexicographic rank of EVERY suffix of
  * every document, in O(log maxDocLen) rounds of pure integer work.
  *
  * Suffix ranks are the index structure behind the exact-substring
  * family (longest repeated substring = memorization risk, exact
  * substring dedup, corpus-wide pattern counts). The naive spelling —
  * materialize each suffix string and sort — ships O(n * avgSuffixLen)
  * bytes, QUADRATIC in document length; that is the oracle's spelling,
  * and the hash match proves this construction equal to it.
  *
  * The working representation is the INSTANCE-SPARSE rank: rank(s) =
  * 1 + number of suffix instances strictly smaller than s. Sparse
  * ranks leave exactly enough headroom inside a tie group that
  * refining the group (sub-ordering its members) never moves any
  * OTHER group's rank — which is what makes the active-set trick
  * sound:
  *
  *  - round 0 ranks every suffix by its first `initKey` characters:
  *    one count-per-key aggregation, a global sort of the DISTINCT
  *    key frame, and a per-partition cumulative count with
  *    driver-side partition offsets ([[sparseBases]] — the offsets
  *    array is one long per shuffle partition, never data-sized);
  *  - each later round touches ONLY suffixes whose rank is still
  *    tied (`__g > 1`): ties sub-order by the rank at `pos + d`
  *    (sentinel 0 when the suffix ends first — "shorter sorts
  *    first"), via `rank()` over a window PARTITIONED BY the tied
  *    rank — group-local work, no global sort anywhere in the loop.
  *    On real text the active set collapses to true duplicate tails
  *    after round 0 (an `initKey`-char random prefix is almost
  *    always unique), so rounds cost proportional to the DUPLICATED
  *    portion of the corpus, not the corpus;
  *  - one final [[denseRankOf]] pass converts sparse to dense ranks,
  *    matching `dense_rank() OVER (ORDER BY suffix)`.
  *
  * SCALE SHAPE: text is touched once (the `initKey`-char key
  * projection); rounds shuffle only (doc, pos, rank) triples of the
  * ACTIVE set plus the probe into the rank table (whose settled
  * slices are cut ONCE each and never rewritten — with the active
  * probe side small, AQE turns that join into a broadcast, so settled
  * rows never re-shuffle). Every slice's blocks are released
  * deterministically once the result materializes ([[Rounds.close]]);
  * plan depth is the settled-slice count, bounded by the round count
  * = log2 of the LONGEST DOCUMENT (documents bound suffix
  * comparisons), not of the corpus.
  */
object SuffixArray {

  /** Lexicographic dense rank of every suffix.
    *
    * @param initKey characters in the round-0 sort key (longer = fewer
    *                rounds and a smaller active set; the key column
    *                costs O(n * initKey) bytes transiently). 0 =
    *                ADAPTIVE: sized from the longest document so the
    *                doubling loop runs ~5 rounds whatever the corpus
    *                (key = maxLen/32 rounded to a power of two,
    *                clamped to [8, 64] — the key frame stays <= 64
    *                bytes/suffix).
    * @return one row per (document, 1-based position): (`idCol`,
    *         `pos` BIGINT, `suffix_rank` BIGINT) — rank 1 = smallest
    *         suffix; equal suffixes (across or within docs) share a
    *         rank and the rank space has no gaps (dense), matching
    *         `dense_rank() OVER (ORDER BY suffix)`.
    */
  def suffixRanks(docs: DataFrame, idCol: String, textCol: String,
      initKey: Int = 0): DataFrame = {
    require(initKey >= 0)
    val base = docs.select(col(idCol).cast(LongType).as("__id"),
      col(textCol).as("__t"))
    val maxLen = base.agg(max(length(col("__t")))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getInt(0).toLong
    }
    val effKey =
      if (initKey > 0) initKey
      else math.min(64, math.max(8,
        Integer.highestOneBit(math.max(1, (maxLen / 32).toInt)) * 2))
    // the ONLY pass that touches text: the round-0 key per position
    val keys = base
      .select(col("__id"), col("__t"),
        explode(graft.functions.TextAnalysis.indices1(length(col("__t"))))
          .as("__pos"))
      .select(col("__id"), col("__pos"),
        expr(s"substring(__t, __pos, $effKey)").as("__k"))
    val keyCounts = keys.groupBy(col("__k")).agg(count(lit(1)).as("__n"))
    val (bases, freeBases) = sparseBases(keyCounts, "__k", "__n")
    def annotate(r: DataFrame): DataFrame =
      r.withColumn("__g", count(lit(1)).over(Window.partitionBy(col("__r"))))
    // state split: settled ranks are FINAL — each settled slice is
    // cut once and never rewritten ([[Rounds.keep]]); only the ACTIVE
    // (tied) frame re-ranks per round, so round cost tracks the
    // DUPLICATED portion of the corpus, not the corpus. Each cut's
    // materialize job also counts the rows still tied.
    val loop = new Rounds(docs.sparkSession, Rounds.Local)
    val tiedCount = count(when(col("__g") > 1, 1))
    val round0 = loop.keep(annotate(keys.join(bases, Seq("__k"))
      .select(col("__id"), col("__pos"), col("__r"))), tiedCount)
    freeBases()
    val settled = scala.collection.mutable.Buffer.empty[DataFrame]
    settled += round0.frame.filter(col("__g") === 1)
      .select(col("__id"), col("__pos"), col("__r"))
    var active = round0.frame.filter(col("__g") > 1)
      .select(col("__id"), col("__pos"), col("__r"), col("__g"))
    var tied = round0.stats.getLong(0)
    var d = effKey.toLong // ranks currently order by the first d chars
    while (tied > 0 && d < maxLen) {
      // rank at pos + d, looked up in the FULL table (a tied suffix's
      // continuation may itself be settled) — a union of already-
      // materialized leaves, so no recompute; the active probe side is
      // small, which AQE turns into a broadcast join (no full shuffle)
      val all = (settled :+ active.select(col("__id"), col("__pos"),
        col("__r"))).reduce(_ unionByName _)
      val shifted = all.select(col("__id"),
        (col("__pos") - d).cast("int").as("__pos"), col("__r").as("__r2"))
      val w = Window.partitionBy(col("__r")).orderBy(col("__r2"))
      val refined = loop.keep(annotate(
        active.select(col("__id"), col("__pos"), col("__r"))
          .join(shifted, Seq("__id", "__pos"), "left")
          .select(col("__id"), col("__pos"), col("__r"),
            coalesce(col("__r2"), lit(0L)).as("__r2"))
          // sparse invariant: members below me in the group = rank()-1,
          // so the new "1 + instances strictly less" = base + rank() - 1
          .select(col("__id"), col("__pos"),
            (col("__r") + rank().over(w) - 1).as("__r"))), tiedCount)
      settled += refined.frame.filter(col("__g") === 1)
        .select(col("__id"), col("__pos"), col("__r"))
      active = refined.frame.filter(col("__g") > 1)
      tied = refined.stats.getLong(0)
      d *= 2
    }
    val ranks = (settled :+ active.select(col("__id"), col("__pos"),
      col("__r"))).reduce(_ unionByName _)
    // sparse -> dense: one global pass over the distinct final ranks
    val (dm, freeDm) = denseRankOf(ranks.select("__r").distinct(), Seq("__r"))
    val out = Rounds.result(ranks.join(dm, Seq("__r"))
      .select(col("__id").as(idCol), col("__pos").cast(LongType).as("pos"),
        col("__gr").as("suffix_rank")))
    freeDm()
    loop.close()
    out
  }

  /** Repeated-substring candidates — the memorization/contamination
    * audit built on [[suffixRanks]]: the longest repeated substring of
    * a corpus is the maximum longest-common-prefix over suffixes that
    * are ADJACENT in suffix order (the classic suffix-array reduction
    * — non-adjacent pairs never beat the adjacent chain between them),
    * so one pass over rank adjacency finds every repeat.
    *
    * Two pair families cover sorted adjacency exactly:
    *  - intra-rank (equal suffixes — duplicate documents/tails): a
    *    rank-partitioned lag window chains tie members in (doc, pos)
    *    order; their common prefix is the WHOLE suffix, reported at
    *    full length;
    *  - cross-rank (rank r's last member vs rank r+1's first): LCP via
    *    the native [[graft.expressions.CommonPrefixLen]] byte walk
    *    over `cap`-char snippets — reported LCP saturates at `cap`,
    *    which is the audit's point (a repeat that long is flagged
    *    whatever its true extent).
    *
    * SCALE SHAPE: suffix STRINGS never materialize — each suffix
    * carries one `cap`-char snippet (O(n x cap) bytes, linear where
    * the naive sort is quadratic); the tie window partitions by rank
    * (bounded groups), the boundary join is an equi-join on the rank
    * key, and the LCP walk is a codegen'd zero-allocation expression.
    *
    * @return one row per adjacent pair: (d1, p1, d2, p2) witnesses,
    *         `lcp_len` (BIGINT; full length for equal suffixes,
    *         `cap`-saturated otherwise), `snippet` (the common prefix,
    *         <= cap chars). */
  def repeatedSubstrings(docs: DataFrame, idCol: String, textCol: String,
      cap: Int = 80): DataFrame =
    repeatedSubstringsFromRanks(suffixRanks(docs, idCol, textCol),
      docs, idCol, textCol, cap)

  /** [[repeatedSubstrings]] over PRECOMPUTED suffix ranks — the
    * consumer half, for callers holding a persisted index
    * ([[SuffixIndex.ranks]]): only the snippet projection and the
    * adjacency pass run; the prefix-doubling build is amortized
    * across every consumer of the same corpus slice. `ranks` must be
    * [[suffixRanks]]' output (or the persisted table of it) for the
    * SAME `docs`. */
  def repeatedSubstringsFromRanks(ranks: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, cap: Int = 80): DataFrame = {
    require(cap >= 1)
    val base = docs.select(col(idCol).cast(LongType).as("__id"),
      col(textCol).as("__t"))
    val snips = ranks.join(base, col(idCol) === col("__id"))
      .select(col(idCol), col("pos"), col("suffix_rank").as("__r"),
        expr(s"substring(__t, CAST(pos AS INT), $cap)").as("__snip"),
        (length(col("__t")) - col("pos") + 1).as("__suf_len"))
    // (a) equal suffixes: chain tie members; LCP = the full suffix
    val w = Window.partitionBy(col("__r")).orderBy(col(idCol), col("pos"))
    val intra = snips
      .select(col(idCol), col("pos"), col("__snip"), col("__suf_len"),
        lag(col(idCol), 1).over(w).as("d1"),
        lag(col("pos"), 1).over(w).as("p1"))
      .filter(col("d1").isNotNull)
      .select(col("d1"), col("p1"), col(idCol).as("d2"), col("pos").as("p2"),
        col("__suf_len").cast(LongType).as("lcp_len"), col("__snip").as("__s2"))
    // (b) rank boundary: last of r meets first of r+1; LCP via the
    // native byte-walk expression (codegen, zero per-row allocation) —
    // the composable fold spelling
    //   array_min(filter(sequence(1, least(len, len)),
    //                    i -> substr(xs,i,1) <> substr(ys,i,1))) - 1
    // builds the index array plus two 1-char slices per position per
    // pair; CommonPrefixLenSpec proves the expression equal to it on
    // ASCII and multibyte UTF-8, and the q246 oracle (which states the
    // fold) holds the equality end-to-end under the hash gate
    val reps = snips.groupBy(col("__r")).agg(
      min(struct(col(idCol), col("pos"), col("__snip"))).as("lo"),
      max(struct(col(idCol), col("pos"), col("__snip"))).as("hi"))
    val cross = reps.select(col("__r"), col("hi")).alias("a")
      .join(reps.select((col("__r") - 1).as("__r"), col("lo")).alias("b"),
        Seq("__r"))
      .select(col(s"hi.$idCol").as("d1"), col("hi.pos").as("p1"),
        col(s"lo.$idCol").as("d2"), col("lo.pos").as("p2"),
        col("hi.__snip").as("xs"), col("lo.__snip").as("ys"))
      .select(col("d1"), col("p1"), col("d2"), col("p2"),
        graft.expressions.CommonPrefixLen(docs.sparkSession,
          col("xs"), col("ys")).cast(LongType).as("lcp_len"),
        col("ys").as("__s2"))
    intra.unionByName(cross)
      .select(col("d1"), col("p1"), col("d2"), col("p2"), col("lcp_len"),
        expr(s"substr(__s2, 1, CAST(least(lcp_len, $cap) AS INT))")
          .as("snippet"))
  }

  /** Exact-substring containment counts over the suffix index — the
    * ZERO-false-negative decontamination lookup ([[suffixRanks]]'
    * third consumer): for each fixed-length query string, the number
    * of corpus positions where it occurs verbatim (overlapping
    * occurrences, across documents). Complements the hash-based
    * n-gram decontamination (q71), whose gram hashing admits
    * collision false positives and whose tokenization misses
    * sub-token matches — here the match is the string itself.
    *
    * The index is the RANK-DEDUPLICATED snippet table: equal suffixes
    * (duplicate documents/tails — exactly what a contaminated corpus
    * is full of) share a rank and therefore ONE index row carrying
    * their multiplicity, so the probe joins against distinct
    * suffixes, not positions. With every query the same `qLen`, the
    * probe is a pure EQUI-join on the qLen-char snippet (the eval
    * side is small and broadcasts); [[substringHitsAnyLen]] answers
    * mixed lengths with one equi-join per length class over the same
    * index. COST NOTE: the dominant cost is [[suffixRanks]] itself —
    * built ONCE per corpus slice and amortized across its consumers
    * (q245's audit, q246's repeats, this lookup, every eval-set
    * refresh) through the persisted [[SuffixIndex]] table, which
    * survives the bench's cache-clear convention because it is a
    * saved table, not a cache entry; [[substringHitsFromRanks]] is
    * the consumer half.
    *
    * @return one row per query: (`qIdCol`, `qCol`, n_hits BIGINT) —
    *         n_hits = 0 rows kept (a decontamination report scores
    *         every query). Queries whose string is not exactly `qLen`
    *         chars are dropped (no fixed-length key exists for them).
    */
  def substringHits(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qCol: String,
      qLen: Int): DataFrame =
    substringHitsFromRanks(suffixRanks(docs, idCol, textCol),
      docs, idCol, textCol, queries, qIdCol, qCol, qLen)

  /** [[substringHits]] over PRECOMPUTED suffix ranks (the persisted-
    * index consumer half, [[SuffixIndex.ranks]]) — every eval-set
    * refresh probes the standing index instead of re-running the
    * prefix-doubling build. */
  def substringHitsFromRanks(ranks: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, queries: DataFrame, qIdCol: String,
      qCol: String, qLen: Int): DataFrame = {
    require(qLen >= 1)
    val base = docs.select(col(idCol).cast(LongType).as("__id"),
      col(textCol).as("__t"))
    // one qLen-char snippet per DISTINCT suffix (rank members are
    // equal strings, so any member's snippet represents the rank),
    // weighted by the rank's position count
    val idx = ranks.join(base, col(idCol) === col("__id"))
      .select(col("suffix_rank").as("__r"),
        expr(s"substring(__t, CAST(pos AS INT), $qLen)").as("__snip"))
      .groupBy(col("__r"))
      .agg(min(col("__snip")).as("__snip"), count(lit(1)).as("__cnt"))
    queries.select(col(qIdCol), col(qCol))
      .filter(length(col(qCol)) === qLen)
      .join(idx, col(qCol) === col("__snip"), "left")
      .groupBy(col(qIdCol), col(qCol))
      .agg(sum(coalesce(col("__cnt"), lit(0L))).as("n_hits"))
  }

  /** Variable-length form of [[substringHits]]: queries of ANY
    * lengths, answered by one equi-join PER DISTINCT LENGTH class
    * against the same rank-deduplicated snippet index (snippets sized
    * to the longest query). The distinct-length list is collected —
    * bounded by the LONGEST QUERY STRING's character count, never the
    * query count or the corpus — and each class probes with the
    * snippet truncated to its length, so every join stays a pure
    * equi-join.
    *
    * @note persists the index (it feeds one join per length class)
    *       and the query projection; call `spark.catalog.clearCache()`
    *       after the terminal action — the Dedup/lshCandidates cache
    *       contract. */
  def substringHitsAnyLen(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qCol: String): DataFrame =
    anyLenImpl(() => suffixRanks(docs, idCol, textCol),
      docs, idCol, textCol, queries, qIdCol, qCol)

  /** [[substringHitsAnyLen]] over an EXISTING rank index
    * ([[SuffixIndex.ranks]]) — the variable-length consumer half,
    * completing the FromRanks family (`repeatedSubstringsFromRanks`,
    * `substringHitsFromRanks`): no suffix consumer rebuilds the index
    * internally anymore. `ranks` is a thunk only so the empty-queries
    * early return never touches it (the persisted-table read is cheap,
    * but a caller may pass a freshly-built frame). */
  def substringHitsAnyLenFromRanks(ranks: => DataFrame, docs: DataFrame,
      idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qCol: String): DataFrame =
    anyLenImpl(() => ranks, docs, idCol, textCol, queries, qIdCol, qCol)

  private def anyLenImpl(ranksThunk: () => DataFrame,
      docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qCol: String): DataFrame = {
    val qs = queries.select(col(qIdCol), col(qCol))
      .filter(length(col(qCol)) >= 1).persist()
    val lens = qs.select(length(col(qCol)).as("__l")).distinct()
      .collect().map(_.getInt(0)).sorted
    if (lens.isEmpty) {
      // empty-queries frame with the right schema; nothing was
      // computed, so release the persisted projection here instead of
      // leaking it on the contract path nobody will run (unpersist
      // does not truncate lineage — the returned frame stays valid).
      // ranksThunk deliberately untouched: suffixRanks runs eager
      // per-round jobs at build time
      qs.unpersist(blocking = false)
      return qs.groupBy(col(qIdCol), col(qCol))
        .agg(sum(lit(0L)).as("n_hits"))
    }
    val maxQ = lens.last
    val ranks = ranksThunk()
    val base = docs.select(col(idCol).cast(LongType).as("__id"),
      col(textCol).as("__t"))
    val idx = ranks.join(base, col(idCol) === col("__id"))
      .select(col("suffix_rank").as("__r"),
        expr(s"substring(__t, CAST(pos AS INT), $maxQ)").as("__snip"))
      .groupBy(col("__r"))
      .agg(min(col("__snip")).as("__snip"), count(lit(1)).as("__cnt"))
      .persist()
    lens.map { l =>
      qs.filter(length(col(qCol)) === l)
        .join(idx, expr(s"substring(__snip, 1, $l)") === col(qCol), "left")
        .groupBy(col(qIdCol), col(qCol))
        .agg(sum(coalesce(col("__cnt"), lit(0L))).as("n_hits"))
    }.reduce(_ unionByName _)
  }

  /** Instance-sparse base rank per key: base(k) = 1 + sum of counts of
    * all strictly-smaller keys. One global range-sort of the DISTINCT
    * key frame, a per-partition count sum (P longs to the driver — P =
    * shuffle partitions, never data-sized), then a cumulative walk per
    * partition with its driver-computed offset. Deterministic: the
    * sorted order of a distinct frame is unique, so partition
    * boundaries (sampled by the range exchange) cannot change any
    * base, only balance. */
  private[operators] def sparseBases(keyCounts: DataFrame, keyCol: String,
      cntCol: String): (DataFrame, () => Unit) = {
    val spark = keyCounts.sparkSession
    val sorted = keyCounts.select(col(keyCol), col(cntCol)).orderBy(col(keyCol))
    val srdd = sorted.rdd.persist()
    val perPart = srdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.map(_.getLong(1)).sum)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = perPart.scanLeft(0L)(_ + _) // offsets(i) = sum before part i
    val schema = StructType(Seq(
      sorted.schema.fields(0), StructField("__r", LongType)))
    val out = spark.createDataFrame(
      srdd.mapPartitionsWithIndex { (i, it) =>
        var run = offsets(i)
        it.map { r =>
          val b = run + 1L
          run += r.getLong(1)
          Row(r.get(0), b)
        }
      }, schema)
    (out, () => { srdd.unpersist(blocking = false); () })
  }

  /** Global DENSE rank of an already-distinct key frame, without an
    * unpartitioned window: `orderBy` range-partitions and sorts (the
    * scalable total order), and `zipWithIndex` assigns each row its
    * global position — on distinct rows, row position IS the dense
    * rank. Deterministic for the [[sparseBases]] reason. Returns the
    * frame plus `__gr` and a release handle for the sort's cache
    * (zipWithIndex runs a per-partition count job first — uncached,
    * the range sort would execute twice). */
  private[operators] def denseRankOf(dist: DataFrame,
      keys: Seq[String]): (DataFrame, () => Unit) = {
    val spark = dist.sparkSession
    val sorted = dist.orderBy(keys.map(col): _*)
    val schema = StructType(sorted.schema.fields :+ StructField("__gr", LongType))
    val srdd = sorted.rdd.persist()
    val out = spark.createDataFrame(
      srdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) },
      schema)
    (out, () => { srdd.unpersist(blocking = false); () })
  }
}
