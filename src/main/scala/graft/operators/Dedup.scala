package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Portable

/** Deduplication operators for large-scale document corpora.
  *
  * Scale design (100 TB): every variant avoids the O(n^2) all-pairs join.
  *  - exact: one hash-groupBy shuffle on a 60-bit content hash (never on
  *    the full text — the shuffle key stays 8 bytes);
  *  - MinHash/LSH: shingle -> k salted minhashes -> band keys; candidate
  *    pairs come from an equi-join on (band index, band hash), which
  *    partitions/shuffles like any key join — no cross product;
  *  - SimHash: one 60-bit signature per doc, groupable/bucketable;
  *  - n-gram Jaccard: exact verification restricted to blocked candidate
  *    pairs (equi-join on block keys).
  *
  * Everything is built from codegen'd `functions._` expressions over the
  * portable hash ([[Portable.pmd5]]) so results are reproducible across
  * engines (and oracle-checkable against DuckDB).
  */
object Dedup {

  /** Exact dedup: one representative row (min of `idCol`) per distinct
    * value of `textCol`, with the duplicate count. Groups by TWO
    * independently-salted 60-bit content hashes — a fixed 16-byte
    * shuffle key regardless of document size, with joint collision
    * probability ~2^-120 per pair (a single 60-bit hash starts merging
    * distinct documents around 10^9 of them). */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(
      Portable.pmd5(col(textCol)).as("text_hash"),
      Portable.pmd5Salted(1, col(textCol)).as("text_hash2"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** k-member minhash signature over 3-word shingles: columns
    * m0..m(k-1). md5 is paid once per TOKEN (not per shingle, not per
    * family member): token hashes are materialized, shingle hashes are
    * arithmetic combinations, and the k members are affine maps
    * (see [[Portable]]). */
  def minhashSignature(df: DataFrame, textCol: String, k: Int, shingleLen: Int): DataFrame = {
    require(shingleLen == 3, "token-combine construction is fixed at 3-word shingles")
    val withTh = df.withColumn("__th", Portable.tokenHashes(col(textCol)))
    val withHs = withTh
      .withColumn("__hs", Portable.shingleHashesFromTokens(col("__th")))
      .drop("__th")
    minhashFromHashes(withHs, "__hs", k).drop("__hs")
  }

  /** k-member minhash signature over an ALREADY-MATERIALIZED hash-array
    * column (char n-gram hashes, shingle hashes, any set sketched by
    * Jaccard): columns m0..m(k-1) appended. Lets LSH candidate
    * generation sketch exactly the set the verifier measures. */
  def minhashFromHashes(df: DataFrame, hashesCol: String, k: Int): DataFrame = {
    // all k members in one native pass (expressions/MinhashAll) — the
    // composed per-member HOF spelling walks and allocates the hash
    // array k times per row, interpreted; exact same values, so every
    // oracle's list_min(list_transform(...)) spelling stays valid. The
    // m0..m(k-1) column contract is unchanged (bandKeys reads them);
    // __mh is referenced k times, which CollapseProject treats as
    // non-cheap, so the signature computes once per row
    val withAll = df.withColumn("__mh",
      graft.expressions.MinhashAll(col(hashesCol), k))
    val sig = (0 until k).map(i => col("__mh").getItem(i).as(s"m$i"))
    withAll.select(col("*") +: sig: _*).drop("__mh")
  }

  /** Band keys over a minhash signature: bands of `rowsPerBand` hashes,
    * each band hashed to one 60-bit key. Output columns b0..b(nBands-1). */
  def bandKeys(sig: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val nBands = k / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val parts = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"m$i").cast(StringType))
      Portable.pmd5(concat_ws(",", parts: _*)).as(s"b$b")
    }
    sig.select(col("*") +: bands: _*)
  }

  /** LSH candidate pairs: docs sharing at least one band key. The
    * explode turns each doc into `nBands` (bandIdx, bandKey) rows; the
    * self-equi-join on those keys is a normal shuffle join — this is the
    * piece that scales where a cross join cannot. Pairs sharing several
    * bands are deduplicated with `distinct`.
    *
    * @note persists an internal self-joined projection; call
    *   `spark.catalog.clearCache()` after the terminal action (the
    *   graft cache contract for every operator noting this). */
  def lshCandidates(banded: DataFrame, idCol: String, nBands: Int): DataFrame = {
    val exploded = bandExplode(banded, idCol, idCol, nBands)
      // self-joined below: without materialization the whole upstream
      // signature pipeline (shingle + minhash) runs once PER SIDE.
      // persist (not a Rounds.Local cut): lineage is kept, so losing an
      // executor recomputes instead of failing the job, and the blocks
      // are owned by the session cache — `spark.catalog.clearCache()`
      // (or `unpersist`) frees them after the terminal action.
      .persist()
    val l = exploded.as("l")
    val r = exploded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** [[lshCandidates]] with a per-bucket population CAP — the
    * robustness valve for DEGENERATE corpora. A band bucket holding b
    * docs contributes C(b, 2) pairs; on a healthy corpus b stays small
    * (that is the whole LSH bet), but a saturated one (boilerplate
    * floods, near-constant fields, tiny effective alphabets — the
    * measured ARCHITECTURE.md stress case that spilled past 79 GB)
    * grows buckets to corpus size and the join goes quadratic. Rather
    * than dying, this drops every (band, key) bucket whose population
    * exceeds `maxBucket` BEFORE the self-join — a bounded-work
    * guarantee at an explicit recall cost: members of a dropped bucket
    * can still pair through their other (nBands - 1) bands, and a
    * bucket that big is a template cluster the pipeline should route
    * to q104's skew profiler / q215's pre-flight anyway, not pairwise
    * verification. The excluded-bucket count rides the plan as an
    * [[ObservedWarn]] metric (logged by the consuming action — no
    * silent caps, no eager jobs). Default OFF in every oracled query
    * (exact semantics); turn on for unvetted corpora.
    *
    * @note persists an internal self-joined projection (the exploded
    *       band table feeds both the population count and the capped
    *       join); call `spark.catalog.clearCache()` (or unpersist)
    *       after the terminal action — same cache contract as
    *       [[lshCandidates]] / prefixFilterPairs /
    *       simhashHammingPairs. */
  def lshCandidatesCapped(banded: DataFrame, idCol: String, nBands: Int,
      maxBucket: Int): DataFrame = {
    val exploded = bandExplode(banded, idCol, idCol, nBands).persist()
    val keep = ObservedWarn(
      exploded.groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("__pop")),
      "lsh_capped_hot_buckets",
      sum(when(col("__pop") > maxBucket, 1L).otherwise(0L)),
      n => s"lshCandidatesCapped: $n hot (band, key) buckets " +
        s"(population > $maxBucket) excluded from the candidate join — " +
        "members still pair through their other bands")
      .filter(col("__pop") <= maxBucket)
      .select("band", "key")
    val bounded = exploded.join(keep, Seq("band", "key"))
    val l = bounded.as("l")
    val r = bounded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** Cross-table LSH candidates: pairs (left id, right id) sharing at
    * least one band key ACROSS two banded frames — the decontamination
    * shape (training corpus × held-out eval set), where the self-join's
    * `id < id` dedup does not apply. Same scale story as
    * [[lshCandidates]]: an equi-join on (band, key), never a cross
    * product; band the SMALL side (the eval set) and the join
    * broadcasts it for free. */
  def lshCandidatesAcross(bandedL: DataFrame, bandedR: DataFrame,
      idCol: String, nBands: Int): DataFrame =
    bandExplode(bandedL, idCol, "id_l", nBands)
      .join(bandExplode(bandedR, idCol, "id_r", nBands), Seq("band", "key"))
      .select(col("id_l"), col("id_r"))
      .distinct()

  /** One (id, band, key) row per band of each doc — the exploded form a
    * persistent LSH band index stores (and the shared explode behind
    * the self-join and cross-table candidate generators). */
  def bandRows(banded: DataFrame, idCol: String, outId: String,
      nBands: Int): DataFrame = bandExplode(banded, idCol, outId, nBands)

  private[graft] def bandExplode(banded: DataFrame, idCol: String, outId: String,
      nBands: Int): DataFrame = {
    val bandStructs = array((0 until nBands).map(b =>
      struct(lit(b).as("band"), col(s"b$b").as("key"))): _*)
    banded.select(col(idCol).as(outId), explode(bandStructs).as("bk"))
      .select(col(outId), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Prefix-filtering set-similarity join (the ssjoin/PPJoin family):
    * the third candidate-generation paradigm next to key blocking and
    * LSH — and unlike LSH it is EXACT-COMPLETE: every pair with
    * Jaccard >= tNum/tDen is guaranteed a candidate. Each doc's
    * distinct tokens are ordered by ascending global frequency (rare
    * first, the order that minimizes candidates); a pair at threshold
    * t must share a token inside each side's prefix of length
    * |T| - ceil(t|T|) + 1, so candidates come from an equi-join on
    * prefix tokens. The threshold is a RATIONAL (tNum/tDen) so the
    * prefix length is exact integer arithmetic — a float ceil would
    * round differently at representability boundaries.
    *
    * Scale: two token-keyed shuffles (global df, per-doc sort) plus
    * the prefix equi-join; rare-first ordering keeps hot tokens out
    * of prefixes, bounding per-key join fan-out. Output:
    * (id_a, id_b, jaccard) at jaccard >= t.
    *
    * @note persists an internal self-joined projection; call
    *   `spark.catalog.clearCache()` after the terminal action. */
  def prefixFilterPairs(df: DataFrame, textCol: String, idCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    val toks = df.select(col(idCol),
      explode(array_distinct(split(col(textCol), " "))).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val sorted = toks.join(dfreq, "tok")
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("st"))
      .select(col(idCol),
        transform(col("st"), s => s.getField("tok")).as("ts"),
        size(col("st")).as("sz"))
      // prefix length via exact integer ceil: sz - ceil(t*sz) + 1
      .withColumn("plen",
        col("sz") - expr(s"(($tNum * sz + ${tDen - 1}) div $tDen)") + 1)
      // consumed three times (prefix explode + both verification
      // joins): materialize the tokenize/df-join/sort pipeline once
      // (freed by the caller's clearCache)
      .persist()
    val pref = sorted
      .select(col(idCol), explode(slice(col("ts"), lit(1), col("plen"))).as("ptok"))
    val cands = pref.as("l").join(pref.as("r"),
        col("l.ptok") === col("r.ptok") && col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
    val sets = sorted.select(col(idCol), col("ts"))
    cands
      .join(sets.select(col(idCol).as("id_a"), col("ts").as("ts_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("ts").as("ts_b")), "id_b")
      // threshold test in EXACT integers (I*tDen >= tNum*U) — a float
      // jaccard >= t comparison could drop a pair whose exact Jaccard
      // EQUALS the rational threshold, breaking completeness
      .filter(
        size(array_intersect(col("ts_a"), col("ts_b"))) * tDen >=
          (size(col("ts_a")) + size(col("ts_b")) -
            size(array_intersect(col("ts_a"), col("ts_b")))) * tNum)
      .select(col("id_a"), col("id_b"),
        jaccard(col("ts_a"), col("ts_b")).as("jaccard"))
  }

  /** Token-hash array for SimHash (full-width pmd5 over distinct tokens). */
  def simhashTokenHashes(textCol: Column): Column =
    transform(array_distinct(split(textCol, " ")), t => Portable.pmd5(t))

  /** 60-bit SimHash over the doc's distinct tokens — composed-SQL form
    * (60 bit-passes). Kept as the portable reference implementation;
    * [[simhash]] is the production path. */
  def simhashComposed(textCol: Column): Column = {
    val hs = simhashTokenHashes(textCol)
    aggregate(
      transform(sequence(lit(0), lit(59)), j =>
        when(
          aggregate(hs, lit(0L),
            (acc, h) => acc +
              (call_function("shiftright", h, j).bitwiseAND(lit(1L)) * 2 - 1)) > 0,
          call_function("shiftleft", lit(1L), j)).otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc + b)
  }

  /** 60-bit SimHash, production path: native one-pass Catalyst
    * expression ([[graft.expressions.SimHash60]], codegen'd) over the
    * same token hashes — bit-identical to [[simhashComposed]]. Takes the
    * session because Spark 4's Column<->Expression seam is the function
    * registry. */
  def simhash(spark: org.apache.spark.sql.SparkSession, textCol: Column): Column =
    graft.expressions.SimHash60(spark, simhashTokenHashes(textCol))

  /** SimHash Hamming near-duplicate pairs over a signature column
    * (the consumer of [[simhash]]): signatures are pigeonholed into
    * `bands` keys of `bandBits` bits each; pairs within Hamming
    * distance `maxHamming` differ in at most `maxHamming` bands, so
    * with `maxHamming < bands` every qualifying pair shares at least
    * one identical band key — the band equi-join is a PROVABLY
    * complete candidate generator, and it shuffles like any key join
    * (no cross product; 2^bandBits buckets per band bound the
    * per-bucket population as the corpus grows). Verification is one
    * xor + popcount on the pair's signatures, carried through the
    * join — no second lookup. Output: (id_a, id_b, hamming).
    *
    * @note persists an internal self-joined projection; call
    *   `spark.catalog.clearCache()` after the terminal action. */
  def simhashHammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, bands: Int = 4, bandBits: Int = 15): DataFrame = {
    require(maxHamming < bands,
      s"pigeonhole completeness needs maxHamming < bands ($maxHamming >= $bands)")
    val mask = (1L << bandBits) - 1
    val banded = sigs
      .select(col(idCol), col(sigCol).as("__sig"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col(sigCol), b * bandBits).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
      // self-joined: without materialization the upstream signature
      // pipeline runs once per side; persist keeps lineage and is
      // freed by the caller's clearCache/unpersist (see lshCandidates)
      .persist()
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        bit_count(col("l.__sig").bitwiseXOR(col("r.__sig"))).as("hamming"))
      // filter BEFORE distinct: multi-band matches collapse after the
      // cheap popcount gate, shrinking the dedup shuffle
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** ONE pass of sorted-neighborhood candidate generation: rows sort by
    * (`sortCol`, `idCol`) inside `blockCols` blocks and each row pairs
    * with its next `window - 1` sort neighbors via lead windows — cost
    * is exactly (window-1) comparisons per row regardless of key skew
    * (the classic complement to LSH blocking; Hernández & Stolfo's
    * merge/purge). Pairs come back NORMALIZED (id_a < id_b), so passes
    * under different keys union and `distinct` cleanly.
    *
    * A single pass is blind to true pairs whose sort keys land in
    * different blocks (or > window-1 apart) — that is the documented
    * trade. [[snmMultiPassPairs]] runs the standard fix: several passes
    * under ROTATED keys, unioned. */
  def snmPairs(keyed: DataFrame, idCol: String, blockCols: Seq[String],
      sortCol: String, window: Int): DataFrame = {
    require(window >= 2, "sorted-neighborhood needs window >= 2")
    val w = Window.partitionBy(blockCols.map(col): _*)
      .orderBy(col(sortCol), col(idCol))
    val withLeads = keyed.select(col(idCol) +:
      (1 until window).map(k => lead(col(idCol), k).over(w).as(s"__n$k")): _*)
    (1 until window).map(k =>
        withLeads.select(col(idCol).as("__a"), col(s"__n$k").as("__b"))
          .where(col("__b").isNotNull))
      .reduce(_ unionByName _)
      .select(least(col("__a"), col("__b")).as("id_a"),
        greatest(col("__a"), col("__b")).as("id_b"))
  }

  /** MULTI-PASS sorted neighborhood: one [[snmPairs]] pass per (block,
    * sort-key) derivation, unioned and de-duplicated. Each `passes`
    * entry maps the input to a keyed frame exposing (`idCol`,
    * block columns, sort column) — the canonical second pass rotates
    * the key (e.g. pass 1 sorts by a normalized text PREFIX, pass 2 by
    * the REVERSED text, i.e. suffix blocks), so a pair straddling a
    * pass-1 block boundary meets inside a pass-2 block. Scale: each
    * pass is its own window shuffle over (block-key, sortkey, id)
    * triples — never the text — and the union's `distinct` runs over
    * at most passes x (window-1) x n 16-byte pairs. */
  def snmMultiPassPairs(passes: Seq[DataFrame], idCol: String,
      blockCols: Seq[String], sortCol: String, window: Int): DataFrame = {
    require(passes.nonEmpty, "need at least one pass")
    passes.map(snmPairs(_, idCol, blockCols, sortCol, window))
      .reduce(_ unionByName _)
      .distinct()
  }

  /** Exact token-set Jaccard similarity between two array columns
    * (inputs must already be distinct sets). Union size is derived as
    * |A|+|B|-|A∩B| — one hash-set pass per pair instead of also
    * materializing `array_distinct(concat(a,b))`. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      (size(a) + size(b) - size(array_intersect(a, b)))

  /** Hashed variant: n-grams reduced to 31-bit longs via the portable
    * hash. Set intersections then compare longs, not strings — the
    * per-pair verification cost at corpus scale. In-doc hash collisions
    * merge set members deterministically on BOTH engines, so oracle
    * equality holds. */
  def charNgramHashes(text: Column, n: Int): Column =
    // one native byte-walk pass (expressions/CharNgramHashes60) —
    // bit-identical to the composed form below, which allocates one
    // substring per window inside an interpreted HOF. Session-free:
    // the expression rides inside the Column (no temp-function
    // registration), so no dependence on the active session at
    // construction time vs the analyzing session later
    graft.expressions.CharNgramHashes60(text, n)

  /** The portable composed form of [[charNgramHashes]] — what
    * [[charNgramHashesSql]] mirrors and CharNgramSpec checks the
    * native expression against. */
  def charNgramHashesComposed(text: Column, n: Int): Column =
    array_distinct(
      when(length(text) < n, array().cast(ArrayType(LongType)))
        .otherwise(transform(
          sequence(lit(1), length(text) - (n - 1)),
          i => Portable.pmd5(text.substr(i, lit(n))) % Portable.MinhashP)))

  def charNgramHashesSql(textSql: String, n: Int): String =
    s"""list_distinct(CASE WHEN length($textSql) < $n THEN CAST([] AS BIGINT[])
       | ELSE list_transform(generate_series(1, length($textSql) - ${n - 1}),
       |        i -> ${Portable.pmd5Sql(s"substr($textSql, i, $n)")} % ${Portable.MinhashP})
       | END)""".stripMargin.replaceAll("\n", " ")

  /** One large-star round: every node connects its strictly-larger
    * neighbors to the minimum of its closed neighborhood.
    *
    * NO distinct here (r16): [[connectedComponents]] always feeds this
    * output straight into [[smallStar]], whose closing `.distinct()`
    * restores set semantics for the round — both operators are set
    * functions, so duplicate intermediate rows change no result, and
    * the duplication is bounded (output rows <= |sym| = 2|E| with or
    * without the dedup, since each sym row yields at most one edge).
    * Dropping it removes one full edge-list Exchange per contraction
    * round — measured ~15% off the CC harness at sf0.1, and strictly
    * fewer shuffles at any scale. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src"), least(col("src"), col("mn")).as("m"))
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** One small-star round: edges oriented large->small; every node
    * connects its smaller neighbors (and itself) to their minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val mins = oriented.groupBy("src").agg(min(col("dst")).as("m"))
    oriented.join(mins, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .union(mins.select(col("src"), col("m").as("dst")))
      .distinct()
  }

  /** Connected components over a duplicate-pair edge list via
    * alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) to
    * fixpoint. Returns (id, comp) for every node that appears in an
    * edge, comp = the component's minimum id.
    *
    * Scale: each round is two key-partitioned shuffles over the EDGE
    * list (already tiny relative to the corpus — only near-dup pairs)
    * and converges in O(log n) rounds regardless of chain length. No
    * driver-side graph state.
    *
    * Execution harness: each round is one [[Rounds]] step — the
    * round's edge set is materialized by a single aggregate computing
    * (row count, two independently-keyed commutative checksums); the
    * fixpoint test compares those against the previous round. Both
    * sides are distinct sets, and each checksum is a sum of ~30-bit
    * residues (`pmod(xxhash64, prime)`), so one checksum bounds
    * false convergence at ~1e-9 per round and the two independent
    * primes/column-orders jointly at ~1e-18 (~2^-60). The loop holds
    * at most two edge sets and leaves only the final one for the
    * caller (see the public-API note below). The default cut is
    * [[Rounds.Persist]]: lineage is KEPT (a lost executor recomputes
    * through it), unlike [[Rounds.Local]], which would make any block
    * loss fatal on a real cluster, and the plan is truncated at an RDD
    * boundary so plan size stays O(1). The truncation is not free: the
    * `.rdd` round-trip decodes each row to an external `Row` and
    * re-encodes it on every consumption, and the resulting
    * `LogicalRDD` carries default (maximum) size statistics —
    * acceptable here because each round's consumers are key
    * equi-joins that shuffle regardless.
    *
    * For very long chains on unreliable clusters, pass `checkpointDir`:
    * rounds then write reliable checkpoints to that directory
    * ([[Rounds.Reliable]]), bounding recovery cost to one round, at
    * the price of the checkpoint write from cache as a second job per
    * round; the directory holds at most two rounds.
    *
    * Cache contract: the returned frame reads the final round's
    * persisted edge set (or checkpoint files). Free it after the
    * terminal action with `spark.catalog.clearCache()` (the handle is
    * internal); on the checkpoint path, delete `checkpointDir`.
    *
    * @param failOnNonConvergence when true (default), not reaching the
    *   fixpoint within `maxIter` rounds throws `IllegalStateException`
    *   — downstream consumers ([[dropNearDuplicates]]) would silently
    *   under-dedup on unconverged labels. Pass false to accept
    *   best-effort labels (logged as a warning). */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25,
      checkpointDir: Option[String] = None,
      failOnNonConvergence: Boolean = true): DataFrame = {
    val loop = new Rounds(pairs.sparkSession,
      checkpointDir.map(Rounds.Reliable).getOrElse(Rounds.Persist))
    // stats aggregate: row count + two commutative checksums under
    // independent keys (different prime, different column order). Sums
    // of ~2^30 residues stay inside Long under ANSI arithmetic up to
    // ~2^33 rows.
    val statsCols = Seq(
      count(lit(1)),
      coalesce(sum(pmod(xxhash64(col("src"), col("dst")), lit(1000000007L))), lit(0L)),
      coalesce(sum(pmod(xxhash64(col("dst"), col("src")), lit(998244353L))), lit(0L)))

    var cur = loop.next(
      pairs.select(col(idA).as("src"), col(idB).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct(), statsCols: _*)
    var iter = 0
    var done = cur.stats.getLong(0) == 0L
    while (!done && iter < maxIter) {
      val next = loop.next(smallStar(largeStar(cur.frame)), statsCols: _*)
      done = next.stats == cur.stats
      cur = next
      iter += 1
    }
    val edges = cur.frame
    if (!done) {
      if (failOnNonConvergence)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds; " +
            "labels would under-dedup downstream. Raise maxIter or pass " +
            "failOnNonConvergence=false for best-effort labels.")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "returning best-effort components (labels may not be minimal)")
    }
    // converged to stars: every non-root points at its component min
    edges.select(col("src").as("id"), col("dst").as("comp"))
      .union(edges.select(col("dst").as("id"), col("dst").as("comp")))
      .groupBy("id").agg(min(col("comp")).as("comp"))
  }

  /** Maximal repeated-gram runs per document — the ExactSubstr mask
    * (Lee et al. 2021, grams instead of suffixes): positional
    * `gramLen`-word gram hashes that occur more than once ANYWHERE in
    * the corpus, merged into maximal runs of consecutive start
    * positions by the gaps-and-islands window. Returns one row per
    * (doc, run): (idCol, mn, mx) — start positions, 1-based; the run
    * covers tokens [mn, mx + gramLen - 1]. Shared by q78 (the report)
    * and q97 (the cut), so the mask definition cannot drift between
    * them. Grams travel as 8-byte pmd5 hashes; no text shuffles.
    *
    * @note persists the gram projection; freed by the harness's
    *   clearCache-after-terminal-action contract. */
  def repeatedGramRuns(docs: DataFrame, idCol: String, textCol: String,
      gramLen: Int): DataFrame = {
    val g = docs.select(col(idCol),
        posexplode(Portable.wordShingles(col(textCol), gramLen)))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("pos"),
        Portable.pmd5(col("col")).as("gh"))
      .persist()
    val dup = g.groupBy(col("gh")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("gh"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    g.join(dup, "gh")
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).as("mn"), max(col("pos")).as("mx"))
      .select(col(idCol), col("mn"), col("mx"))
  }

  /** Apply the ExactSubstr mask IN PLACE: every token covered by a
    * corpus-duplicated `gramLen`-gram run ([[repeatedGramRuns]]) is
    * removed and `textCol` is rewritten; all other columns pass
    * through. Documents that cut to nothing (fully duplicated) leave
    * the corpus. Untouched documents bypass reassembly entirely — only
    * affected docs pay the token-level exchange (q51's cost class; at
    * corpus scale a co-located join against id-bucketed storage). */
  def cutRepeatedRuns(docs: DataFrame, idCol: String, textCol: String,
      gramLen: Int): DataFrame = {
    val runs = repeatedGramRuns(docs, idCol, textCol, gramLen)
    val covered = runs.select(col(idCol),
      explode(sequence(col("mn"), col("mx") + (gramLen - 1))).as("__pos"))
      .distinct()
    val affected = runs.select(col(idCol)).distinct()
    val untouched = docs.join(affected, Seq(idCol), "left_anti")
    val cut = docs.join(affected, Seq(idCol), "left_semi")
      .select(col(idCol), posexplode(split(col(textCol), " ")))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("__pos"),
        col("col").as("__tk"))
      .join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__pos"), col("__tk")))),
        r => r.getField("__tk")), " ").as("__cut"))
    val rewritten = docs.join(cut, Seq(idCol)) // inner: fully-cut docs drop
      .withColumn(textCol, col("__cut"))
      .select(docs.columns.toIndexedSeq.map(col): _*)
    untouched.unionByName(rewritten)
  }

  /** Representative selection after near-dup clustering: given
    * (id_a, id_b) duplicate edges, keep ONE row (the minimum id) per
    * TRANSITIVE duplicate cluster — a chain A~B~C collapses to A even
    * though A and C share no edge. Rows outside any cluster pass
    * through. Generalizes the reference's one-best-per-key dedup
    * (src/transform.py:109-145) to content clusters. */
  def dropNearDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val nonRoots = connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(nonRoots, Seq(idCol), "left_anti")
  }
}
