package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Portable

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), plus embedding-based near-dup detection.
  *
  * Scale design:
  *  - vectors are cast to double arrays ONCE and the L2 norm is computed
  *    ONCE per vector (an O(n) projection), never per pair — the n^2
  *    stage multiplies two precomputed scalars;
  *  - brute force = broadcast(queries) x corpus — linear in corpus size,
  *    no shuffle of the corpus, window top-k partitioned by query;
  *  - LSH = deterministic random-hyperplane signatures from a plane
  *    matrix precomputed driver-side into array literals; candidate
  *    generation is an equi-join on the signature bucket.
  *
  * Dot products fold left-to-right in doubles (`aggregate`), so scores
  * are bit-reproducible (and match DuckDB's `list_reduce` fold).
  */
object Similarity {

  /** Deterministic left-fold dot product of two DOUBLE-array columns. */
  def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Float array -> double array (do this once, upstream of any join). */
  def toDouble(vec: Column): Column = transform(vec, x => x.cast(DoubleType))

  /** Per-vector projection: id, double vector `v`, precomputed norm
    * `nv`. The only per-pair work left downstream is one dot + divide. */
  private def prep(df: DataFrame, idCol: String, outId: String,
      vecCol: String): DataFrame =
    df.select(col(idCol).as(outId), toDouble(col(vecCol)).as("v"))
      .withColumn("nv", sqrt(dotD(col("v"), col("v"))))

  def cosineFromPrepped(av: Column, an: Column, bv: Column, bn: Column): Column =
    dotD(av, bv) / (an * bn)

  /** Shared ANN tail: rank each query's scored candidates by the
    * unique total order every oracle mirrors — (score desc,
    * neighbor_id asc) — and keep the first k. Callers whose candidate
    * generation can emit a (query, neighbor) pair more than once
    * (bucket/cell overlap) must `.distinct()` BEFORE this. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "score")
  }

  /** One (t, bucket) row per vector per SRP table, buckets from the
    * one-pass native [[graft.expressions.SrpBuckets]]; posexplode's
    * position IS the table index. Shared by the single-probe and
    * multiprobe corpus sides — they must stay byte-identical. */
  private def srpBucketed(df: DataFrame, idCol: String, outId: String,
      vecCol: String, bits: Int, dim: Int, tables: Int): DataFrame =
    prep(df, idCol, outId, vecCol).select(col("*"),
      posexplode(graft.expressions.SrpBuckets(
        df.sparkSession, col("v"), bits, tables, dim)))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "bucket")

  /** Brute-force top-k cosine neighbors for each query vector.
    * `queries` must be small (it is broadcast); corpus is scanned once. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = broadcast(prep(queries, idCol, "query_id", vecCol)
      .withColumnRenamed("v", "qv").withColumnRenamed("nv", "qn"))
    val c = prep(corpus, idCol, "neighbor_id", vecCol)
    rankTopK(q.crossJoin(c)
      .select(col("query_id"), col("neighbor_id"),
        cosineFromPrepped(col("qv"), col("qn"), col("v"), col("nv")).as("score")), k)
  }

  /** Contrastive hard-negative mining: each query's top-`k` most-
    * similar CROSS-label vectors — the gradient-rich negatives an
    * embedding trainer mines (high-cosine, different class). Same
    * shape as [[bruteForceTopK]] (broadcast queries x one corpus
    * scan, label inequality filtered before ranking); at corpus scale
    * swap the scan side for an ANN candidate set ([[lshTopKMultiprobe]]
    * / [[ivfTopK]] with k' > k) and apply the same label filter to its
    * candidates. */
  def hardNegativeTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    def prepL(df: DataFrame, outId: String, outLb: String) =
      df.select(col(idCol).as(outId), col(labelCol).as(outLb),
          toDouble(col(vecCol)).as("v"))
        .withColumn("nv", sqrt(dotD(col("v"), col("v"))))
    val q = broadcast(prepL(queries, "query_id", "query_label")
      .withColumnRenamed("v", "qv").withColumnRenamed("nv", "qn"))
    val c = prepL(corpus, "neighbor_id", "neighbor_label")
    rankTopK(q.crossJoin(c)
      .filter(col("query_label") =!= col("neighbor_label"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromPrepped(col("qv"), col("qn"), col("v"), col("nv")).as("score")), k)
  }

  /** Deterministic pseudo-random hyperplane component: table `t`, plane
    * `j`, dimension `i` (1-based) -> uniform in [-1, 1) derived from the
    * portable hash (reproducible across engines and runs — no RNG
    * state; the DuckDB oracle recomputes the same value from md5). */
  def planeComponent(t: Int, j: Int, i: Int): Double =
    (Portable.pmd5Local(s"p$t:$j,$i") % 2000L - 1000L).toDouble / 1000.0

  /** Sign-random-projection signature over a DOUBLE-array column for
    * table `t`. The plane matrix is precomputed driver-side into array
    * LITERALS ([[Portable.pmd5Local]]), so executors fold plain doubles
    * — no hashing per row, which is what survives a billion-vector
    * corpus. `dim` fixed at plan time (embedding width). */
  def srpSignature(vecD: Column, bits: Int, dim: Int, t: Int): Column = {
    (0 until bits).map { j =>
      val plane = typedLit((1 to dim).map(i => planeComponent(t, j, i)).toSeq)
      val proj = aggregate(sequence(lit(1), lit(dim)), lit(0.0),
        (acc, i) => acc + element_at(vecD, i) * element_at(plane, i))
      when(proj > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Johnson-Lindenstrauss random projection: `dim` -> `outDim` via the
    * same deterministic plan-time plane literals SRP uses (table `t`
    * keys an independent plane set — keep it clear of the SRP/near-dup
    * table ranges). Each output coordinate is one exact ascending-index
    * fold, so the projection is a SCAN-STAGE arithmetic projection —
    * zero shuffle, codegen-friendly — and every double is oracle-
    * mirrorable. The JL use: project once at ingest, then build the
    * ANN index / pair scans on vectors outDim/dim the size; q130
    * audits the cosine distortion that buys. */
  def jlProject(vecD: Column, outDim: Int, dim: Int, t: Int): Column =
    array((0 until outDim).map { j =>
      val plane = typedLit((1 to dim).map(i => planeComponent(t, j, i)).toSeq)
      aggregate(sequence(lit(1), lit(dim)), lit(0.0),
        (acc, i) => acc + element_at(vecD, i) * element_at(plane, i))
    }: _*)

  /** Multi-table SRP-LSH ANN: `tables` independent plane sets, each
    * hashing every vector to a bucket; candidates are the UNION over
    * tables of same-bucket vectors (the standard recall lever — one
    * 8-bit table on a random corpus recalls little beyond self; L
    * tables scan ~L*2^-bits of the corpus and recall grows fast).
    * Candidate generation stays an equi-join on (table, bucket); pairs
    * found in several tables dedupe via distinct before ranking. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, bits: Int, dim: Int, tables: Int = 4): DataFrame = {
    val c = srpBucketed(corpus, idCol, "neighbor_id", vecCol, bits, dim, tables)
    val q = broadcast(
      srpBucketed(queries, idCol, "query_id", vecCol, bits, dim, tables)
        .withColumnRenamed("v", "qv").withColumnRenamed("nv", "qn"))
    rankTopK(q.join(c, Seq("t", "bucket"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromPrepped(col("qv"), col("qn"), col("v"), col("nv")).as("score"))
      .distinct(), k)
  }

  /** Multiprobe SRP-LSH ANN: [[lshTopK]]'s corpus side unchanged (one
    * bucket per table, same (table, bucket) equi-join), but each query
    * probes its own bucket PLUS `probes` buckets reached by flipping
    * the single bit with the smallest |projection margin| — a
    * near-zero margin means true neighbors plausibly landed just
    * across that hyperplane, so those are the buckets worth the extra
    * look (Lv et al.'s multi-probe LSH, re-expressed as a probe-key
    * explode). Probe expansion costs (1+probes) rows per query per
    * table — free at corpus scale where queries << corpus — and lifts
    * recall far faster than adding tables, which each re-hash and
    * re-shuffle the WHOLE corpus: measured recall@5 at 8x5-bit goes
    * 0.63 -> 0.93 with probes=3 (AnnRecallSpec) while corpus-side work
    * is byte-identical to single-probe.
    *
    * Query-side projections are materialized as columns before the
    * margin sort (expression refs inside lambdas re-evaluate their
    * argument — each projection must fold exactly once). */
  def lshTopKMultiprobe(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, bits: Int, dim: Int, tables: Int, probes: Int): DataFrame = {
    val c = srpBucketed(corpus, idCol, "neighbor_id", vecCol, bits, dim, tables)

    var q = prep(queries, idCol, "query_id", vecCol)
      .withColumnRenamed("v", "qv").withColumnRenamed("nv", "qn")
    for (t <- 0 until tables; j <- 0 until bits) {
      val plane = typedLit((1 to dim).map(i => planeComponent(t, j, i)).toSeq)
      q = q.withColumn(s"__p${t}_$j",
        aggregate(sequence(lit(1), lit(dim)), lit(0.0),
          (acc, i) => acc + element_at(col("qv"), i) * element_at(plane, i)))
    }
    val powers = typedLit((0 until bits).map(j => 1L << j).toSeq)
    for (t <- 0 until tables) {
      q = q.withColumn(s"__b$t",
        (0 until bits).map(j =>
          when(col(s"__p${t}_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _))
      // bits ascending by |margin| (ties by bit index, matching the
      // oracle's struct sort); flips are pairwise distinct and never
      // equal the home bucket, so plain concat is duplicate-free
      val margins = slice(
        array_sort(array((0 until bits).map(j =>
          struct(abs(col(s"__p${t}_$j")).as("m"), lit(j).as("j"))): _*)),
        1, probes)
      q = q.withColumn(s"__probes$t",
        concat(array(col(s"__b$t")),
          transform(margins, s =>
            col(s"__b$t").bitwiseXOR(element_at(powers, s.getField("j") + 1)))))
    }
    val probed = q
      .select(col("query_id"), col("qv"), col("qn"),
        posexplode(array((0 until tables).map(t => col(s"__probes$t")): _*)))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "bks")
      .select(col("query_id"), col("qv"), col("qn"), col("t"),
        explode(col("bks")).as("bucket"))

    rankTopK(broadcast(probed).join(c, Seq("t", "bucket"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromPrepped(col("qv"), col("qn"), col("v"), col("nv")).as("score"))
      .distinct(), k)
  }

  /** Deterministic farthest-point (k-means++-style) seeds: cell 0 is
    * the vector with the smallest portable hash of its id (a
    * hash-random but reproducible start), and each subsequent cell is
    * the not-yet-picked vector whose best cosine to the seeds chosen
    * so far is SMALLEST -- the farthest point from the current seed
    * set -- with ties broken by (portable hash, id). The selection is
    * inherently sequential in `k`, so it runs DRIVER-SIDE over a
    * bounded deterministic sample (the standard sample-based
    * k-means++ recipe): one job collects the [[SeedSampleCap]]
    * vectors with the smallest sampling hash (~2 MB at 64-d; at the
    * harness SFs the cap exceeds the corpus, so the sample IS the
    * corpus), then the k argmax rounds are plain Scala whose
    * arithmetic -- left-fold dot, division, max -- is the same IEEE
    * sequence the engines execute, so the DuckDB oracle reproduces
    * the picks bit-for-bit. The in-engine alternative (k tiny Spark
    * jobs with 1-row collects) measured ~2.4 s of pure job-overhead
    * per q44 run at sf0.1.
    *
    * `race = true` is the D^2-flavored variant: instead of the
    * absolute farthest point (which chases outliers), each point's
    * key is `(1 - nearestCosine) * uniformHash(id)` and the MAX key
    * wins -- a deterministic "exponential race" whose hash factor
    * spreads picks across the far field rather than its extreme
    * corners.
    *
    * Returns the picked rows as (cell 0..k-1, id, vector, norm) in
    * selection order. */
  val SeedSampleCap = 4096

  private[operators] def farthestSeeds(prepped: DataFrame, k: Int,
      race: Boolean): Seq[(Long, Long, Seq[Double], Double)] = {
    // sample: the cap-smallest (samplingHash, id) keys -- deterministic
    // under any partitioning; TakeOrderedAndProject, never a full sort
    val sample = prepped
      .withColumn("tb",
        Portable.pmd5(concat(lit("fp:"), col("__tid").cast(StringType))))
      .withColumn("ps",
        Portable.pmd5(concat(lit("fps:"), col("__tid").cast(StringType))))
      .orderBy(col("ps").asc, col("__tid").asc).limit(SeedSampleCap)
      .select("__tid", "v", "nv", "tb").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2), r.getLong(3)))
    require(sample.length >= k,
      s"farthest-point seeding needs >= $k vectors, found ${sample.length}")

    // the same left-fold the engines run: acc = acc + a[i]*b[i]
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Seq[Double], Double)]
    val cents = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Double)]
    val taken = scala.collection.mutable.BitSet.empty
    while (picked.size < k) {
      var best = -1
      var bestNear = 0.0; var bestKey = 0.0
      for (i <- sample.indices if !taken(i)) {
        val (id, v, nv, tb) = sample(i)
        val near =
          if (cents.isEmpty) -1.0
          else cents.iterator.map { case (cv, cn) => dot(v, cv) / (nv * cn) }.max
        if (race) {
          val key = (1.0 - near) * tb.toDouble
          // max key, ties by id asc (same total order the SQL mirror sorts by)
          if (best < 0 || key > bestKey ||
              (key == bestKey && id < sample(best)._1)) {
            best = i; bestKey = key
          }
        } else {
          // min near, ties by (tb asc, id asc)
          if (best < 0 || near < bestNear ||
              (near == bestNear && (tb < sample(best)._4 ||
                (tb == sample(best)._4 && id < sample(best)._1)))) {
            best = i; bestNear = near
          }
        }
      }
      val (id, v, nv, _) = sample(best)
      picked += ((picked.size.toLong, id, v.toSeq, nv))
      cents += ((v, nv))
      taken += best
    }
    picked.toList
  }

  /** Seeding rules for [[trainIvfCentroids]].
    *
    * [[SeedFarthestRace]] (default): hash-race farthest-point — data-
    * adaptive, no id-space contract, and Lloyd rounds never lose
    * recall from it on either spec corpus (AnnRecallSpec pins the
    * measurements: uniform sf0.001 nprobe=3 trained 0.70 >= seed
    * 0.65; clustered 1.00 >= 1.00). [[SeedFarthest]]: pure farthest-
    * point with hash tie-break — same trained >= seed property, but
    * its outlier-chasing seeds start lower (0.55 at nprobe=3).
    * [[SeedFirstK]]: the legacy first-`k`-ids seed (requires ids
    * covering [0, k)), kept as the worst-case baseline the clustered-
    * corpus spec trains its way out of — its higher uniform-corpus
    * recall is an equal-nprobe artifact of LOPSIDED cells scanning a
    * larger corpus fraction, which is exactly what does not survive a
    * billion-vector corpus (bounded cell population is the point of
    * IVF). */
  sealed trait IvfSeed
  case object SeedFirstK extends IvfSeed
  case object SeedFarthest extends IvfSeed
  case object SeedFarthestRace extends IvfSeed

  /** Deterministic seeded k-means for IVF cells: farthest-point seeds
    * (see [[farthestSeeds]]; or the first `k` vectors by id under
    * [[SeedFirstK]]), then `iters` Lloyd rounds under cosine. Two
    * tricks keep it exact and cross-engine reproducible
    * (oracle-checkable in DuckDB):
    *
    *  - the updated "centroid" is the (unnormalized) SUM of the cell's
    *    vectors, not the mean — cosine assignment is scale-invariant,
    *    so sum and mean induce identical cells, and the sum avoids a
    *    division whose operand order could differ;
    *  - the sum folds the cell's vectors in ascending id order
    *    (sort_array over (id, v) structs), so the double additions
    *    associate identically on every engine and run.
    *
    * Each round is one corpus × k broadcast scoring pass plus a k-group
    * aggregation — no driver-side loops over data; only the round count
    * is driver-controlled. At real corpus scale, train on a sample (the
    * standard IVF recipe) and assign the full corpus once with the
    * frozen centroids; the machinery is identical.
    *
    * Contract: `dim` must equal the vector width (`zip_with`
    * null-pads a mismatch into null centroids). Under [[SeedFirstK]]
    * only, `idCol` must additionally cover [0, k) (an id space that
    * skips those values seeds no cells and every query then finds no
    * candidates). */
  def trainIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dim: Int, seed: IvfSeed = SeedFarthestRace): DataFrame = {
    val spark = corpus.sparkSession
    val prepped = prep(corpus, idCol, "__tid", vecCol)
    var cents = seed match {
      case SeedFirstK =>
        prepped.filter(col("__tid") < k)
          .select(col("__tid").as("cell"), col("v").as("cv"), col("nv").as("cn"))
      case SeedFarthest | SeedFarthestRace =>
        import spark.implicits._
        farthestSeeds(prepped, k, race = seed == SeedFarthestRace)
          .map { case (c, _, v, n) => (c, v, n) }.toDF("cell", "cv", "cn")
    }
    val zero = typedLit(Seq.fill(dim)(0.0))
    for (_ <- 0 until iters) {
      val scored = prepped.crossJoin(broadcast(cents))
        .select(col("__tid"), col("v"), col("cell"),
          cosineFromPrepped(col("v"), col("nv"), col("cv"), col("cn")).as("cscore"))
      val w = Window.partitionBy(col("__tid"))
        .orderBy(col("cscore").desc, col("cell").asc)
      val assigned = scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") === 1)
      cents = assigned.groupBy("cell")
        .agg(sort_array(collect_list(struct(col("__tid").as("i"), col("v").as("vv"))))
          .as("sv"))
        .select(col("cell"),
          aggregate(col("sv"), zero,
            (acc, s) => zip_with(acc, s.getField("vv"), (x, y) => x + y)).as("cv"))
        .withColumn("cn", sqrt(dotD(col("cv"), col("cv"))))
    }
    cents
  }

  /** IVF-style ANN: corpus vectors are assigned to their nearest
    * centroid cell once (an O(n * k) projection); each query probes
    * only its `nprobe` nearest cells — candidates come from an equi-join
    * on the cell id, like the SRP variant but with data-adaptive cells.
    *
    * Centroids are trained with [[trainIvfCentroids]] (`trainIters`
    * deterministic Lloyd rounds from the first-`nCells` seed);
    * `trainIters = 0` reproduces the untrained seed cells. */
  /** Each prepped row's `n` nearest centroid cells (cells must carry
    * (cell, cv, cn) and be broadcast-sized). */
  private def nearestCells(prepped: DataFrame, cents: DataFrame,
      outId: String, n: Int): DataFrame = {
    val scored = prepped.crossJoin(broadcast(cents))
      .select(col(outId), col("v"), col("nv"), col("cell"),
        cosineFromPrepped(col("v"), col("nv"), col("cv"), col("cn")).as("cscore"))
    val w = Window.partitionBy(col(outId))
      .orderBy(col("cscore").desc, col("cell").asc)
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") <= n)
  }

  /** Greedy k-center coreset selection with coverage assignment: `k`
    * representatives chosen by pure farthest-point traversal (see
    * [[farthestSeeds]] with `race = false` — each pick is the vector
    * whose best cosine to the picks so far is smallest, hash/id
    * tie-broken), then every corpus vector is assigned to its nearest
    * representative. The k-round selection runs driver-side over the
    * bounded deterministic [[SeedSampleCap]] sample (the sequential
    * dependency is inherent to the greedy); the DISTRIBUTED work is
    * the single corpus x k broadcast assignment pass — one scan, no
    * shuffle wider than (id, cell, score). Returns (cell, center_id,
    * member_id, cscore): per-cell aggregates give coreset coverage
    * (population, worst member cosine), the data-selection diagnostic
    * the facility-location family of curation methods reads. */
  def kcenterCoreset(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val prepped = prep(corpus, idCol, "__tid", vecCol)
    import spark.implicits._
    val seeds = farthestSeeds(prepped, k, race = false)
      .map { case (c, id, v, n) => (c, id, v, n) }
      .toDF("cell", "center_id", "cv", "cn")
    val scored = prepped.crossJoin(broadcast(seeds))
      .select(col("__tid"), col("cell"), col("center_id"),
        cosineFromPrepped(col("v"), col("nv"), col("cv"), col("cn")).as("cscore"))
    val w = Window.partitionBy(col("__tid"))
      .orderBy(col("cscore").desc, col("cell").asc)
    scored.withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(col("cell"), col("center_id"), col("__tid").as("member_id"),
        col("cscore"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication" — public paper):
    * embedding-CLUSTER semantic dedup, the curation step between
    * pairwise near-dup (q32's SRP family) and nothing — paraphrased
    * and templated content that token dedup never links collapses to
    * one representative per semantic neighborhood.
    *
    * Mechanics, exactly as deployed: k-means cells over the
    * embeddings ([[trainIvfCentroids]] — deterministic, oracle-able),
    * every vector assigned to its nearest cell once, then pairwise
    * cosine WITHIN each cell only. A vector is DROPPED iff some
    * same-cell vector with cosine >= `eps` has a strictly better keep
    * priority, where priority follows the paper's keeper choice —
    * LOWEST cosine to the cell centroid first (keep the least
    * prototypical member of a duplicate neighborhood), id ascending
    * on ties. The dominance rule is a single semi-join decision per
    * vector (no iterative connected components), deterministic, and
    * stated identically in the DuckDB oracle.
    *
    * SCALE SHAPE: training is the q44 recipe (sampled farthest-point
    * seeds + Lloyd rounds; at corpus scale train on a sample and
    * assign once with frozen centroids); assignment is one corpus x k
    * broadcast pass; the quadratic stage is CONFINED to cells, and
    * the paper's own recipe keeps cell population bounded by scaling
    * k with the corpus (n/k members per cell on average) — but that
    * is the CALLER's lever, so the bound is also ENFORCED: any cell
    * whose population exceeds `maxCell` is excluded from the pair
    * stage entirely (all its members are KEPT unexamined) and the
    * exclusion is counted through [[ObservedWarn]] — the
    * no-silent-caps rule [[Dedup.lshCandidatesCapped]] follows. A
    * template flood or a degenerate near-constant embedding column
    * that collapses the corpus into one cell therefore costs one
    * warning and a conservative keep-all for that cell, never a
    * silent O(n²) join. The all-pairs corpus join never exists.
    *
    * CACHING CONTRACT: the returned frame embeds a persisted
    * assignment (consumed by both pair-join sides, the occupancy
    * fold and the output join — one train+assign pass total); the
    * cache lives until the session drops it. A periodic caller that
    * must not leak blocks across runs uses [[semDedupReleasable]]
    * and releases after materializing.
    *
    * Returns one row per vector: (idCol, cell, cscore, drop). */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, trainIters: Int, dim: Int, eps: Double,
      maxCell: Long = SemDedupMaxCell,
      seed: IvfSeed = SeedFarthestRace): DataFrame =
    semDedupReleasable(corpus, idCol, vecCol, nCells, trainIters, dim,
      eps, maxCell, seed)._1

  /** Default per-cell occupancy bound for [[semDedup]]'s within-cell
    * pair stage: 4096 members cap the per-cell pair work at ~8M
    * comparisons — one executor-core-minutes-scale unit, not a job
    * killer. Interpolated into the q278 oracle (never hand-copied, the
    * q270-modulus rule). */
  val SemDedupMaxCell: Long = 4096L

  /** [[semDedup]] with the persisted assignment handle exposed:
    * returns (result, release) where release() unpersists the
    * embedded assignment cache once the caller has MATERIALIZED the
    * result — the periodic-job form
    * ([[Maintenance.semDedupCompact]] runs per maintenance cycle and
    * must not accumulate cached blocks for the life of the session). */
  def semDedupReleasable(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, trainIters: Int, dim: Int, eps: Double,
      maxCell: Long = SemDedupMaxCell,
      seed: IvfSeed = SeedFarthestRace): (DataFrame, () => Unit) =
    semDedupWithCentroids(corpus,
      trainIvfCentroids(corpus, idCol, vecCol, nCells, trainIters, dim,
        seed),
      idCol, vecCol, eps, maxCell)

  /** [[semDedup]] against GIVEN frozen centroids — the
    * corpus-generation form: the model is trained once (offline, or by
    * the first streamed batch) and every assignment after that is made
    * against the same cells, so batch and incremental consumers can
    * never disagree about cell membership
    * ([[graft.streaming.SemDedupStream]]'s twin equality states
    * exactly this form over the union of its batches). Same caching
    * contract and occupancy guard as [[semDedupReleasable]]. */
  def semDedupWithCentroids(corpus: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, eps: Double,
      maxCell: Long = SemDedupMaxCell): (DataFrame, () => Unit) = {
    val asg = semDedupAssign(corpus, cents, idCol, vecCol).persist()
    (semDedupFromAsg(asg, idCol, eps, maxCell),
      () => { asg.unpersist(); () })
  }

  /** One (idCol, v, nv, cell, cscore) row per corpus vector against
    * frozen centroids — the assignment row the incremental twin
    * appends to its standing log. */
  def semDedupAssign(corpus: DataFrame, cents: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    nearestCells(prep(corpus, idCol, idCol, vecCol), cents, idCol, 1)
      .select(col(idCol), col("v"), col("nv"), col("cell"), col("cscore"))

  /** The occupancy guard + single-semi-join dominance decision over a
    * (persisted) assignment frame — the shared core of every semDedup
    * form. */
  private[graft] def semDedupFromAsg(asg: DataFrame, idCol: String,
      eps: Double, maxCell: Long): DataFrame = {
    // occupancy guard: the pair stage runs only over cells at or under
    // the bound; over-populated cells keep all members and warn. The
    // surviving-cell frame is <= nCells rows by construction — the
    // same bounded-model-side broadcast the centroid joins make.
    val bounded = asg.join(broadcast(semDedupKeepCells(asg, maxCell)),
      Seq("cell"))
    val other = bounded.select(col(idCol).as("__oid"), col("v").as("__ov"),
      col("nv").as("__on"), col("cell"), col("cscore").as("__ocs"))
    val dropped = bounded.join(other, Seq("cell"))
      .filter(semDedupDominates(idCol, eps))
      .select(col(idCol)).distinct()
    asg.select(col(idCol), col("cell"), col("cscore"))
      .join(dropped.withColumn("__drop", lit(true)), Seq(idCol), "left")
      .withColumn("drop", coalesce(col("__drop"), lit(false)))
      .drop("__drop")
  }

  /** Cells at or under the occupancy bound, exclusion observed-warned
    * — shared by the batch forms and the incremental twin so the
    * guard semantics cannot drift. */
  private[graft] def semDedupKeepCells(asg: DataFrame,
      maxCell: Long): DataFrame =
    ObservedWarn(
      asg.groupBy(col("cell")).agg(count(lit(1)).as("__pop")),
      "semdedup_hot_cells",
      sum(when(col("__pop") > maxCell, 1L).otherwise(0L)),
      n => s"semDedup: $n cell(s) above the $maxCell-member occupancy " +
        "bound excluded from the within-cell pair stage — their " +
        "members are all KEPT unexamined; raise nCells (the paper " +
        "scales k with the corpus) or maxCell")
      .filter(col("__pop") <= maxCell)
      .select("cell")

  /** The dominance predicate over a (row, __o*-renamed row) pair —
    * ONE statement of the paper's keeper choice shared by every
    * consumer: same cell (joined upstream), cosine >= eps, and the
    * other side strictly better (lower centroid cosine, id-ascending
    * tie-break). */
  private[graft] def semDedupDominates(idCol: String, eps: Double): Column =
    (col(idCol) =!= col("__oid")) &&
      (cosineFromPrepped(col("v"), col("nv"), col("__ov"), col("__on"))
        >= eps) &&
      (col("__ocs") < col("cscore") ||
        (col("__ocs") === col("cscore") && col("__oid") < col(idCol)))

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCells: Int, nProbe: Int, trainIters: Int = 2, dim: Int = 64,
      seed: IvfSeed = SeedFarthestRace): DataFrame = {
    val cents = trainIvfCentroids(corpus, idCol, vecCol, nCells, trainIters, dim, seed)

    val assigned = nearestCells(prep(corpus, idCol, "neighbor_id", vecCol),
        cents, "neighbor_id", 1)
      .select(col("neighbor_id"), col("v"), col("nv"), col("cell"))
    val probes = broadcast(
      nearestCells(prep(queries, idCol, "query_id", vecCol), cents,
        "query_id", nProbe)
      .select(col("query_id"), col("v").as("qv"), col("nv").as("qn"), col("cell")))

    rankTopK(probes.join(assigned, Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromPrepped(col("qv"), col("qn"), col("v"), col("nv")).as("score"))
      // a neighbor can sit in several probed cells -> dedup before rank
      .distinct(), k)
  }

  /** Persist an IVF index: a tiny centroid table plus the corpus
    * assignment table BUCKETED on `cell` — the build-once side of the
    * billion-vector serving story. Building is one train pass plus one
    * assignment scan; after that every probe batch joins the
    * assignments IN PLACE (bucketed scan, no corpus-side exchange) for
    * the life of the index. The centroid table is the frozen model:
    * assignments are derived from the WRITTEN table, so rebuild and
    * probe can never disagree about cells. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, trainIters: Int, dim: Int,
      centTable: String, assignTable: String, nBuckets: Int = 8,
      seed: IvfSeed = SeedFarthestRace): Unit = {
    val spark = corpus.sparkSession
    trainIvfCentroids(corpus, idCol, vecCol, nCells, trainIters, dim, seed)
      .write.mode("overwrite").saveAsTable(centTable)
    assignToFrozenCells(spark, centTable, corpus, idCol, vecCol, gen = 0L)
      .write.bucketBy(nBuckets, "cell").sortBy("cell")
      .mode("overwrite").saveAsTable(assignTable)
  }

  /** Cell assignments for `batch` against the FROZEN centroid table —
    * the shared projection behind build, append and rebuild. Reads ONLY
    * the batch and the (tiny) centroid table; `gen` tags which write
    * generation the rows belong to (0 = trained-on rows, >0 =
    * post-training appends) so [[ivfIndexStaleness]] can report drift
    * without any side channel. */
  def assignToFrozenCells(spark: SparkSession, centTable: String,
      batch: DataFrame, idCol: String, vecCol: String, gen: Long): DataFrame =
    nearestCells(prep(batch, idCol, "neighbor_id", vecCol),
        spark.table(centTable), "neighbor_id", 1)
      .select(col("neighbor_id"), col("v"), col("nv"), col("cell"),
        lit(gen).as("gen"))

  /** INCREMENTAL index maintenance: append a batch of new vectors to a
    * persisted IVF index without retraining and — critically — without
    * rescanning the existing corpus (the round-7 gap: the only way to
    * admit new docs was a full rebuild). The batch is assigned to the
    * FROZEN centroids (so append and probe can never disagree about
    * cells) and appended to the bucketed assignment table — Spark
    * writes the new rows as additional per-bucket files under the SAME
    * bucket spec, so the probe-side property (assignment scan joins in
    * place, only probes exchange) is preserved; IvfIndexSpec pins both.
    *
    * `gen` is the caller's batch generation (e.g. a streaming batch id
    * or ingest epoch), REQUIRED rather than looked up so the append
    * job's only reads are the batch itself and the centroid table —
    * a max(gen) lookup would rescan a column of the whole index per
    * append.
    *
    * What appends can NOT do is adapt the centroids: as appended mass
    * grows, cell populations skew away from what training balanced —
    * monitor [[ivfIndexStaleness]] and retrain (full [[buildIvfIndex]])
    * past a threshold; per-batch file growth is the same story as any
    * streamed table and routes to Maintenance.compactTable. */
  def appendIvfIndex(spark: SparkSession, centTable: String,
      assignTable: String, batch: DataFrame, idCol: String, vecCol: String,
      gen: Long, nBuckets: Int = 8): Unit = {
    require(gen > 0, "append generations start at 1 (0 = the trained build)")
    assignToFrozenCells(spark, centTable, batch, idCol, vecCol, gen)
      .write.bucketBy(nBuckets, "cell").sortBy("cell")
      .mode("append").saveAsTable(assignTable)
  }

  /** Frozen-centroid REBUILD of the assignment table: one assignment
    * pass over the full corpus against the existing centroid table
    * (gen resets to 0). This is what an append sequence must converge
    * to — IvfIndexSpec asserts probe(build + N appends) ==
    * probe(rebuild over the union corpus) — and the cheap half of
    * index hygiene (no k-means iterations; retraining centroids is
    * [[buildIvfIndex]]). */
  def rebuildIvfAssignments(spark: SparkSession, centTable: String,
      assignTable: String, corpus: DataFrame, idCol: String, vecCol: String,
      nBuckets: Int = 8): Unit =
    assignToFrozenCells(spark, centTable, corpus, idCol, vecCol, gen = 0L)
      .write.bucketBy(nBuckets, "cell").sortBy("cell")
      .mode("overwrite").saveAsTable(assignTable)

  /** Compact a persisted IVF assignment table: every streamed append
    * ([[appendIvfIndex]] / [[graft.streaming.AnnIndexStream]]) adds one
    * file per bucket per batch, so a long-running stream accretes
    * files the same way any streamed sink does — batches x buckets
    * files, unbounded in time. This rewrites the table under the SAME
    * bucket spec in one pass: the post-compaction file count is
    * bounded by writerTasks x nBuckets regardless of how many batches
    * ever appended (each writer task emits at most one file per bucket
    * it holds; `writerTasks = 1` guarantees one file per NON-EMPTY
    * bucket — the spec-pinned floor — at the cost of a single-task
    * write, the right trade for indexes up to a few GB; size
    * writerTasks to the index beyond that). Rows (including gen tags) are untouched and
    * probe plans identical — bucketed scans do not care how many files
    * realize a bucket, only that the table's bucket spec holds.
    *
    * Run BETWEEN stream runs (the stream's replay guard reads the
    * table per batch). The drop→rename swap has the standard crash
    * window; recovery is the `_compact_tmp` table holding the complete
    * compacted copy — rename it manually or rerun. Returns the
    * post-compaction file count. */
  def compactIvfIndex(spark: SparkSession, assignTable: String,
      nBuckets: Int = 8, writerTasks: Int = 1): Long =
    compactBucketedTable(spark, assignTable, nBuckets, Seq("cell"), writerTasks)

  /** The generic form of [[compactIvfIndex]]: one-pass rewrite of ANY
    * bucketed index table under its own bucket spec ([[buildSrpIndex]]
    * tables bucket on (t, bucket)). Same bounds, swap and recovery
    * story as the IVF variant. `graft.*` table properties (the SRP
    * signing stamp) are read BEFORE the rewrite and re-stamped onto
    * the compacted table — the DROP/RENAME would otherwise lose them
    * on catalogs that don't move properties with the table, and
    * [[probeSrpIndex]]/[[appendSrpIndex]] refuse to touch an
    * unstamped table (a lost stamp fails loud, not wrong). */
  def compactBucketedTable(spark: SparkSession, table: String,
      nBuckets: Int, bucketCols: Seq[String], writerTasks: Int = 1): Long = {
    val stamps = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filter(_._1.startsWith("graft."))
    val tmp = table + "_compact_tmp"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    spark.table(table)
      .repartition(writerTasks, bucketCols.map(col): _*)
      .write.bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode("overwrite").saveAsTable(tmp)
    if (stamps.nonEmpty) {
      // stamp the COMPLETE copy before the swap: if the crash window
      // hits between DROP and RENAME, the recovery table already
      // carries its signing parameters
      val kv = stamps.map { case (k, v) => s"'$k'='$v'" }.mkString(",")
      spark.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES($kv)")
    }
    val n = spark.table(tmp).inputFiles.length.toLong
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    n
  }

  /** Persist an SRP-LSH ANN index: the corpus's (t, bucket)-signed rows
    * as a table BUCKETED on the probe join key, the hash-family
    * counterpart of [[buildIvfIndex]] — and the half of the index
    * story that needs NO training: the hyperplanes are a pure
    * deterministic function of (bits, tables, dim) (see
    * [[planeComponent]]), so an appended batch signs itself with
    * exactly the planes the original build used. Appends therefore can
    * NEVER go stale — there is no model to drift from, no staleness
    * metric, no retrain trigger; the trade against IVF is the usual
    * LSH one (recall comes from tables/probes rather than learned cell
    * boundaries).
    *
    * The signing parameters are stamped as table properties and
    * validated on probe/append, so a mismatched caller fails loud
    * instead of silently joining foreign bucket spaces. */
  def buildSrpIndex(corpus: DataFrame, idCol: String, vecCol: String,
      bits: Int, dim: Int, tables: Int, assignTable: String,
      nBuckets: Int = 8): Unit = {
    val spark = corpus.sparkSession
    srpBucketed(corpus, idCol, "neighbor_id", vecCol, bits, dim, tables)
      .select(col("neighbor_id"), col("v"), col("nv"), col("t"), col("bucket"))
      .write.bucketBy(nBuckets, "t", "bucket").sortBy("t", "bucket")
      .mode("overwrite").saveAsTable(assignTable)
    spark.sql(s"ALTER TABLE $assignTable SET TBLPROPERTIES(" +
      s"'graft.srp.bits'='$bits','graft.srp.dim'='$dim'," +
      s"'graft.srp.tables'='$tables')")
  }

  private def requireSrpParams(spark: SparkSession, assignTable: String,
      bits: Int, dim: Int, tables: Int): Unit = {
    val props = spark.sql(s"SHOW TBLPROPERTIES $assignTable").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    for ((key, got) <- Seq("graft.srp.bits" -> bits, "graft.srp.dim" -> dim,
        "graft.srp.tables" -> tables)) {
      props.get(key) match {
        case Some(stored) => require(stored == got.toString,
          s"$assignTable was signed with $key=$stored, caller passed $got — " +
            "mismatched SRP parameters join foreign bucket spaces")
        // a MISSING stamp fails as loud as a mismatched one: the
        // documented way to lose one is compactBucketedTable's
        // DROP/RENAME (TBLPROPERTIES don't survive it), after which a
        // silent pass would let any bits/dim/tables combination probe
        // or append into this bucket space unchecked
        case None => sys.error(
          s"$assignTable has no $key stamp — re-stamp (ALTER TABLE ... SET " +
            "TBLPROPERTIES) with the original signing parameters after " +
            "compaction before probing or appending")
      }
    }
  }

  /** Append new vectors to a [[buildSrpIndex]] table. No training, no
    * generations, no staleness — the planes are deterministic, so
    * append-then-probe is IDENTICAL to rebuild-then-probe
    * (SrpIndexSpec pins bit-equality). Exactly-once under replay is
    * the caller's contract exactly as with [[appendIvfIndex]]'s gen
    * guard — here an id-based anti-join against the batch's own ids
    * if the source can replay. */
  def appendSrpIndex(spark: SparkSession, assignTable: String,
      batch: DataFrame, idCol: String, vecCol: String,
      bits: Int, dim: Int, tables: Int, nBuckets: Int = 8): Unit = {
    requireSrpParams(spark, assignTable, bits, dim, tables)
    srpBucketed(batch, idCol, "neighbor_id", vecCol, bits, dim, tables)
      .select(col("neighbor_id"), col("v"), col("nv"), col("t"), col("bucket"))
      .write.bucketBy(nBuckets, "t", "bucket").sortBy("t", "bucket")
      .mode("append").saveAsTable(assignTable)
  }

  /** Probe a [[buildSrpIndex]] index: queries sign themselves with the
    * same deterministic planes and equi-join the bucketed table on
    * (t, bucket) — in place, like [[probeIvfIndex]]'s batch path. */
  def probeSrpIndex(spark: SparkSession, assignTable: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      bits: Int, dim: Int, tables: Int,
      broadcastProbes: Boolean = true): DataFrame = {
    requireSrpParams(spark, assignTable, bits, dim, tables)
    val q0 = srpBucketed(queries, idCol, "query_id", vecCol, bits, dim, tables)
      .withColumnRenamed("v", "qv").withColumnRenamed("nv", "qn")
    val q = if (broadcastProbes) broadcast(q0) else q0.hint("shuffle_merge")
    rankTopK(q.join(spark.table(assignTable), Seq("t", "bucket"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromPrepped(col("qv"), col("qn"), col("v"), col("nv")).as("score"))
      .distinct(), k)
  }

  /** The [[srpCosineMatchesAcross]] read against a STANDING SRP index
    * table ([[buildSrpIndex]] + [[appendSrpIndex]]) — the INCREMENTAL
    * semantic-decontamination gate: training embeddings land in the
    * index as they arrive (each append proportional to its batch) and
    * any eval set is scored against everything-so-far without
    * re-reading training vectors, the embedding twin of
    * DedupIndexStream.candidatesAcross. Same arithmetic as the batch
    * form (bucket equi-join candidates, distinct pairs, exact cosine,
    * threshold, zero-match evals kept), so append-then-read equals
    * rebuild-then-read bit-for-bit (the planes are deterministic;
    * SrpIndexDeconSpec pins it).
    *
    * Query ids must be UNIQUE (the eval-set contract shared with
    * [[srpCosineMatchesAcross]]): on duplicate ids the two forms
    * diverge — the batch verify join re-joins the duplicated prepped
    * frame (multiplying n_matches by the duplicate count) while this
    * form's inline-cosine `distinct` collapses identical duplicates —
    * so the keep-zero-match base here deduplicates ids to keep one
    * output row per eval id rather than silently duplicating. */
  def srpIndexMatchesAcross(spark: SparkSession, assignTable: String,
      queries: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bits: Int, dim: Int, tables: Int,
      broadcastProbes: Boolean = true): DataFrame = {
    requireSrpParams(spark, assignTable, bits, dim, tables)
    val qp0 = srpBucketed(queries, idCol, "__qid", vecCol, bits, dim, tables)
      .withColumnRenamed("v", "qv").withColumnRenamed("nv", "qn")
    val qp = if (broadcastProbes) broadcast(qp0) else qp0.hint("shuffle_merge")
    val matches = qp.join(spark.table(assignTable), Seq("t", "bucket"))
      .select(col("__qid"), col("neighbor_id"),
        cosineFromPrepped(col("qv"), col("qn"), col("v"), col("nv"))
          .as("cos"))
      .distinct() // a pair can collide in several tables
      .filter(col("cos") >= threshold)
      .groupBy(col("__qid"))
      .agg(count(lit(1)).as("n_matches"), max(col("cos")).as("max_cos"))
    queries.select(col(idCol)).distinct()
      .join(matches.withColumnRenamed("__qid", idCol), Seq(idCol), "left")
      .select(col(idCol).as("eval_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("max_cos"))
  }

  /** Staleness of a persisted IVF index: how much of it was appended
    * AFTER the centroids froze. One aggregate over the assignment
    * table's two narrow columns; all-integer output (basis points, the
    * registry convention). Retrain when staleness_bp crosses the
    * deployment's drift budget — appended vectors still probe exactly,
    * but they were not seen by k-means, so cell balance (and with it
    * nProbe recall-per-cost) degrades as the appended share grows. */
  def ivfIndexStaleness(spark: SparkSession, assignTable: String): DataFrame =
    spark.table(assignTable)
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("gen") > 0, 1L).otherwise(0L)).as("n_appended"),
        max(col("gen")).as("latest_gen"))
      .select(col("n_total"), col("n_appended"), col("latest_gen"),
        when(col("n_total") > 0, expr("n_appended * 10000 div n_total"))
          .as("staleness_bp"))

  /** Probe a [[buildIvfIndex]] index. `broadcastProbes = true` is the
    * interactive path (a handful of queries ships to every assignment
    * bucket); `false` is the offline-batch path — a shuffle-merge join
    * where ONLY the probe side exchanges, because the assignment table
    * is bucketed on the join key (ScaleSpec proves the plan shape). */
  def probeIvfIndex(spark: SparkSession, centTable: String,
      assignTable: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int,
      broadcastProbes: Boolean = true): DataFrame = {
    val probes0 = nearestCells(prep(queries, idCol, "query_id", vecCol),
        spark.table(centTable), "query_id", nProbe)
      .select(col("query_id"), col("v").as("qv"), col("nv").as("qn"), col("cell"))
    val probes =
      if (broadcastProbes) broadcast(probes0) else probes0.hint("shuffle_merge")
    rankTopK(probes.join(spark.table(assignTable), Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        cosineFromPrepped(col("qv"), col("qn"), col("v"), col("nv")).as("score"))
      .distinct(), k)
  }

  /** Embedding near-duplicate pairs via SRP-LSH candidate generation:
    * pairs sharing at least one (table, bucket) across `tables`
    * independent `bits`-bit sign-random-projection signatures, then
    * EXACT cosine verification at `threshold`.
    *
    * This is the scale path that block-key blocking is not: a
    * low-cardinality block makes in-block pair work grow O(n^2) with
    * the corpus, while here the bucket count is 2^bits per table — set
    * bits ~ log2(n / B) and the expected bucket population B, and with
    * it the per-bucket pair work, stays constant as the corpus grows.
    * Recall is tuned independently with `tables` (candidates are the
    * union over tables). Candidate generation is an equi-join on
    * (table, bucket); vectors and norms are fetched by id equi-join
    * only for surviving pairs (no broadcast hint — AQE picks one when
    * a side is small).
    *
    * @note persists the internal (v, norm) projection; call
    *   `spark.catalog.clearCache()` after the terminal action. */
  def srpCosinePairs(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bits: Int, dim: Int, tables: Int): DataFrame = {
    val session = df.sparkSession
    // feeds the bucket join (slim) and the verify-phase joins: one
    // materialization. persist keeps lineage (recomputable on executor
    // loss) and registers with the session cache, so callers free it
    // with `clearCache()`/`unpersist` after their terminal action.
    val prepped = prep(df, idCol, idCol, vecCol).persist()
    val slim = prepped.select(col(idCol),
      posexplode(graft.expressions.SrpBuckets(session, col("v"), bits, tables, dim)))
      .select(col(idCol), col("pos").as("t"), col("col").as("bucket"))
    val cands = slim.as("l").join(slim.as("r"),
        col("l.t") === col("r.t") && col("l.bucket") === col("r.bucket") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
    cands
      .join(prepped.select(col(idCol).as("id_a"),
        col("v").as("va"), col("nv").as("na")), "id_a")
      .join(prepped.select(col(idCol).as("id_b"),
        col("v").as("vb"), col("nv").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        cosineFromPrepped(col("va"), col("na"), col("vb"), col("nb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Cross-table SEMANTIC decontamination read: for every query
    * (eval-set) vector, the count of corpus (training) vectors with
    * cosine >= `threshold`, plus the maximum matching cosine —
    * zero-match queries kept with (0, null). The embedding-space
    * complement of the exact/token-hash/bloom decon family
    * (q260/q264/q266, q58/q71, q126): a paraphrased leak never matches
    * a substring probe but still lands next to its source in embedding
    * space.
    *
    * Candidates come from the same multi-table SRP-LSH bucket
    * equi-join as [[srpCosinePairs]], CROSS-table: the corpus side is
    * bucketed once (per-bucket population bounded by `bits`, the
    * corpus-growth lever), the eval side is benchmark-sized and
    * BROADCASTS — training vectors never shuffle. Exact cosine
    * verifies survivors; recall is the stated `tables`-table LSH
    * recall, same as every SRP consumer (the oracle states the SAME
    * candidate generation, so the gate checks the decomposition, not
    * a recall claim).
    *
    * @param broadcastProbes eval side broadcasts into the bucket and
    *       verify joins (the benchmark-sized default); pass false for
    *       a large eval corpus — the joins then shuffle-merge, exactly
    *       as [[probeSrpIndex]] offers (an explicit broadcast() is
    *       never demoted by Spark)
    * @note persists both prepped projections (each feeds the bucket
    *       join AND the verify join); call `spark.catalog.clearCache()`
    *       after the terminal action — the [[srpCosinePairs]] cache
    *       contract. Eval ids must be unique (the contract shared
    *       with [[srpIndexMatchesAcross]], where the divergence on
    *       duplicates is spelled out). */
  def srpCosineMatchesAcross(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      bits: Int, dim: Int, tables: Int,
      broadcastProbes: Boolean = true): DataFrame = {
    val session = corpus.sparkSession
    def probeSide(df: DataFrame): DataFrame =
      if (broadcastProbes) broadcast(df) else df.hint("shuffle_merge")
    val cp = prep(corpus, idCol, "__cid", vecCol).persist()
    val qp = prep(queries, idCol, "__qid", vecCol).persist()
    def slim(p: DataFrame, id: String) = p.select(col(id),
      posexplode(graft.expressions.SrpBuckets(session, col("v"), bits, tables, dim)))
      .select(col(id), col("pos").as("t"), col("col").as("bucket"))
    val cands = slim(cp, "__cid")
      .join(probeSide(slim(qp, "__qid")), Seq("t", "bucket"))
      .select(col("__qid"), col("__cid"))
      .distinct()
    val matches = cands
      .join(cp.select(col("__cid"), col("v").as("cv"), col("nv").as("cn")),
        "__cid")
      .join(probeSide(qp.select(col("__qid"), col("v").as("qv"),
        col("nv").as("qn"))), "__qid")
      .select(col("__qid"),
        cosineFromPrepped(col("qv"), col("qn"), col("cv"), col("cn"))
          .as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("__qid"))
      .agg(count(lit(1)).as("n_matches"), max(col("cos")).as("max_cos"))
    qp.select(col("__qid").as(idCol))
      .join(matches.withColumnRenamed("__qid", idCol), Seq(idCol), "left")
      .select(col(idCol).as("eval_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("max_cos"))
  }

  /** Int8 scalar quantization of an embedding column — the storage
    * path for billion-vector corpora (4x smaller than float32, ~1%
    * cosine error at these scales). Per vector: symmetric scale =
    * max|x| / 127, codes floor(x / scale) in [-128, 127] — when the
    * scale rounds below the exact quotient, the most-negative element
    * floors to -128, so codes fill the full int8 range like classic
    * symmetric quantizers. floor, not round: IEEE floor is
    * bit-identical on every engine while round-half modes differ, so
    * the operator stays oracle-checkable (and the half-code bias is
    * irrelevant next to quantization noise). Returns (id, scale,
    * code-checksum, reconstruction MSE) — a pure per-row projection,
    * no shuffle. */
  def int8Quantize(df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame = {
    val prepped = df.select(col(idCol), toDouble(col(vecCol)).as("v"))
      .withColumn("__m", aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))))
      .withColumn("scale", col("__m") / 127)
    def code(i: Column): Column =
      when(col("scale") === 0, lit(0L))
        .otherwise(floor(element_at(col("v"), i) / col("scale")))
    prepped.select(
      col(idCol),
      col("scale"),
      aggregate(sequence(lit(1), lit(dim)), lit(0L),
        (acc, i) => acc + code(i) * i).as("code_checksum"),
      (aggregate(sequence(lit(1), lit(dim)), lit(0.0),
        (acc, i) => acc +
          (element_at(col("v"), i) - code(i) * col("scale")) *
          (element_at(col("v"), i) - code(i) * col("scale"))) / dim).as("mse"))
  }

  /** Deterministic left-fold squared-L2 distance of two DOUBLE arrays. */
  def l2D(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  /** Top principal direction of the embedding corpus by deterministic
    * power iteration — the spectral datasheet stat (is the corpus
    * effectively low-rank? is one direction eating the variance the
    * encoder should spread?) and the whitening/SemDeDup precursor.
    *
    * Exactness strategy, in two halves:
    *  - The CORPUS-SIZED half is integer-only: vectors int8-quantize
    *    per-vector (q57's max-abs scale — each vector enters normalized
    *    by its own magnitude, so this is the direction structure, not a
    *    norm-weighted blend), and the dim x dim second-moment matrix
    *    A_ij = sum_v c_i*c_j accumulates as BIGINT sums that commute
    *    under ANY partitioning. One map-side-combined agg on a dim^2
    *    key space; the explode costs CPU at the scan but ships at most
    *    dim^2 rows per partition. (At ~1e12 vectors the BIGINT entries
    *    would near 2^63 — route the sum through DECIMAL(38,0) then,
    *    exactly as q93 does for its cross products.)
    *  - The ITERATION half runs on the fixed dim x dim matrix B = A/n:
    *    matvec folds each row in ascending-j order, the norm folds
    *    squares in ascending-i order, and /, sqrt are IEEE
    *    correctly-rounded on every engine — so the whole trajectory,
    *    not just the fixpoint, is bit-reproducible (no convergence
    *    tolerance, a FIXED `iters` count).
    *
    * v0 = all-ones / sqrt(dim); sign of the result is pinned by the
    * iteration itself (both engines compute the identical trajectory),
    * so no sign convention is needed. Returns one row per dimension:
    * (dim_i, loading, eigval, var_share), eigval the Rayleigh quotient
    * v'Bv and var_share = eigval / trace(B) — the fraction of
    * (quantized) variance the top direction carries. */
  def principalComponent(corpus: DataFrame, vecCol: String, dim: Int,
      iters: Int): DataFrame =
    principalComponents(corpus, vecCol, dim, iters, 1).drop("component")

  /** Top-`nComponents` eigenpairs by power iteration with Hotelling
    * deflation: after each recovered pair (v, lambda), the working
    * matrix becomes B' = B - lambda * v v^T (entrywise
    * `b_ij - eigval * v_i * v_j`, the same left-associated product
    * chain on both engines), and the next iteration runs on B'.
    * `var_share` stays relative to the ORIGINAL trace, so component
    * shares sum toward the explained fraction of total variance.
    * Output adds a leading `component` column (0 = dominant).
    *
    * Execution split (the q44 seed-selection precedent): the
    * corpus-sized half — int8 codes and the BIGINT second-moment
    * matrix — is one distributed map-side-combined aggregation; the
    * fixed dim x dim eigensolve then runs DRIVER-side, because a
    * 64 x 64 matrix is planner-scale metadata at any corpus size and
    * engine-side iteration pays ~2 shuffle stages per round for
    * nothing (measured 12-41 s of pure stage latency at sf0.1 vs
    * milliseconds driver-side). JVM doubles are the same IEEE-754
    * values DuckDB computes: every fold below is an explicit
    * ascending-index loop, `+`/`*`/`/`/sqrt are correctly rounded on
    * both, and no Math.fma is ever used — so the driver trajectory is
    * bit-identical to the oracle's list_reduce chains. */
  def principalComponents(corpus: DataFrame, vecCol: String, dim: Int,
      iters: Int, nComponents: Int): DataFrame = {
    val codes = corpus
      .select(toDouble(col(vecCol)).as("v"))
      .withColumn("scale",
        aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127)
      .select(transform(col("v"), x =>
        when(col("scale") === 0, lit(0L))
          .otherwise(floor(x / col("scale")).cast(LongType))).as("c"))
    // A is symmetric: accumulate only j >= i (dim*(dim+1)/2 entries)
    // and mirror the strict upper triangle — the mirrored integers
    // are the SAME sums, so exactness is untouched. The triangle is
    // ONE in-place array aggregation ([[graft.functions.Aggregators
    // .TriangleMomentSum]]): per row a tight dim*(dim+1)/2
    // multiply-add loop over a long[] buffer, instead of the r16
    // shape's two generators exploding that many ROWS per vector
    // into a hash aggregation (guide codegen/expressions; r17:
    // q127 1.8 -> 0.6 s, q129 1.5 -> 0.5 s at sf0.1, plan loses
    // both Generate nodes). Entry sums commute under any
    // partitioning, so the result is bit-identical.
    val triSum = udaf(
      new graft.functions.Aggregators.TriangleMomentSum(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
    // ONE driver read: dim*(dim+1)/2 integer entries + the count in a
    // single row — the same bounded-metadata class as a manifest or a
    // BPE argmax
    val momentFrame = codes
      .agg(triSum(col("c")).as("tri"), count(lit(1)).as("n"))
    val head = momentFrame.head()
    val tri = head.getAs[scala.collection.Seq[Long]]("tri")
    val n = head.getAs[Long]("n").toDouble
    val b = Array.ofDim[Double](dim, dim)
    var idx = 0
    for (i <- 0 until dim; j <- i until dim) {
      val v = tri(idx).toDouble / n
      b(i)(j) = v
      b(j)(i) = v
      idx += 1
    }
    // ascending-index left folds, mirroring list_reduce exactly
    def matvec(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += m(i)(j) * v(j); j += 1 }
        acc
      }
    def iterate(m: Array[Array[Double]]): (Array[Double], Double) = {
      var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      for (_ <- 0 until iters) {
        val w = matvec(m, v)
        var ss = 0.0
        var i = 0
        while (i < dim) { ss += w(i) * w(i); i += 1 }
        val nrm = math.sqrt(ss)
        v = w.map(_ / nrm)
      }
      val w = matvec(m, v)
      var lam = 0.0
      var i = 0
      while (i < dim) { lam += w(i) * v(i); i += 1 }
      (v, lam)
    }
    var trace = 0.0
    for (i <- 0 until dim) trace += b(i)(i)
    var m = b
    val rows = (0 until nComponents).flatMap { c =>
      val (v, lam) = iterate(m)
      if (c < nComponents - 1)
        m = Array.tabulate(dim, dim)((i, j) => m(i)(j) - lam * v(i) * v(j))
      (0 until dim).map(i => (c.toLong, i.toLong, v(i), lam, lam / trace))
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    rows.toDF("component", "dim_i", "loading", "eigval", "var_share")
  }

  /** Product-quantization ANN with asymmetric distance (ADC) — the
    * compressed-domain companion to [[ivfTopK]]: the vector splits into
    * `m` contiguous subspaces, each quantized against its own
    * `ksub`-codeword codebook, so a corpus vector becomes an m-byte
    * code (4 bytes here vs 256 raw — the FAISS IVFADC storage recipe).
    * A query never decodes: it builds an (m x ksub) lookup table of
    * exact subvector-to-codeword distances once, and every corpus
    * vector's approximate distance is m table lookups summed in fixed
    * subspace order. At 100 TB the scan side reads ONLY the code
    * table (the raw corpus is touched once, at encode time), the LUT
    * is queries x m x ksub rows broadcast, and training runs on a
    * bounded sample exactly like IVF's.
    *
    * Everything is cross-engine exact: hash-race seeds (smallest
    * portable-hash `ksub` vectors), Lloyd rounds with ascending-id
    * ordered sums and a single sum/count division per component, L2
    * folds in ascending dimension order, and the final sum written as
    * the literal d0+d1+...+d(m-1) chain. Ties in codeword distance
    * break toward the lower cell id on both engines. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int, ksub: Int, dim: Int,
      lloydIters: Int = 1, rerankPool: Int = 0): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subd = dim / m
    val prepped = pqNormed(prep(corpus, idCol, "__pid", vecCol), "__pid").persist()
    val corpusSubs = pqSubRows(prepped, "__pid", m, subd).persist()
    val cb = pqTrainCodebook(prepped, corpusSubs, m, ksub, subd, lloydIters)
    val codes = pqWideCodes(corpusSubs, cb, m)
    val lutMaps = pqLutMaps(queries, idCol, vecCol, cb, m, ksub, subd)
    // full-corpus ADC: every code row scores against every query's LUT
    val scored = codes.crossJoin(lutMaps)
    pqShortlistRerank(scored, corpus, queries, idCol, vecCol,
      k, m, ksub, rerankPool)
  }

  // ---- product-quantization internals (pqTopK / ivfPqTopK) ----

  /** (id, sub, sv): the `m` contiguous `subd`-wide subvectors of `v`. */
  private def pqSubRows(df: DataFrame, outId: String, m: Int, subd: Int): DataFrame =
    df.select(col(outId), posexplode(array(
      (0 until m).map(i => slice(col("v"), i * subd + 1, subd)): _*)))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "sv")

  /** Normalize a prepped frame to the unit sphere FIRST: for unit
    * vectors ||a-b||^2 = 2 - 2cos(a,b), so the L2 order PQ
    * approximates IS the cosine order the exact baseline ranks by
    * (without this, a norm-varying corpus makes ADC chase magnitude,
    * not angle). Requires nonzero vectors (a zero norm divides to NaN). */
  private def pqNormed(df: DataFrame, outId: String): DataFrame =
    df.select(col(outId), transform(col("v"), x => x / col("nv")).as("v"))

  /** Nearest codeword per (id, sub) against a broadcast codebook.
    * Argmin as min(struct(d, cell, sv)): (d, cell) is unique within a
    * group, so the struct order IS the (distance asc, cell asc)
    * tiebreak the oracle's row_number mirrors — but as a map-side-
    * combinable agg instead of a full-width window shuffle + sort. */
  private def pqEncode(subs: DataFrame, codebook: DataFrame, outId: String): DataFrame =
    subs.join(broadcast(codebook), Seq("sub"))
      .groupBy(col(outId), col("sub"))
      .agg(min(struct(l2D(col("sv"), col("cw")).as("d"),
        col("cell").as("cell"), col("sv").as("sv"))).as("m"))
      .select(col(outId), col("sub"), col("m.sv").as("sv"),
        col("m.cell").as("cell"))

  /** Hash-race seed codebook (the ksub smallest sampling keys, cell =
    * rank; the rank window partitions by `__pid % 1` — always 0 — so
    * the already-LIMIT-bounded frame gets an explicit single-bucket
    * spec, see Tables.boundedRank) plus `lloydIters` mean-update
    * rounds under L2 (ordered sum, one division per component —
    * sum/count order identical on both engines). */
  private def pqTrainCodebook(prepped: DataFrame, corpusSubs: DataFrame,
      m: Int, ksub: Int, subd: Int, lloydIters: Int): DataFrame = {
    val seedIds = prepped
      .orderBy(Portable.pmd5(concat(lit("pq:"), col("__pid").cast("string"))).asc,
        col("__pid").asc)
      .limit(ksub)
      .withColumn("cell", row_number().over(
        Window.partitionBy(col("__pid") % 1)
          .orderBy(Portable.pmd5(concat(lit("pq:"), col("__pid").cast("string"))).asc,
            col("__pid").asc)) - 1)
      .select(col("__pid"), col("cell").cast(LongType).as("cell"))
    var cb = pqSubRows(prepped.join(broadcast(seedIds), "__pid"), "cell", m, subd)
      .select(col("cell"), col("sub"), col("sv").as("cw"))
    val zero = typedLit(Seq.fill(subd)(0.0))
    for (_ <- 0 until lloydIters) {
      cb = pqEncode(corpusSubs, cb, "__pid")
        .groupBy(col("sub"), col("cell"))
        .agg(
          sort_array(collect_list(struct(col("__pid").as("i"), col("sv").as("vv"))))
            .as("svs"),
          count(lit(1)).as("n"))
        .select(col("sub"), col("cell"),
          transform(
            aggregate(col("svs"), zero,
              (acc, s) => zip_with(acc, s.getField("vv"), (x, y) => x + y)),
            x => x / col("n")).as("cw"))
    }
    cb
  }

  /** Corpus -> m-byte codes, one wide (neighbor_id, c0..c{m-1}) row
    * per vector. */
  private def pqWideCodes(corpusSubs: DataFrame, cb: DataFrame, m: Int): DataFrame =
    pqEncode(
      corpusSubs.withColumnRenamed("__pid", "neighbor_id"), cb, "neighbor_id")
      .groupBy(col("neighbor_id"))
      .agg(
        max(when(col("sub") === 0, col("cell"))).as("c0"),
        (1 until m).map(i =>
          max(when(col("sub") === i, col("cell"))).as(s"c$i")): _*)

  /** Per-query LUT of exact subvector-to-codeword distances, folded to
    * ONE flat (sub*ksub + cell) -> d map per query, so the ADC scan is
    * a single broadcast join + m map lookups per code row, not m
    * sequential joins (measured 5.2 s -> ~2 s at sf0.1 — local
    * stage-scheduling overhead, but also 16x fewer build sides on a
    * real cluster). */
  private def pqLutMaps(queries: DataFrame, idCol: String, vecCol: String,
      cb: DataFrame, m: Int, ksub: Int, subd: Int): DataFrame = {
    val lut = pqSubRows(
      pqNormed(prep(queries, idCol, "query_id", vecCol), "query_id"),
      "query_id", m, subd)
      .join(broadcast(cb), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cell"),
        l2D(col("sv"), col("cw")).as("d"))
    broadcast(lut
      .groupBy(col("query_id"))
      .agg(map_from_entries(collect_list(struct(
        (col("sub") * ksub + col("cell")).cast(IntegerType).as("k"),
        col("d")))).as("lm")))
  }

  /** ADC ranking + FAISS-style refine over a (c0..c{m-1}, lm) scored
    * frame: lookup order d0 + d1 + ... + d(m-1) is the same
    * left-associated chain the oracle's m-way join sums. With
    * `rerankPool <= 0` the raw ADC order IS the answer; otherwise the
    * ADC scan shortlists `rerankPool` candidates per query from codes
    * alone and only those few vectors are re-read for an exact cosine
    * re-rank — PQ quantization caps shortlist quality, never final
    * ranking quality (within-cell ties — a whole near-dup cluster
    * collapsing to one code — are resolved here, not by code distance). */
  private def pqShortlistRerank(scored: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, ksub: Int, rerankPool: Int): DataFrame = {
    val adist = (0 until m).map(i =>
      element_at(col("lm"), (lit(i * ksub) + col(s"c$i")).cast(IntegerType)))
      .reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    val adcRanked = scored
      .select(col("query_id"), col("neighbor_id"), adist.as("adist"))
      .withColumn("rank", row_number().over(w))
    if (rerankPool <= 0)
      adcRanked.filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("adist"))
    else {
      val pool = adcRanked.filter(col("rank") <= rerankPool)
        .select(col("query_id"), col("neighbor_id"))
      val c = prep(corpus, idCol, "neighbor_id", vecCol)
      val qp = broadcast(prep(queries, idCol, "query_id", vecCol)
        .withColumnRenamed("v", "qv").withColumnRenamed("nv", "qn"))
      rankTopK(c.join(broadcast(pool), Seq("neighbor_id"))
        .join(qp, Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          cosineFromPrepped(col("qv"), col("qn"), col("v"), col("nv")).as("score")), k)
    }
  }

  /** IVF-PQ composed ANN — the production billion-vector serving
    * architecture (FAISS's IVF + ADC recipe, non-residual variant):
    * [[trainIvfCentroids]]'s coarse quantizer prunes the CANDIDATE SET
    * (each query scores only vectors assigned to its `nProbe` nearest
    * cells — the q44 equi-join, ~nProbe/nCells of the corpus), while
    * PQ compresses the SCORING (candidates rank by m-byte codes
    * against the query's LUT, then the shortlist re-reads raw vectors
    * for the exact top-k). The two quantizers are independent: coarse
    * cells train under cosine on raw vectors exactly as q44's IVF,
    * codebooks under L2 on the unit sphere exactly as q125's PQ, so
    * each half is bit-identical to its standalone operator and the
    * oracle reuses both CTE trees verbatim.
    *
    * At 100 TB this is the ANN configuration that actually ships: the
    * scan reads the (cell, code) table — 16x smaller than raw — AND
    * only nProbe/nCells of it survives the probe equi-join; raw
    * vectors are fetched by id only for the per-query shortlist.
    * Codes here are PQ codes of the FULL vector, not the cell
    * residual: residual encoding buys accuracy when cells are much
    * tighter than the sphere (thousands of cells), and would couple
    * the codebook to the coarse assignment — at the harness's 16
    * cells the coupling costs more than it buys (AnnRecallSpec pins
    * measured recall vs the exact baseline). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCells: Int, nProbe: Int, m: Int, ksub: Int,
      dim: Int, trainIters: Int = 2, lloydIters: Int = 1,
      rerankPool: Int = 50): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val subd = dim / m
    // coarse quantizer: cells under cosine on RAW vectors (q44's)
    val cents = trainIvfCentroids(corpus, idCol, vecCol, nCells, trainIters, dim)
    val assigned = nearestCells(prep(corpus, idCol, "neighbor_id", vecCol),
        cents, "neighbor_id", 1)
      .select(col("neighbor_id"), col("cell"))
    val probes = nearestCells(prep(queries, idCol, "query_id", vecCol),
        cents, "query_id", nProbe)
      .select(col("query_id"), col("cell"))
    // PQ codes: codebooks under L2 on the UNIT SPHERE (q125's)
    val prepped = pqNormed(prep(corpus, idCol, "__pid", vecCol), "__pid").persist()
    val corpusSubs = pqSubRows(prepped, "__pid", m, subd).persist()
    val cb = pqTrainCodebook(prepped, corpusSubs, m, ksub, subd, lloydIters)
    val codes = pqWideCodes(corpusSubs, cb, m)
    val lutMaps = pqLutMaps(queries, idCol, vecCol, cb, m, ksub, subd)
    // candidates = cell equi-join (a vector can sit in several probed
    // cells only via several probes of ONE query -> distinct)
    val cand = broadcast(probes).join(assigned, Seq("cell"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    val scored = cand.join(codes, Seq("neighbor_id")).join(lutMaps, Seq("query_id"))
    pqShortlistRerank(scored, corpus, queries, idCol, vecCol,
      k, m, ksub, rerankPool)
  }

  /** Embedding near-duplicate pairs within equal-`blockCol` groups:
    * pairs (a<b) with cosine >= threshold. Equi-join on the block key —
    * no cross product; norms precomputed per vector, not per pair.
    * NOTE: only scale-safe when the block key's cardinality grows with
    * the corpus (per-block population bounded); for low-cardinality
    * blocks use [[srpCosinePairs]].
    *
    * @note persists the internal (v, norm) projection; call
    *   `spark.catalog.clearCache()` after the terminal action. */
  def blockedCosinePairs(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val s = df.select(col(idCol), col(blockCol), toDouble(col(vecCol)).as("v"))
      .withColumn("nv", sqrt(dotD(col("v"), col("v"))))
      // self-joined: materialize or the cast+norm projection runs per
      // side; persist keeps lineage and is freed by clearCache/unpersist
      .persist()
    val l = s.as("l")
    val r = s.as("r")
    l.join(r, col(s"l.$blockCol") === col(s"r.$blockCol") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$blockCol").as("block"),
        col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        cosineFromPrepped(col("l.v"), col("l.nv"), col("r.v"), col("r.nv")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** k-NN majority-vote classification: each query vector's label is
    * predicted from its `k` nearest corpus neighbors by cosine —
    * the non-parametric classifier every embedding space gets for
    * free (label propagation onto unlabeled points, label-noise
    * auditing when the queries DO have labels).
    *
    * Scale design: the neighbor search is [[bruteForceTopK]]'s
    * broadcast-queries x one-corpus-scan (swap in [[lshTopKMultiprobe]]
    * or [[ivfTopK]] candidates at corpus scale — the vote is agnostic
    * to where the top-k came from). The vote itself runs entirely on
    * the queries x k result — never corpus-sized: labels join onto
    * that tiny frame keyed by neighbor id (the optimizer broadcasts
    * the k-row side), and the argmax label per query is a window over
    * a <= k-row partition. Ties break (votes desc, label asc) so the
    * prediction is deterministic on every engine.
    *
    * Output: (query_id, true_label, predicted_label, votes). */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val topk = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val nbrLabels = corpus
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("nlabel"))
    val votes = topk.join(nbrLabels, "neighbor_id")
      .groupBy(col("query_id"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val pred = votes
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("votes").desc, col("nlabel"))))
      .filter(col("rk") === 1)
    pred.join(
        broadcast(queries.select(col(idCol).as("query_id"),
          col(labelCol).as("true_label"))),
        "query_id")
      .select(col("query_id"), col("true_label"),
        col("nlabel").as("predicted_label"), col("votes"))
  }
}
