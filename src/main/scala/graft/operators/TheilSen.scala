package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Theil–Sen slope estimator — the MEDIAN of all pairwise slopes
  * (y_j - y_i)/(x_j - x_i) per group — computed WITHOUT ever
  * materializing a pair on the engine side.
  *
  * The statistic is integerized first: each pair's slope contributes
  * its floor at milli scale, `slope_milli = (1000 * dy) div dx`
  * (floor, x_i < x_j so dx > 0), and the estimator is the lower
  * median of that integer multiset — well-defined on both engines
  * with no rational ordering and no truncating division anywhere in
  * THIS implementation (the oracle, which does divide, adds a
  * positive offset so its floor `//` agrees for negative dy; the
  * interval seeding below uses the same offset trick for the same
  * reason).
  *
  * The selection runs by PARAMETRIC SEARCH: for a probe t,
  *
  *   slope_milli <= t  <=>  1000*dy <= (t+1)*dx - 1
  *                     <=>  z_j < z_i  where  z = 1000*y - (t+1)*x
  *
  * so `count(slope <= t)` is the number of INVERSIONS of z against
  * x-order — counted distributed by the q253 bucket decomposition
  * (cross-bucket pairs fold into the (bx, bz) cell table; only
  * intra-bucket pairs compare exact values) — and the median is
  * pinned by a branching binary search over t: P probes per round
  * shrink every group's candidate interval (P+1)x. Each round is
  * ONE distributed count job for ALL groups at once; the per-group
  * search state (g, k, lo, hi) stays a DataFrame — nothing per-group
  * ever lands on the driver — and is cut per round by [[Rounds]]
  * (the [[Rounds.Local]] cut Coverage and SuffixArray use). Pairs with
  * x_i = x_j have no slope and are excluded from both the count and
  * the median index.
  *
  * SKEW SHAPE (the part fixed widths got wrong): x-buckets are
  * OCCUPANCY-AWARE equi-depth ids from [[Buckets.equiDepth]] — light
  * buckets hold < 2*xTargetOcc rows by construction and heavily-tied
  * x values sit alone in singleton buckets that the intra-bucket
  * join SKIPS outright (their pairs all tie on x and contribute
  * nothing), so a 10^5-row group with 3 distinct x costs three cell
  * rows, not 10^10 joined pairs. On the z side, rows collapse to
  * WEIGHTED distinct (x, z) combos before any self-join — ties in
  * (x, y) (the common telemetry shape) shrink the joined frames to
  * the distinct support and contribute via cnt products.
  *
  * ROUND FLOOR: the search interval is seeded per group from the
  * ADJACENT-value slope envelope, not the full +/-2^21 range. For
  * i < k < j and any c_k, (a_j - b_i)/(x_j - x_i) is a mediant of
  * (c_k - b_i)/(x_k - x_i) and (a_j - c_k)/(x_j - x_k), so every
  * pairwise slope lies within [min, max] over ADJACENT distinct-x
  * neighbors of (1000*(ymin_next - ymax))/dx resp.
  * (1000*(ymax_next - ymin))/dx — one window over the distinct-x
  * frame bounds the whole search. A near-linear group converges in
  * 1-2 rounds instead of the fixed ~6 the full range needs.
  *
  * SCALE SHAPE: per round, the corpus projection is touched once
  * (persisted across rounds), the cell-pair join is bounded by the
  * distinct (bx, bz) support, and intra-bucket joins by equi-depth
  * occupancy — the naive O(n^2) pair frame (which the DuckDB oracle
  * states, proving the search exact) never exists. Magnitudes:
  * z ~ 1000*y + 2^21*x must fit a BIGINT — any real feature scale
  * does.
  */
object TheilSen {

  /** Milli-slope search range: answers lie in [-2^21, 2^21). The
    * oracle's offset M must dominate 1000*|dy|, so |dy| < 2^21/1000
    * per pair — documented, generous for the harness features. */
  val MaxAbsMilli: Long = 1L << 21

  /** Probes per search round: each round splits every open interval
    * (P+1)x (see the round-width comment in [[slopeMilli]]). */
  private val ProbesPerRound = 63

  /** Count, per (group, probe), the pairs with x_i < x_j and
    * z_j < z_i — the q253 three-class bucket decomposition over
    * WEIGHTED distinct combos. `zb` needs (g, pid, x, z, bx, xlight,
    * bz, zlight, cnt), one row per distinct (g, pid, x, z).
    *
    * The three classes are spelled as ONE self-join (r17, guide
    * §2.4/§3): each class's condition has the same shape
    * `u_1 < u_2 && v_2 < v_1` under a class-specific (u, v) reading
    * and a class-specific equality key, so the three frames union
    * into one tagged frame `uni` keyed (g, pid, cls, sub) and join
    * once — classes cannot cross-match (cls differs) and within a
    * class the key equals the original join key exactly:
    *
    *   cls 0  cross-bucket cells   sub = 0    u = bx  v = bz
    *   cls 1  intra-x-bucket rows  sub = bx   u = x   v = z
    *   cls 2  intra-z-bucket rows  sub = bz   u = bx  v = z
    *
    * Only LIGHT buckets enter cls 1/2 (heavy buckets are singleton-
    * valued — every intra-bucket pair ties on that dimension and is
    * excluded by definition), so the two-sided occupancy bound is
    * untouched: per (g, pid, cls, sub) key the matching set is
    * identical to the unfused spelling's, bounded by < 2*targetOcc
    * rows for cls 1/2 and by the (bx, bz) cell support for cls 0.
    * vs the unfused three self-joins + union + re-aggregation this
    * is ONE join Exchange pair + one final aggregation per probe
    * round instead of three join Exchange pairs and four aggregation
    * Exchanges — measured (with the zb checkpoint fix in slopeMilli)
    * 73 -> 46 stages, 2026 -> 1162 tasks, 12.1 -> 7.5 s warm on q254
    * at sf0.1, identical output (oracle re-green). The round plan
    * shrinks from 10 SortMergeJoins + 15 Window occurrences to 3
    * SortMergeJoins + 0 (plans/r17/q254_theilsen_round_*.txt). */
  private def inversions(zb: DataFrame): DataFrame = {
    val cells = zb.groupBy(col("g"), col("pid"), col("bx"), col("bz"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("g"), col("pid"), lit(0L).as("cls"), lit(0L).as("sub"),
        col("bx").as("u"), col("bz").as("v"), col("cnt"))
    val lights = zb.filter(col("xlight"))
      .select(col("g"), col("pid"), lit(1L).as("cls"), col("bx").as("sub"),
        col("x").as("u"), col("z").as("v"), col("cnt"))
    val zlights = zb.filter(col("zlight"))
      .select(col("g"), col("pid"), lit(2L).as("cls"), col("bz").as("sub"),
        col("bx").as("u"), col("z").as("v"), col("cnt"))
    val uni = cells.unionByName(lights).unionByName(zlights)
    uni.as("p1")
      .join(uni.as("p2"), col("p1.g") === col("p2.g")
        && col("p1.pid") === col("p2.pid")
        && col("p1.cls") === col("p2.cls")
        && col("p1.sub") === col("p2.sub"))
      .filter(col("p1.u") < col("p2.u") && col("p2.v") < col("p1.v"))
      .groupBy(col("p1.g").as("g"), col("p1.pid").as("pid"))
      .agg(sum(col("p1.cnt") * col("p2.cnt")).as("cnt"))
  }

  /** Lower-median pairwise milli-slope per group:
    * (g, n_pairs, theilsen_milli). Groups with no sloped pair (fewer
    * than two distinct x) are absent. `xTargetOcc`/`zTargetOcc` set
    * the equi-depth bucket occupancies in the two dimensions — any
    * positive values are correct (the spec runs degenerate settings);
    * they trade cross-bucket folding against intra-bucket exact
    * work. With BOTH dimensions equi-depth, no value distribution can
    * make either intra-bucket class quadratic: light buckets hold
    * < 2*occ rows by construction, heavy values sit in singleton
    * buckets whose pairs tie and are skipped. */
  def slopeMilli(df: DataFrame, g: String, xCol: String, yCol: String,
      xTargetOcc: Long = 64L, zTargetOcc: Long = 64L): DataFrame = {
    require(xTargetOcc > 0 && zTargetOcc > 0)
    val rows = df
      .select(col(g).as("g"), col(xCol).cast(LongType).as("x"),
        col(yCol).cast(LongType).as("y"))
    val xb = Buckets.equiDepth(rows.select(col("g"), col("x")), Seq("g"),
        "x", xTargetOcc)
      .withColumnRenamed("bkt", "bx").withColumnRenamed("light", "xlight")
    // referenced every search round — persist once, release at end
    val b = rows.join(xb, Seq("g", "x")).persist()

    // median index k = (np + 1) div 2 over the x-distinct pairs
    val xt = b.groupBy(col("g"), col("x")).agg(count(lit(1)).as("t"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    val np = xt.groupBy(col("g"))
      .agg(sum(col("t")).as("n"), sum(expr("t * (t - 1) div 2")).as("tx"))
      .select(col("g"), (expr("n * (n - 1) div 2") - col("tx")).as("np"))
      .filter(col("np") > 0)
    // adjacent-slope envelope. The bounds need TRUE floor division
    // even when outliers push 1000*dy past the +/-2^21 oracle-offset
    // range (the search itself tolerates such slopes as long as the
    // MEDIAN is in range), so floor is spelled exactly from div/%:
    // for dx > 0, floor(a/dx) = a div dx - (1 if a % dx < 0 else 0).
    def floorDiv(a: String, b: String): String =
      s"($a) div ($b) - (CASE WHEN ($a) % ($b) < 0 THEN 1 ELSE 0 END)"
    val ow = Window.partitionBy(col("g")).orderBy(col("x"))
    val seed = xt
      .withColumn("xn", lead(col("x"), 1).over(ow))
      .withColumn("yminn", lead(col("ymin"), 1).over(ow))
      .withColumn("ymaxn", lead(col("ymax"), 1).over(ow))
      .filter(col("xn").isNotNull)
      .select(col("g"),
        expr(floorDiv("1000 * (yminn - ymax)", "xn - x")).as("loAdj"),
        expr(floorDiv("1000 * (ymaxn - ymin)", "xn - x")).as("hiAdj"))
      .groupBy(col("g"))
      // clamp to the documented answer range: envelope and range both
      // contain the median, so their intersection does too
      .agg(greatest(min(col("loAdj")), lit(-MaxAbsMilli)).as("lo"),
        least(max(col("hiAdj")), lit(MaxAbsMilli)).as("hi"))
    // two cut streams: the per-group search state, whose materialize
    // job also reads the widest open interval (the loop's exit test),
    // and the per-round zb frame below
    val searchLoop = new Rounds(df.sparkSession, Rounds.Local)
    val zbLoop = new Rounds(df.sparkSession, Rounds.Local)
    val maxSpan = coalesce(max(col("hi") - col("lo")), lit(0L))
    var search = searchLoop.next(np.join(seed, Seq("g"))
      .select(col("g"), col("np"), expr("(np + 1) div 2").as("k"),
        col("lo"), col("hi")), maxSpan)

    // collapse pays one extra shuffle per round to shrink the joined
    // frames to the distinct (x, y) support — adaptive: measured once
    // up front (two cheap jobs over the cached projection) and skipped
    // when ties would shrink the frame by less than 10% (the collapse
    // + cache overhead measured ~+30% on a tie-free corpus; the tied
    // corpus it exists for shrinks orders of magnitude)
    val tieStats = b.agg(count(lit(1)),
      countDistinct(col("g"), col("x"), col("y"))).head() // one job, not two
    val (nRows, nCombos) = (tieStats.getLong(0), tieStats.getLong(1))
    val collapse = nCombos * 10L <= nRows * 9L

    while (search.stats.getLong(0) > 0) {
      // P probes split every open interval (P+1)x; closed groups carry
      // their answer through untouched. P trades per-round frame width
      // (n x P rows) against round count (log_{P+1}(span)): at bench
      // scale rounds are dominated by fixed per-round overhead, so P
      // rose 15 -> 63 in r12 (20.1 s -> 12.1 s). r16 swept P in
      // {63, 127, 255, 511}: by then the per-round frames' shuffle +
      // window sort grow with P as fast as the round count falls
      // (10.0 / 10.6 / 14.3 / 10.8 s warm, i.e. flat within host
      // noise), so P stays 63 (any P yields the identical median — the
      // search is exact).
      // Duplicate probes (hi - lo < P makes the integer split collide)
      // are dropped per-row with array_distinct INSIDE the transform —
      // search holds ONE row per group, so within-row distinct is
      // global distinct, without the Exchange a frame-level
      // .distinct() paid here before r16.
      val split = ProbesPerRound + 1
      val probes = search.frame.filter(col("lo") < col("hi"))
        .select(col("g"),
          explode(expr(
            s"array_distinct(transform(sequence(1, $ProbesPerRound)," +
              s" i -> lo + (hi - lo) * i div $split))"))
            .as("t"))
        .select(col("g"), col("t"))
      // ties in (x, y) collapse BEFORE any self-join: the frames below
      // carry one weighted row per distinct (g, probe, x, z). The
      // frame feeds every class of the fused self-join (six references
      // across the two sides) and its lineage holds shuffles (the
      // collapse and/or the z-bucket window) — materialize it ONCE per
      // round. The Local cut, NOT persist (r17): the frame's lineage
      // contains the probes explode over the checkpointed search
      // state, and DeduplicateRelations' newInstance() on that
      // LogicalRDD makes the re-aliased references (every union branch
      // after the first, and the whole self-join right side) fail the
      // CacheManager's canonical match — measured: 5 of 6 references
      // recomputed the z-window pipeline from `b` instead of reading
      // the persisted frame (plans/r17/q254_theilsen_round_*.txt). A
      // checkpoint needs no cache lookup: every re-aliased instance
      // scans the SAME materialized RDD. Each zb is freed once the
      // next round's zb is in; the last one when the search ends.
      val zb0 = b.join(broadcast(probes.withColumnRenamed("t", "__t")
          .withColumn("pid", col("__t"))), "g")
        .select(col("g"), col("pid"), col("x"),
          (lit(1000L) * col("y") - (col("pid") + 1L) * col("x")).as("z"),
          col("bx"), col("xlight"))
      val zb1 =
        if (collapse)
          zb0.groupBy(col("g"), col("pid"), col("x"), col("z"), col("bx"),
              col("xlight"))
            .agg(count(lit(1)).as("cnt"))
        else zb0.withColumn("cnt", lit(1L))
      // z-buckets are OCCUPANCY-AWARE too — z depends on the probe, so
      // they are re-derived per round. A fixed width here was the
      // symmetric skew hazard: near-linear data CONCENTRATES z around
      // the answer as probes converge, piling the whole group into one
      // slab and sending the intra-z-bucket join quadratic. The
      // equi-depth ids come from ONE window pass with RANGE frames
      // (ties share a frame exactly, so equal z always share a
      // bucket): cumulative mass of strictly-smaller z + this value's
      // tie mass give the same ids [[Buckets.equiDepth]] would — a
      // groupBy + window + join spelling measured 3 extra stages per
      // round (~2.5x wall) for identical output.
      val wz = Window.partitionBy(col("g"), col("pid")).orderBy(col("z"))
      val zb = zbLoop.next(zb1
        .withColumn("__czb", coalesce(sum(col("cnt")).over(
          wz.rangeBetween(Window.unboundedPreceding, -1L)), lit(0L)))
        .withColumn("__tzm", sum(col("cnt")).over(wz.rangeBetween(0L, 0L)))
        .withColumn("bz", lit(2L) * expr(s"__czb div ${zTargetOcc}L")
          + when(col("__tzm") >= zTargetOcc, 1L).otherwise(0L))
        .withColumn("zlight", col("__tzm") < zTargetOcc)
        .drop("__czb", "__tzm")).frame
      // A probe below every pair's slope has ZERO inversions and so
      // no row in the class counts at all — left-join back onto the
      // probe grid and coalesce, or such probes would vanish from the
      // min/max update and an interval whose probes all sit below the
      // answer would never move again (the infinite loop the first
      // cut of this search had on an exact-line corpus).
      val counts = probes.withColumnRenamed("t", "pid")
        .join(inversions(zb), Seq("g", "pid"), "left")
        .select(col("g"), col("pid"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
      // cnt(t) is monotone in t: the new interval is
      //   hi' = min probe with cnt >= k,  lo' = max probe with cnt < k, +1
      val next = search.frame.join(
          counts.withColumnRenamed("pid", "t"), Seq("g"), "left")
        .groupBy(col("g"), col("np"), col("k"), col("lo"), col("hi"))
        .agg(
          min(when(col("cnt") >= col("k"), col("t"))).as("hi_c"),
          max(when(col("cnt") < col("k"), col("t") + 1)).as("lo_c"))
        .select(col("g"), col("np"), col("k"),
          greatest(col("lo"), coalesce(col("lo_c"), col("lo"))).as("lo"),
          least(col("hi"), coalesce(col("hi_c"), col("hi"))).as("hi"))
      search = searchLoop.next(next, maxSpan)
    }
    zbLoop.close()
    val out = search.frame.select(col("g"), col("np").as("n_pairs"),
      col("lo").as("theilsen_milli"))
    b.unpersist()
    out
  }
}
