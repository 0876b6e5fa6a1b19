package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Statistical and join-shape extensions: deterministic floating-point
  * moments, grouped quantiles, histograms, the salting pattern for
  * skewed keys, a range (band) join, and an as-of join — the
  * operators an analytics user reaches for right after the basics.
  */
object StatOps {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** Moments per group with DETERMINISTIC float results: sums of x and
    * x² are exact decimals (order-independent), and mean/variance/
    * stddev derive from them in fixed double arithmetic — the same
    * numbers on any partitioning, any engine. A naive stddev() would
    * drift with aggregation order and could never hash-match an
    * oracle.
    */
  def aggMoments(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sx"),
        sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice")))
          .cast("double").as("sx2"))
      .select(col("l_returnflag"), col("n"),
        (col("sx") / col("n")).as("mean"), // no cancellation -> bitwise-stable raw
        // variance/stddev subtract nearly-equal terms (catastrophic
        // cancellation), and engines may fuse the multiply-add
        // differently (FMA) — quantize above the ~1e-15-relative noise
        round((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 0)
          .as("variance"),
        round(sqrt((col("sx2") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 4)
          .as("stddev"))
      .orderBy("l_returnflag")

  /** Exact interpolated quantiles per group (p25/p50/p75/p95). */
  def quantilesByGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy("p_brand")
      .agg(
        percentile(col("p_retailprice"), lit(0.25)).as("p25"),
        percentile(col("p_retailprice"), lit(0.5)).as("p50"),
        percentile(col("p_retailprice"), lit(0.75)).as("p75"),
        percentile(col("p_retailprice"), lit(0.95)).as("p95"))
      .orderBy("p_brand")

  /** Fixed-width histogram of order totals (bucket = floor(x/1000)). */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(floor(col("o_totalprice") / 1000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")

  /** The skew-mitigation pattern: salt the grouping key, partially
    * aggregate per (key, salt), then merge — two small shuffles
    * instead of one hot partition. Exact decimal partials make the
    * result bit-identical to the unsalted GROUP BY, which is exactly
    * what the oracle checks.
    */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), pmod(col("l_orderkey"), lit(16)).as("_salt"))
      .agg(count(lit(1)).as("pn"), sum(dec(col("l_quantity"))).as("pq"))
      .groupBy("l_returnflag")
      .agg(sum("pn").as("n"), sum("pq").cast("double").as("sum_qty"))
      .orderBy("l_returnflag")

  /** Pivot: returnflag × linestatus quantity sums as a wide table —
    * Catalyst plans this as one aggregation with a CASE per pivot
    * value (no extra shuffle vs the long form).
    */
  def pivotWide(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec(col("l_quantity"))).cast("double"))
      .orderBy("l_returnflag")

  /** CUBE over returnflag × linestatus (all 2^2 grouping sets in one
    * partial-aggregated pass).
    */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Explicit GROUPING SETS — the general form rollup/cube specialize:
    * per-returnflag totals and per-linestatus totals in ONE
    * partial-aggregated pass (no union of two scans).
    */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        graft.util.Num.moneySum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** percent_rank / cume_dist per brand (exact rational outputs — the
    * (rank−1)/(n−1) and rank/n divisions are bitwise identical across
    * engines; tie-break on partkey keeps ranks deterministic).
    */
  def windowPercentRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice"), col("p_partkey"))
    Tables.part(spark, dir)
      .select(col("p_brand"), col("p_partkey"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cum_dist"))
      .orderBy("p_brand", "p_partkey")
  }

  /** Order-insensitive string aggregation: sorted concat of each
    * brand's types — collect_list is unordered in a distributed agg,
    * so determinism comes from the explicit sort, matching
    * string_agg(... ORDER BY) semantics.
    *
    * SCALE BOUND: collect_list buffers the ENTIRE group — per-group
    * state (and the output cell) is O(group size). That is the
    * faithful string_agg contract and fine while groups are dimension-
    * sized (brands, categories); for fact-sized groups use
    * `aggCollectCapped`, whose per-group state is O(k) at any scale.
    */
  def aggCollectSorted(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy("p_brand")
      .agg(concat_ws("|", sort_array(collect_list(col("p_type")))).as("types_cat"),
        count(lit(1)).as("n"))
      .orderBy("p_brand")

  /** Cap for aggCollectCapped: first k sorted members per group. */
  private[graft] val CollectCap = 8

  /** Bounded variant of aggCollectSorted: the k binary-smallest
    * members per group, via the MinKStrings bounded-heap aggregate
    * (graft.functions.BoundedAgg) — NOT
    * slice(sort_array(collect_list(...)), 1, k), which caps only the
    * OUTPUT while the aggregation buffer still holds the whole group.
    * MinKStrings keeps ≤ k strings per buffer, combines map-side, and
    * ships O(k) per group per mapper, so one hot group (a brand with
    * 10⁸ rows at corpus scale) costs the same buffer as a cold one.
    */
  def aggCollectCapped(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy("p_brand")
      .agg(concat_ws("|",
        graft.functions.BoundedAgg.minKStrings(col("p_type"), CollectCap)).as("types_cat"),
        count(lit(1)).as("n"))
      .orderBy("p_brand")

  /** Exact per-group distinct counts — at scale this is a two-level
    * aggregation (partial distinct within partitions, merge across),
    * which Catalyst plans automatically from count(DISTINCT).
    */
  def aggCountDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** rank / dense_rank with real ties (retailprice has duplicates), so
    * the two functions genuinely diverge and gaps are exercised.
    */
  def windowRankDense(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice"))
    Tables.part(spark, dir)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
      .orderBy("p_brand", "p_partkey")
  }

  /** ntile quartiles per brand (deterministic tie-break on partkey). */
  def ntileQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice"), col("p_partkey"))
    Tables.part(spark, dir)
      .select(col("p_brand"), col("p_partkey"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("p_brand", "p_partkey")
  }

  /** Pearson correlation per group with deterministic float results —
    * same exact-decimal-sums technique as aggMoments: all five sums
    * are exact, the final assembly is fixed double arithmetic.
    */
  def corrByGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sx"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sy"),
        sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).cast("double").as("sxy"),
        sum(dec(col("l_quantity")) * dec(col("l_quantity"))).cast("double").as("sx2"),
        sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice"))).cast("double").as("sy2"))
      .select(col("l_returnflag"), col("n"),
        // same cancellation caveat as aggMoments -> quantize to 9dp
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sx2") - col("sx") * col("sx")) *
            sqrt(col("n") * col("sy2") - col("sy") * col("sy"))), 9).as("corr"))
      .orderBy("l_returnflag")

  /** Range (band) join: each order lands in a price tier via a
    * non-equi join against a broadcast band table — the generic
    * pattern for dimension bands (the tiny side broadcasts, so the
    * non-equi predicate is evaluated map-side, no shuffle).
    */
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tiers = Seq(
      ("bronze", 0.0, 1000.0),
      ("silver", 1000.0, 5000.0),
      ("gold", 5000.0, 20000.0),
      ("platinum", 20000.0, 1e12)).toDF("tier", "lo", "hi")
    val o = Tables.orders(spark, dir)
    o.join(broadcast(tiers),
        o("o_totalprice") >= tiers("lo") && o("o_totalprice") < tiers("hi"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n"))
      .orderBy("tier")
  }

  /** Binned point-in-interval join gate: purchases landing inside
    * 15-minute "incident windows" opened by high-value error events —
    * the unkeyed containment join `joinRange` can only afford while
    * one side broadcasts. Here NEITHER side needs to be small: the
    * grid turns it into an equi-join on the bin id (bin width = the
    * window length, so every interval covers ≤ 2 bins), and the
    * `rj_binned` claim ships in-row — TRUE only if the executed plan
    * holds no BroadcastNestedLoopJoin/CartesianProduct. The oracle
    * computes the same aggregate from the naive non-equi form, so
    * result preservation and plan shape land in one hash gate.
    */
  def rangeBinIncidents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val inc = ev.filter(col("event_type") === "error" && col("value") >= 150)
      .select(col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 15 MINUTES")).as("hi"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("ts"), col("value"))
    val joined = RangeJoinOps.pointInInterval(p, "ts", inc, "lo", "hi",
      binWidth = 900.0)
    val plan = joined.queryExecution.executedPlan.toString()
    val binned = !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct")
    joined.groupBy("lo", "hi")
      .agg(count(lit(1)).as("n_purch"),
        graft.util.Num.moneySum(col("value")).as("rev"))
      .withColumn("rj_binned", lit(binned))
      .orderBy("lo")
  }

  /** Binned interval-overlap join gate: 5-minute error windows
    * overlapping 3-minute click windows, counted per day — the
    * `a.lo < b.hi AND b.lo < a.hi` shape with NO equi-key at all,
    * a pure nested loop to the planner. The canonical-bin trick keeps
    * every overlapping pair exactly once without a distinct; the
    * in-row claim pins the nested-loop-free plan, the oracle pins the
    * pair-exact result against DuckDB's native IEJoin.
    */
  def rangeOverlapBursts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val err = ev.filter(col("event_type") === "error")
      .select(col("ts").as("elo"),
        (col("ts") + expr("INTERVAL 5 MINUTES")).as("ehi"))
    val clk = ev.filter(col("event_type") === "click")
      .select(col("ts").as("clo"),
        (col("ts") + expr("INTERVAL 3 MINUTES")).as("chi"))
    val joined = RangeJoinOps.intervalOverlap(
      err, "elo", "ehi", clk, "clo", "chi", binWidth = 300.0)
    val plan = joined.queryExecution.executedPlan.toString()
    val binned = !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct")
    joined.groupBy(
        date_format(greatest(col("elo"), col("clo")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("elo")).as("n_err"),
        countDistinct(col("clo")).as("n_clk"))
      .withColumn("rj_binned", lit(binned))
      .orderBy("day")
  }

  /** As-of join: for every purchase event, the same user's most recent
    * signup at-or-before it. Implemented as a RANGE window over the
    * unioned/tagged stream — one shuffle on user_id, one sort, no
    * pairwise work; the distributed form of the classic
    * sort-merge-asof. (RANGE CURRENT ROW keeps same-timestamp signups
    * visible, matching `s.es <= p.es` exactly.)
    *
    * Skew note: a hot user funnels through one window partition, but
    * the cost there is the SORT's O(n log n), not the quadratic pair
    * blowup an interval join has (clickAttribution needed the
    * (user, time-bucket) re-key; this does not). The lookback is
    * unbounded by definition, so a time-bucket key cannot apply — the
    * running max carries the answer across buckets.
    */
  /** Z-score outlier detection per event type: events whose value sits
    * more than 3 population standard deviations from their type's
    * mean. Mean/σ derive from exact decimal sums (order-independent),
    * then the z computation is a fixed chain of correctly-rounded IEEE
    * ops — identical bits on any engine, so even boundary rows gate
    * identically. Plan: one partial-aggregated stats pass, broadcast
    * of the 4-row stats table back onto the scan — the standard
    * two-pass outlier sweep (a one-pass window would shuffle every
    * event by type for a 4-group stat).
    */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val stats = e.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("value"))).cast("double").as("sx"),
        sum(dec(col("value")) * dec(col("value"))).cast("double").as("sx2"))
      .select(col("event_type"),
        (col("sx") / col("n")).as("mean"),
        // greatest(...,0): FP cancellation can push a constant group's
        // variance to a tiny NEGATIVE double — Spark sqrt would yield
        // NaN but DuckDB sqrt(neg) raises, killing the whole oracle
        // query. Clamped identically on both sides.
        sqrt(greatest(
          col("sx2") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")),
          lit(0.0))).as("sd"))
    e.join(broadcast(stats), Seq("event_type"))
      // sd=0 (degenerate constant group): engines disagree on x/0.0
      // (Spark Inf/NaN, DuckDB NULL) — nullify the divisor so both
      // exclude the group the same way.
      .withColumn("z",
        (col("value") - col("mean")) / when(col("sd") =!= 0.0, col("sd")))
      .filter(abs(col("z")) > 3.0)
      // floor-scaling, not round(z, 6): Spark's fractional-digit round
      // goes through BigDecimal shortest-repr HALF_UP while DuckDB
      // scales the binary double, so a value within an ULP of a
      // decimal grid boundary can round differently per engine.
      // floor(x*1e6)/1e6 is the same fixed IEEE op chain on both.
      .select(col("event_id"), col("event_type"), col("value"),
        (floor(col("z") * 1e6) / 1e6).as("z"))
      .orderBy("event_id")
  }

  /** Sketch-based distinct counting, accuracy-gated: per return flag,
    * the exact distinct order count alongside booleans asserting that
    * `approx_count_distinct` (HyperLogLog++, rsd 2%) and the Apache
    * DataSketches HLL (`hll_sketch_agg`, lgK 14) land within 5% of
    * exact. At 100 TB the sketches ARE the distinct-count plan — fixed
    * ~KB state per group through the shuffle, map-side combinable,
    * vs. exact distinct's (group, value) re-shuffle — and this query
    * pins their error honestly (the estimate is deterministic: HLL
    * registers are per-value maxima, merge-order-independent). The
    * oracle computes the exact count and expects the gates TRUE, so a
    * sketch drifting out of tolerance fails the hash gate, same
    * contract as ann_recall.
    */
  def sketchDistinctGate(spark: SparkSession, dir: String): DataFrame = {
    // The exact count and the sketches deliberately run as SEPARATE
    // aggregations joined on the 3-row result: mixing countDistinct
    // with imperative sketch aggregates in one agg makes Spark's
    // distinct rewrite evaluate the sketch partials per
    // (flag, orderkey) fine-grained group — one 16 KB HLL buffer per
    // order (measured 22 s at sf0.1, gigabytes of sketch churn).
    // Split, the sketches keep 3 buffers per task and the exact
    // distinct keeps its codegen'd two-phase plan (1.3 s total).
    val li = Tables.lineitem(spark, dir)
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("n_exact"))
    val sketches = li.groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("_acd"),
        expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey, 14))").as("_hll"))
    exact.join(sketches, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact"),
        (abs(col("_acd") - col("n_exact")) <= col("n_exact") * 0.05)
          .as("acd_within_5pct"),
        (abs(col("_hll") - col("n_exact")) <= col("n_exact") * 0.05)
          .as("hll_within_5pct"))
      .orderBy("l_returnflag")
  }

  /** Sketch-based quantiles, accuracy-gated: per return flag, row
    * count plus a boolean asserting `approx_percentile` (Greenwald-
    * Khanna, accuracy 10000) lands within 1% of the exact interpolated
    * median. GK rank error is ≤ n/accuracy under ANY merge order, so
    * the gate is deterministic even though the sketch itself isn't
    * bit-stable. Exact percentile sorts each group; the sketch carries
    * O(accuracy) state map-side — the only viable quantile at corpus
    * scale — and this query keeps its dial honest.
    */
  def sketchQuantileGate(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        percentile(col("l_extendedprice"), lit(0.5)).as("_exact"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("_apx"))
      .select(col("l_returnflag"), col("n"),
        (abs(col("_apx") - col("_exact")) <= col("_exact") * 0.01)
          .as("p50_within_1pct"))
      .orderBy("l_returnflag")

  /** Count-min-sketch heavy hitters, accuracy-gated — the third
    * fixed-memory sketch family (HLL distincts, GK quantiles, CMS
    * frequencies): the exact top-10 users by event count alongside
    * booleans asserting the CMS guarantees held. At 100 TB CMS IS the
    * frequency/skew diagnostic — eps=0.001, δ=0.01 is a fixed
    * 2000×7-counter grid (Spark sizes width = ⌈2/eps⌉ and depth =
    * ⌈−log₂ δ⌉; ~110 KB of longs) through one map-side-combinable
    * pass, vs. the exact count's full (user, count) shuffle — and its
    * one-sided error (est ≥ exact always; est ≤ exact + eps·N w.p.
    * ≥ 1−δ) is deterministic here: the seed is fixed and cell counts
    * are exact sums, so estimates are identical under any
    * partitioning or merge order. ONE declarative plan: the skinny
    * user_id column is localCheckpointed so the `count_min_sketch`
    * aggregate (binary column, merged map-side) and the exact top-10
    * (TakeOrderedAndProject, ties broken by user_id) read the SAME
    * materialized scan — no second events scan, and nothing reaches
    * the driver during construction. The 1-row sketch frame broadcast
    * cross-joins onto the 10 exact rows and the guarantee booleans
    * evaluate executor-side via [[graft.functions.CmsEstimate]] (the
    * scalar reader Spark's SQL surface lacks). At cluster scale the
    * localCheckpoint becomes `checkpoint()` — or is dropped entirely:
    * two pruned columnar scans of one BIGINT column are cheaper than
    * materializing it, and the plan is otherwise unchanged. The
    * oracle recomputes the exact side and expects both gates TRUE.
    */
  def sketchHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.001
    val ev = OpCaches.localCheckpointTracked(
      Tables.events(spark, dir).select(col("user_id")))
    // 0.99 confidence → depth ⌈−log₂ 0.01⌉ = 7; eps 0.001 → width 2000
    val cms = ev.agg(
      expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").as("_cms"),
      count(lit(1)).as("_n_total"))
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(desc("n_exact"), col("user_id")).limit(10)
    val est = graft.functions.SketchExprs.cmsEstimate(col("_cms"), col("user_id"))
    top.crossJoin(broadcast(cms))
      .select(col("user_id"), col("n_exact"),
        (est >= col("n_exact")).as("est_ge_exact"),
        (est <= col("n_exact") +
          floor(lit(eps) * col("_n_total")).cast("long")).as("est_within_eps"))
      .orderBy(desc("n_exact"), col("user_id"))
  }

  /** Sketch-merge incremental maintenance gate — the sketch analog of
    * incrAgg's merge ≡ recompute proof: HLL sketches built
    * independently over two disjoint halves of events (event_id
    * parity), merged with `hll_union_agg`, must land (a) EXACTLY on
    * the from-scratch single-pass sketch and (b) within 5% of the
    * exact distinct count. (a) holds because registers are per-value
    * maxima (a union of same-lgK sketches over a partition of the data
    * has bit-identical registers to one pass — merge order, data order
    * and partitioning all cancel) AND both estimates come off the same
    * estimator path: DataSketches reports the HIP estimate for
    * streaming-built sketches but the composite estimate for union
    * results, and identical registers do NOT guarantee identical
    * estimates across those two paths. Both sides here are
    * union-derived — Spark funnels partial→final aggregation through
    * Union merges — which is what makes the equality safe; if partial
    * aggregation were ever elided the gate would need to compare
    * serialized registers instead. This pins the 100 TB cardinality plan's
    * incremental-refresh story: yesterday's sketch + today's delta
    * sketch ≡ a full recompute, so the nightly refresh touches only
    * the delta. The oracle recomputes the exact count and expects both
    * gates TRUE.
    */
  def sketchMergeGate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_id"), col("user_id"))
    val halves = ev
      .groupBy(pmod(col("event_id"), lit(2)).as("_half"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("_sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(_sk, false))")
        .as("_est_merged"))
    val full = ev.agg(
      expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("_est_full"),
      countDistinct(col("user_id")).as("n_exact"))
    halves.crossJoin(broadcast(full))
      .select(col("n_exact"),
        (col("_est_merged") === col("_est_full")).as("merge_eq_full"),
        (abs(col("_est_merged") - col("n_exact")) <= col("n_exact") * 0.05)
          .as("merged_within_5pct"))
  }

  /** KMV/theta-sketch SET OPERATIONS, accuracy-gated — the fourth
    * fixed-memory sketch family, covering the estimate HLL
    * structurally cannot produce: intersection (and therefore
    * difference/overlap-ratio) cardinality between distinct sets. A
    * KMV sketch is the k smallest distinct 64-bit hashes of a set
    * ([[graft.functions.MinKDistinctLongs]] — bounded sorted-set
    * buffer, map-side combinable, merge-order-independent so the
    * retained array is DETERMINISTIC); its k-th hash, normalized to
    * (0,1), is the theta threshold, the retained hashes are a uniform
    * θ-sample of the set, and every set-op estimate is then plain
    * array built-ins over two sketches: cut both to the common
    * θ = min(θA, θB) with `filter`, `array_intersect` them, divide by
    * θ. At 100 TB the sketches ARE the overlap plan — 32 KB per set
    * through one map-side-combinable pass and audience-overlap /
    * train-test-contamination style questions answered from sketches
    * alone — while exact intersections re-shuffle the full key sets
    * pairwise. The gate runs both on the per-returnflag orderkey sets
    * (11k+ distinct per flag at sf0.01 > k = 4096, so the ESTIMATOR
    * regime is exercised at the gate SF, ~73% pairwise overlap):
    * exact |A|, |B|, |A∩B|, |A∪B| ship in the row, the estimates ship
    * as within-tolerance booleans (cardinalities 5% — KMV RSE at
    * k=4096 is ≈1.6%, so the bound is ≈3σ of a random hash; with the
    * FIXED hash the observed errors are deterministic and well
    * inside), and sketch MERGEABILITY is pinned exactly: the k
    * smallest of the union of two retained sets must EQUAL the
    * from-scratch union sketch element-for-element (sets of minima
    * compose associatively — no estimator-path caveat like the HLL
    * merge gate needs). The extra from-scratch pass exists only for
    * that gate; production keeps one pass per set. The oracle
    * recomputes the exact sides in DuckDB and expects every boolean
    * TRUE.
    */
  private[graft] val ThetaK = 4096

  def thetaSetOps(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BoundedAgg
    val k = ThetaK
    // NULL keys are not set members (countDistinct semantics; without
    // the guard xxhash64(NULL) = the seed would plant a phantom
    // element in every sketch)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"), col("l_orderkey"))
      .filter(col("l_orderkey").isNotNull)
    val hashed = li.select(col("flag"), xxhash64(col("l_orderkey")).as("h"))
    val sk = hashed.groupBy("flag")
      .agg(BoundedAgg.minKDistinctLongs(col("h"), k).as("hs"))
    // ONE distinct frame feeds both exact sides (the sk_dist lesson
    // still applies — no countDistinct mixed into the sketch agg)
    val d = li.distinct()
    val exact = d.groupBy("flag").agg(count(lit(1)).as("n_exact"))
    val inter = d.as("a").join(d.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") && col("a.flag") < col("b.flag"))
      .groupBy(col("a.flag").as("flag_a"), col("b.flag").as("flag_b"))
      .agg(count(lit(1)).as("exact_inter"))
    // pairs come from the FLAG DOMAIN, not from the intersection join:
    // a disjoint pair must still emit its row (exact_inter = 0 — the
    // "zero overlap" answer is exactly what an overlap gate is for),
    // and deriving pairs independently also keeps the heavy
    // d-self-join subtree referenced ONCE in the final plan
    val flags = sk.select(col("flag"))
    val pairs = flags.select(col("flag").as("flag_a"))
      .crossJoin(flags.select(col("flag").as("flag_b")))
      .filter(col("flag_a") < col("flag_b"))
    val scratch = hashed.join(broadcast(pairs),
        col("flag") === col("flag_a") || col("flag") === col("flag_b"))
      .groupBy("flag_a", "flag_b")
      .agg(BoundedAgg.minKDistinctLongs(col("h"), k).as("hs_scratch"))
    def u(c: Column): Column = BoundedAgg.kmvNorm(c)
    def thetaOf(hs: Column): Column = BoundedAgg.kmvTheta(hs, k)
    def estOf(hs: Column): Column = BoundedAgg.kmvEstimate(hs, k)
    val skA = sk.select(col("flag").as("flag_a"), col("hs").as("ha"))
    val skB = sk.select(col("flag").as("flag_b"), col("hs").as("hb"))
    val exA = exact.select(col("flag").as("flag_a"), col("n_exact").as("exact_a"))
    val exB = exact.select(col("flag").as("flag_b"), col("n_exact").as("exact_b"))
    def pct(est: Column, ex: Column, tol: Double): Column =
      abs(est - ex) <= ex * tol
    pairs
      .join(inter, Seq("flag_a", "flag_b"), "left")
      .na.fill(0L, Seq("exact_inter"))
      .join(skA, Seq("flag_a")).join(skB, Seq("flag_b"))
      .join(exA, Seq("flag_a")).join(exB, Seq("flag_b"))
      .join(scratch, Seq("flag_a", "flag_b"))
      .withColumn("theta", least(thetaOf(col("ha")), thetaOf(col("hb"))))
      .withColumn("f_a", filter(col("ha"), x => u(x) < col("theta")))
      .withColumn("f_b", filter(col("hb"), x => u(x) < col("theta")))
      .withColumn("est_a", estOf(col("ha")))
      .withColumn("est_b", estOf(col("hb")))
      .withColumn("est_inter",
        size(array_intersect(col("f_a"), col("f_b"))).cast("double") / col("theta"))
      .withColumn("est_union", col("est_a") + col("est_b") - col("est_inter"))
      .select(col("flag_a"), col("flag_b"),
        col("exact_a"), col("exact_b"), col("exact_inter"),
        (col("exact_a") + col("exact_b") - col("exact_inter")).as("exact_union"),
        (col("exact_a") - col("exact_inter")).as("exact_diff"),
        pct(col("est_a"), col("exact_a"), 0.05).as("a_within_5pct"),
        pct(col("est_b"), col("exact_b"), 0.05).as("b_within_5pct"),
        pct(col("est_inter"), col("exact_inter"), 0.10).as("inter_within_10pct"),
        pct(col("est_union"), col("exact_union"), 0.10).as("union_within_10pct"),
        // A∖B inherits the ABSOLUTE errors of |A| and |A∩B|, so its
        // RELATIVE bound scales by (|A|+|A∩B|)/|A∖B| — here ~73%
        // overlap makes the difference ~¼ of |A| and the honest gate
        // is 20%, not 10%. Differences of similar-sized sketched sets
        // are the one estimate in this family to treat with care.
        pct(col("est_a") - col("est_inter"),
          col("exact_a") - col("exact_inter"), 0.20).as("diff_within_20pct"),
        (slice(array_sort(array_distinct(concat(col("ha"), col("hb")))), 1, k)
          === col("hs_scratch")).as("merge_exact"))
      .orderBy("flag_a", "flag_b")
  }

  /** Deliberately skewed fact-to-dimension join — the AQE skew-join
    * demonstration. Half of all users are folded onto join key 0
    * (deterministic expression, so the oracle can reproduce it), so
    * after the shuffle one reduce partition holds ~50% of all events:
    * the classic hot-key join that kills a naive 100 TB plan. Both
    * join inputs are plain scans (SMJ over Sort over shuffle on each
    * side — exactly the `OptimizeSkewedJoin` match pattern; an
    * aggregate between shuffle and join would defeat it) and the join
    * is pinned to sort-merge via a MERGE hint: at corpus scale the
    * entity dimension is far past broadcast size. With
    * `spark.sql.adaptive.skewJoin.enabled` (on by default) AQE splits
    * the hot reduce partition into MAP-RANGE chunks (each chunk reads
    * a slice of the map outputs) and replicates the matching dim rows
    * to every chunk — identical results, per-task balance restored.
    * Two demo-vs-production notes, both machine-checked in PlanSpec:
    * the split needs multiple map outputs to slice (a 100 TB scan has
    * thousands of map tasks; the local single-file scan has ONE, so
    * the spec drives a multi-file copy of the table), and the
    * downstream aggregate deliberately keys on c_mktsegment — an agg
    * keyed on jk would reuse the join's partitioning, which AQE
    * refuses to break without forceOptimizeSkewedJoin. The result is
    * oracle-checked, so the rewrite's result-preservation claim is
    * hash-verified too.
    */
  def skewJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(
        when(col("user_id") % 10 < 5, lit(0L)).otherwise(col("user_id"))
          .as("jk"),
        col("value"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("jk"), col("c_mktsegment"))
    ev.hint("merge").join(cust, Seq("jk"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        graft.util.Num.moneySum(col("value")).as("total_value"))
      .orderBy("c_mktsegment")
  }

  /** Per-group simple linear regression (price ~ quantity):
    * slope / intercept / r² from the same exact-decimal power sums as
    * corrByGroup — one partial-aggregation pass, with the closed-form
    * normal equations evaluated in fixed double arithmetic afterward.
    * The builtin regr_slope/regr_intercept would drift with partial-
    * aggregation order (double running sums) and can't hash-match an
    * oracle; sums-of-decimals are order-independent at any
    * partitioning. Quantized to 9dp via floor-scaling (floor(x*1e9)/1e9
    * — the engine-identical scheme; fractional round() diverges near
    * grid boundaries) for the same cancellation caveat as aggMoments.
    */
  def regrByGroup(spark: SparkSession, dir: String): DataFrame = {
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    // zero-variance groups: engines disagree on x/0.0 (Spark NaN/Inf,
    // DuckDB NULL) — nullify the divisors so both emit NULL stats.
    val varx = when(col("n") * col("sx2") - col("sx") * col("sx") =!= 0.0,
      col("n") * col("sx2") - col("sx") * col("sx"))
    val vary = when(col("n") * col("sy2") - col("sy") * col("sy") =!= 0.0,
      col("n") * col("sy2") - col("sy") * col("sy"))
    val slope = cov / varx
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(col("l_quantity"))).cast("double").as("sx"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sy"),
        sum(dec(col("l_quantity")) * dec(col("l_extendedprice"))).cast("double").as("sxy"),
        sum(dec(col("l_quantity")) * dec(col("l_quantity"))).cast("double").as("sx2"),
        sum(dec(col("l_extendedprice")) * dec(col("l_extendedprice"))).cast("double").as("sy2"))
      .select(col("l_returnflag"), col("n"),
        (floor(slope * 1e9) / 1e9).as("slope"),
        (floor((col("sy") - slope * col("sx")) / col("n") * 1e9) / 1e9).as("intercept"),
        (floor(cov * cov / (varx * vary) * 1e9) / 1e9).as("r2"))
      .orderBy("l_returnflag")
  }

  /** The window twin's query on the NATIVE as-of operator
    * (graft.plans.AsOfJoin → merge-scan AsOfJoinExec): each purchase
    * picks up the latest signup at-or-before it, per user. Same
    * result contract as [[asofJoin]] (the oracle is shared shape-for-
    * shape), but the plan is one key shuffle + sort per side and a
    * streaming merge that returns the full matched right row — the
    * shape that generalizes where the window twin's running-max trick
    * (single orderable payload column) does not. AsOfJoinSpec pins
    * the AsOfJoin node in the executed plan, its window-free shape,
    * value-equality with the window twin, and the merge edge cases;
    * the DuckDB gate hashes the result.
    */
  def asofJoinNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeriesOps.epochSecExpr("ts").as("es"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("es"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
    graft.plans.AsOfJoinOps.asof(
        purchases, signups,
        Seq(purchases("user_id")), Seq(signups("s_uid")),
        purchases("es"), signups("signup_es"),
        // this key DEMONSTRATES the merge exec (like a MERGE join
        // hint); asof_auto gates the stats-driven Auto choice
        hint = graft.plans.AsOfHint.Merge)
      .select(col("event_id"), col("user_id"),
        col("signup_es").as("last_signup_es"))
      .orderBy("event_id")
  }

  /** The full-row-payload as-of case — the query the window twin's
    * running-max trick cannot express: each purchase picks up BOTH
    * columns of its latest at-or-before signup (time AND event id).
    * Determinism under ties: two signups can share (user, second), so
    * the merge's "last in sort order wins" must be pinned — the time
    * column is the composite es·2³⁰ + event_id (event ids stay below
    * 2³⁰ at every scale factor, so no residue collisions), making the
    * right-side order total: latest second, then highest event id —
    * exactly the oracle's ORDER BY es DESC, event_id DESC LIMIT 1.
    * The left probes at es·2³⁰ + (2³⁰−1), i.e. "any signup in or
    * before my second".
    */
  def asofJoinPayload(spark: SparkSession, dir: String): DataFrame = {
    val Shift = 1L << 30
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeriesOps.epochSecExpr("ts").as("es"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        (col("es") * Shift + (Shift - 1)).as("lt"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"),
        col("event_id").as("signup_event_id"))
      // the composite is sound ONLY while event ids fit the residue
      // width; a generator emitting ids ≥ 2³⁰ would silently corrupt
      // the right-side order (residue collisions) and surface as a
      // confusing oracle mismatch — fail fast in the plan instead
      .filter(assert_true(
        col("signup_event_id") >= 0 && col("signup_event_id") < Shift,
        lit(s"asof2: event_id exceeds the composite-time residue width ($Shift)"))
        .isNull)
      .withColumn("rt", col("signup_es") * Shift + col("signup_event_id"))
    graft.plans.AsOfJoinOps.asof(
        purchases, signups,
        Seq(purchases("user_id")), Seq(signups("s_uid")),
        purchases("lt"), signups("rt"),
        hint = graft.plans.AsOfHint.Merge)
      .select(col("event_id"), col("user_id"),
        col("signup_es"), col("signup_event_id"))
      .orderBy("event_id")
  }

  /** Tolerance-bounded as-of: [[asofJoinNative]] with the pandas
    * merge_asof gap bound — a signup older than AsofToleranceSec
    * before the purchase no longer counts (the "recent state only"
    * enrichment contract; ~45% of sf0.01 matches fall outside it, so
    * the gate discriminates). For a MAX-es payload the oracle's
    * "latest within [es−tol, es]" window is identical to "latest
    * at-or-before, nulled when stale" — same row when it exists.
    */
  private[graft] val AsofToleranceSec = 150000L

  def asofJoinTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeriesOps.epochSecExpr("ts").as("es"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("es"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
    graft.plans.AsOfJoinOps.asof(
        purchases, signups,
        Seq(purchases("user_id")), Seq(signups("s_uid")),
        purchases("es"), signups("signup_es"),
        tolerance = Some(AsofToleranceSec),
        hint = graft.plans.AsOfHint.Merge)
      .select(col("event_id"), col("user_id"),
        col("signup_es").as("last_signup_es"))
      .orderBy("event_id")
  }

  /** [[asofJoinNative]] driven ENTIRELY through the SQL surface: the
    * `asof_join` table-valued function over catalog temp views
    * (plans/AsOfJoinOps.buildFromSql) — same result contract, same
    * oracle, so the TVF argument parsing, catalog resolution and node
    * expansion sit inside the hash-checked correctness gate rather
    * than only in SqlSurfaceSpec.
    */
  def asofJoinSql(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeriesOps.epochSecExpr("ts").as("es"))
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("es"))
      .createOrReplaceTempView("graft_asof_purchases")
    ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
      .createOrReplaceTempView("graft_asof_signups")
    spark.sql(
      """SELECT event_id, user_id, signup_es AS last_signup_es
         FROM asof_join('graft_asof_purchases', 'graft_asof_signups',
                        'user_id:s_uid', 'es', 'signup_es', 'merge')
         ORDER BY event_id""")
  }

  /** Monotone source for collision-free temp-view names: a library
    * operator registering catalog state must neither clobber a user
    * view of the same name nor leak its own across queries (r13
    * advice) — so every invocation gets fresh names AND drops them
    * once the plan is built (analysis resolves views into the plan;
    * the catalog entry is only needed during `spark.sql`).
    */
  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** [[rangeBinIncidents]] from PURE SQL via the `RANGE_BIN(w)` hint
    * (plans/BinRangeJoinHint, installed by GraftExtensions at session
    * build): the user keeps writing the natural band predicate
    * `p.ts >= i.lo AND p.ts < i.hi` and the analyzer rewrites it into
    * the binned equi-join — no query surgery, exactly how Spark's own
    * BROADCAST/MERGE hints steer join strategy. The rewrite claim
    * ships in-row (`rj_binned`: executed plan free of
    * BroadcastNestedLoopJoin/CartesianProduct — which the un-hinted
    * form of this very query plans), and the oracle is byte-identical
    * to `rj_bin`'s, pinning hint ≡ DataFrame API ≡ DuckDB.
    *
    * Runs on a `newSession()` child with the broadcast threshold
    * dialed OFF: the hint PICKS by stats (small side under the
    * threshold → the plain broadcast nested loop is the cheaper plan,
    * see [[rangeBinTiersAuto]] for the gate on that choice), and
    * at testdata scale the incident side is broadcast-sized — this
    * key demonstrates the REWRITE, so it pins the 100 TB shape where
    * no side broadcasts, exactly like a user forcing the grid form on
    * a big-big join. Temp views live on the child, so the caller's
    * catalog is untouched.
    */
  def rangeBinIncidentsSql(spark: SparkSession, dir: String): DataFrame = {
    val child = spark.newSession()
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val n = viewSeq.incrementAndGet()
    val (vInc, vP) = (s"graft_rj_inc_$n", s"graft_rj_p_$n")
    val ev = Tables.events(child, dir)
    ev.filter(col("event_type") === "error" && col("value") >= 150)
      .select(col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 15 MINUTES")).as("hi"))
      .createOrReplaceTempView(vInc)
    ev.filter(col("event_type") === "purchase")
      .select(col("ts"), col("value"))
      .createOrReplaceTempView(vP)
    val joined = child.sql(
      s"""SELECT /*+ RANGE_BIN(900) */ i.lo, i.hi, p.value
         FROM $vP p JOIN $vInc i
           ON p.ts >= i.lo AND p.ts < i.hi""")
    child.catalog.dropTempView(vInc)
    child.catalog.dropTempView(vP)
    val plan = joined.queryExecution.executedPlan.toString()
    val binned = !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct")
    joined.groupBy("lo", "hi")
      .agg(count(lit(1)).as("n_purch"),
        graft.util.Num.moneySum(col("value")).as("rev"))
      .withColumn("rj_binned", lit(binned))
      .orderBy("lo")
  }

  /** 2-D point-in-box from PURE SQL — [[rangeBinBoxes]]'s fixture
    * through the `RANGE_BIN2(wx, wy)` hint: the analyzer classifies
    * the four-inequality condition into two point-keyed dimensions
    * and rewrites to the (bx, by) grid-cell equi-join, exactly what
    * the DataFrame `pointInBox` builds. The claim ships in-row
    * (`rj2d_bin`: executed plan free of nested loops — which the
    * un-hinted form plans, having zero equi conjuncts). Child session
    * with the broadcast threshold off, same rationale as
    * [[rangeBinIncidentsSql]]: this key pins the big-big REWRITE;
    * the stats-pick decline is gated separately by `rj_auto`.
    */
  def rangeBinBoxesSql(spark: SparkSession, dir: String): DataFrame = {
    val child = spark.newSession()
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val n = viewSeq.incrementAndGet()
    val (vB, vP) = (s"graft_rj2_b_$n", s"graft_rj2_p_$n")
    val ev = Tables.events(child, dir)
    ev.filter(col("event_type") === "error" && col("value") >= 100)
      .select(TimeSeriesOps.epochSecExpr("ts").as("xlo"),
        (TimeSeriesOps.epochSecExpr("ts") + 7200L).as("xhi"),
        (col("value") - 200.0).as("ylo"),
        (col("value") + 200.0).as("yhi"))
      .createOrReplaceTempView(vB)
    ev.filter(col("event_type") === "purchase")
      .select(TimeSeriesOps.epochSecExpr("ts").as("es"), col("value"))
      .createOrReplaceTempView(vP)
    val joined = child.sql(
      s"""SELECT /*+ RANGE_BIN2(7200, 400) */ b.xlo, b.ylo, p.value
         FROM $vP p JOIN $vB b
           ON p.es >= b.xlo AND p.es < b.xhi
          AND p.value >= b.ylo AND p.value < b.yhi""")
    child.catalog.dropTempView(vB)
    child.catalog.dropTempView(vP)
    val plan = joined.queryExecution.executedPlan.toString()
    val binned = !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct")
    joined.groupBy("xlo", "ylo")
      .agg(count(lit(1)).as("n_purch"),
        graft.util.Num.moneySum(col("value")).as("rev"))
      .withColumn("rj2d_bin", lit(binned))
      .orderBy("xlo", "ylo")
  }

  /** KEYED 2-D binned point-in-box gate — the full composition the
    * grid classifier claims: equi key + two band dimensions in ONE
    * join. Purchases matched to the eight-hour × ±300-value box
    * opened by each error OF THE SAME USER ("did this user's own
    * incident precede similar-magnitude spend"). The key equality
    * rides in the residual, where ExtractEquiJoinKeys lifts it beside
    * the two cell ids — the physical join co-partitions on
    * `(user_id, bx, by)`, so a hot user's candidates split across its
    * grid cells exactly like the 1-D keyed form (`rj_key`), now in
    * two dimensions. The in-row claim pins that composition: no
    * nested loop AND both cell ids participate in the executed plan.
    * Box widths match the box extents, so each box registers in ≤ 4
    * cells; the un-keyed named-column form stays pinned against the
    * naive join in RangeJoinSpec, and the un-keyed SQL-hint rewrite
    * is `rj2d`. Oracle: the naive one-equality-four-inequality join.
    */
  def rangeBinBoxes(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val boxes = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("b_uid"),
        TimeSeriesOps.epochSecExpr("ts").as("xlo"),
        (TimeSeriesOps.epochSecExpr("ts") + 28800L).as("xhi"),
        (col("value") - 300.0).as("ylo"),
        (col("value") + 300.0).as("yhi"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), TimeSeriesOps.epochSecExpr("ts").as("es"),
        col("value"))
    val joined = RangeJoinOps.pointInBox(p, "es", "value",
      boxes, "xlo", "xhi", "ylo", "yhi",
      binWidthX = 28800.0, binWidthY = 600.0,
      keys = Seq("user_id" -> "b_uid"))
    val plan = joined.queryExecution.executedPlan.toString()
    val keyedCell = !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct") &&
      plan.contains("__graft_bx") && plan.contains("__graft_by")
    joined.groupBy("user_id")
      .agg(count(lit(1)).as("n_hits"),
        graft.util.Num.moneySum(col("value")).as("rev"))
      .withColumn("rj_boxk_bin", lit(keyedCell))
      .orderBy("user_id")
  }

  /** KEYED (equi + band) binned range join from pure SQL — the
    * dominant production shape: purchases matched to incident windows
    * OF THE SAME USER. A hash join on `user_id` alone degenerates to
    * a quadratic per-key nested loop on low-cardinality or hot keys
    * (every purchase × every window of that user before the range
    * residual); under `RANGE_BIN` the rewrite keeps the equality in
    * the residual, where ExtractEquiJoinKeys lifts it into the join
    * keys NEXT TO the bin id — the physical join co-partitions on
    * `(user_id, bin)`, so a hot user's candidates split across its
    * time bins instead of piling into one task. The in-row claim
    * pins exactly that: no nested loop AND the bin id participates in
    * the executed join. Child session with the broadcast threshold
    * off, same rationale as [[rangeBinIncidentsSql]].
    */
  def rangeBinIncidentsKeyed(spark: SparkSession, dir: String): DataFrame = {
    val child = spark.newSession()
    child.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val n = viewSeq.incrementAndGet()
    val (vInc, vP) = (s"graft_rjk_inc_$n", s"graft_rjk_p_$n")
    val ev = Tables.events(child, dir)
    ev.filter(col("event_type") === "error")
      .select(col("user_id").as("i_uid"), col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("hi"))
      .createOrReplaceTempView(vInc)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
      .createOrReplaceTempView(vP)
    val joined = child.sql(
      s"""SELECT /*+ RANGE_BIN(7200) */ p.user_id, i.lo, i.hi, p.value
         FROM $vP p JOIN $vInc i
           ON p.user_id = i.i_uid AND p.ts >= i.lo AND p.ts < i.hi""")
    child.catalog.dropTempView(vInc)
    child.catalog.dropTempView(vP)
    val plan = joined.queryExecution.executedPlan.toString()
    val keyedBin = !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct") && plan.contains("__graft_bin")
    joined.groupBy("user_id")
      .agg(count(lit(1)).as("n_hits"),
        graft.util.Num.moneySum(col("value")).as("rev"))
      .withColumn("rj_keyed_bin", lit(keyedBin))
      .orderBy("user_id")
  }

  /** LEFT OUTER binned point-in-interval gate: EVERY purchase, with
    * the count of incident windows covering it — zero for the
    * windowless majority, which is the whole point of the outer form
    * ("events with NO covering window" can't be asked of an inner
    * join). The point side never explodes, so the outer grid join is
    * a plain LEFT OUTER hash join on the bin id (see
    * RangeJoinOps.pointInIntervalOuter); the in-row claim pins the
    * nested-loop-free plan and the oracle's LEFT JOIN pins
    * null-emission row-for-row (n_win = 0 rows hash-compared too).
    */
  def rangeBinPurchasesOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val inc = ev.filter(col("event_type") === "error" && col("value") >= 150)
      .select(col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 15 MINUTES")).as("hi"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts"))
    val joined = RangeJoinOps.pointInIntervalOuter(p, "ts", inc, "lo", "hi",
      binWidth = 900.0)
    val plan = joined.queryExecution.executedPlan.toString()
    val binned = !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct")
    joined.groupBy("event_id")
      .agg(count(col("lo")).as("n_win"))
      .withColumn("rj_outer_bin", lit(binned))
      .orderBy("event_id")
  }

  /** The stats-driven pick itself, gated at every scale: a band
    * classification join against a FOUR-ROW inline tier dimension —
    * the canonical shape where the broadcast nested loop genuinely IS
    * the right plan (per probe row: four comparisons; binning a
    * 4-row VALUES is pure overhead) — runs under the RANGE_BIN hint
    * on the caller's session with real thresholds, and the rule must
    * DECLINE. The in-row claim pins the choice: the executed plan
    * carries the nested loop and NO bin column. Deterministic at any
    * SF because the dim side is constant-size (an earlier version
    * gated the decline on the ~MB incident side and the sf1 bench
    * caught the nested loop at 10.2 s vs 0.6 s binned — that
    * measurement is why the decline bound is now
    * min(autoBroadcastJoinThreshold, spark.graft.rangeBin
    * .bnlThreshold); see BinRangeJoinHint). The as-of analog is
    * `asof_auto` pinning BroadcastAsOfJoin; BinRangeJoinSpec dials
    * the thresholds the other way.
    */
  def rangeBinTiersAuto(spark: SparkSession, dir: String): DataFrame = {
    val n = viewSeq.incrementAndGet()
    val vP = s"graft_rjt_p_$n"
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("value"))
      .createOrReplaceTempView(vP)
    // this runs on the CALLER's session — drop in a finally so an
    // analysis-time throw can't leak graft_rjt_p_N into the user's
    // catalog (r14 advice; the child-session variants are immune)
    val joined = try {
      spark.sql(
        s"""SELECT /*+ RANGE_BIN(100) */ t.tier, p.value
           FROM $vP p JOIN (VALUES ('bronze', 0.0, 100.0),
               ('silver', 100.0, 300.0), ('gold', 300.0, 1e12))
             t(tier, lo, hi)
             ON p.value >= t.lo AND p.value < t.hi""")
    } finally spark.catalog.dropTempView(vP)
    val plan = joined.queryExecution.executedPlan.toString()
    val declined = plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("__graft_bin")
    joined.groupBy("tier")
      .agg(count(lit(1)).as("n"),
        graft.util.Num.moneySum(col("value")).as("rev"))
      .withColumn("rj_auto_bnlj", lit(declined))
      .orderBy("tier")
  }

  /** [[asofJoinNative]] on the BROADCAST physical form
    * (plans/BroadcastAsOfJoinExec): the signup history is small
    * relative to the purchase stream, so instead of co-partitioning
    * both sides (two shuffles + sorts) the right side is collected
    * into a per-key time-sorted index, broadcast, and probed by
    * binary search — the left never shuffles. At 100 TB this is the
    * as-of analog of broadcasting a dimension: "enrich the fact
    * stream with latest small-reference state" costs one scan. The
    * zero-shuffle claim ships IN the hash-checked row
    * (`bcast_no_shuffle`, oracle expects TRUE), and the result must
    * match the merge-scan queries' shared oracle exactly.
    */
  def asofJoinBroadcast(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeriesOps.epochSecExpr("ts").as("es"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("es"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
    val j = graft.plans.AsOfJoinOps.asof(
      purchases, signups,
      Seq(purchases("user_id")), Seq(signups("s_uid")),
      purchases("es"), signups("signup_es"),
      hint = graft.plans.AsOfHint.Broadcast)
    val plan = j.queryExecution.executedPlan.toString()
    val noShuffle = plan.contains("BroadcastAsOfJoin") &&
      !plan.contains("Exchange")
    j.select(col("event_id"), col("user_id"),
        col("signup_es").as("last_signup_es"))
      .withColumn("bcast_no_shuffle", lit(noShuffle))
      .orderBy("event_id")
  }

  /** [[asofJoinNative]] with NO physical-form hint — the stats-driven
    * Auto path (plans/AsOfJoinStrategy): the planner must notice the
    * signup side's logical stats clear
    * `spark.sql.autoBroadcastJoinThreshold` at the gate's scale and
    * choose the shuffle-free broadcast probe ON ITS OWN, exactly as
    * JoinSelection picks BHJ for a small equi-join side. The choice
    * ships in the hash-checked row: `auto_broadcast` is TRUE only if
    * the executed plan carries BroadcastAsOfJoin with zero Exchange —
    * "the plan you'd want at 100× scale is chosen, not requested",
    * machine-checked. (At larger SFs the same code may legitimately
    * flip to the merge form when the stats outgrow the threshold; the
    * claim is asserted at the sf0.01 gate, where the side is small.)
    */
  def asofJoinAuto(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeriesOps.epochSecExpr("ts").as("es"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("es"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
    val j = graft.plans.AsOfJoinOps.asof(
      purchases, signups,
      Seq(purchases("user_id")), Seq(signups("s_uid")),
      purchases("es"), signups("signup_es"))
    val plan = j.queryExecution.executedPlan.toString()
    val autoBroadcast = plan.contains("BroadcastAsOfJoin") &&
      !plan.contains("Exchange")
    j.select(col("event_id"), col("user_id"),
        col("signup_es").as("last_signup_es"))
      .withColumn("auto_broadcast", lit(autoBroadcast))
      .orderBy("event_id")
  }

  /** `direction = Nearest` — the third pandas merge_asof direction,
    * native in both physical forms (backward is the latest-at-or-
    * before, forward the negation trick; nearest needs BOTH neighbors
    * and is expressible by neither): each purchase picks the signup
    * CLOSEST in absolute time within the tolerance, equidistant ties
    * going backward (the pinned rule — the oracle's
    * `ORDER BY abs(Δ), s.es`). The payload is the matched time
    * itself, so equal-time right rows cannot make the hash flap
    * (tie-immunity note on BroadcastAsOfJoinExec). Discriminating
    * three ways: vs backward (a purchase whose nearest signup is
    * AFTER it), vs forward (nearest before), and the tolerance nulls
    * the isolated ones.
    */
  def asofJoinNearest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeriesOps.epochSecExpr("ts").as("es"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("es"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("s_uid"), col("es").as("signup_es"))
    graft.plans.AsOfJoinOps.asof(
        purchases, signups,
        Seq(purchases("user_id")), Seq(signups("s_uid")),
        purchases("es"), signups("signup_es"),
        tolerance = Some(AsofToleranceSec),
        direction = graft.plans.AsOfDirection.Nearest)
      .select(col("event_id"), col("user_id"),
        col("signup_es").as("near_signup_es"))
      .orderBy("event_id")
  }

  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        TimeSeriesOps.epochSecExpr("ts").as("es"))
    val w = Window.partitionBy("user_id").orderBy("es")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("last_signup_es",
        max(when(col("event_type") === "signup", col("es"))).over(w))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "last_signup_es")
      .orderBy("event_id")
  }
}
