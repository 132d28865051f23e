package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Dataset profiling for pipeline QA (the north-star "know your corpus"
  * op): per-column null and distinct counts in ONE scan — every stat is a
  * column of a single aggregate row, then unpivoted with stack() into
  * (column, n_nulls, n_distinct) rows. No per-column jobs, no collect.
  *
  * At 100 TB: one pass + one tiny shuffle; count(DISTINCT) expands the
  * aggregate per column (Spark's expand operator) — for very wide tables
  * swap in approx_count_distinct via `exact = false`.
  */
object Profiling {

  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"${c}__nulls"),
        (if (exact) countDistinct(col(c)) else approx_count_distinct(col(c))).as(s"${c}__distinct"))
    }
    val wide = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val stackExpr = cols.map(c => s"'$c', `${c}__nulls`, `${c}__distinct`").mkString(", ")
    wide.select(col("__rows"),
        expr(s"stack(${cols.size}, $stackExpr) AS (col_name, n_nulls, n_distinct)"))
      .select(col("col_name"), col("__rows").as("n_rows"), col("n_nulls"), col("n_distinct"))
  }

  /** Join-key skew profile: the `topN` heaviest keys with their row counts
    * and share of the table — the diagnostic run before choosing between a
    * plain join, AQE skew handling, or an explicit salted join
    * (Relational.saltedJoin). Two-phase hash agg + a top-N, so the profile
    * itself is safe on the skewed data it measures.
    */
  def keySkew(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("_total"))
    counts.crossJoin(broadcast(total))
      .select(col(keyCol), col("cnt"),
        round(col("cnt").cast("double") / col("_total").cast("double"), 9).as("share"))
      .orderBy(col("cnt").desc, col(keyCol).asc)
      .limit(topN)
  }

  /** IQR outlier detection per group: rows whose value falls outside
    * [Q1 − k·IQR, Q3 + k·IQR] (Tukey's fences, k = 1.5 classically) — the
    * standard robust data-quality screen. Quartiles come from one grouped
    * exact-percentile aggregation joined back to the rows (groups are the
    * broadcast side), so the screen is two scans and one broadcast join.
    */
  def iqrOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  k: Double = 1.5): DataFrame = {
    val fences = df.groupBy(groupCols.map(col): _*)
      .agg(
        expr(s"percentile($valueCol, 0.25)").as("_q1"),
        expr(s"percentile($valueCol, 0.75)").as("_q3"))
      .select(groupCols.map(col) :+
        (col("_q1") - (col("_q3") - col("_q1")) * k).as("fence_lo") :+
        (col("_q3") + (col("_q3") - col("_q1")) * k).as("fence_hi"): _*)
    df.join(broadcast(fences), groupCols)
      .where(col(valueCol) < col("fence_lo") || col(valueCol) > col("fence_hi"))
  }

  /** Per-group winsorization: clip values to the group's exact
    * interpolated [pLo, pHi] percentiles — the outlier TREATMENT to
    * iqrOutliers/madScore's detection (cap the tails instead of dropping
    * rows, the standard prep before scale-sensitive aggregates). One
    * grouped percentile aggregation joined back as the broadcast side;
    * the clipped value is rounded to 9 dp for engine-exact comparison
    * (Spark `percentile` ≡ DuckDB `quantile_cont`, the C59 parity).
    */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
                pLo: Double, pHi: Double): DataFrame = {
    val q = df.groupBy(groupCols.map(col): _*)
      .agg(
        expr(s"percentile($valueCol, $pLo)").as("_lo"),
        expr(s"percentile($valueCol, $pHi)").as("_hi"))
    df.join(broadcast(q), groupCols)
      .withColumn(s"${valueCol}_w",
        round(least(greatest(col(valueCol), col("_lo")), col("_hi")), 9))
      .drop("_lo", "_hi")
  }

  /** Robust (median/MAD) anomaly score per group: (x − median) / MAD where
    * MAD = median(|x − median|) — the outlier screen that, unlike z-scores,
    * is itself immune to the outliers it hunts (50% breakdown point vs 0%).
    * Two grouped exact-percentile aggregations (medians can't be computed
    * in one pass: deviations need the median first), each joined back as
    * the broadcast side — group count is small relative to rows. Score is
    * null when MAD = 0 (constant group) or the group has a single row.
    *
    * At 100 TB: exact `percentile` holds a group's values in memory per
    * aggregation — fine for bounded per-key cardinality; for heavy keys
    * swap `approx_percentile(…, 0.5, accuracy)` in both passes (the
    * t-digest-style sketch is mergeable, so the plan shape is unchanged).
    */
  def madScore(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val g = groupCols.map(col)
    val med = df.groupBy(g: _*).agg(expr(s"percentile($valueCol, 0.5)").as("_med"))
    val mad = df.join(broadcast(med), groupCols)
      .withColumn("_dev", abs(col(valueCol) - col("_med")))
      .groupBy(g: _*)
      .agg(max(col("_med")).as("med"), expr("percentile(_dev, 0.5)").as("mad"))
    df.join(broadcast(mad), groupCols)
      .withColumn("mad_score",
        when(col("mad") > 0, (col(valueCol) - col("med")) / col("mad")))
  }

  /** Per-group z-score normalization: (x − mean) / stddev over the group,
    * the feature-scaling pass before similarity search or model input.
    * Mean and sample stddev come from exact-decimal group sums
    * (var = (Σx² − (Σx)²/n)/(n−1) — the rollingVol recipe on an unbounded
    * frame) so results are bit-portable across engines regardless of
    * their internal variance algorithm. Null for groups with < 2 rows or
    * zero variance.
    */
  def zScore(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(groupCols.map(col): _*)
    val v = col(valueCol)
    val cnt = count(v).over(w).cast("double")
    val s1 = sum(v.cast("decimal(28,6)")).over(w).cast("double")
    val s2 = sum((v * v).cast("decimal(28,6)")).over(w).cast("double")
    val mean = s1 / cnt
    val variance = (s2 - s1 * s1 / cnt) / (cnt - lit(1.0))
    val std = sqrt(greatest(variance, lit(0.0)))
    df.withColumn("zscore",
      when(cnt > 1 && std > 0, Portable.pround((v - mean) / std, 6)))
  }

  /** Declarative data-quality report (the Deequ/dbt-tests shape): each
    * rule is a name plus the DataFrame of VIOLATING rows; the report is
    * one (rule, violations) row per rule. Rules on the same table should
    * share a cached scan upstream if the table is hot; each count here is
    * a bare aggregate — no collect, no row payload past the count.
    */
  def dqReport(rules: Seq[(String, DataFrame)]): DataFrame =
    rules.map { case (name, violating) =>
      violating.agg(count(lit(1)).as("violations"))
        .select(lit(name).as("rule"), col("violations"))
    }.reduce(_ unionByName _)

  /** Per-group min-max feature scaling: (x − min) / (max − min), the
    * normalization staple. Tiny per-group extrema aggregate broadcast
    * back onto the stream — no window, no second shuffle of the payload.
    * Degenerate groups (max = min) scale to null rather than dividing by
    * zero; min/max of doubles are order-independent so the result is
    * reproducible at any parallelism.
    */
  def minMaxScale(df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val ext = df.groupBy(keys.map(col): _*)
      .agg(min(col(valueCol)).as("_mn"), max(col(valueCol)).as("_mx"))
    df.join(broadcast(ext), keys)
      .withColumn("scaled",
        when(col("_mx") =!= col("_mn"),
          round((col(valueCol) - col("_mn")) / (col("_mx") - col("_mn")), 9)))
      .drop("_mn", "_mx")
  }

  /** Per-group simple linear regression (OLS) from exact decimal sums —
    * the distributed model-fit primitive: one hash aggregate computes the
    * five sufficient statistics (n, Σx, Σy, Σxy, Σxx) and the closed-form
    * slope/intercept fall out on the aggregated (tiny) result. Spark's
    * built-in regr_slope accumulates floating co-moments in shuffle order
    * and is not reproducible across partitionings (the same reason
    * Portable.decCorr exists); decimal sums make the fit bit-stable and
    * oracle-matchable. Degenerate groups (n < 2 or zero x-variance)
    * yield null coefficients.
    */
  def groupOls(df: DataFrame, keys: Seq[String], xCol: Column, yCol: Column,
               scale: Int = 6): DataFrame = {
    val x = xCol.cast("double")
    val y = yCol.cast("double")
    val agg = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("double").as("_n"),
        Portable.decSum(x, scale).as("_sx"),
        Portable.decSum(y, scale).as("_sy"),
        Portable.decSum(x * y, scale).as("_sxy"),
        Portable.decSum(x * x, scale).as("_sxx"))
    val den = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val slope = (col("_n") * col("_sxy") - col("_sx") * col("_sy")) / den
    agg
      .withColumn("n", col("_n").cast("long"))
      .withColumn("slope",
        when(col("_n") >= 2.0 && den =!= 0.0, Portable.pround(slope, 9)))
      .withColumn("intercept",
        when(col("_n") >= 2.0 && den =!= 0.0,
          Portable.pround((col("_sy") - slope * col("_sx")) / col("_n"), 6)))
      .drop("_n", "_sx", "_sy", "_sxy", "_sxx")
  }

  /** Per-group histogram-quantile sketch — the PORTABLE mergeable
    * approximate-percentile state (the C73 rows-only case, upgraded the
    * way C125 upgrades approx distinct): per-group [min, max] splits
    * into `nBins` equal bins, bin counts aggregate map-side (the
    * mergeable state — shard histograms sum element-wise given shared
    * edges), and each requested quantile interpolates linearly inside
    * the first bin whose cumulative count reaches q·n. Every step is
    * exact counting or basic IEEE arithmetic — no engine-private sketch
    * — so estimates hash-check against the oracle. Guarantee: the
    * estimate lands in the bin of the ⌈q·n⌉-th order statistic, i.e.
    * within one bin width (max−min)/nBins of the COUNT-BASED quantile
    * (spec-proven). Interpolated definitions (quantile_cont /
    * percentile) can differ by more on sparse tails — they interpolate
    * BETWEEN order statistics that may sit bins apart; the bracketing
    * guarantee is on the order statistic itself.
    *
    * Scale shape: one (group) min/max/count aggregate (broadcast — groups
    * are bounded), one (group, bin) count aggregate, a per-group
    * cumulative window over ≤ nBins rows, and a broadcast explode of the
    * requested quantiles.
    *
    * The callers' nBins = 128 default is a MEASURED choice (Round9OpsSpec
    * sweep on the sf0.01 events corpus): observed max error 0.35 bin
    * widths at nBins = 32, 0.46 at 128, 0.68 at 512 — every size honors
    * the one-bin-width bound, and 128 bins make the ABSOLUTE bound
    * (hi−lo)/128 tight enough for the quantile consumers at 128 rows of
    * state per group.
    */
  def histogramQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                         nBins: Int, qs: Seq[Double]): DataFrame =
    histogramQuantilesRaw(df, groupCols, valueCol, nBins, qs)
      .withColumn("est", round(col("_est_raw"), 6))
      .select((groupCols.map(col) ++ Seq(col("q"), col("est"))): _*)

  /** [[histogramQuantiles]] before the display rounding: `_est_raw` is
    * the pure fixed-shape IEEE interpolation (engine-identical without
    * any decimal snapshot), which is what THRESHOLD consumers (the RFM
    * quintile scorer) must compare against — a rounded boundary would
    * reclassify rows sitting inside the rounding radius.
    */
  def histogramQuantilesRaw(df: DataFrame, groupCols: Seq[String], valueCol: String,
                            nBins: Int, qs: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(valueCol).cast("double")
    val ext = df.groupBy(groupCols.map(col): _*)
      .agg(min(v).as("_lo"), max(v).as("_hi"), count(lit(1)).as("_n"))
    val wBin = (col("_hi") - col("_lo")) / nBins
    val bin = when(col("_hi") === col("_lo"), lit(0L))
      .otherwise(least(floor((v - col("_lo")) / wBin), lit((nBins - 1).toLong)))
      .cast("long")
    val counts = df.join(broadcast(ext), groupCols)
      .select((groupCols.map(col) :+ bin.as("_bin")): _*)
      .groupBy((groupCols :+ "_bin").map(col): _*)
      .agg(count(lit(1)).as("_cnt"))
    val wcum = Window.partitionBy(groupCols.map(col): _*).orderBy(col("_bin").asc)
    val cum = counts.withColumn("_cum", sum("_cnt").over(wcum))
      .join(broadcast(ext), groupCols)
    val qdf = qs.toDF("q")
    val target = col("q") * col("_n").cast("double")
    val wPick = Window.partitionBy((groupCols :+ "q").map(col): _*).orderBy(col("_bin").asc)
    cum.join(broadcast(qdf))
      .where(col("_cum").cast("double") >= target)
      .withColumn("_rn", row_number().over(wPick))
      .where(col("_rn") === 1)
      .withColumn("_est_raw",
        col("_lo") + col("_bin").cast("double") * wBin +
          ((target - (col("_cum") - col("_cnt")).cast("double")) / col("_cnt").cast("double")) * wBin)
      .select((groupCols.map(col) ++ Seq(col("q"), col("_est_raw"))): _*)
  }

  /** Per-(group, bin) counts against EXPLICIT edges [lo, hi] — the
    * mergeable histogram state for callers that fix the edges up front
    * (the streaming twin must: a stream cannot know its final min/max).
    * Values outside [lo, hi] clamp into the boundary bins, keeping the
    * sketch total equal to the row count.
    */
  def histogramCounts(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      lo: Double, hi: Double, nBins: Int): DataFrame = {
    val v = col(valueCol).cast("double")
    val w = (hi - lo) / nBins
    val bin =
      if (w == 0) lit(0L)
      else greatest(least(floor((v - lit(lo)) / lit(w)), lit((nBins - 1).toLong)), lit(0L))
        .cast("long")
    df.select((groupCols.map(col) :+ bin.as("_bin")): _*)
      .groupBy((groupCols :+ "_bin").map(col): _*)
      .agg(count(lit(1)).as("_cnt"))
  }

  /** Per-group HyperLogLog sketch (m = 64 registers) — the mergeable
    * approximate-distinct state, built PORTABLY so it hash-checks against
    * the DuckDB oracle (unlike approx_count_distinct's engine-private
    * HLL++ — the C6/C73 rows-only cases, upgraded here): register index =
    * md5-low32 mod 64, rank = leading zeros of md5-high32 + 1 computed as
    * 33 − length(bin(h)) (string length is exact; no libm anywhere), and
    * the register sum Σ 2^−R is a dyadic rational with denominator 2⁻³³ —
    * exact in double in ANY summation order, exported as the integer
    * `s_scaled` = S·2³³. The raw HLL estimate αₘ·m²/S uses only IEEE
    * division/multiplication; the small-range linear-counting correction
    * (m·ln(m/V) when V empty registers exist and the raw estimate is
    * below 2.5m) does use ln, but its argument set is FINITE — V ∈ 1..63
    * — and Java's Math.log and DuckDB's ln were verified bit-identical on
    * all 63 inputs, so `est_distinct` stays hash-checked.
    *
    * Scale shape: one hash aggregate to (group, register) — map-side
    * combinable — then one to group; registers merge by MAX, so shard
    * sketches union by element-wise max exactly like the count-min matrix
    * (spec-proven).
    *
    * The m = 64 default is a MEASURED choice (Round9OpsSpec sweep on the
    * sf0.01 events corpus, theoretical σ = 1.04/√m): observed max
    * relative error 33.2% at m = 16 (σ = 26%), 1.0% at m = 64 (σ = 13%),
    * 3.0% at m = 256 (σ = 6.5%) — 64 registers already sit well inside
    * the bound and quadrupling the state bought nothing here.
    */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  m: Int = 64): DataFrame =
    hllEstimate(hllRegisters(df, groupCols, valueCol, m), groupCols, m)

  /** The per-(group, register) rank table — the sketch's MERGEABLE state:
    * shard register tables union + max-merge into the whole-corpus table
    * (spec-proven), which is what the streaming twin maintains per
    * micro-batch.
    */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   m: Int = 64): DataFrame = {
    val h = graft.functions.Md5Hash64.hash64(col(valueCol).cast("string"))
    val idx = pmod(h.getItem(0), lit(m.toLong))
    val hi = h.getItem(1)
    val rho = when(hi === 0L, lit(33L)).otherwise(lit(33L) - length(bin(hi)))
    df.select((groupCols.map(col) :+ idx.as("_idx") :+ rho.as("_rho")): _*)
      .groupBy((groupCols :+ "_idx").map(col): _*)
      .agg(max("_rho").as("_r"))
  }

  /** Estimate finalization over a register table (columns `_idx`, `_r`
    * plus the group keys) — shared by the batch operator and the
    * streaming state so stream-vs-batch convergence is hash-exact.
    */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String], m: Int = 64): DataFrame = {
    // α_m·m², spelled as the same IEEE op sequence the oracle runs.
    // The one α formula serves every register count in the sweep spec;
    // at the default m = 64 it is the exact constant the q_hll_distinct
    // oracle embeds. (Flajolet's small-m table constants α16/α32 differ
    // in the third decimal — a fixed-bias choice, not an accuracy one;
    // the sweep spec measures the realized error either way.)
    val alphaMM = 0.7213 / (1 + 1.079 / m.toDouble) * (m.toDouble * m.toDouble)
    regs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_registers_set"),
        sum(pow(lit(0.5), col("_r"))).as("_sp"))
      .withColumn("_s", col("_sp") + (lit(m.toDouble) - col("n_registers_set")))
      .withColumn("_v", lit(m.toLong) - col("n_registers_set"))
      .withColumn("_raw", lit(alphaMM) / col("_s"))
      .withColumn("s_scaled", (col("_s") * lit(8589934592.0)).cast("long"))
      .withColumn("est_distinct", round(
        when(col("_v") > 0L && col("_raw") <= lit(2.5 * m),
          lit(m.toDouble) * log(lit(m.toDouble) / col("_v").cast("double")))
          .otherwise(col("_raw")), 4))
      .select((groupCols.map(col) ++
        Seq(col("n_registers_set"), col("s_scaled"), col("est_distinct"))): _*)
  }

  /** Per-group distribution-shape moments: mean, population stddev,
    * skewness and excess kurtosis — the profiler columns that catch what
    * mean/stddev (C72) can't: a bimodal mixture, a heavy upper tail, or
    * a truncated distribution all shift the 3rd/4th moments before they
    * move the first two. Deliberately NOT the built-in skewness/kurtosis
    * aggregates (engines disagree on sample-vs-population and bias
    * corrections): four exact decimal power sums (the decSum idiom) are
    * combined in one FIXED double shape both engines share —
    *   skew = (E[x³] − 3m·E[x²] + 2m³) / σ³,
    *   kurt = (E[x⁴] − 4m·E[x³] + 6m²·E[x²] − 3m⁴) / σ⁴ − 3
    * — so every row hash-checks. One hash aggregation, map-side
    * combinable, O(1) state per group.
    */
  def momentsProfile(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val agg = df.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      Portable.decSum(v, 6).as("_s1"),
      Portable.decSum(v * v, 6).as("_s2"),
      Portable.decSum(v * v * v, 6).as("_s3"),
      Portable.decSum(v * v * v * v, 6).as("_s4"))
    val n = col("n").cast("double")
    val m = col("_s1") / n
    val ex2 = col("_s2") / n
    val ex3 = col("_s3") / n
    val ex4 = col("_s4") / n
    val variance = greatest(ex2 - m * m, lit(0.0))
    val sd = sqrt(variance)
    agg.select(col(groupCol), col("n"),
      Portable.pround(m, 6).as("mean"),
      round(sd, 6).as("stddev"),
      // Zero-variance guard: σ³ and σ⁴ divisions at variance = 0 yield
      // NULL in Spark but NaN/Inf under DuckDB's IEEE division — a
      // constant-valued group must emit NULL explicitly in BOTH engines
      // (the oracle carries the matching CASE). pround: both moments are
      // signed, so round(-eps) needs the -0.0 canonicalization.
      when(variance > 0,
        Portable.pround((ex3 - lit(3.0) * m * ex2 + lit(2.0) * (m * m * m)) /
          (sd * sd * sd), 6)).as("skewness"),
      when(variance > 0,
        Portable.pround((ex4 - lit(4.0) * m * ex3 + lit(6.0) * (m * m) * ex2 -
          lit(3.0) * (m * m * m * m)) / (variance * variance) - lit(3.0), 6))
        .as("kurtosis"))
  }

  /** Per-group quantile normalization: percent_rank of `valueCol` within
    * each group — the cross-domain calibration step that makes one
    * quality threshold fair across sources whose raw score scales differ
    * (a 0.9 cut then keeps the top decile of EVERY domain, not of
    * whichever domain scores high). Rank-based, so ties get equal
    * normalized scores in any engine; single-member groups land at 0 by
    * the (rank−1)/(n−1) definition. One per-group window riding one
    * exchange; O(1) state per row.
    */
  def quantileNormalize(df: DataFrame, idCol: String, groupCol: String,
                        valueCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(valueCol).asc)
    df.select(col(idCol), col(groupCol), col(valueCol),
      round(percent_rank().over(w), 9).as("qnorm"))
  }

  /** HLL set algebra between groups — the sketch-level answer to "how
    * many values do groups share?" without ever materializing the value
    * sets: registers max-merge (the HLL union monoid) per group PAIR,
    * the union estimate runs through the SAME [[hllEstimate]]
    * finalization as the per-group estimates, and the intersection
    * falls out by inclusion-exclusion est_a + est_b − est_union (the
    * standard HLL trick — small true intersections can estimate
    * negative; that is the sketch's documented behavior, not an error).
    *
    * Scale shape: the register table is |groups|·m rows (the whole
    * point), the pair frame is a group-CATALOG cross join (broadcast,
    * never data-sized), and every estimate is sketch-state arithmetic.
    */
  def hllOverlap(df: DataFrame, groupCol: String, valueCol: String,
                 m: Int = 64): DataFrame = {
    val regs = hllRegisters(df, Seq(groupCol), valueCol, m)
    val per = hllEstimate(regs, Seq(groupCol), m)
      .select(col(groupCol), col("est_distinct"))
    val groups = regs.select(col(groupCol).as("_g")).distinct()
    val pairs = groups.select(col("_g").as("group_a"))
      .crossJoin(broadcast(groups.select(col("_g").as("group_b"))))
      .where(col("group_a") < col("group_b"))
    val ra = pairs.join(
      regs.select(col(groupCol).as("group_a"), col("_idx"), col("_r")), Seq("group_a"))
    val rb = pairs.join(
      regs.select(col(groupCol).as("group_b"), col("_idx"), col("_r")), Seq("group_b"))
    val unionRegs = ra.select("group_a", "group_b", "_idx", "_r")
      .unionByName(rb.select("group_a", "group_b", "_idx", "_r"))
      .groupBy("group_a", "group_b", "_idx").agg(max("_r").as("_r"))
    val est = hllEstimate(unionRegs, Seq("group_a", "group_b"), m)
      .select(col("group_a"), col("group_b"), col("est_distinct").as("est_union"))
    est
      .join(broadcast(per.select(col(groupCol).as("group_a"),
        col("est_distinct").as("est_a"))), Seq("group_a"))
      .join(broadcast(per.select(col(groupCol).as("group_b"),
        col("est_distinct").as("est_b"))), Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("est_a"), col("est_b"),
        col("est_union"),
        round(col("est_a") + col("est_b") - col("est_union"), 4).as("est_intersect"))
  }

  /** Benford first-significant-digit profile of a positive numeric
    * column — the classic fabricated-data / unit-mixing screen: natural
    * multiplicative quantities follow P(d) = log10(1 + 1/d); synthetic or
    * truncated ones don't, and the per-digit deviation points at the
    * culprit.
    *
    * The leading digit is extracted SYMBOLICALLY — floor to a bigint,
    * render, take the first character — because the arithmetic route
    * (x / 10^floor(log10 x)) puts a transcendental on the keying path
    * where a one-ulp disagreement flips the digit; integer rendering is
    * engine-exact. One hash aggregation over nine groups + a broadcast
    * total; expected shares are fixed-shape doubles.
    */
  def benfordProfile(df: DataFrame, valueCol: Column): DataFrame = {
    val digits = df.where(valueCol >= 1.0)
      .select(substring(floor(valueCol).cast("bigint").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val total = digits.agg(sum("cnt").as("_total"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("cnt"),
        round(col("cnt").cast("double") / col("_total").cast("double"), 6)
          .as("obs_share"),
        round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
          log(lit(10.0)), 6).as("benford_share"))
  }

  /** ROC AUC per group via the Mann-Whitney rank statistic — the
    * threshold-free "does this score separate the classes" evaluation a
    * quality-classifier pipeline reports before picking a filter cutoff.
    *
    * AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) where R⁺ is the positive class's
    * rank-sum under ascending score order, ties taking the average rank.
    * Computed EXACTLY: scores collapse to distinct-value groups
    * (cnt, pos) per (group, score); a tied group starting after
    * `cumBefore` rows contributes pos·(2·cumBefore + cnt + 1) to 2·R⁺ —
    * all integer arithmetic until the single final division, so the
    * output double is engine-exact with no rounding step.
    *
    * Scale shape: one hash exchange on the group column serves both the
    * distinct-score aggregation (hash(group) co-locates every (group,
    * score) pair) and the cumulative window; the frame under the window
    * is distinct scores per group, not rows. Degenerate groups (all one
    * class) → NULL, never a division by zero.
    */
  def rocAuc(df: DataFrame, groupCol: String, scoreCol: Column,
             labelCol: Column): DataFrame = {
    val g = df
      .select(col(groupCol), scoreCol.as("_s"),
        labelCol.cast("boolean").cast("long").as("_y"))
      .repartition(col(groupCol))
      .groupBy(col(groupCol), col("_s"))
      .agg(count(lit(1)).as("_cnt"), sum("_y").as("_pos"))
    val w = Window.partitionBy(groupCol).orderBy("_s")
      .rowsBetween(Window.unboundedPreceding, -1)
    // decimal rank-sums: R⁺ is O(N²) — a long wraps silently past ~3e9
    // rows per group while decimal(38,0) holds to 1e19.
    g.withColumn("_cumBefore", coalesce(sum("_cnt").over(w), lit(0L)))
      .groupBy(groupCol)
      .agg(
        sum(col("_pos").cast("decimal(38,0)") *
          (col("_cumBefore") * 2 + col("_cnt") + 1)).as("_r2"),
        sum("_cnt").as("n"), sum("_pos").as("n_pos"))
      .select(col(groupCol), col("n"), col("n_pos"),
        when(col("n_pos") > 0 && col("n_pos") < col("n"),
          (col("_r2") - col("n_pos").cast("decimal(38,0)") * (col("n_pos") + 1))
            .cast("double") /
            ((col("n_pos").cast("decimal(38,0)") * (col("n") - col("n_pos")))
              .cast("double") * 2.0))
          .as("auc"))
  }

  /** Population Stability Index between two cohorts of one value column —
    * the drift gate run between a reference window and a fresh batch
    * (PSI < 0.1 stable, > 0.25 action). Binning is SYMBOLIC: bin =
    * bit-length of the integer value (`length(bin(v))`), so no
    * transcendental sits on the keying path and both engines agree on
    * every boundary. Per-bin shares are add-1 smoothed over the union of
    * observed bins (an empty bin on one side must not produce ±Inf);
    * contribution = (p−q)·ln(p/q). Returns one row per bin plus the
    * rolled-up `psi` repeated, both rounded via the signed-portable rule.
    *
    * Scale: two hash aggs over ≤ 64 bins and a broadcast of the bin
    * catalog — nothing row-sized crosses a shuffle after the first agg.
    */
  def psiReport(df: DataFrame, cohortCol: Column, valueCol: Column): DataFrame =
    psiFromCounts(psiBinnedCounts(df, cohortCol, valueCol))

  /** The per-bin cohort counts feeding [[psiFromCounts]] — (bin, _ca,
    * _cb) rows. Split out because the counts are the PSI's sum-monoid:
    * a streaming maintainer merges THESE (StreamingOps.PsiDriftState)
    * and derives the report at read time via the identical arithmetic.
    */
  private[graft] def psiBinnedCounts(df: DataFrame, cohortCol: Column,
                                     valueCol: Column): DataFrame =
    df.select(
        cohortCol.cast("boolean").as("_ref"),
        when(valueCol.cast("long") > 0, length(bin(valueCol.cast("long"))))
          .otherwise(lit(0)).cast("long").as("bin"))
      .groupBy("bin").agg(
        sum(when(col("_ref"), 1L).otherwise(0L)).as("_ca"),
        sum(when(!col("_ref"), 1L).otherwise(0L)).as("_cb"))

  private[graft] def psiFromCounts(counts: DataFrame): DataFrame = {
    val totals = counts.agg(
      sum("_ca").as("_na"), sum("_cb").as("_nb"), count(lit(1)).as("_bins"))
    val shares = counts.crossJoin(broadcast(totals))
      .select(col("bin"), col("_ca").as("n_ref"), col("_cb").as("n_cur"),
        ((col("_ca") + 1).cast("double") / (col("_na") + col("_bins")).cast("double")).as("_p"),
        ((col("_cb") + 1).cast("double") / (col("_nb") + col("_bins")).cast("double")).as("_q"))
    val contrib = shares.withColumn("_c",
      (col("_p") - col("_q")) * log(col("_p") / col("_q")))
    val total = contrib.agg(Portable.decSum(col("_c"), 9).as("_psi"))
    contrib.crossJoin(broadcast(total))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round(col("_p"), 9).as("p_ref"), round(col("_q"), 9).as("p_cur"),
        Portable.pround(col("_c"), 9).as("contrib"),
        Portable.pround(col("_psi"), 9).as("psi"))
      .orderBy("bin")
  }

  /** Calibration / reliability report for a [0,1] score against a binary
    * outcome: fixed-width score bins, each with its mean predicted score
    * (confidence) and observed positive rate (accuracy), plus the rolled-
    * up Expected Calibration Error Σ (n_b/N)·|acc_b − conf_b| — AUC's
    * complement (rocAuc says the RANKING separates; this says the score
    * VALUES mean what they claim — the gate before using a score as a
    * probability threshold).
    *
    * Binning is floor(score·nBins) clamped to the top bin — the product
    * and floor are the same doubles in both engines (no percentile
    * boundary ambiguity). acc is one exact integer division; conf is a
    * decimal-snapshotted mean rounded BEFORE entering the ECE terms, so
    * every downstream float shape is fixed. Two hash aggs over ≤ nBins
    * rows + broadcast totals.
    */
  def calibrationReport(df: DataFrame, scoreCol: Column, labelCol: Column,
                        nBins: Int = 10): DataFrame =
    calibrationFromBins(scoreBins(df, scoreCol, labelCol, nBins))

  /** Shared per-bin sufficient statistics for [[calibrationReport]] /
    * [[brierDecomposition]] and their streaming twin: per fixed-width
    * score bin, (n, positives, Σscore, Σ(score−y)²) with the sums kept
    * as DECIMALS — an additive monoid, so partial states merged at any
    * micro-batch boundary equal the batch aggregate exactly.
    */
  private[graft] def scoreBins(df: DataFrame, scoreCol: Column,
                               labelCol: Column, nBins: Int): DataFrame = {
    val binned = df.select(
      least(floor(scoreCol * nBins), lit(nBins - 1)).cast("long").as("bin"),
      labelCol.cast("boolean").cast("long").as("_y"),
      scoreCol.as("_s"))
    binned.groupBy("bin").agg(
      count(lit(1)).as("n"), sum("_y").as("n_pos"),
      sum(col("_s").cast("decimal(28,12)")).as("_ssd"),
      sum(((col("_s") - col("_y").cast("double")) *
        (col("_s") - col("_y").cast("double"))).cast("decimal(28,12)")).as("_sqd"))
  }

  /** [[calibrationReport]] from maintained [[scoreBins]] — the shared
    * read path for the batch query and the streaming twin.
    */
  def calibrationFromBins(bins: DataFrame): DataFrame = {
    val g = bins.select(col("bin"), col("n"), col("n_pos"),
      col("_ssd").cast("double").as("_ss"))
    val tot = g.agg(sum("n").as("_N"))
    val conf = round(col("_ss") / col("n"), 9)
    val acc = col("n_pos").cast("double") / col("n").cast("double")
    val rows = g.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_pos"),
        conf.as("conf"), acc.as("acc"),
        (col("n").cast("double") / col("_N").cast("double") * abs(acc - conf)).as("_c"))
    val ece = rows.agg(Portable.decSum(col("_c"), 12).as("_ece"))
    rows.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("n_pos"), col("conf"), col("acc"),
        round(col("_ece"), 9).as("ece"))
      .orderBy("bin")
  }

  /** Spearman rank correlation per group — Pearson on average ranks, the
    * monotone-association screen that ignores the marginal distributions
    * (C84's rolling Pearson asks "linear"; this asks "monotone", robust
    * to any monotone rescaling of either column).
    *
    * Exactness: ties take the average rank, which is a half-integer — so
    * the DOUBLED rank (minrank + complement-maxrank, from one ascending
    * and one descending rank window) is an integer, Pearson is scale-
    * invariant, and every moment accumulates as decimal(38,0) integers;
    * the ρ formula's two sqrt/divide steps are the only floating ops
    * (signed-portable round). Constant columns → NULL, never NaN.
    *
    * Scale shape: ONE group-hash exchange serves all four rank windows
    * (sorts, no re-shuffle) and the final moment aggregation.
    */
  def spearman(df: DataFrame, groupCol: String, xCol: Column, yCol: Column): DataFrame = {
    val base = df.select(col(groupCol), xCol.as("_x"), yCol.as("_y"))
      .repartition(col(groupCol))
    def doubledRank(c: String): Column = {
      val asc = rank().over(Window.partitionBy(groupCol).orderBy(col(c).asc))
      val desc = rank().over(Window.partitionBy(groupCol).orderBy(col(c).desc))
      val n = count(lit(1)).over(Window.partitionBy(groupCol))
      (asc.cast("long") + (n - desc.cast("long") + 1)).cast("decimal(38,0)")
    }
    val ranked = base
      .withColumn("_rx", doubledRank("_x"))
      .withColumn("_ry", doubledRank("_y"))
    val agg = ranked.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      sum(col("_rx")).as("_sx"), sum(col("_ry")).as("_sy"),
      sum(col("_rx") * col("_ry")).as("_sxy"),
      sum(col("_rx") * col("_rx")).as("_sxx"),
      sum(col("_ry") * col("_ry")).as("_syy"))
    val nD = col("n").cast("decimal(38,0)")
    val varX = (nD * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val varY = (nD * col("_syy") - col("_sy") * col("_sy")).cast("double")
    agg.select(col(groupCol), col("n"),
      when(varX > 0 && varY > 0,
        Portable.pround(
          (nD * col("_sxy") - col("_sx") * col("_sy")).cast("double") /
            (sqrt(varX) * sqrt(varY)), 6))
        .as("spearman_rho"))
  }

  /** Chi-square test of independence + Cramér's V over two categorical
    * columns — "are these labels associated at all, and how strongly"
    * (V ∈ [0,1] normalizes χ² across table sizes; the first question
    * asked of lang × source before trusting per-source language stats).
    * Emits the full contingency grid (including ZERO cells — an absent
    * combination still contributes (0−e)²/e) with observed/expected/
    * contribution per cell and the rolled-up chi2 and cramers_v
    * repeated.
    *
    * Expected counts are integer cross-products divided once; the grid
    * is margins × margins (broadcast — label catalogs, not row scale);
    * contributions decimal-sum into χ². All floating steps fixed-shape.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
    val cells = base.groupBy("_a", "_b").agg(count(lit(1)).as("_o"))
    val rowT = base.groupBy("_a").agg(count(lit(1)).as("_rt"))
    val colT = base.groupBy("_b").agg(count(lit(1)).as("_ct"))
    val nT = base.agg(count(lit(1)).as("_n"),
      countDistinct("_a").as("_ra"), countDistinct("_b").as("_rb"))
    val grid = rowT.crossJoin(broadcast(colT))
      .join(cells, Seq("_a", "_b"), "left")
      .na.fill(0L, Seq("_o"))
      .crossJoin(broadcast(nT))
    // decimal product: row·col margins are O(N²) — a long wraps silently
    val e = (col("_rt").cast("decimal(38,0)") * col("_ct")).cast("double") /
      col("_n").cast("double")
    val contrib = (col("_o").cast("double") - e) * (col("_o").cast("double") - e) / e
    val scored = grid.select(col("_a"), col("_b"), col("_o"), col("_n"),
      col("_ra"), col("_rb"), e.as("_e"), contrib.as("_c"))
    val tot = scored.agg(Portable.decSum(col("_c"), 9).as("_chi2"))
    scored.crossJoin(broadcast(tot))
      .select(col("_a").as(aCol), col("_b").as(bCol), col("_o").as("observed"),
        round(col("_e"), 6).as("expected"),
        round(col("_c"), 6).as("contrib"),
        round(col("_chi2"), 6).as("chi2"),
        when(least(col("_ra"), col("_rb")) > 1,
          round(sqrt(col("_chi2") /
            (col("_n").cast("double") *
              (least(col("_ra"), col("_rb")) - 1).cast("double"))), 6))
          .as("cramers_v"))
      .orderBy(aCol, bCol)
  }

  /** Precision-constrained threshold pick per group: the DEEPEST score
    * cutoff whose cumulative precision still meets `pNum/pDen` — the
    * actionable end of the evaluation family ([[rocAuc]] says the score
    * ranks, [[calibrationReport]] says what it means, THIS says where to
    * cut to keep the most data at a guaranteed precision). One row per
    * group: threshold, rows kept, positives kept, achieved precision and
    * recall at that cut; groups with no qualifying cut emit nothing.
    *
    * The precision test is the EXACT integer cross-multiplication
    * cumPos·pDen ≥ cumN·pNum — no float threshold boundary; cumulative
    * counts ride the distinct-score frame under one group-keyed window
    * (the rocAuc shape), and the deepest qualifying cut is unique
    * because cumN strictly increases with depth.
    */
  def thresholdPick(df: DataFrame, groupCol: String, scoreCol: Column,
                    labelCol: Column, pNum: Int, pDen: Int): DataFrame = {
    val g = df
      .select(col(groupCol), scoreCol.as("_s"),
        labelCol.cast("boolean").cast("long").as("_y"))
      .repartition(col(groupCol))
      .groupBy(col(groupCol), col("_s"))
      .agg(count(lit(1)).as("_cnt"), sum("_y").as("_pos"))
    val wCum = Window.partitionBy(groupCol).orderBy(col("_s").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy(groupCol)
    val cuts = g
      .withColumn("_cumN", sum("_cnt").over(wCum))
      .withColumn("_cumPos", sum("_pos").over(wCum))
      .withColumn("_totPos", sum("_pos").over(wTot))
      .where(col("_cumPos") * pDen >= col("_cumN") * pNum)
    val wBest = Window.partitionBy(groupCol).orderBy(col("_cumN").desc)
    cuts.withColumn("_rn", row_number().over(wBest))
      .where(col("_rn") === 1)
      .select(col(groupCol), col("_s").as("threshold"),
        col("_cumN").as("n_kept"), col("_cumPos").as("n_pos_kept"),
        (col("_cumPos").cast("double") / col("_cumN").cast("double"))
          .as("precision"),
        when(col("_totPos") > 0,
          col("_cumPos").cast("double") / col("_totPos").cast("double"))
          .as("recall"))
  }

  /** Per-label precision/recall/F1 + macro-F1 from a confusion-matrix
    * frame (trueCol, predCol, countCol) — the standard multi-class
    * report ([[cohensKappa]] gives the one-number chance-corrected
    * score; this shows WHICH labels the classifier trades away). Labels
    * are the union of true and predicted; absent counts are exact
    * zeros. P/R/F1 are fixed-shape divisions NULL-guarded on empty
    * denominators; macro-F1 averages the per-label F1s (absent → 0,
    * the conservative convention) via a decimal sum.
    */
  def classificationReport(conf: DataFrame, trueCol: String, predCol: String,
                           countCol: String): DataFrame = {
    val tp = conf.where(col(trueCol) === col(predCol))
      .groupBy(col(trueCol).as("label")).agg(sum(countCol).as("_tp"))
    val rt = conf.groupBy(col(trueCol).as("label")).agg(sum(countCol).as("_rt"))
    val ct = conf.groupBy(col(predCol).as("label")).agg(sum(countCol).as("_ct"))
    val base = rt.join(ct, Seq("label"), "full")
      .join(tp, Seq("label"), "left")
      .na.fill(0L, Seq("_tp", "_rt", "_ct"))
    val prec = when(col("_ct") > 0, col("_tp").cast("double") / col("_ct").cast("double"))
    val rec = when(col("_rt") > 0, col("_tp").cast("double") / col("_rt").cast("double"))
    val f1 = when(prec.isNotNull && rec.isNotNull && (prec + rec) > 0,
      lit(2.0) * prec * rec / (prec + rec))
    val scored = base.select(col("label"), col("_tp").as("tp"),
      col("_rt").as("n_true"), col("_ct").as("n_pred"),
      round(prec, 9).as("precision"), round(rec, 9).as("recall"),
      round(f1, 9).as("f1"), coalesce(f1, lit(0.0)).as("_f1raw"))
    val macroAgg = scored.agg(
      (Portable.decSum(col("_f1raw"), 12) / count(lit(1))).as("_macro"))
    scored.crossJoin(broadcast(macroAgg))
      .select(col("label"), col("tp"), col("n_true"), col("n_pred"),
        col("precision"), col("recall"), col("f1"),
        round(col("_macro"), 9).as("macro_f1"))
      .orderBy("label")
  }

  /** Cohen's kappa from a confusion-matrix frame (trueCol, predCol,
    * countCol rows): chance-corrected agreement κ = (p_o − p_e)/(1 −
    * p_e), where p_o is the trace share and p_e the margin-product
    * chance rate — plain accuracy rewards majority-class guessing;
    * kappa subtracts it (Cohen 1960). One row out (n, po, pe, kappa);
    * κ undefined (NULL) when p_e = 1 (a single-cell matrix).
    *
    * All counts and margin products are exact integers/decimals; po,
    * pe, and the kappa ratio are the only floating steps. Margins join
    * on the label (absent-on-one-side labels contribute 0 exactly).
    */
  def cohensKappa(conf: DataFrame, trueCol: String, predCol: String,
                  countCol: String): DataFrame = {
    val agg = conf.agg(sum(countCol).as("_n"),
      sum(when(col(trueCol) === col(predCol), col(countCol)).otherwise(0L))
        .as("_agree"))
    val rt = conf.groupBy(col(trueCol).as("_lbl")).agg(sum(countCol).as("_rt"))
    val ct = conf.groupBy(col(predCol).as("_lbl")).agg(sum(countCol).as("_ct"))
    val pe2 = rt.join(ct, Seq("_lbl"))
      .agg(sum(col("_rt").cast("decimal(38,0)") * col("_ct")).as("_p"))
    val po = col("_agree").cast("double") / col("_n").cast("double")
    val pe = col("_p").cast("double") /
      (col("_n").cast("decimal(38,0)") * col("_n")).cast("double")
    agg.crossJoin(broadcast(pe2))
      .select(col("_n").as("n_docs"),
        round(po, 9).as("po"), round(pe, 9).as("pe"),
        when(lit(1.0) - pe > 0,
          Portable.pround((po - pe) / (lit(1.0) - pe), 9)).as("kappa"))
  }

  /** Entropy decomposition of two categorical columns: H(A), H(B),
    * H(A,B), the conditional H(A|B) = H(A,B) − H(B), and the mutual
    * information I(A;B) = H(A) + H(B) − H(A,B), all in nats — "how much
    * does knowing the crawl tell you about the language", the
    * information-theoretic companion of [[chiSquare]]'s significance
    * test (χ² says the association is real; MI says how many bits it
    * carries). One row out.
    *
    * Three hash aggregations over the label catalogs + broadcast totals;
    * every −p·ln p term decimal-sums, the combinations are fixed-shape
    * subtractions (MI signed-portable: independence lands at ±1e−17).
    */
  def labelEntropies(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.select(col(aCol).as("_a"), col(bCol).as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
    val n = base.agg(count(lit(1)).as("_n"))
    def entropyOf(grouped: DataFrame, as: String): DataFrame = {
      val p = col("_c").cast("double") / col("_n").cast("double")
      grouped.crossJoin(broadcast(n))
        .agg(Portable.decSum(-p * log(p), 12).as(as))
    }
    val hA = entropyOf(base.groupBy("_a").agg(count(lit(1)).as("_c")), "_ha")
    val hB = entropyOf(base.groupBy("_b").agg(count(lit(1)).as("_c")), "_hb")
    val hJ = entropyOf(base.groupBy("_a", "_b").agg(count(lit(1)).as("_c")), "_hj")
    n.crossJoin(broadcast(hA)).crossJoin(broadcast(hB)).crossJoin(broadcast(hJ))
      .select(col("_n").as("n_rows"),
        round(col("_ha"), 9).as("h_a"),
        round(col("_hb"), 9).as("h_b"),
        round(col("_hj"), 9).as("h_joint"),
        Portable.pround(col("_hj") - col("_hb"), 9).as("h_a_given_b"),
        Portable.pround(col("_ha") + col("_hb") - col("_hj"), 9).as("mutual_info"))
  }

  /** Hash-block bootstrap standard error of a mean: rows partition into
    * `b` deterministic md5-hash blocks on `keyCol`, each block
    * contributes its own mean, and the spread of block means estimates
    * the sampling uncertainty of the corpus mean — the cheap
    * cluster-robust SE a pipeline attaches to any headline average
    * (subsampling/delete-block form; no RNG, reproducible anywhere).
    * SE = sd(block means)/√b; one row out (n_blocks, grand_mean, se).
    *
    * Two tiny aggregations over b rows after the one block-keyed pass;
    * block means and deviations snapshot at decimal before the rounds.
    */
  def blockBootstrapSe(df: DataFrame, keyCol: Column, valueCol: Column,
                       b: Int = 32): DataFrame = {
    val blocks = df
      .select((Portable.hash32(keyCol) % b).as("_blk"), valueCol.as("_v"))
      .groupBy("_blk")
      .agg((Portable.decSum(col("_v"), 6) / count(lit(1))).as("_m"))
    val center = blocks.agg(
      count(lit(1)).as("_nb"),
      (Portable.decSum(col("_m"), 12) / count(lit(1))).as("_mbar"))
    blocks.crossJoin(broadcast(center))
      .select(col("_nb"), col("_mbar"),
        ((col("_m") - col("_mbar")) * (col("_m") - col("_mbar"))).as("_d2"))
      .groupBy("_nb", "_mbar")
      .agg(Portable.decSum(col("_d2"), 12).as("_ss"))
      .select(col("_nb").as("n_blocks"),
        round(col("_mbar"), 9).as("grand_mean"),
        when(col("_nb") > 1,
          round(sqrt(col("_ss") / (col("_nb") - 1).cast("double")) /
            sqrt(col("_nb").cast("double")), 9))
          .as("se"))
  }

  /** Cumulative-gains / lift table per group: rank rows by score
    * descending within each group, cut into `nTiles` equal-count tiles,
    * and report per tile the positives captured so far and the lift over
    * random targeting — "how much of the good stuff is in the top 10%",
    * the campaign-targeting complement of [[rocAuc]] (AUC summarizes the
    * whole ranking; this reads it at the operating depths).
    *
    * The tile cut is ntile() over a UNIQUE total order (score desc, tie
    * key asc) — deterministic in both engines, no percentile boundary
    * ambiguity. Counts are exact integers; capture and lift are fixed-
    * shape integer divisions, engine-exact unrounded. All windows key on
    * the group column (no global window); the cumulative pass runs over
    * nTiles rows per group.
    */
  def gainsTable(df: DataFrame, groupCol: String, scoreCol: Column,
                 labelCol: Column, tieCol: Column, nTiles: Int = 10): DataFrame = {
    val base = df.select(col(groupCol), scoreCol.as("_s"),
      labelCol.cast("boolean").cast("long").as("_y"), tieCol.as("_t"))
      .repartition(col(groupCol))
    val wRank = Window.partitionBy(groupCol).orderBy(col("_s").desc, col("_t").asc)
    val tiles = base.withColumn("decile", ntile(nTiles).over(wRank))
      .groupBy(col(groupCol), col("decile"))
      .agg(count(lit(1)).as("n"), sum("_y").as("n_pos"))
    val wCum = Window.partitionBy(groupCol).orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(groupCol)
    tiles
      .withColumn("cum_n", sum("n").over(wCum))
      .withColumn("cum_pos", sum("n_pos").over(wCum))
      .withColumn("_totN", sum("n").over(wAll))
      .withColumn("_totPos", sum("n_pos").over(wAll))
      .select(col(groupCol), col("decile").cast("long").as("decile"),
        col("n"), col("n_pos"), col("cum_pos"),
        when(col("_totPos") > 0,
          col("cum_pos").cast("double") / col("_totPos").cast("double"))
          .as("capture"),
        when(col("_totPos") > 0,
          (col("cum_pos").cast("double") / col("cum_n").cast("double")) /
            (col("_totPos").cast("double") / col("_totN").cast("double")))
          .as("lift"))
      .orderBy(groupCol, "decile")
  }

  /** Two-sample Kolmogorov–Smirnov distance of each group against the
    * REST of the corpus — "which cohort's distribution drifted" ranked by
    * the sup-norm ECDF gap. D is found EXACTLY: at each candidate value
    * the gap |F_g − F_rest| is compared as the integer cross-product
    * |cum_g·(N−n_g) − cum_rest·n_g| (no per-step division), and only the
    * winning numerator is divided once at the end — the output double is
    * engine-exact, no rounding step.
    *
    * Scale shape: value distributions collapse to (group, value) counts,
    * the per-value overall count joins on value, and BOTH cumulative sums
    * run inside the per-group window over the distinct-value grid — no
    * global (partition-less) window anywhere. The grid is |groups| ×
    * |distinct values|, already reduced from row scale by the first agg.
    */
  def ksByGroup(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("_g"), valueCol.as("_v"))
    val counts = base.groupBy("_g", "_v").agg(count(lit(1)).as("_cnt"))
    val perValue = base.groupBy("_v").agg(count(lit(1)).as("_tot"))
    val groupsTot = base.groupBy("_g").agg(count(lit(1)).as("_ng"))
    val grandTot = base.agg(count(lit(1)).as("_n"))
    // group × distinct-value grid: a value absent from a group still moves
    // the complement's ECDF, so it is a candidate for the sup gap.
    val grid = groupsTot.crossJoin(broadcast(perValue))
      .join(counts, Seq("_g", "_v"), "left")
      .na.fill(0L, Seq("_cnt"))
    val w = Window.partitionBy("_g").orderBy("_v")
    // decimal cross-products: cum·(N−n_g) is O(N²) — a long wraps silently
    // past ~3e9 rows while decimal(38,0) holds to 1e19 rows.
    grid
      .withColumn("_cumG", sum("_cnt").over(w))
      .withColumn("_cumAll", sum("_tot").over(w))
      .crossJoin(broadcast(grandTot))
      .select(col("_g"), col("_ng"), col("_n"),
        abs(col("_cumG").cast("decimal(38,0)") * (col("_n") - col("_ng")) -
          (col("_cumAll") - col("_cumG")).cast("decimal(38,0)") * col("_ng"))
          .as("_num"))
      .groupBy("_g", "_ng", "_n").agg(max("_num").as("_dnum"))
      .select(col("_g").as(groupCol), col("_ng").as("n"),
        when(col("_ng") > 0 && col("_ng") < col("_n"),
          col("_dnum").cast("double") /
            (col("_ng").cast("decimal(38,0)") * (col("_n") - col("_ng")))
              .cast("double"))
          .as("ks_d"))
  }

  /** Welch's unequal-variance t-test per group (Welch 1947): does the
    * mean of `valueCol` differ between the `cohortFlag` cohort and the
    * rest? The question a pipeline asks before calling a split biased or
    * a drift real — the inferential companion of [[blockBootstrapSe]]
    * (that attaches uncertainty to ONE mean; this compares two), and of
    * the standardized-mean-difference balance report (same moments, a
    * different normalizer).
    *
    *   t  = (m1 − m2) / sqrt(s1²/n1 + s2²/n2)
    *   df = (s1²/n1 + s2²/n2)² / ((s1²/n1)²/(n1−1) + (s2²/n2)²/(n2−1))
    *
    * Determinism: both cohorts' (n, Σv, Σv²) accumulate as exact decimal
    * sums in ONE conditional hash aggregate (no second pass, no join);
    * means, variances, t and the Welch–Satterthwaite df are then a fixed
    * chain of IEEE ops on identical doubles in both engines. Degenerate
    * inputs (a cohort with < 2 rows, or both variances zero) emit NULL,
    * never NaN/Inf. t is signed → portable round; the SMD columns share
    * the same moments at zero extra cost.
    *
    * Scale shape: one group-keyed hash aggregate over the projected
    * (group, flag, value) frame — map-side combinable, nothing else
    * moves. Fine at any corpus size.
    */
  def welchTTest(df: DataFrame, groupCol: String, cohortFlag: Column,
                 valueCol: Column): DataFrame = {
    val f = cohortFlag.cast("boolean")
    val v = valueCol.cast("double")
    val agged = df
      .select(col(groupCol), f.as("_f"), v.as("_v"))
      .groupBy(groupCol)
      .agg(
        sum(when(col("_f"), 1L).otherwise(0L)).as("_n1"),
        sum(when(!col("_f"), 1L).otherwise(0L)).as("_n2"),
        Portable.decSum(when(col("_f"), col("_v")), 6).as("_s1"),
        Portable.decSum(when(!col("_f"), col("_v")), 6).as("_s2"),
        Portable.decSum(when(col("_f"), col("_v") * col("_v")), 6).as("_q1"),
        Portable.decSum(when(!col("_f"), col("_v") * col("_v")), 6).as("_q2"))
    // every division guarded: a cohort with 0 rows (no mean) or 1 row
    // (no variance) must NULL-propagate, not raise ANSI DIVIDE_BY_ZERO
    val m1 = when(col("_n1") > 0, col("_s1") / col("_n1"))
    val m2 = when(col("_n2") > 0, col("_s2") / col("_n2"))
    val var1 = when(col("_n1") > 1,
      (col("_q1") - col("_n1") * m1 * m1) / (col("_n1") - 1))
    val var2 = when(col("_n2") > 1,
      (col("_q2") - col("_n2") * m2 * m2) / (col("_n2") - 1))
    val vn1 = var1 / col("_n1")
    val vn2 = var2 / col("_n2")
    val se2 = vn1 + vn2
    val ok = col("_n1") > 1 && col("_n2") > 1 && se2 > 0
    agged.select(
      col(groupCol),
      col("_n1").as("n_cohort"),
      col("_n2").as("n_rest"),
      Portable.pround(m1 - m2, 9).as("mean_diff"),
      when(ok, Portable.pround((m1 - m2) / sqrt(se2), 6)).as("t_stat"),
      when(ok,
        round(se2 * se2 /
          (vn1 * vn1 / (col("_n1") - 1) + vn2 * vn2 / (col("_n2") - 1)), 6))
        .as("welch_df"),
      // standardized mean difference (Cohen's d with pooled-variance
      // normalizer sqrt((s1²+s2²)/2)) — the covariate-balance read of
      // the same moments
      when(ok && (var1 + var2) > 0,
        Portable.pround((m1 - m2) / sqrt((var1 + var2) / 2), 6)).as("smd"))
  }

  /** K-minimum-values distinct sketch (Bar-Yossef et al. 2002) per group,
    * with the exact count alongside: hash every distinct value with the
    * portable md5 rule, normalize to (0,1], keep the k smallest distinct
    * hash values; estimate = (k−1)/u_k where u_k is the k-th smallest.
    * The third portable sketch family member (C125 HLL = fixed 2^p
    * registers; C126 histogram quantiles; KMV = tunable-k, MERGEABLE by
    * keep-smallest-k union, and — unlike HLL — supports set
    * INTERSECTION estimates via the Jaccard of the combined sketch).
    * Because the hash rule is the deterministic md5 rule, the whole
    * sketch is oracle-replicable — no engine-private state.
    *
    * Scale shape: the distinct-(group, hash) frame is vocabulary-sized;
    * the k smallest per group come from a rank window on the group
    * exchange (never a global sort); groups with fewer than k distinct
    * hashes fall back to the exact count (the sketch is exact below k).
    */
  /** Distinct (group, portable-hash) frame — the KMV sketch's input
    * relation, shared by the batch estimator, the merge proof and the
    * streaming twin. */
  private[graft] def kmvHashes(df: DataFrame, groupCol: String,
                               valueCol: Column): DataFrame =
    // native digest-bytes hash — bit-identical to Portable.hash32's
    // conv(substring(md5)) recipe (Md5Hash64's contract) without the
    // four string allocations per row on the vocabulary hot path
    df.select(col(groupCol),
        graft.functions.Md5Hash64.hash64(valueCol.cast("string")).getItem(0)
          .as("_h"))
      .groupBy(groupCol, "_h").agg(count(lit(1)).as("_dup")) // distinct (g, h)
      .drop("_dup")

  /** Keep the k smallest distinct hashes per group — the KMV truncation.
    * Idempotent and associative under union (smallest-k of a union =
    * smallest-k of the unioned smallest-ks), which is what makes the
    * sketch mergeable and the streaming state bounded. */
  private[graft] def kmvSmallestK(hashes: DataFrame, groupCol: String,
                                  k: Int): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy("_h")
    hashes.distinct()
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= k).drop("_rn")
  }

  /** The (k−1)/u_k estimate off a ≤k-per-group sketch frame (exact-count
    * fallback below k) — the read-time arithmetic shared by the streaming
    * twin, producing values bit-identical to [[kmvDistinct]]'s
    * `kmv_estimate` column. */
  private[graft] def kmvEstimateFromSketch(sketch: DataFrame, groupCol: String,
                                           k: Int): DataFrame =
    // The _mx > 0 guard (ADVICE r15): if the k-th smallest hash were
    // literally 0, u_k = 0 and Spark (non-ANSI) yields NULL where DuckDB
    // yields Inf — fall back to the exact count instead. Astronomically
    // unlikely (requires hash collision at 0) but unguarded was a
    // bit-parity hole.
    sketch.groupBy(groupCol)
      .agg(count(lit(1)).as("_n"), max("_h").as("_mx"))
      .select(col(groupCol),
        when(col("_n") === k && col("_mx") > 0,
          round(lit((k - 1).toDouble) /
            (col("_mx").cast("double") / lit(4294967296.0d)), 6))
          .otherwise(col("_n").cast("double"))
          .as("kmv_estimate"))

  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: Column,
                  k: Int = 64): DataFrame = {
    val hashes = kmvHashes(df, groupCol, valueCol)
    val w = Window.partitionBy(groupCol).orderBy("_h")
    hashes
      .withColumn("_rn", row_number().over(w))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_distinct_hashed"),
        max(when(col("_rn") === k, col("_h"))).as("_hk"))
      .select(
        col(groupCol),
        col("n_distinct_hashed"),
        // _hk > 0 guard (ADVICE r15): a k-th-smallest hash of literally 0
        // would make u_k = 0 — NULL in Spark, Inf in DuckDB; fall back to
        // the exact count, mirroring kmvEstimateFromSketch.
        when(col("_hk").isNotNull && col("_hk") > 0,
          round(lit((k - 1).toDouble) /
            (col("_hk").cast("double") / lit(4294967296.0d)), 6))
          .otherwise(col("n_distinct_hashed").cast("double"))
          .as("kmv_estimate"),
        when(col("_hk").isNotNull && col("_hk") > 0,
          round(abs(lit((k - 1).toDouble) /
            (col("_hk").cast("double") / lit(4294967296.0d)) -
            col("n_distinct_hashed").cast("double")) /
            col("n_distinct_hashed").cast("double"), 6))
          .otherwise(lit(0.0d)).as("rel_err"),
        (when(col("_hk").isNotNull && col("_hk") > 0,
          abs(lit((k - 1).toDouble) /
            (col("_hk").cast("double") / lit(4294967296.0d)) -
            col("n_distinct_hashed").cast("double")) /
            col("n_distinct_hashed").cast("double"))
          .otherwise(lit(0.0d)) <= lit(4.0 / math.sqrt(k.toDouble)))
          .as("within_bounds"))
  }

  /** KMV mergeability proof as a query: the corpus-wide sketch computed
    * DIRECTLY (k smallest of all distinct hashes) vs computed by MERGING
    * the per-`partCol` sketches (union of each part's k smallest, then k
    * smallest of that) — with the estimates and an equality flag in one
    * row. This is the property that makes the sketch a 100 TB citizen:
    * each partition/shard/day ships k longs, the coordinator merges, and
    * the answer is AS IF the whole corpus were sketched centrally
    * (smallest-k is an idempotent, associative, commutative monoid under
    * union). The flag is engine-computed AND oracle-replayed, so a
    * regression in either path flips a hash-checked boolean.
    *
    * Scale shape: one distinct-(part, hash) aggregate; everything after
    * is parts·k-sized.
    */
  def kmvMergeProof(df: DataFrame, partCol: String, valueCol: Column,
                    k: Int = 64): DataFrame = {
    val hashes = kmvHashes(df, partCol, valueCol)
    val global = hashes.select(lit("all").as("_g"), col("_h"))
    val direct = kmvEstimateFromSketch(kmvSmallestK(global, "_g", k), "_g", k)
      .select(col("kmv_estimate").as("direct_estimate"))
    val merged = kmvEstimateFromSketch(
      kmvSmallestK(
        kmvSmallestK(hashes, partCol, k)
          .select(lit("all").as("_g"), col("_h")),
        "_g", k),
      "_g", k)
      .select(col("kmv_estimate").as("merged_estimate"))
    // non-null parts only (the oracle's count(DISTINCT part) semantics);
    // every df row yields >= 1 hash row, so hashes carries every part
    val nParts = hashes.where(col(partCol).isNotNull)
      .select(col(partCol)).distinct()
      .agg(count(lit(1)).as("n_parts"))
    nParts.crossJoin(direct).crossJoin(merged)
      .select(col("n_parts"), col("direct_estimate"), col("merged_estimate"),
        (col("direct_estimate") === col("merged_estimate")).as("merge_exact"))
  }

  /** Lorenz curve of a value column — the inequality CURVE behind the
    * C146 Gini scalar: at each of `points` population fractions, the
    * share of the total value held by the bottom fraction ("the bottom
    * 50 % of documents hold 31 % of the characters"). The table a
    * data-balance reviewer reads before trusting a corpus mix; Gini is
    * its summary area, so shipping the curve makes the scalar auditable.
    *
    * Exactness: ranks by value ascending (equal values permute freely —
    * prefix SUMS are permutation-invariant within a tie class), decimal
    * cumulative sums, boundary indices floor(p·n/points) as exact
    * integers, one division per point (NULL when the total is 0).
    * One global-rank exchange over (value) pairs — payload-free.
    *
    * Precondition: non-negative values. Lorenz shares of a column with
    * negatives are ill-defined (the cumulative sum is non-monotone and
    * per-point shares can leave [0, 1]); callers screen or shift first.
    */
  def lorenzCurve(df: DataFrame, valueCol: Column, points: Int = 10): DataFrame = {
    require(points >= 1, s"need at least one curve point (got $points)")
    val base = df.where(valueCol.isNotNull).select(valueCol.cast("double").as("_v"))
    // value-CATALOG formulation (never a row-scale global window): one
    // hash aggregate to (value, count), a cumulative window over the
    // bounded distinct-value catalog, and per point the straddling tie
    // class corrected by its excess members — exact because every
    // removed member is worth exactly v
    val g = base.groupBy("_v").agg(count(lit(1)).as("_c"))
    val w = Portable.kRowWindow(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g
      .withColumn("_ccnt", sum("_c").over(w))
      .withColumn("_csum",
        sum((col("_v") * col("_c").cast("double")).cast("decimal(28,6)")).over(w)
          .cast("double"))
    val totals = g.agg(sum("_c").as("_n"),
      Portable.decSum(col("_v") * col("_c").cast("double"), 6).as("_t"))
    val pts = totals.select(col("_n"), col("_t"),
        explode(array((1 to points).map(lit(_)): _*)).as("p"))
      .withColumn("_idx", floor(col("p") * col("_n") / points).cast("long"))
    pts.join(cum,
        col("_ccnt") >= col("_idx") && col("_ccnt") - col("_c") < col("_idx"), "left")
      .select(col("p").cast("long").as("point"),
        Portable.pround(col("_idx").cast("double") / col("_n").cast("double"), 6)
          .as("pop_share"),
        when(col("_t") > 0,
          Portable.pround(
            coalesce(col("_csum") - (col("_ccnt") - col("_idx")).cast("double") * col("_v"),
              lit(0.0)) / col("_t"), 6))
          .as("value_share"))
  }

  /** KMV pairwise Jaccard estimate (Beyer et al. 2007) — set similarity
    * from the SAME k-hash sketches the distinct estimator owns (C210):
    * for each unordered group pair, the union sketch K(A ∪ B) =
    * smallest-k(K(A) ∪ K(B)) (the merge monoid), and
    * Ĵ = |K(A∪B) ∩ A ∩ B| / |K(A∪B)| — the fraction of the union's
    * smallest hashes that belong to both sides. The direct-Jaccard
    * sibling of C153's inclusion–exclusion HLL algebra: at 100 TB the
    * pairwise similarity of any two shards/domains/days is k longs per
    * side, never a re-scan. Exact Jaccard + abs error ship alongside as
    * the audit columns (drop at scale).
    *
    * Everything is exact integers + one division + round(6); the hash
    * is the portable md5 rule, so the whole table is oracle-checkable.
    */
  def kmvJaccard(df: DataFrame, groupCol: String, valueCol: Column,
                 k: Int = 64): DataFrame = {
    // materialized ONCE: four consumers below (sketches, both exact
    // sides, sizes) would otherwise each replay the value explosion +
    // distinct; the frame is vocabulary-sized (the triangleCounts
    // eager-checkpoint convention — this call runs Spark jobs)
    val hashes = kmvHashes(df, groupCol, valueCol).localCheckpoint(true)
    // sketches and the group catalog are sketch-sized: the two non-equi
    // joins below (pair enumeration, OR-membership) carry explicit
    // broadcasts so the planner's stats-blind fallback can never be a
    // CartesianProduct (post-checkpoint frames lose their size estimates)
    val sk = kmvSmallestK(hashes, groupCol, k)
    val est = kmvJaccardFromSketches(sk, groupCol, k)
    // exact Jaccard (audit column; a production run drops this branch)
    val ha = hashes.select(col(groupCol).as("ga"), col("_h"))
    val hb = hashes.select(col(groupCol).as("gb"), col("_h"))
    val exact = ha.join(hb, Seq("_h"))
      .where(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("_inter"))
    val sizes = hashes.groupBy(groupCol).agg(count(lit(1)).as("_sz"))
    est
      .join(exact, Seq("ga", "gb"), "left").na.fill(0L, Seq("_inter"))
      .join(sizes.select(col(groupCol).as("ga"), col("_sz").as("_sa")), Seq("ga"))
      .join(sizes.select(col(groupCol).as("gb"), col("_sz").as("_sb")), Seq("gb"))
      .select(col("ga"), col("gb"), col("jaccard_est"),
        Portable.pround(col("_inter").cast("double") /
          (col("_sa") + col("_sb") - col("_inter")).cast("double"), 6)
          .as("jaccard_exact"),
        Portable.pround(abs(col("jaccard_est") -
          col("_inter").cast("double") /
            (col("_sa") + col("_sb") - col("_inter")).cast("double")), 6)
          .as("abs_err"))
  }

  /** The pairwise-Jaccard ESTIMATE off a ≤k-per-group sketch frame
    * (groupCol, _h) — the read-time arithmetic shared by [[kmvJaccard]]
    * and the streaming twin ([[graft.streaming.StreamingOps.KmvState
    * .pairwiseJaccard]]), so the maintained-sketch estimates are
    * bit-identical to the batch `jaccard_est` column by construction
    * (one formula, two callers — the kmvEstimateFromSketch precedent).
    * Union sketch per pair = smallest-k of the two sketches' union;
    * Ĵ = the fraction of its members present in BOTH sides. The non-equi
    * pair/membership joins carry explicit broadcasts: sketch frames are
    * ≤ |groups|·k rows but often post-checkpoint (stats-blind planner —
    * the r16b CartesianProduct lesson).
    */
  private[graft] def kmvJaccardFromSketches(sk: DataFrame, groupCol: String,
                                            k: Int): DataFrame = {
    val pairs = sk.select(col(groupCol).as("ga")).distinct()
      .join(broadcast(sk.select(col(groupCol).as("gb")).distinct()),
        col("ga") < col("gb"))
    val wU = Window.partitionBy("ga", "gb").orderBy("_h")
    val u = pairs.join(broadcast(sk.withColumnRenamed(groupCol, "_g")),
        col("_g") === col("ga") || col("_g") === col("gb"))
      .select(col("ga"), col("gb"), col("_h")).distinct()
      .withColumn("_rn", row_number().over(wU))
      .where(col("_rn") <= k)
    val inA = sk.select(col(groupCol).as("ga"), col("_h"), lit(1L).as("_inA"))
    val inB = sk.select(col(groupCol).as("gb"), col("_h"), lit(1L).as("_inB"))
    u.join(inA, Seq("ga", "_h"), "left")
      .join(inB, Seq("gb", "_h"), "left")
      .groupBy("ga", "gb")
      .agg(count(lit(1)).as("_nu"),
        sum(when(col("_inA").isNotNull && col("_inB").isNotNull, 1L).otherwise(0L))
          .as("_match"))
      .select(col("ga"), col("gb"),
        Portable.pround(col("_match").cast("double") / col("_nu").cast("double"), 6)
          .as("jaccard_est"))
  }

  /** Quantile-quantile drift table between two cohorts — the
    * DISTRIBUTION-match audit for a train/test split or an A/B
    * assignment: the value at each requested quantile in cohort A vs
    * cohort B, plus the gap. KS (C182) compresses the mismatch to one
    * statistic; the QQ table says WHERE in the distribution the cohorts
    * diverge (tails vs body), which is what you read before trusting a
    * covariate split.
    *
    * Quantile rule: rank-pick, NO interpolation — the value at
    * rn = 1 + floor(q·(n−1)) in ascending order (the repo's percentile
    * discipline: both engines pick the identical physical row, so even
    * the floor's FP edge cases agree — q·(n−1) is the same double on
    * both sides). Ties need no tiebreak: equal values at a rank
    * boundary yield the same picked VALUE under any tie order.
    *
    * Scale shape: one cohort-keyed exchange serves the rank window and
    * the count; the quantile explode is rows × |quantiles| only at the
    * matched ranks (the filter precedes the pivot aggregate).
    */
  def qqDrift(df: DataFrame, cohortFlag: Column, valueCol: Column,
              quantiles: Seq[Double]): DataFrame = {
    require(quantiles.nonEmpty && quantiles.forall(q => q >= 0 && q <= 1),
      "quantiles must lie in [0, 1]")
    val base = df.where(valueCol.isNotNull)
      .select(cohortFlag.as("_a"), valueCol.cast("double").as("_v"))
    val wOrd = Window.partitionBy("_a").orderBy("_v")
    val wAll = Window.partitionBy("_a")
    val ranked = base
      .withColumn("_rn", row_number().over(wOrd).cast("long"))
      .withColumn("_n", count(lit(1)).over(wAll))
    val picked = ranked
      .select(col("_a"), col("_v"), col("_rn"), col("_n"),
        explode(array(quantiles.map(lit(_)): _*)).as("q"))
      .where(col("_rn") ===
        lit(1L) + floor(col("q") * (col("_n") - 1L).cast("double")).cast("long"))
    picked.groupBy("q")
      .agg(
        max(when(col("_a"), col("_v"))).as("v_a"),
        max(when(!col("_a"), col("_v"))).as("v_b"))
      .select(col("q"), col("v_a"), col("v_b"),
        Portable.pround(col("v_b") - col("v_a"), 6).as("diff"))
  }

  /** Deterministic Bloom-filter false-positive audit — the measured
    * answer to "is m bits × k hashes enough for this key set" BEFORE a
    * runtime bloom-pruned join (C43) ships with those parameters: build
    * the filter from `members` with the portable md5 hash family
    * (position_j = hash32(value ⧺ '#' ⧺ j) mod m), probe it with a
    * DISJOINT probe set, and report the exact false-positive rate plus
    * the fill fraction that drives it. Everything is exact integers and
    * one division — hash-checkable; the analytic (1−e^(−kn/m))^k curve
    * lives in the spec, not the data path.
    *
    * Scale shape: the filter IS a distinct-positions frame (≤ m rows —
    * sketch-sized, broadcastable); members explode ×k, probes explode ×k
    * then one left join on position + one per-probe countdown. No
    * driver-side bitset.
    */
  def bloomFprAudit(members: DataFrame, probes: DataFrame, valueCol: Column,
                    m: Long, k: Int): DataFrame = {
    require(m > 0 && k > 0, s"need positive m/k (got $m/$k)")
    // the position hash has 32 bits of range: a filter wider than 2^32
    // bits could never be addressed past that and the fill fraction
    // would silently lie (r16b self-review)
    require(m <= (1L << 32), s"m must fit the 32-bit position hash (got $m)")
    def positions(df: DataFrame) = df.select(valueCol.cast("string").as("_v"))
      .distinct()
      .select(col("_v"), explode(sequence(lit(1), lit(k))).as("_j"))
      .select(col("_v"),
        (Portable.hash32(concat(col("_v"), lit("#"), col("_j"))) % m).as("_pos"))
    val bits = positions(members).select("_pos").distinct()
    val nMembers = members.select(valueCol.cast("string").as("_v")).distinct()
      .agg(count(lit(1)).as("n_members"))
    val probePos = positions(probes)
      .join(bits.withColumn("_hit", lit(1L)), Seq("_pos"), "left")
    val perProbe = probePos.groupBy("_v")
      .agg((sum(coalesce(col("_hit"), lit(0L))) === k).as("_fp"))
    perProbe.agg(
        count(lit(1)).as("n_probes"),
        sum(when(col("_fp"), 1L).otherwise(0L)).as("n_false_pos"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
      .crossJoin(broadcast(nMembers))
      .select(col("n_members"), lit(m).as("m_bits"),
        lit(k.toLong).as("k_hashes"), col("bits_set"),
        Portable.pround(col("bits_set").cast("double") / m.toDouble, 6).as("fill"),
        col("n_probes"), col("n_false_pos"),
        Portable.pround(col("n_false_pos").cast("double") /
          col("n_probes").cast("double"), 6).as("fpr"))
  }

  /** Mann-Whitney U test per group (Wilcoxon rank-sum) — the
    * distribution-free sibling of the C209 Welch t: does the `sampleFlag`
    * subset's value distribution differ from the rest's, judged on RANKS
    * (robust to outliers and any monotone transform). Tie handling is
    * the standard average-rank + tie-corrected variance.
    *
    * Exactness: average ranks are half-integers, so the doubled rank sum
    * 2R₁ = Σ(2·minrank + t − 1) stays an exact integer end to end, as do
    * the tie term Σ(t³−t) and all counts; z is then THREE fixed double
    * ops ((2U−2μ)/2 / √σ²) on exact operands — bit-portable. NULL z when
    * either sample is empty or the variance is 0 (all values tied).
    *
    * Scale shape: ranks ride ONE group-keyed exchange (two windows on
    * the same partitioning), tie sizes a (group, value) aggregate that
    * reuses the prefix, the test one group-keyed aggregate. No joins.
    */
  def mannWhitneyU(df: DataFrame, groupCol: String, sampleFlag: Column,
                   valueCol: Column): DataFrame = {
    val base = df.where(valueCol.isNotNull)
      .select(col(groupCol), sampleFlag.as("_in1"), valueCol.as("_v"))
    val wOrd = Window.partitionBy(groupCol).orderBy("_v")
    val wVal = Window.partitionBy(groupCol, "_v")
    val ranked = base
      .withColumn("_minrank", rank().over(wOrd))
      .withColumn("_t", count(lit(1)).over(wVal))
    val agg = ranked.groupBy(groupCol).agg(
      sum(when(col("_in1"), lit(1L)).otherwise(lit(0L))).as("n1"),
      sum(when(!col("_in1"), lit(1L)).otherwise(lit(0L))).as("n2"),
      sum(when(col("_in1"), lit(2L) * col("_minrank") + col("_t") - 1L)).as("_r1x2"),
      // Σ over tie groups of (t³−t) = Σ over ROWS of (t²−1): each of the
      // t rows in a tie group contributes t²−1 — no per-group dedup pass
      sum(col("_t") * col("_t") - 1L).as("_tieTerm"))
    val n = col("n1") + col("n2")
    val u1x2 = col("_r1x2") - col("n1") * (col("n1") + 1L) // 2·U₁
    val sigma2 = (col("n1") * col("n2")).cast("double") / 12.0 *
      ((n + 1L).cast("double") -
        col("_tieTerm").cast("double") / (n * (n - 1L)).cast("double"))
    agg.select(col(groupCol), col("n1"), col("n2"),
        (u1x2.cast("double") / 2.0).as("u1"),
        when(col("n1") > 0 && col("n2") > 0 && sigma2 > 0,
          Portable.pround(
            ((u1x2 - col("n1") * col("n2")).cast("double") / 2.0) / sqrt(sigma2), 6))
          .as("z"))
  }

  /** 2×2 odds ratio per group with the Wald CI — the epidemiology/AB
    * primitive for BINARY exposure × BINARY outcome (C230's z tests the
    * rate difference; this quantifies the association's strength):
    * OR = (a·d)/(b·c) over the contingency counts, with the
    * Haldane–Anscombe +0.5 correction applied to ALL cells whenever any
    * cell is zero (keeps OR and its CI finite and is the standard
    * reproducible convention). ln(OR) ± 1.96·√(1/a+1/b+1/c+1/d) on the
    * corrected cells; ln rounds at 9 before the CI arithmetic (the ulp
    * discipline). One conditional aggregate per group; no joins.
    */
  def oddsRatio2x2(df: DataFrame, groupCol: String, exposure: Column,
                   outcome: Column): DataFrame = {
    val agg = df.groupBy(groupCol).agg(
      sum(when(exposure && outcome, 1L).otherwise(0L)).as("a"),
      sum(when(exposure && !outcome, 1L).otherwise(0L)).as("b"),
      sum(when(!exposure && outcome, 1L).otherwise(0L)).as("c"),
      sum(when(!exposure && !outcome, 1L).otherwise(0L)).as("d"))
    val anyZero = col("a") === 0L || col("b") === 0L || col("c") === 0L || col("d") === 0L
    def cc(c0: Column): Column =
      when(anyZero, c0.cast("double") + 0.5).otherwise(c0.cast("double"))
    val (ca, cb, ccc, cd) = (cc(col("a")), cc(col("b")), cc(col("c")), cc(col("d")))
    val or = (ca * cd) / (cb * ccc)
    val logOr = Portable.pround(log(or), 9)
    val se = sqrt(lit(1.0) / ca + lit(1.0) / cb + lit(1.0) / ccc + lit(1.0) / cd)
    agg.select(col(groupCol), col("a"), col("b"), col("c"), col("d"),
      Portable.pround(or, 6).as("odds_ratio"),
      Portable.pround(logOr - lit(1.96) * se, 6).as("ci_lo"),
      Portable.pround(logOr + lit(1.96) * se, 6).as("ci_hi"))
  }

  /** Seeded Laplace-noise count release — the differential-privacy
    * MECHANISM shape (sensitivity-1 count + Laplace(1/ε) noise) with the
    * noise drawn from the portable md5 hash instead of an RNG: this
    * makes the release REPRODUCIBLE and oracle-checkable, which is the
    * right engineering for pipeline tests and exactly the wrong thing
    * for a real privacy release (a seeded, replayable draw provides no
    * privacy — swap in a real RNG and drop the oracle before any actual
    * release; the scaladoc IS the warning).
    *
    * u = (h + 0.5)/2³² ∈ (0,1) from the group key's hash (never exactly
    * 0/1, so the inverse CDF stays finite), noise = −(1/ε)·sgn(u−½)·
    * ln(1−2|u−½|) rounded at 9 before the add (the ln ulp discipline).
    * One aggregate; noise is a row-local expression.
    */
  def noisyCounts(df: DataFrame, groupCol: String, epsilon: Double,
                  salt: String): DataFrame = {
    val h = Portable.hash32(concat(col(groupCol).cast("string"), lit(salt)))
    val u = (h.cast("double") + 0.5) / 4294967296.0
    val centered = u - 0.5
    val noise = Portable.pround(
      when(centered >= 0, lit(-1.0)).otherwise(lit(1.0)) *
        log(lit(1.0) - lit(2.0) * abs(centered)) / epsilon, 9)
    df.groupBy(groupCol).agg(count(lit(1)).as("true_count"))
      .select(col(groupCol), col("true_count"),
        lit(epsilon).as("epsilon"),
        noise.as("noise"),
        Portable.pround(col("true_count").cast("double") + noise, 6)
          .as("noisy_count"))
  }

  /** Sliding distinct-count via mergeable KMV sketches — trailing-window
    * MAU/WAU at 100 TB shape: each day reduces to its own k-hash sketch
    * (the per-shard monoid [[kmvMergeProof]] proves), and each day's
    * trailing `windowDays` estimate merges ONLY those day sketches —
    * k·window longs per output row, never a re-scan of the window's raw
    * rows. The exact trailing distinct (one window re-scan) ships
    * alongside at test scale as the accuracy column; a production run
    * would drop it and keep only the sketch path.
    *
    * Output: (day, n_days_merged, kmv_estimate, exact_distinct, rel_err).
    * The merged sketch is exact below k (union of complete sketches is
    * complete — the merge-proof property), so small windows carry zero
    * error by construction.
    *
    * Scale shape: one distinct-(day, hash) aggregate over the facts, a
    * per-day smallest-k window, then everything is day-catalog × k
    * sized: the trailing merge joins the day catalog against its own
    * ≤ windowDays predecessors (catalog² worst case — bounded), and the
    * exact column is one more distinct aggregate. No global windows.
    */
  def kmvSlidingDistinct(df: DataFrame, tsCol: String, valueCol: Column,
                         k: Int = 64, windowDays: Int = 7): DataFrame = {
    val days = df.select(to_date(col(tsCol)).as("_day"), valueCol.as("_v"))
    val perDay = kmvSmallestK(kmvHashes(days, "_day", col("_v")), "_day", k)
    // trailing merge: day d pulls the sketches of days in (d−window, d].
    // The range join's day-catalog side broadcasts EXPLICITLY: it is
    // catalog-sized by construction, and a stats-blind planner falling
    // back to CartesianProduct here would trip the no-Cartesian
    // invariant (the kmvJaccard r16b lesson)
    val cat = perDay.select(col("_day").as("day")).distinct()
    val merged = broadcast(cat).join(perDay,
        col("_day") <= col("day") &&
          col("_day") > date_sub(col("day"), windowDays))
      .select(col("day"), col("_day"), col("_h"))
    val nDays = merged.select("day", "_day").distinct()
      .groupBy("day").agg(count(lit(1)).as("n_days_merged"))
    val est = kmvEstimateFromSketch(
      kmvSmallestK(merged.select(col("day"), col("_h")).distinct(), "day", k),
      "day", k)
    val exact = days.join(broadcast(cat),
        col("_day") <= col("day") &&
          col("_day") > date_sub(col("day"), windowDays))
      .select(col("day"), col("_v")).distinct()
      .groupBy("day").agg(count(lit(1)).as("exact_distinct"))
    est.join(nDays, Seq("day")).join(exact, Seq("day"))
      .select(col("day"), col("n_days_merged"), col("kmv_estimate"),
        col("exact_distinct"),
        Portable.pround(
          abs(col("kmv_estimate") - col("exact_distinct").cast("double")) /
            col("exact_distinct").cast("double"), 6).as("rel_err"))
  }

  /** Approximate-functional-dependency profile (Kivinen & Mannila 1995's
    * g₃ error): for each candidate `lhs → rhs`, the minimum number of rows
    * that must be deleted for the FD to hold exactly — Σ over lhs groups
    * of (group size − the most common rhs's count) — plus the violating
    * group count and the g₃ rate. The schema-discovery primitive a
    * pipeline runs before trusting a key for dedup, a join, or an SCD
    * identity; rate 0 certifies the dependency, small rates localize
    * dirty rows.
    *
    * Engine parity: counts are exact integers end to end; the one
    * division (rate) is a fixed double op on identical operands. NULLs on
    * either side participate as ordinary values (null-safe grouping in
    * both engines).
    *
    * Scale shape: per candidate, one (lhs, rhs) hash aggregate (map-side
    * combinable) collapsed by a second lhs-keyed aggregate — the second
    * rides the first's exchange prefix-wise; output is candidates-sized.
    * Candidates evaluate independently (a union of branches over the
    * same scan — Spark reuses the exchange where projections overlap).
    */
  def fdViolations(df: DataFrame, candidates: Seq[(String, String)]): DataFrame = {
    require(candidates.nonEmpty, "no candidate dependencies")
    candidates.map { case (lhs, rhs) =>
      val pair = df.groupBy(col(lhs).as("_l"), col(rhs).as("_r"))
        .agg(count(lit(1)).as("_n"))
      val perL = pair.groupBy("_l")
        .agg(sum("_n").as("_tot"), max("_n").as("_top"))
      perL.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("_tot") > col("_top"), 1L).otherwise(0L))
          .as("violating_groups"),
        sum(col("_tot") - col("_top")).as("g3_rows"),
        sum("_tot").as("n_rows"))
        .select(lit(lhs).as("lhs"), lit(rhs).as("rhs"),
          col("n_groups"), col("violating_groups"), col("g3_rows"),
          round(col("g3_rows").cast("double") /
            col("n_rows").cast("double"), 9).as("g3_rate"))
    }.reduce(_ unionAll _)
  }

  /** AMS inner-product join-size estimate (Alon, Matias, Szegedy &
    * Gibbons 1999): |A ⋈ B on key| = Σ_v cA(v)·cB(v), estimated as the
    * median of means of zA_i·zB_i where each z is the ±1-hash signed
    * count sum — the SAME sketch family as [[amsF2]] (F₂ is the
    * self-join special case), with the same seeds, so one sketch pass
    * per table prices EVERY pairwise join among them. This is the
    * planner question at 100 TB: "how many rows come out of this
    * shuffle" answered from two catalog-sized sketches instead of a dry
    * run. Exact value alongside; every estimator an exact integer.
    *
    * Scale shape: one value-keyed count per table (vocabulary-sized), a
    * ×k explode over those frames, a seed-keyed re-aggregate each, and a
    * k-row join — the exact join size itself comes from the count-frame
    * equi-join (vocab-sized, never row-sized).
    */
  def amsJoinSize(dfA: DataFrame, keyA: Column, dfB: DataFrame, keyB: Column,
                  groups: Int = 5, perGroup: Int = 32): DataFrame = {
    val k = groups * perGroup
    def sketch(df: DataFrame, key: Column, out: String): DataFrame =
      df.select(key.as("_v")).groupBy("_v").agg(count(lit(1)).as("_c"))
        .select(col("_v"), col("_c"),
          explode(sequence(lit(0), lit(k - 1))).as("_seed"))
        .select(col("_seed"),
          (when(Portable.hash32(concat_ws(":", col("_seed"), col("_v"))) % 2 === 0,
            lit(1L)).otherwise(lit(-1L)) * col("_c")).as("_sc"))
        .groupBy("_seed").agg(sum("_sc").as(out))
    val za = sketch(dfA, keyA, "_za")
    val zb = sketch(dfB, keyB, "_zb")
    val means = za.join(zb, Seq("_seed"))
      .select((col("_seed") % groups.toLong).as("_grp"),
        (col("_za") * col("_zb")).as("_est"))
      .groupBy("_grp").agg((sum("_est").cast("double") / perGroup).as("_mean"))
    val medianOf = means.agg(sort_array(collect_list("_mean")).as("_ms"))
      .select(when(size(col("_ms")) === groups,
        (element_at(col("_ms"), (groups + 1) / 2) +
          element_at(col("_ms"), groups / 2 + 1)) / 2).as("est_join_size"))
    val ca = dfA.select(keyA.as("_v")).groupBy("_v").agg(count(lit(1)).as("_ca"))
    val cb = dfB.select(keyB.as("_v")).groupBy("_v").agg(count(lit(1)).as("_cb"))
    val exact = ca.join(cb, Seq("_v"))
      .agg(coalesce(sum(col("_ca") * col("_cb")), lit(0L)).as("exact_join_size"))
    exact.crossJoin(medianOf).select(
      col("exact_join_size"),
      round(col("est_join_size"), 6).as("est_join_size"),
      when(col("exact_join_size") > 0,
        round(abs(col("est_join_size") - col("exact_join_size").cast("double")) /
          col("exact_join_size").cast("double"), 6)).as("rel_err"))
  }

  /** Weighted median per group: the smallest value whose cumulative
    * weight reaches half the group's total — computed by the EXACT
    * integer cross-multiplication 2·cumw ≥ totw (no float boundary, the
    * C198 threshold-pick convention), with deterministic middle-rank
    * semantics (never percentile interpolation — the r11 ulp lesson).
    * The curation read: "median doc length weighted by tokens" weights
    * every document by what it actually contributes to a training run,
    * where the unweighted median over-counts short docs.
    *
    * Scale shape: one (group, value) pre-aggregate collapses ties, one
    * group-keyed cumulative window rides the same exchange, one final
    * min — nothing row-sized crosses a second shuffle. Integer weights
    * only (exactness is the contract).
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: Column,
                     weightCol: Column): DataFrame = {
    val perValue = df
      .select(col(groupCol), valueCol.as("_v"), weightCol.cast("long").as("_w"))
      .groupBy(groupCol, "_v").agg(sum("_w").as("_w"))
    val wCum = Window.partitionBy(groupCol).orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wTot = Window.partitionBy(groupCol)
    perValue
      .withColumn("_cum", sum("_w").over(wCum))
      .withColumn("_tot", sum("_w").over(wTot))
      .where(col("_cum") * 2 >= col("_tot"))
      .groupBy(groupCol)
      .agg(min("_v").as("weighted_median"), max("_tot").as("total_weight"))
  }

  /** k-anonymity / l-diversity audit over a quasi-identifier tuple
    * (Sweeney 2002; Machanavajjhala et al. 2007): how many rows sit in
    * QI groups smaller than k (re-identifiable), and the minimum count
    * of distinct sensitive values per group (attribute-disclosure
    * exposure) — the governance gate a pipeline runs before shipping a
    * "de-identified" extract, complementing C28's PII redaction (that
    * removes direct identifiers; THIS measures whether the quasi
    * identifiers still single people out). Exact integers end to end;
    * the share is the one division.
    *
    * Scale shape: one QI-keyed aggregate (map-side combinable — the
    * distinct-sensitive count keys on (QI, sensitive) first), one
    * catalog-sized rollup.
    */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], sensitiveCol: Column,
                 k: Int): DataFrame = {
    val perGroup = df
      .select(qiCols.map(col) :+ sensitiveCol.as("_s"): _*)
      .groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("_n"), countDistinct(col("_s")).as("_l"))
    perGroup.agg(
      count(lit(1)).as("n_groups"),
      sum("_n").as("n_rows"),
      sum(when(col("_n") < k, col("_n")).otherwise(0L)).as("rows_below_k"),
      sum(when(col("_n") < k, 1L).otherwise(0L)).as("groups_below_k"),
      min("_n").as("min_group_size"),
      min("_l").as("min_l_diversity"))
      .select(lit(k).cast("long").as("k"), col("n_groups"), col("n_rows"),
        col("rows_below_k"), col("groups_below_k"), col("min_group_size"),
        col("min_l_diversity"),
        round(col("rows_below_k").cast("double") /
          col("n_rows").cast("double"), 9).as("reident_risk_share"))
  }

  /** The actionable end of [[fdViolations]]: for ONE candidate
    * `lhs → rhs`, the violating lhs groups ranked by how many rows must
    * be deleted (or re-labeled) to repair them — group size, the
    * dominant rhs and its count, the conflicting-rhs count. g₃ says HOW
    * FAR a dependency is from holding; this says WHERE to look first.
    * Dominant-rhs ties break on the rhs value (deterministic in any
    * engine). Exact integers end to end.
    *
    * Scale shape: the same (lhs, rhs) → lhs aggregate cascade as the
    * profile, plus a rank window on the dominant pick; the top-k cut is
    * a TakeOrdered, never a global sort.
    */
  def fdViolationDetail(df: DataFrame, lhs: String, rhs: String,
                        topK: Int): DataFrame = {
    val pair = df.groupBy(col(lhs).as("lhs_value"), col(rhs).as("_r"))
      .agg(count(lit(1)).as("_n"))
    val w = Window.partitionBy("lhs_value")
      .orderBy(col("_n").desc, col("_r").asc)
    pair
      .withColumn("_rk", row_number().over(w))
      .withColumn("_tot", sum("_n").over(Window.partitionBy("lhs_value")))
      .withColumn("_nr", count(lit(1)).over(Window.partitionBy("lhs_value")))
      .where(col("_rk") === 1 && col("_nr") > 1)
      .select(col("lhs_value").cast("string").as("lhs_value"),
        col("_tot").as("n_rows"),
        col("_nr").as("n_distinct_rhs"),
        col("_r").cast("string").as("dominant_rhs"),
        col("_n").as("dominant_count"),
        (col("_tot") - col("_n")).as("rows_to_repair"))
      .orderBy(col("rows_to_repair").desc, col("lhs_value").asc)
      .limit(topK)
  }

  /** Effective sample size of a weighting scheme per group: ESS =
    * (Σw)²/Σw² (Kish 1965) — "sampling proportional to these weights is
    * worth how many uniform draws?". The diagnostic a curation pipeline
    * reads before token-weighted or importance-weighted sampling: an ESS
    * ratio near 1 means the weights barely matter; near 1/n means one
    * heavy item dominates every epoch (the C111/C135 sanity gate).
    * Integer or decimal-exact weight moments, two fixed divisions.
    *
    * Scale shape: one group-keyed aggregate, map-side combinable.
    */
  def effectiveSampleSize(df: DataFrame, groupCol: String,
                          weightCol: Column): DataFrame = {
    val w = weightCol.cast("long")
    df.select(col(groupCol), w.as("_w"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_items"),
        sum("_w").as("sum_w"), sum(col("_w") * col("_w")).as("sum_w2"))
      .select(col(groupCol), col("n_items"), col("sum_w"),
        when(col("sum_w2") > 0,
          round((col("sum_w") * col("sum_w")).cast("double") /
            col("sum_w2").cast("double"), 6)).as("ess"),
        when(col("sum_w2") > 0 && col("n_items") > 0,
          round((col("sum_w") * col("sum_w")).cast("double") /
            col("sum_w2").cast("double") / col("n_items"), 6)).as("ess_ratio"))
  }

  /** AMS second-frequency-moment sketch (Alon, Matias & Szegedy 1996)
    * with the exact F₂ alongside: F₂ = Σ_v c_v² is the SELF-JOIN SIZE of
    * the column — the number every join planner wants before keying a
    * shuffle on it (expected output rows of an equi-join on a skewed key,
    * and Σc² / n² is the collision probability driving salting
    * decisions). Estimator: s_i(v) = ±1 from bit 0 of the seeded portable
    * hash; est_i = (Σ_v c_v·s_i(v))²; median of `groups` means of `perGroup`
    * estimators each (median-of-means — the standard variance-then-tail
    * reduction). Every estimator is an exact INTEGER (counts × ±1 summed,
    * then squared), so the mean/median chain is bit-identical in any
    * engine — like the KMV sketch, deterministic and oracle-replicable
    * with no engine-private state.
    *
    * Scale shape: one value-keyed count aggregate (vocabulary-sized
    * output), a ×(groups·perGroup) explode over THAT frame — never over
    * the corpus — and one seed-keyed re-aggregate; the final
    * median-of-means runs on groups·perGroup rows.
    */
  def amsF2(df: DataFrame, valueCol: Column, groups: Int = 5,
            perGroup: Int = 16): DataFrame = {
    val k = groups * perGroup
    val counts = df.select(valueCol.as("_v")).groupBy("_v")
      .agg(count(lit(1)).as("_c"))
    val signed = counts
      .select(col("_v"), col("_c"),
        explode(sequence(lit(0), lit(k - 1))).as("_seed"))
      .select(col("_seed"),
        (when(Portable.hash32(concat_ws(":", col("_seed"), col("_v"))) % 2 === 0,
          lit(1L)).otherwise(lit(-1L)) * col("_c")).as("_sc"))
      .groupBy("_seed").agg(sum("_sc").as("_z"))
      .select(col("_seed") % groups.toLong as "_grp",
        (col("_z") * col("_z")).as("_est"))
    val means = signed.groupBy("_grp")
      .agg((sum("_est").cast("double") / perGroup).as("_mean"))
    val exact = counts.agg(sum(col("_c") * col("_c")).as("exact_f2"),
      sum("_c").as("n_rows"), count(lit(1)).as("n_distinct"))
    // median of `groups` means: average of the two middle ranks of the
    // sorted (tiny, groups-sized) list — deterministic middle-rank
    // picking, never percentile interpolation
    val medianOf = means.agg(sort_array(collect_list("_mean")).as("_ms"))
      .select(when(size(col("_ms")) === groups, // empty input → NULL, no throw
        (element_at(col("_ms"), (groups + 1) / 2) +
          element_at(col("_ms"), groups / 2 + 1)) / 2).as("ams_estimate"))
    exact.crossJoin(medianOf).select(
      col("n_rows"), col("n_distinct"), col("exact_f2"),
      round(col("ams_estimate"), 6).as("ams_estimate"),
      round(abs(col("ams_estimate") - col("exact_f2").cast("double")) /
        col("exact_f2").cast("double"), 6).as("rel_err"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013, WSDM) —
    * the experimentation-platform primitive on top of C230's A/B z-test:
    * adjust each unit's experiment-period metric by its own
    * PRE-experiment covariate, Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X),
    * shrinking metric variance by the squared pre/post correlation
    * (var_adj = var(Y) − cov²/var(X)) and therefore the sample size any
    * test on Y needs — at pipeline scale the difference between a
    * week-long and a month-long experiment read. Reported: θ, raw vs
    * adjusted variance, and the reduction percentage.
    *
    * Units are the entity keys; X = the unit's exact decimal value sum
    * in the pre period (day-of-month < `splitDay`), Y = the rest. A unit
    * missing one side contributes an exact 0 to it (the conditional-sum
    * zero fill — CUPED needs every unit's covariate). All five moments
    * accumulate as one decimal hash aggregate; θ and the variances are a
    * fixed IEEE shape on bit-identical doubles, so the one-row report is
    * hash-checkable. Degenerate inputs NULL-propagate: no units → n=0
    * row of NULLs, var(X)=0 (constant covariate) → NULL θ/adjusted.
    *
    * Scale shape: one unit-keyed aggregate (map-side combinable) + one
    * 1-row moment aggregate; nothing unit-count-sized leaves executors.
    */
  def cuped(df: DataFrame, unitCol: String, tsCol: String, valueCol: Column,
            splitDay: Int): DataFrame = {
    val base = df.where(valueCol.isNotNull)
      .select(col(unitCol).as("_u"),
        (dayofmonth(col(tsCol)) < splitDay).as("_pre"),
        valueCol.cast("double").as("_v"))
    val per = base.groupBy("_u").agg(
      Portable.decSum(when(col("_pre"), col("_v")).otherwise(lit(0.0)), 6).as("_x"),
      Portable.decSum(when(!col("_pre"), col("_v")).otherwise(lit(0.0)), 6).as("_y"))
    val m = per.agg(count(lit(1)).as("_n"),
      Portable.decSum(col("_x"), 6).as("_sx"),
      Portable.decSum(col("_y"), 6).as("_sy"),
      Portable.decSum(col("_x") * col("_x"), 6).as("_sxx"),
      Portable.decSum(col("_y") * col("_y"), 6).as("_syy"),
      Portable.decSum(col("_x") * col("_y"), 6).as("_sxy"))
    val n = col("_n").cast("double")
    val varX = when(col("_n") > 1, (col("_sxx") - col("_sx") * col("_sx") / n) / n)
    val varY = when(col("_n") > 1, (col("_syy") - col("_sy") * col("_sy") / n) / n)
    val covXY = when(col("_n") > 1, (col("_sxy") - col("_sx") * col("_sy") / n) / n)
    val ok = col("_n") > 1 && varX > 0
    m.select(
      col("_n").as("n_units"),
      when(ok, Portable.pround(covXY / varX, 6)).as("theta"),
      Portable.pround(varY, 6).as("var_raw"),
      when(ok, Portable.pround(varY - covXY * covXY / varX, 6)).as("var_adj"),
      when(ok && varY > 0,
        Portable.pround(lit(100.0) * (covXY * covXY / varX) / varY, 6))
        .as("var_reduction_pct"))
  }

  /** χ² uniformity audit of the portable md5 bucketing — the guardrail
    * UNDER every hash-keyed decision this engine ships (C23 sampling,
    * C197 bootstrap blocks, the A/B cohort splits, salting): does
    * pmod(hash32(key), B) actually spread keys uniformly, or is the key
    * population structured against the hash (the sample-ratio-mismatch
    * check of experimentation platforms, applied to the bucketing
    * itself). χ² = Σ_b (B·n_b − n)² / (B·n) — the rescaling keeps the
    * numerator ONE exact integer sum (accumulated decimal(38,0): at
    * 100 TB n ~ 10¹² squares past 2⁶³), so the statistic is exact until
    * a single division + round. Empty buckets count (catalog left join),
    * `uniform_ok` compares against the caller's χ²_{α, B−1} critical
    * literal — the p-value itself needs the incomplete-gamma CDF, a
    * cross-engine transcendental this report deliberately avoids.
    */
  def hashUniformity(df: DataFrame, keyCol: Column, buckets: Int,
                     crit: Double): DataFrame = {
    val counts = df.where(keyCol.isNotNull)
      .select(pmod(Portable.hash32(keyCol), lit(buckets.toLong)).as("_b"))
      .groupBy("_b").agg(count(lit(1)).as("_c"))
    val catalog = df.sparkSession.range(buckets).select(col("id").as("_b"))
    val filled = catalog.join(counts, Seq("_b"), "left")
      .select(col("_b"), coalesce(col("_c"), lit(0L)).as("_c"))
    val nRow = filled.agg(sum("_c").as("_n"))
    filled.crossJoin(broadcast(nRow))
      .select(col("_c"), col("_n"),
        (lit(buckets.toLong) * col("_c") - col("_n")).as("_d"))
      .agg(first(col("_n")).as("n"),
        min(col("_c")).as("min_bucket"), max(col("_c")).as("max_bucket"),
        sum((col("_d") * col("_d")).cast("decimal(38,0)")).as("_num"))
      .select(col("n"), lit(buckets.toLong).as("n_buckets"),
        col("min_bucket"), col("max_bucket"),
        when(col("n") > 0, Portable.pround(
          col("_num").cast("double") / (lit(buckets.toDouble) * col("n").cast("double")), 6))
          .as("chi2"),
        when(col("n") > 0,
          col("_num").cast("double") / (lit(buckets.toDouble) * col("n").cast("double"))
            < lit(crit)).as("uniform_ok"))
  }

  /** Simpson's-paradox screen: the per-group regression slope of y on x
    * next to the POOLED slope, with a `reversed` flag where the signs
    * disagree — the aggregation-bias audit every corpus-level trend
    * needs before anyone acts on it (the pooled "quality rises with
    * length" can be an artifact of group composition while every group
    * individually falls; acting on the pooled sign then optimizes the
    * wrong thing). Slopes are cov/var from exact decimal moments — the
    * group moments from one hash aggregate, the pooled moments from an
    * independent row-level aggregate (decimal sums, not a re-sum of
    * rounded group doubles) — so the sign comparison is bit-stable.
    * Degenerate groups (n ≤ 1 or zero x-variance) NULL their slope and
    * never flag.
    */
  def simpsonsParadox(df: DataFrame, groupCol: String, xCol: Column,
                      yCol: Column): DataFrame = {
    val base = df.where(xCol.isNotNull && yCol.isNotNull)
      .select(col(groupCol), xCol.cast("double").as("_x"), yCol.cast("double").as("_y"))
    def moments(grouped: Boolean): DataFrame = {
      val g = if (grouped) base.groupBy(col(groupCol)) else base.groupBy()
      g.agg(count(lit(1)).as("_n"),
        Portable.decSum(col("_x"), 6).as("_sx"),
        Portable.decSum(col("_y"), 6).as("_sy"),
        Portable.decSum(col("_x") * col("_y"), 6).as("_sxy"),
        Portable.decSum(col("_x") * col("_x"), 6).as("_sxx"))
    }
    def slope: Column = {
      val n = col("_n").cast("double")
      val varX = col("_sxx") - col("_sx") * col("_sx") / n
      when(col("_n") > 1 && varX > 0,
        (col("_sxy") - col("_sx") * col("_sy") / n) / varX)
    }
    val pooled = moments(grouped = false).select(slope.as("_slopeAll"))
    moments(grouped = true).crossJoin(broadcast(pooled))
      .select(col(groupCol), col("_n").as("n"),
        Portable.pround(slope, 6).as("slope_group"),
        Portable.pround(col("_slopeAll"), 6).as("slope_pooled"),
        when(slope.isNotNull && col("_slopeAll").isNotNull,
          (slope > 0 && col("_slopeAll") < 0) || (slope < 0 && col("_slopeAll") > 0))
          .as("reversed"))
  }

  /** Jackknife (leave-one-group-out) influence of each group on a
    * corpus-level mean — "which source is MOVING the headline number":
    * influence_g = mean_all − mean_without_g, computable exactly from
    * the group moments alone ((S − S_g)/(N − n_g) — no second pass, no
    * resampling), plus the group's share of rows. The audit that runs
    * before acting on any corpus-level average (C197's bootstrap says
    * how UNCERTAIN the mean is; this says WHO is responsible for it) —
    * at 100 TB the difference between re-crawling one domain and
    * distrusting the whole metric.
    *
    * Exact decimal per-group sums, fixed IEEE divisions on identical
    * doubles — every row hash-checks. A group equal to the whole corpus
    * (nothing left out) NULL-propagates its leave-out mean.
    */
  def jackknifeInfluence(df: DataFrame, groupCol: String,
                         valueCol: Column): DataFrame = {
    val v = valueCol.cast("double")
    val g = df.where(valueCol.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("_n"), Portable.decSum(v, 6).as("_s"))
    jackknifeFromMoments(g, groupCol)
  }

  /** The influence read off a (group, _n, _s) moment frame — the
    * arithmetic shared by [[jackknifeInfluence]] and the streaming twin
    * ([[graft.streaming.StreamingOps.GroupMomentsState]]): (count,
    * decimal sum) is the canonical additive monoid, so moments merged at
    * ANY micro-batch boundary equal the batch moments exactly and one
    * formula serves both paths (the kmvJaccardFromSketches precedent).
    */
  private[graft] def jackknifeFromMoments(g: DataFrame, groupCol: String): DataFrame = {
    val tot = g.agg(sum("_n").as("_nAll"), Portable.decSum(col("_s"), 6).as("_sAll"))
    val meanAll = col("_sAll") / col("_nAll").cast("double")
    val meanLoo = when(col("_nAll") > col("_n"),
      (col("_sAll") - col("_s")) / (col("_nAll") - col("_n")).cast("double"))
    g.crossJoin(broadcast(tot))
      .select(col(groupCol), col("_n").as("n"),
        Portable.pround(col("_n").cast("double") / col("_nAll").cast("double"), 6)
          .as("row_share"),
        Portable.pround(col("_s") / col("_n").cast("double"), 6).as("mean_group"),
        Portable.pround(meanAll, 6).as("mean_all"),
        Portable.pround(meanAll - meanLoo, 6).as("influence"))
  }

  /** Normalized mutual information between two labelings of the same
    * rows — the clustering-AGREEMENT scalar (Strehl & Ghosh 2002): 1 =
    * the partitions carry identical information, 0 = independent. The
    * upgrade audit every quantizer/index migration needs (how much did
    * cell assignments actually move between the k=16 and k=64 coarse
    * quantizers — dedup groups, IVF cells, shard labels all reuse it).
    *
    * Everything reduces to ENTROPIES OF INTEGER COUNTS in the C110
    * portable shape H = ln N − Σ c·ln c / N (ln of an integer-derived
    * double — engine-exact; c·ln c terms decimal-summed), and the
    * identity MI = H_a + H_b − H_ab keeps log-of-ratio expressions out
    * entirely. NMI = MI/√(H_a·H_b), NULL when either marginal entropy
    * is 0 (a single-cluster side carries no information to normalize
    * by). One contingency aggregate (≤ k_a·k_b rows, checkpointed for
    * its four readers) + three 1-row entropy aggregates.
    */
  def clusterNmi(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val base = df.where(aCol.isNotNull && bCol.isNotNull)
      .select(aCol.as("_a"), bCol.as("_b"))
    val joint = base.groupBy("_a", "_b").agg(count(lit(1)).as("_nij"))
      .localCheckpoint(true)
    def clogc(c: Column): Column = c.cast("double") * log(c.cast("double"))
    val totN = joint.agg(coalesce(sum("_nij"), lit(0L)).as("n"))
    val sAB = joint.agg(Portable.decSum(clogc(col("_nij")), 12).as("_sab"))
    val sA = joint.groupBy("_a").agg(sum("_nij").as("_ni"))
      .agg(Portable.decSum(clogc(col("_ni")), 12).as("_sa"))
    val sB = joint.groupBy("_b").agg(sum("_nij").as("_nj"))
      .agg(Portable.decSum(clogc(col("_nj")), 12).as("_sb"))
    val nD = col("n").cast("double")
    val hA = when(col("n") > 0, log(nD) - col("_sa") / nD)
    val hB = when(col("n") > 0, log(nD) - col("_sb") / nD)
    val hAB = when(col("n") > 0, log(nD) - col("_sab") / nD)
    val mi = hA + hB - hAB
    totN.crossJoin(broadcast(sAB)).crossJoin(broadcast(sA)).crossJoin(broadcast(sB))
      .select(col("n"),
        Portable.pround(hA, 6).as("h_a"),
        Portable.pround(hB, 6).as("h_b"),
        Portable.pround(mi, 6).as("mi_nats"),
        when(hA > 0 && hB > 0,
          Portable.pround(mi / sqrt(hA * hB), 6)).as("nmi"))
  }

  /** Hill tail-index estimator over the k largest values (Hill 1975) —
    * the heavy-tail diagnostic pairing C266's Gumbel block maxima (that
    * fits the light-tailed extreme-value-I; when the Hill α̂ is SMALL the
    * tail is power-law and a Gumbel quota will be blown): α̂ = k /
    * Σ_{i≤k} ln(x_(i)/x_(k+1)) over the k largest observations, with
    * x_(k+1) the (k+1)-th largest. Small α̂ (≲ 2) = infinite-variance
    * territory — means/quotas off such a column are meaningless, the
    * read that decides between percentile-based and mean-based
    * monitoring.
    *
    * The order statistics come from the value-CATALOG cumulative
    * formulation (weightedMedian/Lorenz discipline — a descending
    * cumulative count over the bounded distinct-value catalog, the
    * straddling class clipped to its in-top-k copies; never a row-scale
    * sort). ln outputs round at 9 dp before the copy-count
    * multiplication (the TF-IDF rule); ties inside the top k contribute
    * identical terms under any tie order. Fewer than k+1 observations →
    * NULL α̂; an all-tied top (Σ = 0) → NULL, never a divide error.
    *
    * The catalog is the INTEGER-TRUNCATED value (counts, sizes, latencies
    * — the natural Hill inputs are integral anyway, and a long catalog
    * keys exactly); the positivity filter therefore runs on the
    * TRUNCATED value (ADVICE r17 item 3: a raw-value filter admits
    * fractions in (0,1) that truncate to 0 and yield ln(0/x_k1) = −∞,
    * silently voiding terms of the Hill sum). Values truncating to 0
    * are excluded — for integral columns the two filters are identical.
    */
  def hillTail(df: DataFrame, valueCol: Column, k: Int): DataFrame = {
    require(k >= 1, "need at least one upper order statistic")
    val cat = df.where(valueCol.isNotNull && valueCol.cast("long") > 0)
      .groupBy(valueCol.cast("long").as("_v")).agg(count(lit(1)).as("_c"))
    val cum = cat.withColumn("_ccnt",
      sum("_c").over(Portable.kRowWindow(col("_v").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val nRow = cat.agg(coalesce(sum("_c"), lit(0L)).as("n"))
    val xk1 = cum
      .where(col("_ccnt") >= k + 1 && col("_ccnt") - col("_c") < k + 1)
      .select(col("_v").as("_xk1"), lit(1).as("_k"))
    // always one summary row (the conformal qrow shape)
    val qrow = nRow.withColumn("_k", lit(1))
      .join(broadcast(xk1), Seq("_k"), "left").drop("_k")
    val top = cum.where(col("_ccnt") - col("_c") < k)
      .select(col("_v"),
        least(col("_c"), lit(k.toLong) - (col("_ccnt") - col("_c"))).as("_w"))
    val terms = top.crossJoin(broadcast(qrow))
      .agg(Portable.decSum(col("_w").cast("double") *
        Portable.pround(log(col("_v").cast("double") / col("_xk1").cast("double")), 9), 12)
        .as("_s"))
    qrow.crossJoin(broadcast(terms))
      .select(col("n"), lit(k.toLong).as("k"), col("_xk1").as("x_k1"),
        when(col("_s") > 0,
          Portable.pround(lit(k.toDouble) / col("_s"), 6)).as("hill_alpha"))
  }

  /** James–Stein positive-part shrinkage of per-group means (Efron &
    * Morris 1975 flavor) — the small-sample-group repair every
    * per-domain statistic needs before anyone ACTS on it: a domain with
    * three documents posts an extreme mean by luck, and ranking/filtering
    * on raw group means systematically selects those flukes (the
    * winner's curse). Each group mean shrinks toward the grand mean of
    * group means by c = max(0, 1 − (k−3)·v̂ / S), S = Σ(m_i − m̄)²,
    * v̂ = σ̂²_pooled / n̄ (the common-variance, average-group-size
    * approximation — documented; exact per-group variances would make
    * this Efron–Morris with unequal shrinkage). Dominates the raw means
    * in total squared error for k ≥ 4 — the theorem that founded
    * empirical Bayes.
    *
    * All moments are exact decimal sums (per-group n, Σx, Σx²); m̄, S,
    * the pooled SSE, and c are fixed IEEE shapes on bit-identical
    * doubles, so every row hash-checks. Guards: k ≤ 3 → c NULL (the
    * theorem needs k ≥ 4; raw means pass through with NULL shrunk
    * columns), S = 0 (identical group means) → c = 0 exactly — the
    * correct limit, full shrinkage onto the shared mean.
    *
    * Scale shape: one group aggregate + one k-row moment aggregate
    * broadcast back — nothing corpus-sized moves twice.
    */
  def jamesStein(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val v = valueCol.cast("double")
    val g = df.where(valueCol.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("_n"),
        Portable.decSum(v, 6).as("_s"),
        Portable.decSum(v * v, 6).as("_q"))
      .withColumn("_m", col("_s") / col("_n").cast("double"))
    val tot = g.agg(count(lit(1)).as("_k"),
        sum("_n").as("_nTot"),
        Portable.decSum(col("_m"), 12).as("_sm"),
        Portable.decSum(col("_m") * col("_m"), 12).as("_smm"),
        // pooled within-group SSE = Σx² − Σ_i n_i·m_i²
        Portable.decSum(col("_q"), 6).as("_qTot"),
        Portable.decSum(col("_n").cast("double") * col("_m") * col("_m"), 6).as("_expl"))
      .select(col("_k"), col("_nTot"),
        (col("_sm") / col("_k").cast("double")).as("_mbar"),
        // S = Σm² − k·m̄² (same exact-moment identity as the variances)
        (col("_smm") - col("_k").cast("double") *
          (col("_sm") / col("_k").cast("double")) *
          (col("_sm") / col("_k").cast("double"))).as("_S"),
        when(col("_nTot") > col("_k"),
          (col("_qTot") - col("_expl")) / (col("_nTot") - col("_k")).cast("double"))
          .as("_pooledVar"))
      .withColumn("_vhat",
        col("_pooledVar") / (col("_nTot").cast("double") / col("_k").cast("double")))
      .withColumn("_c",
        when(col("_k") <= 3, lit(null).cast("double"))
          .otherwise(when(col("_S") > 0,
            greatest(lit(0.0),
              lit(1.0) - (col("_k") - 3).cast("double") * col("_vhat") / col("_S")))
            .otherwise(lit(0.0))))
    g.crossJoin(broadcast(tot))
      .select(col(groupCol), col("_n").as("n"),
        Portable.pround(col("_m"), 6).as("mean_raw"),
        Portable.pround(col("_c"), 6).as("shrink_c"),
        Portable.pround(col("_mbar") + col("_c") * (col("_m") - col("_mbar")), 6)
          .as("mean_shrunk"))
  }

  /** Split-conformal prediction interval for the persistence forecast —
    * the distribution-free "how wrong can the next value be" band a
    * monitoring threshold should come from (Vovk's conformal guarantee:
    * coverage ≥ 1 − α on exchangeable data, NO distributional
    * assumption — the honest counterpart of a Gaussian ±2σ band).
    * Nonconformity score = |value − previous value of the same unit|
    * (the persistence/naive-forecast residual, C262's MASE baseline);
    * calibration = scores with day-of-month < `splitDay`, q̂ = the
    * ⌈(1−α)(n_cal+1)⌉-th smallest calibration score (rank-pick, NO
    * interpolation — both engines select the identical physical row;
    * clamped to n_cal), and the report grades q̂ on the held-out scores:
    * empirical coverage vs the 1 − α target.
    *
    * Integer ranks, double comparisons on raw stored differences, two
    * exact count ratios — every column hash-checks. n_cal = 0 → NULL
    * q̂/coverage, never a throw.
    */
  def conformalInterval(df: DataFrame, unitCol: String, orderCol: String,
                        tsCol: String, valueCol: Column, splitDay: Int,
                        alpha: Double): DataFrame = {
    val w = Window.partitionBy(unitCol).orderBy(orderCol)
    val scored = df.where(valueCol.isNotNull)
      .select(col(unitCol), col(orderCol), col(tsCol), valueCol.cast("double").as("_v"))
      .withColumn("_prev", lag(col("_v"), 1).over(w))
      .where(col("_prev").isNotNull)
      // the score rounds to 6 dp AT DEFINITION: it bounds the distinct-
      // score catalog the quantile pick cumulates over (continuous raw
      // residuals would make the catalog row-scale), and a conformal
      // threshold quoted past 6 dp is noise anyway
      .select((dayofmonth(col(tsCol)) < splitDay).as("_cal"),
        Portable.pround(abs(col("_v") - col("_prev")), 6).as("_score"))
    conformalFromScoreCounts(
      scored.groupBy("_cal", "_score").agg(count(lit(1)).as("_c")), alpha)
  }

  /** The conformal READ over an aggregated score catalog — (_cal: whether
    * the score is calibration or held-out, _score, _c: occurrences).
    * Factored out (r18) so the batch [[conformalInterval]] and the
    * streaming twin ([[graft.streaming.StreamingOps.ConformalState]])
    * share one arithmetic: the catalog is an additive monoid, so any
    * maintenance that reproduces the batch catalog reproduces the q̂ pick
    * and coverage BIT-identically. Everything downstream of the catalog
    * is integer counts plus the same fixed double expressions.
    */
  def conformalFromScoreCounts(scoreCounts: DataFrame, alpha: Double): DataFrame = {
    val cal = scoreCounts.where(col("_cal"))
    val nCal = cal.agg(coalesce(sum("_c"), lit(0L)).as("n_cal"))
    // rank index ⌈(1−α)(n+1)⌉ clamped to n — the ceil runs on the double
    // product of a small integer and the same parsed constant, identical
    // in both engines. The pick itself is the value-CATALOG cumulative
    // formulation (the weightedMedian/Lorenz discipline — never a
    // row-scale global sort): aggregate scores to (value, count), one
    // cumulative window over the bounded distinct-score catalog, and the
    // picked rank's value is the straddling class's value — identical to
    // rank-pick under any tie order.
    val idx = least(
      ceil(lit(1.0 - alpha) * (col("n_cal") + 1).cast("double")).cast("long"),
      col("n_cal"))
    val cum = cal.groupBy("_score").agg(sum("_c").as("_c"))
      .withColumn("_ccnt", sum("_c").over(Portable.kRowWindow(col("_score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pick = cum.crossJoin(broadcast(nCal))
      .where(col("_ccnt") >= idx && col("_ccnt") - col("_c") < idx)
      .select(col("_score").as("_qhat"), lit(1).as("_k"))
    // always exactly one summary row: an empty calibration set leaves a
    // NULL q̂ (left join on the dummy key), never zero rows
    val qrow = nCal.withColumn("_k", lit(1))
      .join(broadcast(pick), Seq("_k"), "left").drop("_k")
    val eval = scoreCounts.where(!col("_cal"))
    val evalAgg = eval.crossJoin(broadcast(qrow))
      .agg(coalesce(sum("_c"), lit(0L)).as("n_eval"),
        sum(when(col("_score") <= col("_qhat"), col("_c")).otherwise(0L)).as("_cov"))
    qrow.crossJoin(broadcast(evalAgg))
      .select(col("n_cal"), col("n_eval"),
        Portable.pround(col("_qhat"), 6).as("q_hat"),
        when(col("n_eval") > 0 && col("_qhat").isNotNull,
          Portable.pround(col("_cov").cast("double") / col("n_eval").cast("double"), 6))
          .as("coverage"),
        lit(1.0 - alpha).as("target"))
  }

  /** md5-randomization permutation test for the two-cohort mean
    * difference — the assumption-free significance read behind C230's
    * z-test and C264's CUPED (no normality, no variance formula: "how
    * often does a RANDOM reassignment of units beat the observed
    * split"). Classical permutation testing draws random relabelings;
    * here replica r assigns unit u to cohort A iff
    * hash32(u # r) is even — the engine's standing RNG-free substitute
    * (C23/C197): deterministic, layout-independent, replayable by the
    * oracle byte for byte. p = (1 + #{r : |d_r| ≥ |d_obs|}) / (R + 1),
    * the standard add-one permutation p-value — an exact rational.
    *
    * Every replica statistic is a fixed IEEE shape on exact decimal
    * per-unit sums (conditional-sum means, one division each side), so
    * the |d_r| ≥ |d_obs| comparisons agree bit-for-bit cross-engine.
    * Scale shape: one unit aggregate (map-side combinable), then an
    * R-way fan of the UNIT table only — never the event stream — and
    * one replica aggregate. Degenerate inputs (no units, an empty
    * observed cohort) NULL-propagate.
    */
  def permutationTest(df: DataFrame, unitCol: String, valueCol: Column,
                      replicas: Int): DataFrame = {
    require(replicas > 0, "need at least one permutation replica")
    val units = df.where(valueCol.isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(Portable.decSum(valueCol.cast("double"), 6).as("_x"))
      .withColumn("_obsA", pmod(Portable.hash32(col("_u")), lit(2L)) === 0)
    def meanDiff(flag: Column): Column = {
      val nA = sum(when(flag, 1L).otherwise(0L))
      val nB = sum(when(!flag, 1L).otherwise(0L))
      val sA = sum(when(flag, col("_x")).otherwise(lit(0.0)).cast("decimal(28,6)")).cast("double")
      val sB = sum(when(!flag, col("_x")).otherwise(lit(0.0)).cast("decimal(28,6)")).cast("double")
      when(nA > 0 && nB > 0, sA / nA.cast("double") - sB / nB.cast("double"))
    }
    val obs = units.agg(count(lit(1)).as("n_units"),
      sum(when(col("_obsA"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("_obsA"), 1L).otherwise(0L)).as("n_b"),
      meanDiff(col("_obsA")).as("_dObs"))
    val reps = units
      .select(col("_u"), col("_x"),
        explode(array((1 to replicas).map(r => lit(r)): _*)).as("_r"))
      .withColumn("_permA",
        pmod(Portable.hash32(concat_ws("#", col("_u"), col("_r"))), lit(2L)) === 0)
      .groupBy("_r").agg(meanDiff(col("_permA")).as("_dR"))
    val extreme = reps.crossJoin(broadcast(obs))
      .agg(sum(when(abs(col("_dR")) >= abs(col("_dObs")), 1L).otherwise(0L))
        .as("n_extreme"))
    obs.crossJoin(broadcast(extreme)).select(
      col("n_units"), col("n_a"), col("n_b"),
      Portable.pround(col("_dObs"), 6).as("obs_diff"),
      when(col("_dObs").isNotNull, col("n_extreme")).as("n_extreme"),
      when(col("_dObs").isNotNull, Portable.pround(
        (col("n_extreme") + lit(1L)).cast("double") / lit((replicas + 1).toDouble), 6))
        .as("p_value"))
  }

  /** Stratified md5-randomization permutation test (r18, VERDICT r17
    * item 8) — C268's variant for experiments randomized WITHIN strata:
    * when assignment is balanced inside activity/geography strata, the
    * correct null distribution permutes labels inside each stratum too,
    * preserving the observed per-stratum cohort sizes (an unstratified
    * permutation would mix heavy and light strata and overstate the
    * variance). Strata here are activity tiers: ⌊log2(events per
    * unit)⌋ + 1, computed portably as length(bin(n)) — integer, and the
    * classical covariate experimenters actually balance on.
    *
    * Replica r ORDERS each stratum's units by hash32(u#r) (ties broken
    * by unit id) and labels the first n_A(s) of them A — an exact
    * size-preserving permutation, deterministic and replayable by the
    * oracle byte for byte. The test statistic stays the pooled mean
    * difference (the quantity the experiment reports); stratification
    * lives in the null distribution, which is where it belongs.
    * p = (1 + #{r : |d_r| ≥ |d_obs|}) / (R + 1) — an exact rational.
    *
    * Scale shape: one unit aggregate, an R-way fan of the UNIT table,
    * one rank window per (stratum, replica), one replica aggregate.
    */
  def permutationTestStratified(df: DataFrame, unitCol: String, valueCol: Column,
                                replicas: Int): DataFrame = {
    require(replicas > 0, "need at least one permutation replica")
    val units = df.where(valueCol.isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(Portable.decSum(valueCol.cast("double"), 6).as("_x"),
        count(lit(1)).as("_n"))
      .withColumn("_stratum", length(bin(col("_n"))))
      .withColumn("_obsA", pmod(Portable.hash32(col("_u")), lit(2L)) === 0)
    def meanDiff(flag: Column): Column = {
      val nA = sum(when(flag, 1L).otherwise(0L))
      val nB = sum(when(!flag, 1L).otherwise(0L))
      val sA = sum(when(flag, col("_x")).otherwise(lit(0.0)).cast("decimal(28,6)")).cast("double")
      val sB = sum(when(!flag, col("_x")).otherwise(lit(0.0)).cast("decimal(28,6)")).cast("double")
      when(nA > 0 && nB > 0, sA / nA.cast("double") - sB / nB.cast("double"))
    }
    val strata = units.groupBy("_stratum")
      .agg(sum(when(col("_obsA"), 1L).otherwise(0L)).as("_nAs"))
    val obs = units.agg(count(lit(1)).as("n_units"),
      countDistinct(col("_stratum")).as("n_strata"),
      sum(when(col("_obsA"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("_obsA"), 1L).otherwise(0L)).as("n_b"),
      meanDiff(col("_obsA")).as("_dObs"))
    val wRank = Window.partitionBy("_stratum", "_r")
      .orderBy(col("_h").asc, col("_u").asc)
    val reps = units
      .select(col("_u"), col("_x"), col("_stratum"),
        explode(array((1 to replicas).map(r => lit(r)): _*)).as("_r"))
      .withColumn("_h", Portable.hash32(concat_ws("#", col("_u"), col("_r"))))
      .withColumn("_rn", row_number().over(wRank))
      .join(broadcast(strata), Seq("_stratum"))
      .withColumn("_permA", col("_rn") <= col("_nAs"))
      .groupBy("_r").agg(meanDiff(col("_permA")).as("_dR"))
    val extreme = reps.crossJoin(broadcast(obs))
      .agg(sum(when(abs(col("_dR")) >= abs(col("_dObs")), 1L).otherwise(0L))
        .as("n_extreme"))
    obs.crossJoin(broadcast(extreme)).select(
      col("n_units"), col("n_strata"), col("n_a"), col("n_b"),
      Portable.pround(col("_dObs"), 6).as("obs_diff"),
      when(col("_dObs").isNotNull, col("n_extreme")).as("n_extreme"),
      when(col("_dObs").isNotNull, Portable.pround(
        (col("n_extreme") + lit(1L)).cast("double") / lit((replicas + 1).toDouble), 6))
        .as("p_value"))
  }

  /** Kendall's τ-b per series between two per-day aggregates (count and
    * value sum) — the fully tie-corrected CONCORDANCE companion of
    * C189's Spearman (which correlates ranks; τ counts pair inversions,
    * the more robust read at short series lengths): over all day pairs,
    * C = concordant, D = discordant,
    * τ-b = (C − D) / √((n₀ − t_x)(n₀ − t_y)) with n₀ = n(n−1)/2 and
    * t_x/t_y the tied-pair counts in each margin.
    *
    * Everything is INTEGER until the final √ — the x margin is an exact
    * count, the y margin an exact decimal sum compared exactly, so the
    * concordance classification of every pair is engine-independent by
    * construction. The pairwise fan is per-series day×day (≤ n²/2 rows
    * on a BOUNDED day catalog — the series are daily rollups, never raw
    * events; the C261 cross-correlation shape).
    */
  def kendallTau(df: DataFrame, seriesKey: String, tsCol: String,
                 valueCol: Column): DataFrame = {
    val daily = df.where(valueCol.isNotNull && col(tsCol).isNotNull)
      .groupBy(col(seriesKey).as("_k"), to_date(col(tsCol)).as("_day"))
      .agg(count(lit(1)).as("_x"), Portable.decSum(valueCol.cast("double"), 6).as("_y"))
    val a = daily.select(col("_k"), col("_day").as("_da"),
      col("_x").as("_xa"), col("_y").as("_ya"))
    val b = daily.select(col("_k"), col("_day").as("_db"),
      col("_x").as("_xb"), col("_y").as("_yb"))
    val pairs = a.join(b, Seq("_k")).where(col("_da") < col("_db"))
    val sx = (col("_xa") < col("_xb")).cast("int") - (col("_xa") > col("_xb")).cast("int")
    val sy = (col("_ya") < col("_yb")).cast("int") - (col("_ya") > col("_yb")).cast("int")
    val agg = pairs.groupBy("_k").agg(
      count(lit(1)).as("n_pairs"),
      sum(when(sx * sy === 1, 1L).otherwise(0L)).as("concordant"),
      sum(when(sx * sy === -1, 1L).otherwise(0L)).as("discordant"),
      sum(when(sx === 0, 1L).otherwise(0L)).as("_tx"),
      sum(when(sy === 0, 1L).otherwise(0L)).as("_ty"))
    val denom = sqrt((col("n_pairs") - col("_tx")).cast("double") *
      (col("n_pairs") - col("_ty")).cast("double"))
    agg.select(col("_k").as(seriesKey), col("n_pairs"),
      col("concordant"), col("discordant"),
      when(denom > 0, Portable.pround(
        (col("concordant") - col("discordant")).cast("double") / denom, 6))
        .as("tau_b"))
  }

  /** Kruskal–Wallis one-way rank test across groups — "do these sources
    * draw from the same distribution" without normality (the k-group
    * member of the rank family: C250's Mann–Whitney compares two samples
    * per group; this compares the groups themselves). H = 12/(N(N+1)) ·
    * Σ R_g²/n_g − 3(N+1), tie-corrected by C = 1 − Σ(t³−t)/(N³−N).
    *
    * Rank sums stay INTEGER via the doubled-midrank identity (the C250
    * trick): a value with catalog cumulative count c and multiplicity t
    * has doubled midrank 2·(c − t + 1) + (t − 1) per copy, so
    * 2R_g = Σ_v n_gv·(2·ccnt_v − t_v + 1) is an exact integer and
    * R_g²/n_g = (2R_g)²/(4n_g) a fixed double shape. The ranking runs on
    * the VALUE CATALOG (one kRowWindow over distinct values — the
    * weightedMedian discipline, never a row-scale global sort); tie and
    * square terms go through decimal(38,0) so no long overflow at scale.
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val base = df.where(valueCol.isNotNull)
      .select(col(groupCol).as("_g"), valueCol.as("_v"))
    val cat = base.groupBy("_v").agg(count(lit(1)).as("_t"))
      .withColumn("_ccnt", sum("_t").over(Portable.kRowWindow(col("_v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val gv = base.groupBy("_g", "_v").agg(count(lit(1)).as("_ngv"))
    // doubled-rank sum in decimal(38,0), the [[dunnPosthoc]] fix (ADVICE
    // r18 item 4): Long wraps past 2^63 at N ≳ 3e9 rows
    val ranked = gv.join(cat, Seq("_v"))
      .groupBy("_g").agg(
        sum("_ngv").as("_ng"),
        sum((col("_ngv").cast("decimal(38,0)") *
          (lit(2L) * col("_ccnt") - col("_t") + 1L)).cast("decimal(38,0)"))
          .as("_r2"))
    val perGroup = ranked.agg(
      count(lit(1)).as("n_groups"),
      sum("_ng").as("n"),
      // Σ R_g²/n_g = Σ (2R_g)² / (4 n_g): decimal snapshot per group
      // keeps the cross-group sum order-independent
      Portable.decSum(col("_r2").cast("double") * col("_r2").cast("double") /
        (lit(4.0) * col("_ng").cast("double")), 6).as("_sr"))
    val ties = cat.agg(
      coalesce(sum((col("_t").cast("decimal(38,0)") * col("_t") * col("_t") - col("_t"))
        .cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)")).as("_tie"))
    val nD = col("n").cast("double")
    val h = lit(12.0) / (nD * (nD + 1.0)) * col("_sr") - lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) - col("_tie").cast("double") /
      (nD * nD * nD - nD)
    perGroup.crossJoin(broadcast(ties)).select(
      col("n"), col("n_groups"),
      (col("n_groups") - 1L).as("df"),
      when(col("n") > 1 && col("n_groups") > 1, Portable.pround(h, 6)).as("h"),
      when(col("n") > 1 && col("n_groups") > 1 && corr > 0,
        Portable.pround(h / corr, 6)).as("h_adj"))
  }

  /** Cochran–Armitage trend test over dose-ordered daily proportions —
    * "is the conversion rate TRENDING with the day index" (the binary-
    * outcome member of the trend family: C184's Mann–Kendall reads a
    * continuous series; this reads proportions with their binomial
    * variance): with day scores s_i = day-of-month, T = Σ s_i(h_i −
    * n_i·p̄), Var = p̄(1−p̄)·(Σ n_i s_i² − (Σ n_i s_i)²/N), z = T/√Var.
    *
    * Every sum is an exact integer (scores and counts); p̄ and the final
    * two divisions/√ are the only floating steps — fixed IEEE shapes on
    * bit-identical integers. Degenerate inputs (p̄ ∈ {0,1}, one day)
    * yield NULL z, never a divide error.
    */
  def cochranArmitage(df: DataFrame, tsCol: String, hitCol: Column): DataFrame = {
    val daily = df.where(hitCol.isNotNull && col(tsCol).isNotNull)
      .groupBy(dayofmonth(col(tsCol)).cast("long").as("_s"))
      .agg(count(lit(1)).as("_n"),
        sum(when(hitCol.cast("boolean"), 1L).otherwise(0L)).as("_h"))
    val agg = daily.agg(
      count(lit(1)).as("n_days"),
      sum("_n").as("n"), sum("_h").as("n_hit"),
      sum(col("_s") * col("_h")).as("_sh"),
      sum(col("_s") * col("_n")).as("_sn"),
      sum(col("_s") * col("_s") * col("_n")).as("_ssn"))
    val nD = col("n").cast("double")
    val pbar = col("n_hit").cast("double") / nD
    val t = col("_sh").cast("double") - pbar * col("_sn").cast("double")
    val v = pbar * (lit(1.0) - pbar) *
      (col("_ssn").cast("double") - col("_sn").cast("double") * col("_sn").cast("double") / nD)
    agg.select(col("n_days"), col("n"), col("n_hit"),
      Portable.pround(t, 6).as("trend_stat"),
      when(col("n") > 0 && v > 0, Portable.pround(t / sqrt(v), 6)).as("z"))
  }

  /** Mantel–Haenszel pooled odds ratio across strata — "the common
    * exposure↔outcome association, adjusted for the stratifier" (the
    * confounder-adjusted completion of C251's per-group odds ratio, and
    * the exact cure for C276's Simpson reversals: pooling per-stratum
    * 2×2 tables with MH weights reads the within-stratum association a
    * marginal table inverts): OR_MH = Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i).
    *
    * Per-stratum cells are exact integers; each term is one double
    * division of integer products, decimal-snapshotted so the cross-
    * stratum sums are order-independent. Strata where n = 0 cannot occur
    * (a stratum exists only with rows); zero denominators yield NULL OR.
    */
  def mantelHaenszel(df: DataFrame, strataCol: Column, exposure: Column,
                     outcome: Column): DataFrame = {
    val cells = df.where(exposure.isNotNull && outcome.isNotNull)
      .groupBy(strataCol.as("_s")).agg(
        sum(when(exposure && outcome, 1L).otherwise(0L)).as("_a"),
        sum(when(exposure && !outcome, 1L).otherwise(0L)).as("_b"),
        sum(when(!exposure && outcome, 1L).otherwise(0L)).as("_c"),
        sum(when(!exposure && !outcome, 1L).otherwise(0L)).as("_d"))
    val n = (col("_a") + col("_b") + col("_c") + col("_d")).cast("double")
    val agg = cells.agg(
      count(lit(1)).as("n_strata"),
      sum(col("_a") + col("_b") + col("_c") + col("_d")).as("n"),
      Portable.decSum(col("_a").cast("double") * col("_d").cast("double") / n, 9)
        .as("_num"),
      Portable.decSum(col("_b").cast("double") * col("_c").cast("double") / n, 9)
        .as("_den"))
    agg.select(col("n_strata"), col("n"),
      Portable.pround(col("_num"), 6).as("sum_ad_over_n"),
      Portable.pround(col("_den"), 6).as("sum_bc_over_n"),
      when(col("_den") > 0, Portable.pround(col("_num") / col("_den"), 6))
        .as("or_mh"))
  }

  /** Per-group md5-randomization permutation test (r18) — C268's exact
    * machinery fanned over a group column: each group gets its own
    * observed md5-cohort mean difference and add-one rational p from
    * `replicas` within-group relabelings. The units are (group, unit)
    * pairs, so a unit appearing in several groups is tested
    * independently in each — the per-segment experiment readout. Feeds
    * [[bhAdjust]], which is the reason per-group p-values exist at all:
    * reading k segment p-values without multiplicity control is how
    * false discoveries ship.
    */
  def permutationTestPerGroup(df: DataFrame, groupCol: String, unitCol: String,
                              valueCol: Column, replicas: Int): DataFrame = {
    require(replicas > 0, "need at least one permutation replica")
    val units = df.where(valueCol.isNotNull)
      .groupBy(col(groupCol).as("_g"), col(unitCol).as("_u"))
      .agg(Portable.decSum(valueCol.cast("double"), 6).as("_x"))
      .withColumn("_obsA", pmod(Portable.hash32(col("_u")), lit(2L)) === 0)
    def meanDiff(flag: Column): Column = {
      val nA = sum(when(flag, 1L).otherwise(0L))
      val nB = sum(when(!flag, 1L).otherwise(0L))
      val sA = sum(when(flag, col("_x")).otherwise(lit(0.0)).cast("decimal(28,6)")).cast("double")
      val sB = sum(when(!flag, col("_x")).otherwise(lit(0.0)).cast("decimal(28,6)")).cast("double")
      when(nA > 0 && nB > 0, sA / nA.cast("double") - sB / nB.cast("double"))
    }
    val obs = units.groupBy("_g").agg(
      count(lit(1)).as("n_units"), meanDiff(col("_obsA")).as("_dObs"))
    val reps = units
      .select(col("_g"), col("_u"), col("_x"),
        explode(array((1 to replicas).map(r => lit(r)): _*)).as("_r"))
      .withColumn("_permA",
        pmod(Portable.hash32(concat_ws("#", col("_u"), col("_r"))), lit(2L)) === 0)
      .groupBy("_g", "_r").agg(meanDiff(col("_permA")).as("_dR"))
    // both joins pair stats-blind post-aggregation frames of CATALOG
    // size (groups / groups×replicas); without hints the planner falls
    // back to SMJ on estimate-blind inputs in some session states —
    // broadcast the group-sized side explicitly (the Relational.scala
    // stats-blind-frame precedent)
    val extreme = reps.join(broadcast(obs.select(col("_g"), col("_dObs"))), Seq("_g"))
      .groupBy("_g")
      .agg(sum(when(abs(col("_dR")) >= abs(col("_dObs")), 1L).otherwise(0L))
        .as("_k"))
    obs.join(broadcast(extreme), Seq("_g"), "left_outer")
      .select(col("_g").as(groupCol), col("n_units"),
        Portable.pround(col("_dObs"), 6).as("obs_diff"),
        when(col("_dObs").isNotNull, Portable.pround(
          (col("_k") + lit(1L)).cast("double") / lit((replicas + 1).toDouble), 6))
          .as("p_value"))
  }

  /** Benjamini–Hochberg FDR adjustment over a (group, p) table (r18) —
    * the multiple-testing control every per-segment readout needs (at 20
    * segments and α = 0.1, two "significant" segments are EXPECTED under
    * the global null; BH caps the expected FALSE-DISCOVERY share at α
    * instead of the per-test error): rank p ascending (ties → group
    * asc), the largest i with p_(i) ≤ i·α/m and everything ranked at or
    * under it rejects, and p_adj_(i) = min_{j ≥ i}(m·p_(j)/j) clamped
    * at 1 (the monotone step-up adjusted value).
    *
    * Designed for EXACT p-values (the permutation family's add-one
    * rationals): ranks are integers on the group catalog, every
    * comparison is a fixed double shape on bit-identical inputs, and the
    * reversed cumulative min runs over the same bounded catalog window —
    * nothing resamples, nothing rounds before the visible 6 dp.
    */
  def bhAdjust(pvals: DataFrame, groupCol: String, pCol: String,
               alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "need an interior FDR level")
    val wUp = Portable.kRowWindow(col(pCol).asc, col(groupCol).asc)
    val base = pvals.where(col(pCol).isNotNull)
      .withColumn("_i", row_number().over(wUp).cast("long"))
      .withColumn("_m", count(lit(1)).over(
        Portable.kRowWindow(col(pCol).asc, col(groupCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val wDown = Portable.kRowWindow(col(pCol).desc, col(groupCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val adj = base
      .withColumn("_raw", col(pCol) * col("_m").cast("double") / col("_i").cast("double"))
      .withColumn("_adj", least(lit(1.0), min(col("_raw")).over(wDown)))
      .withColumn("_passes",
        when(col(pCol) <= col("_i").cast("double") * lit(alpha) / col("_m").cast("double"),
          col("_i")))
      .withColumn("_cut", max(col("_passes")).over(
        Portable.kRowWindow(col(pCol).asc, col(groupCol).asc)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    adj.select(col(groupCol), col(pCol).as("p_value"),
      col("_i").as("p_rank"),
      Portable.pround(col("_adj"), 6).as("p_adj"),
      coalesce(col("_i") <= col("_cut"), lit(false)).as("significant"))
  }

  /** Two-sample Cramér–von Mises drift statistic per group (r18) — the
    * L2 companion of C182's KS (which reads the single largest ECDF gap;
    * CvM integrates the SQUARED gap over the whole pooled sample, so
    * distributed small shifts that never produce one big gap still
    * register): T = nm/(n+m)² · Σ_pooled (F_n(x) − G_m(x))², evaluated
    * at every pooled observation via the value catalog (per distinct
    * value, the gap term weighs by its multiplicity — never a row-scale
    * sort). Cohorts are the engine's standing md5-even unit split.
    *
    * Cumulative counts are integers; each term is a fixed double shape,
    * decimal-snapshotted before the cross-value sum. Either cohort
    * empty → NULL statistic.
    */
  def cvmDrift(df: DataFrame, groupCol: String, unitCol: String,
               valueCol: Column): DataFrame = {
    val base = df.where(valueCol.isNotNull)
      .select(col(groupCol).as("_g"), valueCol.as("_v"),
        (pmod(Portable.hash32(col(unitCol)), lit(2L)) === 0).as("_inA"))
    val cat = base.groupBy("_g", "_v").agg(
      sum(when(col("_inA"), 1L).otherwise(0L)).as("_ca"),
      sum(when(!col("_inA"), 1L).otherwise(0L)).as("_cb"))
    val wCum = Window.partitionBy("_g").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("_g")
    val cum = cat
      .withColumn("_fa", sum("_ca").over(wCum))
      .withColumn("_fb", sum("_cb").over(wCum))
      .withColumn("_n", sum("_ca").over(wAll))
      .withColumn("_m", sum("_cb").over(wAll))
    // empty-cohort guard: a double /0 is Infinity in Spark and an error
    // inside DuckDB's decimal snapshot — mask the gap to 0 (the final
    // statistic is NULLed by the n_a/n_b guard anyway)
    val gap = when(col("_n") > 0 && col("_m") > 0,
      col("_fa").cast("double") / col("_n").cast("double") -
        col("_fb").cast("double") / col("_m").cast("double")).otherwise(lit(0.0))
    cum.groupBy("_g").agg(
        max("_n").as("n_a"), max("_m").as("n_b"),
        Portable.decSum((col("_ca") + col("_cb")).cast("double") * gap * gap, 9)
          .as("_s"))
      .select(col("_g").as(groupCol), col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, Portable.pround(
          col("n_a").cast("double") * col("n_b").cast("double") /
            ((col("n_a") + col("n_b")).cast("double") *
             (col("n_a") + col("n_b")).cast("double")) * col("_s"), 6))
          .as("cvm_stat"))
  }

  /** Friedman blocked rank test (r18) — "do the treatments differ, with
    * the block effect removed": blocks are calendar days, treatments the
    * group column, the cell observation each (day, group)'s exact
    * decimal mean. Only COMPLETE blocks (all k treatments present) enter
    * — the classical design requirement, enforced rather than assumed.
    * Within each block the k cells take midranks (ties averaged), and
    * the general tied form is used:
    * Q = (k−1)·Σ_j(R_j − n(k+1)/2)² / (A − n·k(k+1)²/4), A = Σ r_ij² —
    * which reduces to the textbook 12/(nk(k+1))·ΣR_j² − 3n(k+1) when no
    * ties occur.
    *
    * Ranks stay integer via the C250 doubled-midrank identity inside
    * each block (2r = 2·minrank + t − 1); R_j, A, and every moment are
    * exact (doubled ranks are integers, their squares exact quarters),
    * so Q is one fixed double shape. Degenerate inputs (no complete
    * blocks, k < 2, A = C) → NULL.
    */
  def friedman(df: DataFrame, tsCol: String, groupCol: String,
               valueCol: Column): DataFrame = {
    val cells = df.where(valueCol.isNotNull && col(tsCol).isNotNull)
      .groupBy(to_date(col(tsCol)).as("_d"), col(groupCol).as("_g"))
      .agg((Portable.decSum(valueCol.cast("double"), 6) /
        count(lit(1)).cast("double")).as("_v"))
    val k = cells.agg(countDistinct(col("_g")).as("_k"))
    val complete = cells
      .withColumn("_kd", count(lit(1)).over(Window.partitionBy("_d")))
      .crossJoin(broadcast(k)).where(col("_kd") === col("_k"))
    val wOrd = Window.partitionBy("_d").orderBy("_v")
    val wVal = Window.partitionBy("_d", "_v")
    val ranked = complete
      .withColumn("_minrank", rank().over(wOrd))
      .withColumn("_t", count(lit(1)).over(wVal))
      .withColumn("_r2", lit(2L) * col("_minrank") + col("_t") - 1L)
    val perTreat = ranked.groupBy("_g").agg(
      count(lit(1)).as("_n"), sum("_r2").as("_sr2"))
    val totals = ranked.agg(
      countDistinct(col("_d")).as("n_blocks"),
      // A = Σ r² = Σ (2r)²/4 — doubled ranks are integers, kept exact
      Portable.decSum(col("_r2").cast("double") * col("_r2").cast("double") / lit(4.0), 6)
        .as("_a"))
    val kk = col("_k").cast("double")
    val nn = col("n_blocks").cast("double")
    // Σ_j (R_j − n(k+1)/2)²: R_j = ΣR2_j/2, each deviation a fixed shape
    val dev = col("_sr2").cast("double") / 2.0 - nn * (kk + 1.0) / 2.0
    val sdev = perTreat.crossJoin(broadcast(totals)).crossJoin(broadcast(k))
      .agg(Portable.decSum(dev * dev, 6).as("_sd"))
    val denom = col("_a") - nn * kk * (kk + 1.0) * (kk + 1.0) / 4.0
    totals.crossJoin(broadcast(k)).crossJoin(broadcast(sdev))
      .select(col("n_blocks"), col("_k").as("k"),
        (col("_k") - 1L).as("df"),
        when(col("n_blocks") > 0 && col("_k") > 1 && denom > 0,
          Portable.pround((kk - 1.0) * col("_sd") / denom, 6)).as("q_stat"))
  }

  /** McNemar's paired test (r18) — did the SAME units change behavior
    * between two periods (the paired completion of C230's two-sample
    * z-test, which cannot tell churn from noise because it compares
    * marginals): per unit, did it convert in the first half of the month
    * vs the second; only the DISCORDANT cells carry information and
    * χ² = (b−c)²/(b+c) on them. Integer cells, one division; b+c = 0 →
    * NULL (no discordance, nothing to test).
    */
  def mcnemar(df: DataFrame, unitCol: String, tsCol: String, hitCol: Column,
              splitDay: Int): DataFrame = {
    val per = df.where(hitCol.isNotNull && col(tsCol).isNotNull)
      .groupBy(col(unitCol).as("_u"))
      .agg(
        max(when(dayofmonth(col(tsCol)) < splitDay && hitCol.cast("boolean"), 1L)
          .otherwise(0L)).as("_p1"),
        max(when(dayofmonth(col(tsCol)) >= splitDay && hitCol.cast("boolean"), 1L)
          .otherwise(0L)).as("_p2"))
    val agg = per.agg(
      count(lit(1)).as("n_units"),
      sum(when(col("_p1") === 1 && col("_p2") === 1, 1L).otherwise(0L)).as("n_both"),
      sum(when(col("_p1") === 1 && col("_p2") === 0, 1L).otherwise(0L)).as("first_only"),
      sum(when(col("_p1") === 0 && col("_p2") === 1, 1L).otherwise(0L)).as("second_only"),
      sum(when(col("_p1") === 0 && col("_p2") === 0, 1L).otherwise(0L)).as("n_neither"))
    val b = col("first_only").cast("double")
    val c = col("second_only").cast("double")
    agg.select(col("n_units"), col("n_both"), col("first_only"),
      col("second_only"), col("n_neither"),
      when(col("first_only") + col("second_only") > 0,
        Portable.pround((b - c) * (b - c) / (b + c), 6)).as("chi2"))
  }

  /** Gumbel block-maxima tail fit by the method of moments — the
    * capacity-planning read of a value stream: fit the extreme-value-I
    * distribution to the DAILY MAXIMA (classical block maxima, one block
    * per calendar day) and report the T-block return levels
    * z_T = μ + β·c_T, c_T = −ln(−ln(1 − 1/T)) — "the largest value to
    * expect once per T days", the number a quota/alerting threshold is
    * set from. Moment fit: β = sd·(√6/π), μ = mean − γ·β (Gumbel's
    * moments; γ = Euler–Mascheroni).
    *
    * Portability: mean/sd come from exact decimal moment sums of the
    * block maxima (raw stored doubles — no arithmetic before the agg);
    * sqrt is correctly rounded IEEE everywhere; and ALL transcendental
    * constants (√6/π, γ, each c_T) enter as 9-dp ROUNDED literals
    * computed once driver-side — ln/π differ in final ulps across
    * engines, a ≤15-significant-digit decimal literal does not (it
    * round-trips exactly through DuckDB's DECIMAL parse; the r16 q_macd
    * lesson). The 1e-10 constant truncation is documented and
    * statistically immaterial next to the moment estimator's own error.
    * n<2 blocks → NULL fit, never a throw.
    */
  def gumbelTail(df: DataFrame, tsCol: String, valueCol: Column,
                 returnPeriods: Seq[Int]): DataFrame = {
    require(returnPeriods.nonEmpty && returnPeriods.forall(_ >= 2),
      "return periods must be >= 2 blocks")
    def r9(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
    val b9 = r9(math.sqrt(6.0) / math.Pi)            // 0.779696801
    val g9 = r9(0.57721566490153286)                 // Euler–Mascheroni
    val blocks = df.where(valueCol.isNotNull)
      .groupBy(to_date(col(tsCol)).as("_day"))
      .agg(max(valueCol.cast("double")).as("_m"))
    val agg = blocks.agg(count(lit(1)).as("n_blocks"),
      Portable.decSum(col("_m"), 6).as("_s"),
      Portable.decSum(col("_m") * col("_m"), 6).as("_q"))
    val n = col("n_blocks").cast("double")
    val mean = when(col("n_blocks") > 0, col("_s") / n)
    val sd = when(col("n_blocks") > 1,
      sqrt((col("_q") - n * mean * mean) / (n - 1)))
    val beta = sd * lit(b9)
    val mu = mean - lit(g9) * beta
    val periods = array(returnPeriods.map { t =>
      struct(lit(t.toLong).as("t"), lit(r9(-math.log(-math.log(1.0 - 1.0 / t)))).as("c"))
    }: _*)
    agg.select(col("n_blocks"), mean.as("_mean"), mu.as("_mu"), beta.as("_beta"),
        explode(periods).as("_p"))
      .select(col("_p.t").as("return_period"), col("n_blocks"),
        Portable.pround(col("_mu"), 6).as("mu"),
        Portable.pround(col("_beta"), 6).as("beta"),
        Portable.pround(col("_mu") + col("_beta") * col("_p.c"), 6).as("return_level"))
  }

  /** One-way ANOVA F (r18b) — do the group MEANS differ, the classical
    * parametric companion of [[kruskalWallis]] (which asks the same of
    * whole distributions via ranks): F = (SSB/(k−1))/(SSW/(N−k)) with
    * SSB = Σ S_g²/n_g − S²/N and SSW = ΣQ − Σ S_g²/n_g from per-group
    * sum/sum-of-squares moments. η² = SSB/(SSB+SSW) rides along — the
    * EFFECT SIZE a large-N pipeline needs next to the statistic (at
    * corpus scale everything is "significant"; η² says whether the
    * group label explains 0.1% or 40% of the variance).
    *
    * Portability: per-group moments are exact decimal sums; the
    * between-group term S_g²/n_g is one fixed double shape per group,
    * decimal-snapshotted before the k-row roll-up, so SSB/SSW/F are
    * fixed IEEE shapes on bit-identical inputs. Degenerate inputs
    * (k < 2, N ≤ k, SSW = 0) NULL the statistic, never throw.
    *
    * Scale shape: ONE group hash aggregate collapses the corpus to the
    * group catalog; everything after is catalog-sized.
    */
  def anovaF(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val base = df.where(valueCol.isNotNull)
      .select(col(groupCol).as("_g"), valueCol.cast("double").as("_v"))
    val agg = anovaMoments(base)
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val ssb = col("_sb") - col("_st") * col("_st") / nD
    val ssw = col("_qt") - col("_sb")
    agg.select(col("k"), col("n"),
      when(col("n") > 0, Portable.pround(ssb, 6)).as("ss_between"),
      when(col("n") > 0, Portable.pround(ssw, 6)).as("ss_within"),
      when(col("k") > 0, col("k") - 1L).as("df1"),
      when(col("n") > col("k"), col("n") - col("k")).as("df2"),
      when(col("k") > 1 && col("n") > col("k") && ssw > 0,
        Portable.pround((ssb / (kD - 1.0)) / (ssw / (nD - kD)), 6)).as("f_stat"),
      when(col("n") > 0 && ssb + ssw > 0,
        Portable.pround(ssb / (ssb + ssw), 6)).as("eta_sq"))
  }

  /** Shared one-way moment roll-up for [[anovaF]] / [[brownForsythe]]:
    * per-group (n, ΣX, ΣX²) exact decimal moments off a (_g, _v) frame,
    * then the k-row catalog collapsed to one row carrying k, N, ΣS, ΣQ
    * and the decimal-snapshotted between-group sum Σ S_g²/n_g.
    */
  private def anovaMoments(base: DataFrame): DataFrame =
    anovaRollup(base.groupBy("_g").agg(
      count(lit(1)).as("_n"),
      Portable.decSum(col("_v"), 6).as("_s"),
      Portable.decSum(col("_v") * col("_v"), 6).as("_q")))

  private def anovaRollup(per: DataFrame): DataFrame =
    per.agg(
      count(lit(1)).as("k"), sum("_n").as("n"),
      Portable.decSum(col("_s"), 6).as("_st"),
      Portable.decSum(col("_q"), 6).as("_qt"),
      Portable.decSum(col("_s") * col("_s") / col("_n").cast("double"), 12)
        .as("_sb"))

  /** Brown–Forsythe variance-homogeneity test (r18b) — the assumption
    * check UNDER [[anovaF]] (and under every pooled-variance step the
    * experimentation shelf takes): do the groups have equal SPREAD,
    * measured as the one-way ANOVA F of the absolute deviations from
    * each group's MEDIAN (Brown & Forsythe 1974 — the median-centered
    * Levene variant, robust to heavy tails where mean-centering is not).
    * Output is one row per group (n, median, mean |dev|) with the
    * W statistic alongside — the per-group spreads are what a reader
    * acts on (which SOURCE is the noisy one), W is the gate.
    *
    * The group median is the LOWER median (the value whose cumulative
    * count first reaches ⌈n/2⌉), picked off the per-group VALUE CATALOG
    * cumulative — the weightedMedian/Lorenz discipline: both engines
    * pick the identical physical value, no interpolation, never a
    * row-scale global sort. Deviations are exact (integer inputs −
    * integer median); the W roll-up reuses [[anovaF]]'s moment shapes.
    *
    * Scale shape: one (group, value) hash aggregate bounds everything
    * downstream by the value catalog; the median map is catalog-sized
    * and broadcast back onto the rows for the deviation aggregate.
    */
  def brownForsythe(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val base = df.where(valueCol.isNotNull)
      .select(col(groupCol).as("_g"), valueCol.cast("double").as("_v"))
    val cat = base.groupBy("_g", "_v").agg(count(lit(1)).as("_c"))
    val wg = Window.partitionBy("_g").orderBy("_v")
    val thr = floor((col("_n") + 1).cast("double") / 2.0).cast("long")
    val med = cat
      .withColumn("_cc", sum("_c").over(wg))
      .withColumn("_n", sum("_c").over(Window.partitionBy("_g")))
      .where(col("_cc") >= thr && col("_cc") - col("_c") < thr)
      .select(col("_g"), col("_v").as("_med"))
    val dev = base.join(broadcast(med), Seq("_g"))
      .select(col("_g"), abs(col("_v") - col("_med")).as("_v"), col("_med"))
    val per = dev.groupBy("_g").agg(
      count(lit(1)).as("_n"), max("_med").as("_median"),
      Portable.decSum(col("_v"), 6).as("_s"),
      Portable.decSum(col("_v") * col("_v"), 6).as("_q"))
    val agg = anovaRollup(per)
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val ssb = col("_sb") - col("_st") * col("_st") / nD
    val ssw = col("_qt") - col("_sb")
    per.crossJoin(broadcast(agg))
      .select(col("_g").as(groupCol), col("_n").as("n"),
        round(col("_median"), 6).as("median"),
        round(col("_s") / col("_n").cast("double"), 9).as("mean_absdev"),
        when(col("k") > 1 && col("n") > col("k") && ssw > 0,
          Portable.pround((ssb / (kD - 1.0)) / (ssw / (nD - kD)), 6)).as("w_stat"))
  }

  /** Theil T inequality index with between/within decomposition (r18b)
    * — the DECOMPOSABLE member of the inequality family (C146's Gini is
    * the summary area, C263's Lorenz the curve; only Theil splits
    * additively): T = (1/N)Σ(x/μ)ln(x/μ), and
    * T = T_between + Σ_g (S_g/S)·T_g — "how much corpus inequality is
    * BETWEEN sources vs inside them", the read that decides whether a
    * data-balance fix is a mixing-weight change (between) or a
    * per-source cleanup (within). Positive values only (Theil's domain;
    * zero-length docs are excluded, documented).
    *
    * Portability: everything evaluates on the VALUE CATALOG (one
    * (group, value) hash aggregate bounds all downstream work — never a
    * row-scale ln). Each ratio is integer-exact sums in one fixed double
    * shape; ln outputs round at 9 dp BEFORE the count products (the
    * TF-IDF rule), so every term is bit-identical cross-engine; term
    * sums decimal-snapshot at 12. The decomposition identity then holds
    * to the 9-dp rounding of ln, not exactly — T_total is therefore
    * computed from the row-level definition, not as the sum.
    */
  def theilIndex(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val base = df.where(valueCol.isNotNull && valueCol > 0)
      .select(col(groupCol).as("_g"), valueCol.cast("double").as("_v"))
    val cat = base.groupBy("_g", "_v").agg(count(lit(1)).as("_c"))
    val per = cat.groupBy("_g").agg(
      sum("_c").as("_ng"),
      Portable.decSum(col("_v") * col("_c").cast("double"), 6).as("_sg"))
    val tot = per.agg(sum("_ng").as("_n"),
      Portable.decSum(col("_sg"), 6).as("_s"))
    def ln9(c: Column): Column = round(log(c), 9)
    val cD = col("_c").cast("double")
    // within: r = v·n_g/S_g per catalog row, T_g = Σ c·r·ln9(r) / n_g
    val rW = col("_v") * col("_ng").cast("double") / col("_sg")
    val within = cat.join(broadcast(per), Seq("_g"))
      .select(col("_g"), (cD * rW * ln9(rW)).as("_t"))
      .groupBy("_g").agg(Portable.decSum(col("_t"), 12).as("_tw"))
    // total: r = v·N/S per catalog row, T = Σ c·r·ln9(r) / N
    val rT = col("_v") * col("_n").cast("double") / col("_s")
    val total = cat.crossJoin(broadcast(tot))
      .agg(Portable.decSum(cD * rT * ln9(rT), 12).as("_tt"))
    // between: Σ_g (S_g/S)·ln9(S_g·N / (S·n_g))
    val share = col("_sg") / col("_s")
    val rB = col("_sg") * col("_n").cast("double") /
      (col("_s") * col("_ng").cast("double"))
    val perT = per.crossJoin(broadcast(tot))
    val between = perT.agg(Portable.decSum(share * ln9(rB), 12).as("_tb"))
    perT.join(within, Seq("_g"))
      .crossJoin(broadcast(total)).crossJoin(broadcast(between))
      .select(col("_g").as(groupCol), col("_ng").as("n"),
        round(col("_sg") / col("_ng").cast("double"), 9).as("mean_value"),
        round(share, 9).as("share"),
        when(col("_ng") > 0,
          Portable.pround(col("_tw") / col("_ng").cast("double"), 6)).as("theil_within"),
        Portable.pround(col("_tb"), 6).as("theil_between"),
        when(col("_n") > 0,
          Portable.pround(col("_tt") / col("_n").cast("double"), 6)).as("theil_total"))
  }

  /** Murphy decomposition of the Brier score (r18b) — the calibration
    * ACCOUNTING that C187's ECE summary cannot give: over the same
    * fixed-width score bins, Brier_binned = REL − RES + UNC
    * (reliability: how far bin confidence sits from bin accuracy —
    * smaller is better; resolution: how much the bins separate the base
    * rate — LARGER is better; uncertainty: the base rate's own
    * variance, the floor no forecaster can beat). Two scores with equal
    * ECE can differ entirely in resolution — this says whether the
    * score is merely honest or actually informative. The RAW per-row
    * Brier rides along (it differs from the binned one by the
    * within-bin score variance).
    *
    * Portability: binning is floor(score·nBins) clamped to the top bin
    * (the C187 shape); bin confidence rounds at 9 dp before entering
    * any squared term; accuracies are exact integer ratios; every
    * squared term is one fixed double shape decimal-snapshotted at 12.
    * Two hash aggregates over ≤ nBins rows + broadcast totals.
    */
  def brierDecomposition(df: DataFrame, scoreCol: Column, labelCol: Column,
                         nBins: Int = 10): DataFrame =
    brierFromBins(scoreBins(df, scoreCol, labelCol, nBins))

  /** [[brierDecomposition]] from maintained [[scoreBins]] — the shared
    * read path for the batch query and the streaming twin (the raw
    * Brier sum folds exactly from the per-bin decimal partials).
    */
  def brierFromBins(bins: DataFrame): DataFrame = {
    val raw = bins.agg(
      coalesce(sum("n"), lit(0L)).as("n"), sum("n_pos").as("n_pos"),
      sum("_sqd").cast("double").as("_sq"))
    val g = bins.select(col("bin").as("_bin"), col("n").as("_nb"),
      col("n_pos").as("_pb"), col("_ssd").cast("double").as("_ss"))
    val conf = round(col("_ss") / col("_nb"), 9)
    val acc = col("_pb").cast("double") / col("_nb").cast("double")
    val obar = col("n_pos").cast("double") / col("n").cast("double")
    val nbD = col("_nb").cast("double")
    val terms = g.crossJoin(broadcast(raw))
      .agg(
        Portable.decSum(nbD * (conf - acc) * (conf - acc), 12).as("_rel"),
        Portable.decSum(nbD * (acc - obar) * (acc - obar), 12).as("_res"))
    val nD = col("n").cast("double")
    raw.crossJoin(broadcast(terms))
      .select(col("n"), col("n_pos"),
        when(col("n") > 0, round(col("_sq") / nD, 9)).as("brier"),
        when(col("n") > 0, round(col("_rel") / nD, 9)).as("reliability"),
        when(col("n") > 0, round(col("_res") / nD, 9)).as("resolution"),
        when(col("n") > 0, round(obar * (lit(1.0) - obar), 9)).as("uncertainty"),
        when(col("n") > 0,
          Portable.pround(col("_rel") / nD - col("_res") / nD +
            obar * (lit(1.0) - obar), 9)).as("brier_binned"))
  }

  /** Decision-stump threshold learner (r18b) — the best single
    * "score ≤ t" split of a binary label by information gain: the
    * SUPERVISED way to pick a quality-filter cutoff (C122's quantile
    * boundary picks by rank, C180's AUC says the ranking separates,
    * C187 says the values are honest; THIS says where to CUT and how
    * much label entropy the cut removes). One row out: the argmax-gain
    * threshold with its child counts.
    *
    * Portability: candidate splits are exactly the score's VALUE
    * CATALOG (both engines enumerate identical candidates — the score
    * must be a deterministic shared shape, e.g. an exact ratio of
    * integer counts); entropies use C110/C273's integer-count shape
    * H = ln n − Σc·ln c/n with 0·ln 0 = 0 guarded, decimal-snapshotted
    * cumulative counts, gains one fixed double shape; argmax ties break
    * to the smallest threshold. One catalog aggregate + one bounded
    * cumulative window — never a row-scale sort.
    */
  def decisionStump(df: DataFrame, scoreCol: Column, labelCol: Column): DataFrame = {
    val base = df.where(scoreCol.isNotNull)
      .select(scoreCol.as("_v"), labelCol.cast("boolean").cast("long").as("_y"))
    val cat = base.groupBy("_v").agg(count(lit(1)).as("_c"), sum("_y").as("_p"))
    val wCum = Portable.kRowWindow(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cat.agg(sum("_c").as("n"), sum("_p").as("n_pos"))
    def clg(c: Column): Column =
      when(c > 0, c.cast("double") * log(c.cast("double"))).otherwise(lit(0.0))
    def hh(n: Column, p: Column): Column =
      when(n > 0, log(n.cast("double")) - (clg(p) + clg(n - p)) / n.cast("double"))
        .otherwise(lit(0.0))
    val cum = cat
      .withColumn("_nl", sum("_c").over(wCum))
      .withColumn("_pl", sum("_p").over(wCum))
      .crossJoin(broadcast(tot))
      .where(col("_nl") < col("n"))
    val nr = col("n") - col("_nl")
    val pr = col("n_pos") - col("_pl")
    val hParent = hh(col("n"), col("n_pos"))
    val weighted =
      col("_nl").cast("double") / col("n").cast("double") * hh(col("_nl"), col("_pl")) +
        nr.cast("double") / col("n").cast("double") * hh(nr, pr)
    val scored = cum.select(col("n"), col("n_pos"),
      Portable.pround(hParent, 6).as("h_parent"),
      col("_v").as("threshold"), col("_nl").as("n_left"), col("_pl").as("pos_left"),
      Portable.pround(hParent - weighted, 6).as("info_gain"))
    val wPick = Portable.kRowWindow(col("info_gain").desc, col("threshold").asc)
    scored.withColumn("_rn", row_number().over(wPick))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** Post-hoc pairwise Welch comparisons (r18b) — WHICH groups differ,
    * the follow-up C289/C281 demand (an omnibus "the sources differ"
    * is unactionable until someone says which pairs): for every group
    * pair, Welch's z = (m₁−m₂)/√(v₁/n₁+v₂/n₂) flagged against a
    * caller-passed BONFERRONI-adjusted critical literal
    * z_{1−α/(2m)} over the m = k(k−1)/2 pairs — the C265
    * convention: the inverse-normal is a cross-engine transcendental,
    * the caller owns the family-α/m choice as one 9-dp literal. At
    * corpus n the z is effectively Gaussian (Welch df in the
    * thousands), which is why z and not t.
    *
    * Portability/scale: ONE group hash aggregate collapses the corpus
    * to (n, ΣX, ΣX²) moments; the pair fan is the k²-bounded catalog
    * self-join (broadcast); variances NULL-guard at the (n−1) division
    * (the ANSI lesson); mean/variance/z are fixed IEEE shapes.
    */
  def posthocPairwise(df: DataFrame, groupCol: String, valueCol: Column,
                      zCrit: Double): DataFrame = {
    val per = df.where(valueCol.isNotNull)
      .select(col(groupCol).as("_g"), valueCol.cast("double").as("_v"))
      .groupBy("_g").agg(
        count(lit(1)).as("_n"),
        Portable.decSum(col("_v"), 6).as("_s"),
        Portable.decSum(col("_v") * col("_v"), 6).as("_q"))
    def side(tag: String) = per.select(
      col("_g").as(s"g_$tag"), col("_n").as(s"_n$tag"),
      col("_s").as(s"_s$tag"), col("_q").as(s"_q$tag"))
    def nD(t: String) = col(s"_n$t").cast("double")
    def mean(t: String) = col(s"_s$t") / nD(t)
    def variance(t: String) = when(col(s"_n$t") > 1,
      (col(s"_q$t") - col(s"_s$t") * col(s"_s$t") / nD(t)) / (nD(t) - 1.0))
    val se2 = variance("a") / nD("a") + variance("b") / nD("b")
    val z = (mean("a") - mean("b")) / sqrt(se2)
    side("a").join(broadcast(side("b")), col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"),
        col("_na").as("n_a"), col("_nb").as("n_b"),
        round(mean("a"), 9).as("mean_a"),
        round(mean("b"), 9).as("mean_b"),
        when(se2 > 0, Portable.pround(z, 6)).as("z_stat"),
        when(se2 > 0, abs(z) > zCrit).as("significant"))
  }

  /** Dunn's post-hoc pairwise rank comparisons (r18b) — WHICH groups
    * differ by RANKS, the nonparametric follow-up to [[kruskalWallis]]
    * exactly as [[posthocPairwise]] follows C289's ANOVA (Dunn 1964 —
    * the standard post-hoc on the KW pooled ranking, robust where
    * Welch's means are not): z_ab = (R̄_a − R̄_b) / √(s²·(1/n_a + 1/n_b))
    * with s² = N(N+1)/12 − Σ(t³−t)/(12(N−1)), flagged against a
    * caller-passed Bonferroni critical literal (the C265/C299
    * convention).
    *
    * Mean ranks come from the SAME integer doubled-midrank value-catalog
    * identity as C281 (2R_g = Σ n_gv·(2·ccnt − t + 1) — never a
    * row-scale sort); the tie term goes through decimal(38,0). The pair
    * fan is the k²-bounded group-catalog self-join (broadcast); every
    * division is a fixed IEEE shape.
    */
  def dunnPosthoc(df: DataFrame, groupCol: String, valueCol: Column,
                  zCrit: Double): DataFrame = {
    val base = df.where(valueCol.isNotNull)
      .select(col(groupCol).as("_g"), valueCol.as("_v"))
    val cat = base.groupBy("_v").agg(count(lit(1)).as("_t"))
      .withColumn("_ccnt", sum("_t").over(Portable.kRowWindow(col("_v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val gv = base.groupBy("_g", "_v").agg(count(lit(1)).as("_ngv"))
    // the doubled-rank sum rides decimal(38,0) like the tie term (ADVICE
    // r18 item 4): at N ≳ 3e9 rows the per-group Σ ngv·(2·ccnt − t + 1)
    // product chain exceeds 2^63 in Long, silently wrapping the mean rank
    val perG = gv.join(cat, Seq("_v"))
      .groupBy("_g").agg(
        sum("_ngv").as("_ng"),
        sum((col("_ngv").cast("decimal(38,0)") *
          (lit(2L) * col("_ccnt") - col("_t") + 1L)).cast("decimal(38,0)"))
          .as("_r2"))
    val tot = cat.agg(
      coalesce(sum("_t"), lit(0L)).as("_n"),
      coalesce(sum((col("_t").cast("decimal(38,0)") * col("_t") * col("_t") - col("_t"))
        .cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)")).as("_tie"))
    def side(tag: String) = perG.select(
      col("_g").as(s"g_$tag"), col("_ng").as(s"_n$tag"), col("_r2").as(s"_r2$tag"))
    def nD(t: String) = col(s"_n$t").cast("double")
    def meanRank(t: String) = col(s"_r2$t").cast("double") / (lit(2.0) * nD(t))
    val bigN = col("_n").cast("double")
    val s2 = bigN * (bigN + 1.0) / 12.0 -
      when(col("_n") > 1, col("_tie").cast("double") / (lit(12.0) * (bigN - 1.0)))
    val se2 = s2 * (lit(1.0) / nD("a") + lit(1.0) / nD("b"))
    val z = (meanRank("a") - meanRank("b")) / sqrt(se2)
    side("a").join(broadcast(side("b")), col("g_a") < col("g_b"))
      .crossJoin(broadcast(tot))
      .select(col("g_a"), col("g_b"),
        col("_na").as("n_a"), col("_nb").as("n_b"),
        round(meanRank("a"), 9).as("mean_rank_a"),
        round(meanRank("b"), 9).as("mean_rank_b"),
        when(se2 > 0, Portable.pround(z, 6)).as("z_stat"),
        when(se2 > 0, abs(z) > zCrit).as("significant"))
  }

  /** Cliff's delta ordinal effect size (r18b) — the EFFECT SIZE under
    * [[mannWhitneyU]] (C250 says "one sample stochastically dominates";
    * δ says by HOW MUCH, scale-free and outlier-immune): δ =
    * (#{x₁ > x₂} − #{x₁ < x₂})/(n₁·n₂) over all cross-sample pairs,
    * with the Vargha–Delaney A = (δ+1)/2 probability-of-superiority
    * reading alongside. At corpus n every U test "rejects"; δ is the
    * number that says whether anyone should care.
    *
    * The pairwise counts collapse onto the VALUE CATALOG (concordant =
    * Σ_v c₁(v)·#{side-2 below v} off one cumulative window — never an
    * n₁×n₂ fan); everything is exact integers until the two final
    * divisions. One group exchange serves the catalog, the cumulative,
    * and the roll-up.
    */
  def cliffsDelta(df: DataFrame, groupCol: String, sampleFlag: Column,
                  valueCol: Column): DataFrame = {
    val base = df.where(valueCol.isNotNull)
      .select(col(groupCol), sampleFlag.as("_in1"), valueCol.as("_v"))
    val cat = base.groupBy(groupCol, "_v").agg(
      sum(when(col("_in1"), 1L).otherwise(0L)).as("_c1"),
      sum(when(!col("_in1"), 1L).otherwise(0L)).as("_c2"))
    val wCum = Window.partitionBy(groupCol).orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(groupCol)
    val cum = cat
      .withColumn("_lt2", sum("_c2").over(wCum) - col("_c2"))
      .withColumn("_n2", sum("_c2").over(wAll))
    val agg = cum.groupBy(groupCol).agg(
      sum("_c1").as("n1"), max("_n2").as("n2"),
      sum(col("_c1") * col("_lt2")).as("n_concordant"),
      sum(col("_c1") * (col("_n2") - col("_lt2") - col("_c2"))).as("n_discordant"),
      sum(col("_c1") * col("_c2")).as("n_ties"))
    val prod = (col("n1") * col("n2")).cast("double")
    val delta = (col("n_concordant") - col("n_discordant")).cast("double") / prod
    agg.select(col(groupCol), col("n1"), col("n2"),
      col("n_concordant"), col("n_discordant"), col("n_ties"),
      when(col("n1") > 0 && col("n2") > 0,
        Portable.pround(delta, 9)).as("cliffs_delta"),
      when(col("n1") > 0 && col("n2") > 0,
        round((delta + 1.0) / 2.0, 9)).as("vd_a"))
  }

  /** Herfindahl–Hirschman concentration of a weight column over groups
    * (r18b) — the concentration CLOSER of the balance family (C146
    * Gini = dispersion across items, C293 Theil = decomposable
    * inequality, HHI = how concentrated the corpus is across SOURCES):
    * HHI = Σ share_g², and 1/HHI is the "effective number of sources"
    * — a corpus drawing 90% of its mass from two domains has effective
    * 2-ish sources no matter how many the catalog lists, the
    * diversity read a mixing plan starts from.
    *
    * Portability: shares are one fixed double division off exact
    * decimal group sums; their squares decimal-snapshot; the final
    * reciprocal is one division. One group hash aggregate; k rows in,
    * one row out.
    */
  def hhiConcentration(df: DataFrame, groupCol: String, weightCol: Column): DataFrame =
    hhiFromSums(
      df.where(weightCol.isNotNull)
        .groupBy(col(groupCol).as("_g"))
        .agg(sum(weightCol.cast("double").cast("decimal(28,6)")).as("_sd")))

  /** [[hhiConcentration]] from a maintained (_g, _sd) decimal group-sum
    * table — the shared read path for the batch query and the streaming
    * twin (per-group decimal weight sums are an additive monoid).
    */
  def hhiFromSums(per0: DataFrame): DataFrame = {
    val per = per0.select(col("_g"), col("_sd").cast("double").as("_s"))
    val tot = per.agg(count(lit(1)).as("k"),
      Portable.decSum(col("_s"), 6).as("_t"))
    val share = col("_s") / col("_t")
    val agg = per.crossJoin(broadcast(tot))
      .agg(max("k").as("k"),
        Portable.decSum(share * share, 12).as("_hhi"))
    agg.select(col("k"),
      round(col("_hhi"), 9).as("hhi"),
      when(col("_hhi") > 0,
        Portable.pround(lit(1.0) / col("_hhi"), 6)).as("effective_sources"))
  }

  /** The (group, distinct score) → (weight, positives) catalog both
    * calibration fits reduce through.
    */
  private def isotonicCatalog(df: DataFrame, groupCol: String,
                              scoreCol: Column, labelCol: Column): DataFrame =
    df.select(col(groupCol).cast("string").as("_g"),
        scoreCol.as("_s"), labelCol.cast("boolean").cast("long").as("_y"))
      .groupBy("_g", "_s").agg(count(lit(1)).as("_w"), sum("_y").as("_p"))

  private def isotonicFitFromCatalog(cat: DataFrame): DataFrame = {
    val spark = cat.sparkSession
    import spark.implicits._
    val arrs = cat.groupBy("_g").agg(
      sort_array(collect_list(struct(col("_s").as("_1"), col("_w").as("_2"),
        col("_p").as("_3")))).as("_arr"))
    arrs.as[(String, Seq[(Double, Long, Long)])]
      .flatMap { case (g, arr) =>
        val stack = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
        arr.foreach { case (_, w, p) =>
          var cw = w; var cp = p; var cn = 1
          while (stack.nonEmpty && stack.last._2 * cw >= cp * stack.last._1) {
            val (pw, pp, pn) = stack.remove(stack.size - 1)
            cw += pw; cp += pp; cn += pn
          }
          stack += ((cw, cp, cn))
        }
        val out = Seq.newBuilder[(String, Double, Long, Long, Double, Int)]
        var vi = 0
        stack.zipWithIndex.foreach { case ((bw, bp, bn), bi) =>
          val f = bp.toDouble / bw.toDouble
          (0 until bn).foreach { _ =>
            val (s, w, p) = arr(vi); vi += 1
            out += ((g, s, w, p, f, bi))
          }
        }
        out.result()
      }.toDF("_g", "_s", "_w", "_p", "_f", "_blk")
  }

  /** The PAV fit itself — the monotone score → P(y=1) map
    * [[isotonicCalibration]] summarizes: one row per (group, distinct
    * score) with weight, positive count, fitted probability and block
    * index. Exposed so callers can SERVE the calibration map, not just
    * read its quality.
    */
  def isotonicFit(df: DataFrame, groupCol: String, scoreCol: Column,
                  labelCol: Column): DataFrame =
    isotonicFitFromCatalog(isotonicCatalog(df, groupCol, scoreCol, labelCol))
      .select(col("_g").as(groupCol), col("_s").as("score"),
        col("_w").as("n"), col("_p").as("n_pos"),
        col("_f").as("fitted"), col("_blk").as("block"))

  /** Weighted binned expected-calibration-error per group over a
    * (_g, _w, _p) catalog frame, with `pred` the per-row prediction —
    * shared by [[isotonicCalibration]] and [[plattScaling]]: fixed-width
    * bins, per-bin confidence 9-dp-rounded, contributions
    * decimal-summed (the calibrationReport conventions).
    */
  private def binnedEce(fr: DataFrame, pred: Column, nBins: Int,
                        outName: String): DataFrame = {
    val b = fr.select(col("_g"),
      least(floor(pred * nBins), lit(nBins - 1)).cast("long").as("_bin"),
      col("_w"), col("_p"), (pred * col("_w").cast("double")).as("_pw"))
    val bins = b.groupBy("_g", "_bin").agg(sum("_w").as("_n"),
      sum("_p").as("_np"), Portable.decSum(col("_pw"), 12).as("_sc"))
    val tot = bins.groupBy("_g").agg(sum("_n").as("_ntot"))
    // every frame here is group-catalog-sized, but the PAV read-back
    // comes through a typed flatMap with no size stats — hint the
    // broadcast or the estimate-blind planner picks SMJ (measured in
    // the r20 tail gate)
    bins.join(broadcast(tot), Seq("_g"))
      .select(col("_g"),
        ((col("_n").cast("double") / col("_ntot").cast("double")) *
          abs(col("_np").cast("double") / col("_n").cast("double") -
            round(col("_sc") / col("_n").cast("double"), 9))).as("_c"))
      .groupBy("_g").agg(round(Portable.decSum(col("_c"), 12), 9).as(outName))
  }

  /** Isotonic calibration via pool-adjacent-violators (C319, r20) — the
    * NONPARAMETRIC recalibration step between C-calibration's diagnosis
    * ("the score is miscalibrated") and shipping the score as a
    * probability: fit the best monotone map score → P(y=1) (Barlow et
    * al. 1972; Zadrozny & Elkan 2002 for classifier calibration) and
    * report ECE before/after off the existing calibration-binning
    * machinery.
    *
    * PAV runs per group over the score's distinct-VALUE catalog
    * (weights = value multiplicities — the isotonic fit over values
    * with weights equals the fit over raw rows): one hash-agg collapses
    * the corpus to (group, value, w, pos), one collect_list per group
    * assembles the sorted catalog EXECUTOR-side (never the driver —
    * groups are few, catalogs are value-bounded), and the classic
    * stack-PAV runs as plain Scala inside a typed flatMap (the
    * sanctioned per-group fold: an unbounded pool-merge loop is not
    * expressible as a Column fold). All merge decisions compare
    * cross-multiplied integer (pos, weight) pairs — no division, no
    * float tie — so the block structure is engine-exact; fitted value
    * = block pos/weight, one double division both engines perform on
    * identical integers. The DuckDB oracle reaches the identical
    * fixpoint by ITERATED RUN-POOLING in a recursive CTE (each pass
    * pools maximal non-increasing runs — safe: adjacent violators
    * always share a final block; convergence: strictly increasing
    * block means = the unique isotonic fit, blocks = maximal constant
    * runs in both algorithms).
    *
    * ECE before uses the raw score as the prediction, ECE after the
    * fitted probability — same fixed-width bins, per-bin confidence
    * 9-dp-rounded, contributions decimal-summed (the
    * calibrationReport conventions). Returns one row per group:
    * (group, n, n_values, n_blocks, ece_before, ece_after).
    *
    * Long cross-products bound pos·w by (rows per group)² — fine to
    * ~3e9 rows per group; past that, widen to BigInt in the fold.
    */
  def isotonicCalibration(df: DataFrame, groupCol: String, scoreCol: Column,
                          labelCol: Column, nBins: Int = 10): DataFrame = {
    val cat = isotonicCatalog(df, groupCol, scoreCol, labelCol)
      .localCheckpoint(true)
    val fitted = isotonicFitFromCatalog(cat).localCheckpoint(true)
    val summary = cat.groupBy("_g")
      .agg(sum("_w").as("n"), count(lit(1)).as("n_values"))
    val blocks = fitted.groupBy("_g")
      .agg((max("_blk") + 1).cast("long").as("n_blocks"))
    summary.join(broadcast(blocks), Seq("_g"))
      .join(broadcast(binnedEce(cat, col("_s"), nBins, "ece_before")), Seq("_g"))
      .join(broadcast(binnedEce(fitted, col("_f"), nBins, "ece_after")), Seq("_g"))
      .select(col("_g").as(groupCol), col("n"), col("n_values"),
        col("n_blocks"), col("ece_before"), col("ece_after"))
  }

  /** Platt scaling (C322, r20) — the PARAMETRIC member of the
    * calibration shelf (C-calibration diagnoses, C319's isotonic fit is
    * the nonparametric fix, THIS is the two-parameter sigmoid fix
    * p = σ(a·s + b) one ships when the monotone-sigmoid shape is
    * trusted or per-group data is too thin for PAV; Platt 1999): fitted
    * per group by full 2×2 Newton on the log-likelihood over the
    * SAME distinct-score catalog as C319 (weights = multiplicities).
    *
    * Every iteration is catalog-sized and engine-portable in the
    * C317/C320 discipline: z = a·s + b on exactly-agreed doubles, ONE
    * 7-dp-rounded sigmoid per (group, value, iteration), gradient
    * (g_a, g_b) and information (h_aa, h_ab, h_bb) decimal-snapshotted
    * at 12 dp, the update solves through the explicit determinant
    * (kept as a guard though the λ-ridged information is always PD;
    * λ = 0.1 also BOUNDS the parameters on near-separable groups,
    * where the raw MLE diverges — measured |a| ~ 29 on sf0.001),
    * (a, b) re-round at 6 dp — not 9: a 29-magnitude parameter put a
    * 9-dp round inside string-vs-binary rounding territory (one
    * measured bit-flip); at 6 dp the boundary is ~1e9 ulps wide at
    * this magnitude. The per-group (a, b)
    * pairs are the model — a groups×2 catalog collected per iteration
    * (the sanctioned model-sized read) and re-broadcast.
    *
    * Read-out per group: (a, b, n, n_values, n_pos, ece_before,
    * ece_after) with both ECEs from the shared binned machinery —
    * directly comparable with C319's row for the same group (in-sample,
    * the parametric fit's ECE can only be ≥ isotonic's).
    */
  def plattScaling(df: DataFrame, groupCol: String, scoreCol: Column,
                   labelCol: Column, iters: Int = 8,
                   nBins: Int = 10, lambda: Double = 0.1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cat = isotonicCatalog(df, groupCol, scoreCol, labelCol)
      .localCheckpoint(true)
    // r22 (the Cox/Bradley–Terry move, guide §1.2): the whole ridged
    // Newton loop runs DRIVER-SIDE over the collected (group, distinct
    // score) catalog — the same catalog-bounded read class as the Cox
    // event-time stats (r20 verdict's sanctioned collect audit). The r21
    // form still paid one plan+codegen+job round trip per iteration
    // (8 collect jobs of pure fixed latency for aggregates over a
    // checkpointed catalog). Every term replays the engine expression
    // tree verbatim: _pp = round(σ(a·s+b), 7) + 0.0 with the SAME
    // BigDecimal.valueOf/HALF_UP rounding Spark's Round applies to
    // doubles and the same java.lang.Math.exp, products in the same IEEE
    // order, and [[Portable.decSum12Local]] replaying the
    // double→DECIMAL(28,12) snapshot sum — so (a, b) are bit-identical
    // per round (369/369 oracle hash gate re-proven).
    val catRows: Array[(String, Double, Long, Long)] = cat.collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    val byG: Map[String, Array[(Double, Long, Long)]] =
      catRows.groupBy(_._1).map { case (g, rs) =>
        g -> rs.map(t => (t._2, t._3, t._4)) }
    var ab: Map[String, (Double, Double)] =
      byG.keys.map(_ -> (0.0d, 0.0d)).toMap
    def abFrame(m: Map[String, (Double, Double)]): DataFrame =
      m.toSeq.sortBy(_._1).map { case (g, (a, b)) => (g, a, b) }
        .toDF("_g", "_a", "_b")
    // NaN and ±Inf pass through unchanged, as Spark's round does
    def roundTo(scale: Int)(x: Double): Double =
      if (!java.lang.Double.isFinite(x)) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue + 0.0d
    def round6(x: Double): Double = roundTo(6)(x)
    def round7(x: Double): Double = roundTo(7)(x)
    for (_ <- 0 until iters) {
      ab = ab ++ byG.flatMap { case (g, rs) =>
        val (a, b) = ab(g)
        // _pp exactly as the engine read-out computes it below
        def pp(s: Double): Double = round7(1.0d / (1.0d + math.exp(-(a * s + b))))
        val ga = Portable.decSum12Local(rs.iterator.map { case (s, w, p) =>
          (p.toDouble - w.toDouble * pp(s)) * s })
        val gb = Portable.decSum12Local(rs.iterator.map { case (s, w, p) =>
          p.toDouble - w.toDouble * pp(s) })
        def q(s: Double): Double = { val v = pp(s); v * (1.0d - v) }
        val haa = Portable.decSum12Local(rs.iterator.map { case (s, w, _) =>
          w.toDouble * q(s) * s * s })
        val hab = Portable.decSum12Local(rs.iterator.map { case (s, w, _) =>
          w.toDouble * q(s) * s })
        val hbb = Portable.decSum12Local(rs.iterator.map { case (s, w, _) =>
          w.toDouble * q(s) })
        if (Seq(ga, gb, haa, hab, hbb).exists(_.isEmpty)) None
        else {
          // L2 ridge: bounds the parameters on (near-)separable groups
          // (the unridged MLE diverges there — measured |a| ~ 29 on
          // sf0.001 sources), keeps the information matrix PD, and the
          // C317 lesson on rounding exposure: parameters round at 6 dp,
          // where 1-ulp string-vs-binary rounding splits can't land
          val (rga, rgb) = (ga.get - lambda * a, gb.get - lambda * b)
          val (rhaa, rhbb) = (haa.get + lambda, hbb.get + lambda)
          val det = rhaa * rhbb - hab.get * hab.get
          if (det > 0)
            Some(g -> (round6(a + (rhbb * rga - hab.get * rgb) / det),
              round6(b + (rhaa * rgb - hab.get * rga) / det)))
          else None
        }
      }
    }
    // (a, b) are GROUP-CATALOG-sized — the C317 literal-map convention
    // (r21) keeps the read-out a codegen'd element_at in place of a
    // broadcast join; the doubles are identical either way, so _pp is
    // bit-identical
    def withP(m: Map[String, (Double, Double)]): DataFrame = {
      val ms = m.toSeq.sortBy(_._1)
      val mapA = map(ms.flatMap { case (g, (a, _)) => Seq(lit(g), lit(a)) }: _*)
      val mapB = map(ms.flatMap { case (g, (_, b)) => Seq(lit(g), lit(b)) }: _*)
      cat.withColumn("_a", element_at(mapA, col("_g")))
        .withColumn("_b", element_at(mapB, col("_g")))
        .withColumn("_pp", round(lit(1.0d) /
          (lit(1.0d) + exp(-(col("_a") * col("_s") + col("_b")))), 7) + lit(0.0d))
    }
    val fitted = withP(ab).localCheckpoint(true)
    val summary = cat.groupBy("_g").agg(sum("_w").as("n"),
      count(lit(1)).as("n_values"), sum("_p").as("n_pos"))
    summary
      .join(broadcast(abFrame(ab)), Seq("_g"))
      .join(broadcast(binnedEce(cat, col("_s"), nBins, "ece_before")), Seq("_g"))
      .join(broadcast(binnedEce(fitted, col("_pp"), nBins, "ece_after")), Seq("_g"))
      .select(col("_g").as(groupCol), col("_a").as("a"), col("_b").as("b"),
        col("n"), col("n_values"), col("n_pos"),
        col("ece_before"), col("ece_after"))
  }
}
