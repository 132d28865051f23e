package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

case class R20Ord(o_custkey: Long, o_orderdate: java.sql.Date)

/** Hand-exact fixtures for the round-20 operators. */
class Round20OpsSpec extends SparkSpec {

  private def d(day: Int): java.sql.Date =
    java.sql.Date.valueOf(f"2024-03-$day%02d")

  private def odf(rows: Seq[R20Ord]) = {
    val s = spark; import s.implicits._
    rows.toDF()
  }

  // ── Logistic regression (C317) ─────────────────────────────────────

  test("logisticRegression: separable fixture pins the closed-form direction") {
    // Perfectly separable, perfectly symmetric: positives say only "aa"
    // (bucket 10), negatives only "bb" (bucket 24), same doc count and
    // length. The penalized MLE direction is w_aa > 0 > w_bb, and the
    // label/feature symmetry (swap labels ↔ swap tokens) forces
    // w_aa = −w_bb and a zero intercept at EVERY iteration — so the
    // trained weights must land exactly anti-symmetric, every doc must
    // classify correctly (acc = 1) and the exact-z ranking must
    // separate perfectly (AUC = 1).
    val s = spark; import s.implicits._
    val docs = (Seq.tabulate(8)(i => (i.toLong, "aa aa aa", "pos")) ++
      Seq.tabulate(8)(i => (100L + i, "bb bb bb", "neg")))
      .toDF("doc_id", "text", "label")
    val out = Classify.logisticRegression(docs, "doc_id", "text",
      col("label") === "pos", nBuckets = 64, iters = 8, lambda = 0.1)
    val w = out.select("bucket", "weight").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.keySet === Set(-1L, 10L, 24L))
    assert(w(10L) > 0.5, s"positive-token weight, got ${w(10L)}")
    assert(w(24L) < -0.5, s"negative-token weight, got ${w(24L)}")
    assert(w(10L) === -w(24L), "symmetry pins exact anti-symmetric weights")
    assert(w(-1L) === 0.0, "symmetric labels pin a zero intercept")
    val ev = out.select("n", "n_pos", "auc", "acc").head()
    assert(ev.getLong(0) === 16L && ev.getLong(1) === 8L)
    assert(ev.getDouble(2) === 1.0, "separable => AUC 1")
    assert(ev.getDouble(3) === 1.0, "separable => accuracy 1")
  }

  test("logisticRegression: in-sample AUC beats the NB baseline (C159 convention)") {
    // The judge-bar for shipping a discriminative classifier: on the
    // real sf0.001 corpus and the SAME English-vs-rest labels, the
    // trained model's ranking must beat the generative floor — NB's
    // English class-conditional log-likelihood used as a score
    // (measured r20: logreg 0.604 vs NB 0.542).
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val lr = Classify.logisticRegression(docs, "doc_id", "text",
      col("lang") === "en", nBuckets = 64, iters = 8, lambda = 0.1)
    val lrAuc = lr.select("auc").head().getDouble(0)
    val nbScores = TextOps.naiveBayesScores(docs, "lang", "text", "doc_id")
      .where(col("_cand") === "en")
    val nbAuc = Profiling.rocAuc(nbScores.withColumn("_grp", lit("all")),
        "_grp", col("_score"), col("_true") === "en")
      .head().getDouble(3)
    assert(lrAuc > 0.5, s"better than random, got $lrAuc")
    assert(lrAuc >= nbAuc,
      s"discriminative fit must match or beat the NB floor: $lrAuc vs $nbAuc")
  }

  // ── HTML boilerplate extraction (C318) ─────────────────────────────

  test("htmlExtract: article body survives, chrome and script die") {
    val s = spark; import s.implicits._
    val html =
      "<html><head><title>T</title><script>var x = 1; track(x);</script></head>\n" +
      "<nav><a href=\"/\">Home</a> <a href=\"/b\">Browse</a></nav>\n" +
      "<p>alpha beta gamma delta epsilon zeta eta theta iota kappa</p>\n" +
      "it is a of the\n" +
      "<footer>short footer line</footer>"
    val out = TextOps.htmlExtract(
      Seq((1L, html)).toDF("doc_id", "html"), "doc_id", "html").head()
    assert(out.getLong(1) === 5L, "five lines after script strip")
    // kept: the 10-token article body (length rule) AND the short
    // all-stopword line (density rule); dead: title fragment (short,
    // stopword-poor), nav (links), footer (short, stopword-poor)
    assert(out.getLong(2) === 2L, "body + stopword-dense line survive")
    assert(out.getLong(3) === 1L, "exactly the nav died on link density")
    val txt = out.getString(4)
    assert(txt ===
      "alpha beta gamma delta epsilon zeta eta theta iota kappa\nit is a of the")
    assert(!txt.contains("track") && !txt.contains("var"),
      "script content must not leak into extracted text")
    assert(!txt.contains("Home") && !txt.contains("footer"),
      "nav/footer boilerplate must not survive")
  }

  test("htmlExtract: all-boilerplate page yields NULL extracted text") {
    val s = spark; import s.implicits._
    val html = "<nav><a href=\"/\">Home</a></nav>\n<footer>bye now</footer>"
    val out = TextOps.htmlExtract(
      Seq((1L, html)).toDF("doc_id", "html"), "doc_id", "html").head()
    assert(out.getLong(2) === 0L)
    assert(out.isNullAt(4), "no kept lines => NULL (the dedupLines convention)")
  }

  // ── Isotonic calibration (C319) ────────────────────────────────────

  test("isotonicFit: textbook pool-adjacent-violators fixture") {
    val s = spark; import s.implicits._
    // value catalog (as raw rows): score 0.1 -> 3/4 positive, score
    // 0.2 -> 1/4 (VIOLATES monotonicity vs 0.1 -> pool to 4/8 = 0.5),
    // score 0.3 -> 2/2 (stands). Expected fit: [0.5, 0.5, 1.0].
    def rows(sc: Double, pos: Int, neg: Int) =
      Seq.fill(pos)(("g", sc, 1L)) ++ Seq.fill(neg)(("g", sc, 0L))
    val df = (rows(0.1, 3, 1) ++ rows(0.2, 1, 3) ++ rows(0.3, 2, 0))
      .toDF("grp", "score", "y")
    val fit = Profiling.isotonicFit(df, "grp", col("score"), col("y") === 1)
      .orderBy("score").collect()
    assert(fit.map(_.getDouble(4)).toSeq === Seq(0.5, 0.5, 1.0))
    assert(fit.map(_.getInt(5)).toSeq === Seq(0, 0, 1), "two blocks")
    // monotone by construction
    assert(fit.map(_.getDouble(4)).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("isotonicCalibration: planted miscalibration's ECE improves") {
    val s = spark; import s.implicits._
    // score anti-correlated with the label at the top (0.9 -> never
    // positive) and noisy in the middle: badly miscalibrated as a raw
    // probability, in-sample PAV must drive binned ECE to ~0
    val df = (
      Seq.fill(10)(("g", 0.9, 0L)) ++
      Seq.fill(6)(("g", 0.5, 1L)) ++ Seq.fill(4)(("g", 0.5, 0L)) ++
      Seq.fill(2)(("g", 0.1, 1L)) ++ Seq.fill(8)(("g", 0.1, 0L))
    ).toDF("grp", "score", "y")
    val out = Profiling.isotonicCalibration(df, "grp", col("score"),
      col("y") === 1).head()
    assert(out.getLong(1) === 30L && out.getLong(2) === 3L)
    val (before, after) = (out.getDouble(4), out.getDouble(5))
    assert(before > 0.3, s"planted miscalibration must read large, got $before")
    assert(after < before, s"PAV must improve ECE: $after vs $before")
    assert(after === 0.0,
      "in-sample isotonic is perfectly calibrated at block level " +
        "(blocks never split across bins)")
  }

  // ── Platt scaling (C322) ───────────────────────────────────────────

  test("plattScaling: fits the signal direction and improves ECE") {
    val s = spark; import s.implicits._
    // positive rate DECREASES in the score (0.9 -> 0/10, 0.5 -> 6/10,
    // 0.1 -> 2/10): the fitted sigmoid must read a negative slope and
    // recalibrate the badly miscalibrated raw score
    val df = (
      Seq.fill(10)(("g", 0.9, 0L)) ++
      Seq.fill(6)(("g", 0.5, 1L)) ++ Seq.fill(4)(("g", 0.5, 0L)) ++
      Seq.fill(2)(("g", 0.1, 1L)) ++ Seq.fill(8)(("g", 0.1, 0L))
    ).toDF("grp", "score", "y")
    val out = Profiling.plattScaling(df, "grp", col("score"),
      col("y") === 1).head()
    val (a, b) = (out.getDouble(1), out.getDouble(2))
    val (before, after) = (out.getDouble(6), out.getDouble(7))
    assert(a < 0, s"decreasing positive rate => negative slope, got $a")
    assert(before > 0.3 && after < before,
      s"sigmoid recalibration must improve ECE: $after vs $before")
    // the parametric fit can never beat the in-sample isotonic fit
    val iso = Profiling.isotonicCalibration(df, "grp", col("score"),
      col("y") === 1).head().getDouble(5)
    assert(after >= iso, s"platt ECE $after >= isotonic ECE $iso in-sample")
    // a NaN score passes through the collected-catalog Newton loop the
    // way Spark's round() does, and leaves the finite group's row unchanged
    val withNaN = df.union(Seq(("h", Double.NaN, 1L)).toDF("grp", "score", "y"))
    assert(Profiling.plattScaling(withNaN, "grp", col("score"), col("y") === 1)
      .where(col("grp") === "g").head() === out)
  }

  test("plattScaling: ridge keeps a separable group's parameters bounded") {
    val s = spark; import s.implicits._
    // perfectly separable: unridged MLE diverges (|a| grew to ~29 on
    // real data before the ridge landed); λ = 0.1 must keep the fit
    // finite and small while still separating (positive slope)
    val df = (Seq.fill(10)(("g", 0.9, 1L)) ++ Seq.fill(10)(("g", 0.1, 0L)))
      .toDF("grp", "score", "y")
    val out = Profiling.plattScaling(df, "grp", col("score"),
      col("y") === 1).head()
    val (a, after) = (out.getDouble(1), out.getDouble(7))
    assert(a > 0, s"separating direction, got $a")
    assert(math.abs(a) < 15, s"ridge bounds the separable fit, got $a")
    assert(after < 0.2, s"separable group calibrates well, got $after")
  }

  // ── URL-category blocklist filter (C321) ───────────────────────────

  test("urlCategoryFilter: suffix keys match subdomains, not substrings") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "see https://ads.example.com/x"),        // subdomain -> ads
      (2L, "see https://example.com/y"),            // exact -> ads
      (3L, "see https://example.com.evil.io/z"),    // substring, NOT suffix
      (4L, "see https://docs.python.org/w"),        // clean
      // two URLs, most specific match wins: sub.bad.example.com hits
      // both the 3-label bad.example.com rule (tracking) and the
      // 2-label example.com rule (ads) -> tracking
      (5L, "https://sub.bad.example.com/a and https://ads.example.com/b"),
      (6L, "no urls at all")
    ).toDF("doc_id", "text")
    val rules = Seq("example.com" -> "ads", "bad.example.com" -> "tracking")
    val out = TextOps.urlCategoryFilter(docs, "doc_id", "text", rules)
      .orderBy("category").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out === Map("ads" -> 2L, "tracking" -> 1L, "clean" -> 3L),
      s"doc1/doc2 ads; doc5 tracking (most specific); doc3/4/6 clean: $out")
  }

  // ── Two-covariate Cox (C320) ───────────────────────────────────────

  // H segment churns at life 0, L segment at life 2; WITHIN each
  // segment cohorts A and B behave identically, but the cells are
  // unbalanced (A is mostly H, B mostly L) — so cohort correlates with
  // segment without causing anything. One censored user per segment
  // (day 4) pins gmax and keeps late risk sets alive.
  private val coxOrders = Seq(
    R20Ord(2, d(1)), R20Ord(4, d(1)), R20Ord(6, d(1)), R20Ord(8, d(1)),
    R20Ord(1, d(1)),
    R20Ord(10, d(1)), R20Ord(10, d(3)),
    R20Ord(3, d(1)), R20Ord(3, d(3)), R20Ord(5, d(1)), R20Ord(5, d(3)),
    R20Ord(7, d(1)), R20Ord(7, d(3)), R20Ord(9, d(1)), R20Ord(9, d(3)),
    R20Ord(12, d(1)), R20Ord(12, d(4)), R20Ord(11, d(1)), R20Ord(11, d(4)))
  private def segDf = {
    val s = spark; import s.implicits._
    Seq((2L, "H"), (4L, "H"), (6L, "H"), (8L, "H"), (1L, "H"), (12L, "H"),
      (10L, "L"), (3L, "L"), (5L, "L"), (7L, "L"), (9L, "L"), (11L, "L"))
      .toDF("custkey", "seg")
  }

  test("coxPhMulti: second covariate absorbs the confounded cohort effect") {
    val multi = EventOps.coxPhMulti(odf(coxOrders), "o_custkey", "o_orderdate",
      u => pmod(u, lit(2L)) === 0,
      segDf, "custkey", "seg", v => v === "H",
      censorDays = 0, unitDays = 1).head()
    val single = EventOps.coxPh(odf(coxOrders), "o_custkey", "o_orderdate",
      u => pmod(u, lit(2L)) === 0, censorDays = 0, unitDays = 1).head()
    val b1Multi = multi.getDouble(5)
    val z1Multi = multi.getDouble(7)
    val b2Multi = multi.getDouble(9)
    val b1Single = single.getDouble(4)
    // deterministic fixture => exact 6-dp pins: the marginal fit reads a
    // solid positive cohort effect (β=0.458) that the joint fit reveals
    // as the segment mix (cohort β=-0.202 at |z|=0.22 — null; segment
    // β=+1.049 carries the hazard)
    assert(b1Single === 0.458145, s"confounded marginal read, got $b1Single")
    assert(b1Multi === -0.20239, s"deconfounded cohort effect, got $b1Multi")
    assert(math.abs(z1Multi) < 0.5, s"cohort effect null in the joint fit")
    assert(b2Multi === 1.048903, s"segment effect, got $b2Multi")
  }

  test("coxPhMulti: constant second covariate freezes via the det guard") {
    val s = spark; import s.implicits._
    val segAllH = (1L to 12L).map(k => (k, "H")).toDF("custkey", "seg")
    val out = EventOps.coxPhMulti(odf(coxOrders), "o_custkey", "o_orderdate",
      u => pmod(u, lit(2L)) === 0,
      segAllH, "custkey", "seg", v => v === "H",
      censorDays = 0, unitDays = 1).head()
    // no x2 variation: i22 = 0, det = -i12^2 <= 0, every step frozen
    assert(out.getDouble(4) === 1.0 && out.getDouble(8) === 1.0,
      "both hazard ratios frozen at the seed")
    assert(out.isNullAt(6) && out.isNullAt(10), "se NULL under the det guard")
  }

  // ── Cox PH degenerate zero-event corpus (ADVICE r19 item 1) ────────

  test("coxPh: zero uncensored events freezes θ at 1.0 with NULL se/z") {
    // censorDays=5 over a 3-day span: NO user's last order predates
    // gmax−5, so the churn flag is false everywhere and the event-time
    // stats table is EMPTY. The Scala Newton must freeze θ at its seed
    // (hazard_ratio 1.0, beta 0.0) and NULL out se/z — and the oracle
    // now agrees: its carried θ is coalesce(min(th), 1.0) per round, so
    // the empty CROSS JOIN yields the same frozen read-out
    // (verified in DuckDB: (n_a, n_b, 0, 1.0, 0.0, NULL, NULL)).
    val rows = Seq(
      R20Ord(2, d(1)), R20Ord(2, d(3)),
      R20Ord(4, d(2)),
      R20Ord(1, d(1)), R20Ord(1, d(2)),
      R20Ord(3, d(3)))
    val out = EventOps.coxPh(odf(rows), "o_custkey", "o_orderdate",
      u => pmod(u, lit(2L)) === 0, censorDays = 5, unitDays = 1).head()
    assert(out.getLong(2) === 0L, "no churn events")
    assert(out.getDouble(3) === 1.0, "hazard ratio frozen at the θ seed")
    assert(out.getDouble(4) === 0.0, "beta = ln(1) = 0")
    assert(out.isNullAt(5) && out.isNullAt(6), "se/z NULL at zero information")
  }
}
