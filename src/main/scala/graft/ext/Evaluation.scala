package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-arithmetic evaluation statistics (the measurement layer behind the
  * q278–q283 family): rank-sum AUC, two-proportion z², covariance signs,
  * Benford χ². Everything is integer/rational so results are bit-exact
  * across engines and partitionings — see EvalQueries for the operator
  * framing and the DuckDB twins.
  */
object Evaluation {

  /** Exact tie-corrected Mann-Whitney ROC-AUC per group. Input columns:
    * `grp` (grouping), `score` (long), `pos` (int 0/1 label). With average
    * ranks doubled to stay integral: auc = (2R⁺ − n⁺(n⁺+1)) / (2n⁺n⁻).
    * Output: grp, n_pos, n_neg, auc_num, auc_den, auc_ppm (truncating
    * div, null when a class is empty). The rank window partitions by
    * group — frames are per-group, never global. */
  def rankSumAuc(scored: DataFrame): DataFrame = {
    val r = scored.select(col("grp"), col("pos"),
      rank().over(Window.partitionBy("grp").orderBy("score"))
        .cast("long").as("rk"),
      count(lit(1)).over(Window.partitionBy("grp", "score")).as("ties"))
    r.groupBy("grp")
      .agg(sum("pos").as("n_pos"),
        sum(lit(1) - col("pos")).as("n_neg"),
        sum(when(col("pos") === 1, lit(2L) * col("rk") + col("ties") - 1L)
          .otherwise(0L)).as("r2_pos"))
      .select(col("grp"), col("n_pos"), col("n_neg"),
        (col("r2_pos") - col("n_pos") * (col("n_pos") + 1L)).as("auc_num"),
        (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den"),
        expr("(r2_pos - n_pos*(n_pos+1)) * 1000000 div nullif(2*n_pos*n_neg, 0)")
          .as("auc_ppm"))
  }

  /** Pooled two-proportion z² in exact ppm over a per-group contingency
    * frame (columns n1, c1, n2, c2): z² = N·(c₁n₂ − c₂n₁)² / (C(N−C)n₁n₂).
    * decimal(38,0) products keep it exact to ~10^18-trial groups; the
    * numerator is a square so trunc == floor. Null when degenerate. */
  def withZ2Ppm(contingency: DataFrame): DataFrame =
    contingency
      .withColumn("z2_ppm",
        expr("""cast(case when (c1+c2) = 0 or (c1+c2) = (n1+n2) or n1 = 0 or n2 = 0
               |  then null
               |  else (cast(n1+n2 as decimal(38,0)) * (c1*n2 - c2*n1) * (c1*n2 - c2*n1) * 1000000)
               |       div (cast(c1+c2 as decimal(38,0)) * ((n1+n2)-(c1+c2)) * n1 * n2)
               |  end as bigint)""".stripMargin))
      .withColumn("flagged", coalesce(col("z2_ppm") > 4000000L, lit(false)))

  /** JVM mirror of [[withZ2Ppm]]'s exact rational for the streaming A/A
    * twins: z²·10⁶ = N(c₁n₂−c₂n₁)²·10⁶ / (C(N−C)n₁n₂) in BigInt, truncating
    * division (numerator ≥ 0, so it equals the decimal(38,0) `div`). None
    * when degenerate. */
  def z2PpmJvm(n1: Long, c1: Long, n2: Long, c2: Long): Option[Long] = {
    val C = c1 + c2; val N = n1 + n2
    if (C == 0L || C == N || n1 == 0L || n2 == 0L) None
    else {
      val d = BigInt(c1) * n2 - BigInt(c2) * n1
      Some((BigInt(N) * d * d * 1000000 / (BigInt(C) * (N - C) * n1 * n2)).toLong)
    }
  }

  /** Exact covariance sign + per-pair magnitude for (grp, x, y) rows via
    * the moment identity n·Σxy − Σx·Σy over decimal(38,0). `keys` empty =
    * pooled. cov_pp = sign·(|cov| div n²) — bounded by max|x·y|, so the
    * emitted scale is row-count-invariant. */
  def covSigns(df: DataFrame, keys: Seq[String]): DataFrame = {
    val g = if (keys.isEmpty) df.groupBy() else df.groupBy(keys.map(col): _*)
    g.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("cast(x as decimal(38,0)) * y")).as("sxy"))
      .withColumn("cov",
        expr("cast(n as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sy"))
      .select((keys.map(col) :+ col("n") :+
        signum(col("cov")).cast("long").as("sgn") :+
        expr("cast(sign(cov) as bigint) * cast(abs(cov) div (cast(n as decimal(38,0)) * n) as bigint)")
          .as("cov_pp")): _*)
  }

  /** Benford first-significant-digit ppm expectations, d = 1..9
    * (precomputed log₁₀(1+1/d) — fixed literals both engines share). */
  val BenfordPpm: Seq[Long] = Seq(301030L, 176091L, 124939L, 96910L,
    79181L, 66947L, 57992L, 51153L, 45757L)

  /** Benford χ² audit per group over (grp, cents BIGINT) rows: first digit
    * off the decimal-string head, digits densified 1..9, χ² accumulated as
    * an exact e6-scaled integer (per-digit truncating division) and
    * compared against the df=8 α=0.05 critical value 15.507. */
  def benfordAudit(df: DataFrame): DataFrame = {
    val counts = df
      .select(col("grp"),
        substring(col("cents").cast("string"), 1, 1).cast("long").as("dig"))
      .groupBy("grp", "dig").agg(count(lit(1)).as("n_d"))
    val grid = counts.select("grp").distinct()
      .select(col("grp"), explode(sequence(lit(1L), lit(9L))).as("dig"))
    grid.join(counts, Seq("grp", "dig"), "left")
      .select(col("grp"), col("dig"),
        coalesce(col("n_d"), lit(0L)).as("n_d"),
        element_at(typedLit(BenfordPpm), col("dig").cast("int")).as("e_d"))
      .withColumn("n", sum("n_d").over(Window.partitionBy("grp")))
      .select(col("grp"), col("n"), col("n_d"), col("dig"),
        expr("""cast((cast(n_d as decimal(38,0))*1000000 - cast(n as decimal(38,0))*e_d)
               | * (cast(n_d as decimal(38,0))*1000000 - cast(n as decimal(38,0))*e_d)
               | div (cast(n as decimal(38,0)) * e_d) as bigint)""".stripMargin).as("term"))
      .groupBy("grp").agg(max("n").as("n_rows"),
        sum(when(col("dig") === 1, col("n_d")).otherwise(0L)).as("n_digit1"),
        sum("term").as("chi2_e6"))
      .withColumn("benford_ok", col("chi2_e6") <= 15507000L)
  }

  /** Unbiased pass@k (Chen et al. 2021, the Codex estimator): per task
    * with n attempts and c successes, 1 − C(n−c,k)/C(n,k), evaluated as
    * the falling-factorial ratio in STEPWISE ppm floor-division —
    *   ratio₀ = 10⁶;  ratioᵢ₊₁ = (ratioᵢ · (n−c−i)) div (n−i)
    * — left-to-right, so it never overflows (each step ≤ 10⁶·n, vs the
    * closed-form product which blows past 2⁶³ at n ≈ 500, k = 5) and
    * replays in SQL as one nested expression. When n−c < k a zero factor
    * kills the ratio and pass@k = 10⁶ exactly (a success is guaranteed
    * in every k-subset). The stepwise floor under-reads the true ratio
    * by < k ulps — deterministic, identical wherever it runs (the
    * integer-grid rule). Tasks with n < max(ks) attempts are dropped
    * (the estimator requires n ≥ k).
    *
    * Shape: ONE task-keyed count rollup (map-side combinable), then
    * arithmetic per task row. */
  /** JVM replica of [[passAtK]]'s stepwise recurrence, pinned bit-equal to
    * the Column/SQL form (PassAtKSpec) — the streaming twin recomputes
    * reports driver-free inside a StatefulProcessor (the quarterLog2Jvm
    * one-formula-two-runtimes discipline). Scala `/` on non-negative longs
    * is the same floor the engines' `div`/`//` compute. */
  def passAtKPpmJvm(n: Long, c: Long, k: Int): Long = {
    var ratio = 1000000L
    var i = 0
    while (i < k) { ratio = ratio * (n - c - i) / (n - i); i += 1 }
    1000000L - ratio
  }

  def passAtK(attempts: DataFrame, taskCol: String, success: Column,
      ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks == ks.sorted, "ks ascending, >= 1")
    val agg = attempts.groupBy(col(taskCol).as("task"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("c"))
      .where(col("n") >= ks.max)
    ks.foldLeft(agg) { (df, k) =>
      val ratio = (0 until k).foldLeft("1000000L") { (acc, i) =>
        s"(($acc * (n - c - $i)) div (n - $i))"
      }
      df.withColumn(s"pass${k}_ppm", expr(s"1000000L - $ratio"))
    }
  }

  /** WILSON lower confidence bound on a success rate at z = 2 (the
    * ~95.45% bound, chosen because z² = 4 keeps every term integer) —
    * THE small-n rate-ranking fix: sorting groups by raw success rate
    * puts a 1/1 group above a 95/100 one; sorting by the Wilson LOWER
    * bound ranks by the rate the evidence actually supports.
    *   lb = (p + 2 − 2·√(p(n−p)/n + 1)) / (n + 4)
    * in exact integer ppm: the radicand is scaled by 10¹² and floored
    * once (S = (p(n−p)·10¹²) div n + 10¹²), the square root is the
    * exact floor integer sqrt ([[Sampling.isqrtDec]] — the q287/q297
    * MDE recipe lifted to decimal), and the final division floors once
    * — a deterministic ≤2-ulp-of-ppm quantization both engines replay
    * bit-for-bit. Every product rides decimal(38,0) rails (the
    * degreeAssortativity convention; the oracle rides HUGEINT), so the
    * only ceiling left is the decimal domain itself: p(n−p)·10¹² needs
    * p(n−p) < 10²⁶, ENFORCED with raise_error at n > 6·10¹²
    * (p(n−p) ≤ n²/4 = 9·10²⁵ there, also inside [[Sampling.isqrtDec]]'s
    * exactness domain) — loud, but six orders past any physical
    * per-group trial count, where the pre-r13 long rail raised at a
    * routine n = 6000. The radicand's intermediate floor division runs
    * remainder-first ((x − x % n) / n — exact because the numerator is
    * a multiple of n and the integer quotient fits decimal(38,6)),
    * since Spark's `div` narrows to long and S itself can exceed 2⁶³.
    * Input: one row per (group) with counts; use
    * [[wilsonLowerBound]](df, n, p) on an aggregated frame. Output adds
    * (rate_ppm, wilson_lb_ppm). */
  def wilsonLowerBound(counts: DataFrame, nCol: String, pCol: String): DataFrame = {
    val nd = s"cast($nCol as decimal(38,0))"
    val pd = s"cast($pCol as decimal(38,0))"
    val prod = s"($pd * ($nd - $pd) * 1000000000000)"
    val s = expr(
      s"""case when $nCol > 6000000000000L then
         |  cast(raise_error('wilsonLowerBound: n > 6e12 overflows the decimal(38,0) radicand — split the group') as decimal(38,0))
         |else cast(($prod - $prod % $nd) / $nd + 1000000000000 as decimal(38,0))
         |end""".stripMargin)
    counts
      .withColumn("rate_ppm", expr(s"($pd * 1000000) div $nd"))
      .withColumn("wilson_root", Sampling.isqrtDec(s))
      .withColumn("wilson_lb_ppm",
        expr(s"(($pd + 2) * 1000000 - 2 * wilson_root) div ($nd + 4)"))
      .drop("wilson_root")
  }

  /** KRIPPENDORFF's alpha (nominal data, FIXED raters-per-unit m) — the
    * inter-annotator agreement statistic that generalizes the q284
    * Cohen kappa beyond two annotators: alpha = 1 − Do/De with
    *   Do = disagreeing annotator pairs / all within-unit pairs
    *   De = 1 − Σ_c N_c(N_c−1) / (N(N−1))   (chance disagreement,
    *        pairs drawn WITHOUT replacement from all N annotations —
    *        the Krippendorff correction that distinguishes alpha from
    *        Fleiss' kappa at small N)
    * computed in two-stage integer ppm (do_ppm and de_ppm each floor
    * once, the ratio floors once — deterministic ≤3-ulp quantization,
    * replayed identically by the oracle; the single-rail alternative
    * 10⁶·D·N(N−1) overflows 2⁶³ at corpus scale). The annotation-sized
    * products (Σ N_c(N_c−1), N(N−1), dis2·10⁶) ride decimal(38,0)
    * rails (the withZ2Ppm convention; DuckDB's SUM already promotes to
    * HUGEINT), so there is no long ceiling at any corpus size. De = 0
    * (every annotation the same label) raises loudly — alpha is
    * undefined there, and a silent NULL/zero would read as a verdict;
    * EMPTY input raises the same way (both divisors are 0 there — a
    * silent NULL row would read as a measurement). Input:
    * (unit, annotator, label) rows, exactly m raters per unit.
    * Output: 1 row (n_units, n_annotations, do_ppm, de_ppm,
    * alpha_ppm). */
  def krippendorffAlpha(annotations: DataFrame, m: Int): DataFrame = {
    require(m >= 2 && m <= 64, "m raters in [2,64]")
    val a = annotations.toDF("unit", "annotator", "label")
    val perUnitLabel = a.groupBy(col("unit"), col("label"))
      .agg(count(lit(1)).as("nuc"))
    // within-unit agreeing pairs: Σ_c C(n_uc, 2); total pairs: C(m,2)/unit
    val perUnit = perUnitLabel.groupBy(col("unit"))
      .agg(sum(col("nuc") * (col("nuc") - 1L)).as("agree2"),
        sum(col("nuc")).as("mu"))
    // the m-raters-per-unit guard is FOLDED into the aggregated column
    // (a free-standing projected guard would be pruned by the optimizer)
    val totals = perUnit
      .select((col("agree2") +
        when(col("mu") =!= m.toLong,
          expr(s"cast(raise_error('krippendorffAlpha: a unit has != $m annotations') as bigint)"))
          .otherwise(lit(0L))).as("agree2"))
      .agg(count(lit(1)).as("n_units"),
        sum((lit(m.toLong) * (lit(m.toLong) - 1L) - col("agree2"))
          .cast("decimal(38,0)")).as("dis2"))
    val byLabel = a.groupBy(col("label")).agg(count(lit(1)).as("nc"))
      .agg(sum(col("nc")).as("nn"),
        sum(col("nc").cast("decimal(38,0)") * (col("nc") - 1L)).as("same2"))
    totals.crossJoin(broadcast(byLabel))
      .select(col("n_units"), col("nn").as("n_annotations"),
        expr(s"""case when n_units = 0 then
                |  cast(raise_error('krippendorffAlpha: empty input - alpha undefined') as bigint)
                |else (dis2 * 1000000) div (cast(n_units as decimal(38,0)) * ${m.toLong * (m - 1)})
                |end""".stripMargin)
          .as("do_ppm"),
        expr("""case when cast(nn as decimal(38,0)) * (nn - 1L) = same2 then
                |  cast(raise_error('krippendorffAlpha: De = 0 (all annotations identical) — alpha undefined') as bigint)
                |else 1000000L - (same2 * 1000000) div (cast(nn as decimal(38,0)) * (nn - 1L)) end"""
          .stripMargin).as("de_ppm"))
      .withColumn("alpha_ppm",
        expr("1000000L - (do_ppm * 1000000L) div de_ppm"))
  }

  /** Bradley–Terry ratings from pairwise match outcomes via the MM
    * (minorization-maximization) algorithm, `iters` fixed synchronous
    * rounds in integer fixed point: with ratings r in ppm (r₀ = 10⁶),
    *   denom_p = Σ_q (n_pq · 10¹²) div max(r_p + r_q, 1)
    *   r_p'    = (W_p · 10¹²) div max(denom_p, 1)
    * — floor per pair-term, summed over a set, one final floor: every
    * round is bit-exact cross-engine (the q312 floor-div-per-term
    * recipe). BOTH max(·,1) guards matter: the inner one keeps a pair
    * of winless players (both ratings → 0) from dividing by zero, and
    * the OUTER one covers the dual blow-up — undefeated players can
    * roughly double per round, so near the iters cap r_p + r_q can
    * exceed n_pq·10¹², flooring EVERY pair-term of a player to 0 and
    * making denom_p itself 0 (which Spark would turn into a silent
    * NULL while DuckDB errors — the loud-corruption discipline says
    * neither: the guard makes both engines deterministic and equal,
    * rating the player at W_p·10¹², the same "unbounded strength"
    * reading the limit justifies). Winless players rate 0 after round
    * 1; undefeated players grow until their opponents' mass bounds
    * them (fixed iterations, rank order is the contract — the
    * integerPageRank discipline; BT is scale-invariant so no
    * normalization round).
    *
    * Input: (winner, loser) match rows. Output: (player, games, wins,
    * rating_ppm). Shape: one pair-keyed count + one player-keyed wins
    * rollup, then per round ONE join of the pair table against the
    * rating vector + a player-keyed sum — Pregel-shaped, pair-table
    * sized, model-state small at any corpus scale. */
  def bradleyTerry(matches: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20, "iters in [1,20]")
    val m = matches.toDF("winner", "loser")
    val games = m.select(col("winner").as("p"), col("loser").as("q"))
      .unionByName(m.select(col("loser").as("p"), col("winner").as("q")))
      .groupBy(col("p"), col("q")).agg(count(lit(1)).as("n_pq"))
      .localCheckpoint(true)
    val wins = m.groupBy(col("winner").as("p")).agg(count(lit(1)).as("w"))
    val players = games.select(col("p")).distinct()
      .join(wins, Seq("p"), "left")
      .withColumn("w", coalesce(col("w"), lit(0L)))
      .localCheckpoint(true)
    var r = players.select(col("p"), lit(1000000L).as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val denom = games
        .join(r.select(col("p"), col("r").as("rp")), "p")
        .join(r.select(col("p").as("q"), col("r").as("rq")), "q")
        .withColumn("term",
          expr("(n_pq * 1000000000000L) div greatest(rp + rq, 1L)"))
        .groupBy(col("p")).agg(sum(col("term")).as("denom"))
      r = players.join(denom, "p")
        .withColumn("r", expr("(w * 1000000000000L) div greatest(denom, 1L)"))
        .select(col("p"), col("r"))
        .localCheckpoint(true)
    }
    players.join(r, "p")
      .join(games.groupBy(col("p")).agg(sum(col("n_pq")).as("games")), "p")
      .select(col("p").as("player"), col("games"), col("w").as("wins"),
        col("r").as("rating_ppm"))
  }

  /** KENDALL's tau-a between two per-row signals — the exact rank-
    * concordance readout (do two quality signals ORDER the corpus the
    * same way?) that, unlike Spearman's rho, needs NO square root:
    *   tau_a = (concordant − discordant) / (n(n−1)/2)
    * with ties counting as neither, so S = Σ_{i<j} sign(x_i−x_j) ·
    * sign(y_i−y_j) is an exact integer and the single floor division
    * runs on the (+denominator)-shifted dividend (tau ∈ [−1, 1] keeps
    * it non-negative; Spark trunc ≡ DuckDB floor — the modularity
    * shift), decimal(38,0) rails. Input: (id, x, y) rows with DISTINCT
    * ids (the pair join keys on id order). Output: 1 row (n, s,
    * tau_a_ppm). COST IS O(n²) PAIRS — stated, not hidden: this is the
    * exact-verification shape (the q104 discipline); at corpus scale
    * run it on a [[Sampling.deterministicSample]] (the q343 query
    * does), or trust the estimator literature and bucket. n < 2 raises
    * (no pairs — a NULL would read as a verdict). */
  def kendallTauA(rows: DataFrame): DataFrame = {
    val r = rows.toDF("id", "x", "y").localCheckpoint(true)
    val n = r.count() // model-state action on the checkpoint (loud below)
    require(n >= 2, s"kendallTauA: n = $n < 2 — no pairs to score")
    // loud long-rail: n(n−1)/2 wraps past n ≈ 4.29e9 — far beyond the
    // O(n²) pair join's practical reach, but the repo's discipline is
    // corruption raises, never wraps (the wilsonLowerBound convention)
    require(n <= 4000000000L, s"kendallTauA: n = $n > 4e9 — n(n-1)/2 " +
      "would overflow long; score a Sampling.deterministicSample instead")
    val n2 = n * (n - 1) / 2
    val pairs = r.as("p").join(r.as("q"), col("p.id") < col("q.id"))
      .select((signum(col("p.x") - col("q.x")).cast("long") *
        signum(col("p.y") - col("q.y")).cast("long")).as("t"))
    pairs.agg(coalesce(sum(col("t")), lit(0L)).as("s"))
      .select(lit(n).as("n"), col("s"),
        expr(s"""cast(((cast(s as decimal(38,0)) + ${n2}L) * 1000000)
                |div ${n2}L - 1000000 as bigint)""".stripMargin)
          .as("tau_a_ppm"))
  }

  /** SIMPSON diversity 1 − Σ p_c² per group — the exact-rational
    * concentration readout for corpus mixing (how dominated is each
    * source by one language / one domain / one label?; 0 = one
    * category, → 10⁶ = evenly spread). Integer ppm with ONE floor
    * division on decimal(38,0) rails:
    *   simpson_ppm = 10⁶ − (Σ c_i²·10⁶) div N²
    * (non-negative dividend, trunc ≡ floor; no sqrt, no logs — unlike
    * Shannon entropy this diversity index is exactly portable).
    * Output: (group, n_rows, n_categories, simpson_ppm). */
  def simpsonDiversity(df: DataFrame, groupCol: String,
      catCol: String): DataFrame = df
    .groupBy(col(groupCol).as("grp"), col(catCol).as("cat"))
    .agg(count(lit(1)).as("c"))
    .groupBy(col("grp"))
    .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_categories"),
      sum(col("c").cast("decimal(38,0)") * col("c")).as("c2"))
    .select(col("grp"), col("n_rows"), col("n_categories"),
      expr("""cast(1000000 - (c2 * 1000000)
             |div (cast(n_rows as decimal(38,0)) * n_rows) as bigint)"""
        .stripMargin).as("simpson_ppm"))

  /** SPEARMAN's ρ with exact tie correction — the at-scale rank
    * correlation ([[kendallTauA]]'s O(n²) pair join is the sampled
    * path; this is two rollups + two joins, linear shuffle). ρ =
    * Pearson of the value ranks with ties averaged; the doubled-rank
    * trick keeps ranks integral: r2(v) = 2·|{v' < v}| + ties(v) + 1 =
    * 2 × the average rank. r2 comes from a cumulative window over the
    * DISTINCT-VALUE rollup (distinct-value-sized, not row-sized — the
    * only global ordering in the plan; at row scale the values frame
    * is the small side and broadcast-joins back), moments ride
    * decimal(38,0) (Σ r2x·r2y ≤ 4n³ wraps long past n ≈ 1.3e6), and
    * ONE double division + sqrt produces the readout — the q223
    * Pearson discipline, so the oracle replays it bit for bit.
    * Input: (id, x, y) numeric; output 1 row (n, rho). n < 2 or a
    * zero-variance axis raises loudly (ρ undefined). */
  def spearmanRho(rows: DataFrame): DataFrame = {
    val r = rows.toDF("id", "x", "y")
    def doubledRanks(c: String): DataFrame = {
      val byV = r.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
      byV.select(col("v"),
        (lit(2L) * coalesce(sum(col("cnt")).over(w), lit(0L)) +
          col("cnt") + 1L).as(s"r2$c"))
    }
    val withRanks = r
      .join(broadcast(doubledRanks("x")).withColumnRenamed("v", "x"), Seq("x"))
      .join(broadcast(doubledRanks("y")).withColumnRenamed("v", "y"), Seq("y"))
    def d(c: Column) = c.cast("decimal(38,0)")
    withRanks
      .agg(count(lit(1)).as("n"), sum(d(col("r2x"))).as("sx"),
        sum(d(col("r2y"))).as("sy"),
        sum(d(col("r2x")) * col("r2y")).as("sxy"),
        sum(d(col("r2x")) * col("r2x")).as("sxx"),
        sum(d(col("r2y")) * col("r2y")).as("syy"))
      .select(col("n"),
        (d(col("n")) * col("sxy") - col("sx") * col("sy")).as("cov_num"),
        (d(col("n")) * col("sxx") - col("sx") * col("sx")).as("var_x"),
        (d(col("n")) * col("syy") - col("sy") * col("sy")).as("var_y"))
      .select(col("n"),
        expr("""case when n < 2 or var_x = 0 or var_y = 0 then
                |  cast(raise_error('spearmanRho: undefined (n < 2 or a constant axis)') as double)
                |else cast(cov_num as double) / sqrt(cast(var_x as double) * cast(var_y as double))
                |end""".stripMargin).as("rho"))
  }

  /** RANK-BIASED OVERLAP (truncated RBO_min at `depth`, persistence
    * p = 9/10) between two rankings of the same item set — the
    * top-weighted list-similarity measure for comparing rankers
    * (today's top-10 vs yesterday's; ranker A vs ranker B) where
    * Kendall/Spearman over-weight the tail. rbo = (1−p) Σ_{d=1..D}
    * p^{d−1}·|A_d ∩ B_d|/d, computed EXACTLY in scaled integers: an
    * item in both top-D lists with worse-rank m contributes
    * coef(m) = Σ_{d=m..D} 9^{d−1}·10^{D−d}·(2520/d) (2520 = lcm 1..10
    * clears every /d; coefficients are driver-side exact constants),
    * and rbo_ppm = 10⁵·Σ coef div (10^{D−1}·2520) on decimal(38,0)
    * rails. Only the two top-D lists are ever ranked (depth-sized
    * frames — a limit + a depth-row window, never a global sort of
    * the corpus). Ties break by ascending id: deterministic and
    * oracle-replayable. Output 1 row: (depth, in_both, rbo_ppm). */
  def rankBiasedOverlap(df: DataFrame, idCol: String, scoreA: String,
      scoreB: String, depth: Int = 10): DataFrame = {
    require(depth >= 1 && depth <= 10, "depth in [1,10] (lcm-scaled exact path)")
    val spark = df.sparkSession
    import spark.implicits._
    def top(score: String, out: String): DataFrame = {
      val t = df.select(col(idCol).as("id"), col(score).as("s"))
        .orderBy(col("s").desc, col("id")).limit(depth)
      t.select(col("id"), row_number().over(
        Window.orderBy(col("s").desc, col("id"))).as(out))
    }
    val coefs = RboCoefs.table(depth).toDF("m", "coef")
    val joined = top(scoreA, "ra").join(top(scoreB, "rb"), Seq("id"))
      .select(greatest(col("ra"), col("rb")).as("m"))
      .join(broadcast(coefs), Seq("m"))
    joined.agg(count(lit(1)).as("in_both"),
        coalesce(sum(col("coef").cast("decimal(38,0)")),
          lit(0L).cast("decimal(38,0)")).as("sc"))
      .select(lit(depth).as("depth"), col("in_both"),
        expr(s"cast((sc * 100000) div ${RboCoefs.denom(depth)}L as bigint)")
          .as("rbo_ppm"))
  }

  /** MAP@k + MRR@k over a ranked retrieval frame — the exact-rational
    * retrieval scorecard. Input `ranked`: (qid, rank 1-based ≤ k, rel
    * 0/1) — each query's ranked hit list with binary relevance — and
    * `totalRel`: (qid, r_total) — relevant items in the corpus (the AP
    * denominator min(r_total, k)). Per query, scaled integers clear
    * every /rank with 2520 = lcm(1..10): ap_ppm = 10⁶·Σ_{rank: rel}
    * (2520/rank)·relcnt@rank div (2520·min(r_total, k)); rr_ppm =
    * 10⁶ div first-relevant rank (0 when none — a miss scores zero,
    * never null). Readout: unweighted query means, truncating div
    * (deterministic, oracle-replayable). Queries with r_total = 0 are
    * EXCLUDED (AP undefined), counted in n_undefined rather than
    * silently dropped. Output 1 row: (n_queries, n_undefined, map_ppm,
    * mrr_ppm). */
  def mapMrrAtK(ranked: DataFrame, totalRel: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 10, "k in [1,10] (lcm-scaled exact path)")
    val rk = ranked.toDF("qid", "rank", "rel")
    val tr = totalRel.toDF("qid", "r_total")
    val w = Window.partitionBy(col("qid")).orderBy(col("rank"))
    val perHit = rk.where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("rel"),
        sum(col("rel")).over(w).as("relcnt"))
    val perQ = perHit.groupBy(col("qid"))
      .agg(sum(when(col("rel") === 1,
          expr("(2520 div rank) * relcnt")).otherwise(0L)).as("apnum"),
        min(when(col("rel") === 1, col("rank"))).as("firstrel"))
    val scored = tr.join(perQ, Seq("qid"), "left")
      .select(col("qid"), col("r_total"),
        coalesce(col("apnum"), lit(0L)).as("apnum"),
        col("firstrel"))
    scored.agg(
        sum(when(col("r_total") > 0, 1L).otherwise(0L)).as("n_queries"),
        sum(when(col("r_total") === 0, 1L).otherwise(0L)).as("n_undefined"),
        coalesce(sum(when(col("r_total") > 0,
          expr(s"(apnum * 1000000) div (2520 * least(r_total, ${k}L))"))
          .otherwise(0L)), lit(0L)).as("apsum"),
        coalesce(sum(when(col("r_total") > 0,
          coalesce(expr("1000000 div firstrel"), lit(0L))).otherwise(0L)),
          lit(0L)).as("rrsum"))
      .select(col("n_queries"), col("n_undefined"),
        expr("""case when n_queries = 0 then
                |  cast(raise_error('mapMrrAtK: no scoreable queries') as bigint)
                |else apsum div n_queries end""".stripMargin).as("map_ppm"),
        expr("case when n_queries = 0 then 0L else rrsum div n_queries end")
          .as("mrr_ppm"))
  }

  /** PRECISION/RECALL curve over a scored pair frame — the threshold
    * sweep that turns a similarity scorer into an operating point
    * ("ship near-dup review at θ = ?"). Input: (score double, pos 0/1).
    * Thresholds ride as integer BASIS POINTS (θ = bp/10⁴ — the double
    * literal re-derives identically in the oracle, no float-literal
    * drift); one |θ|-way map-side fan-out + one rollup — partial
    * aggregation absorbs the fan-out before the exchange, so the wire
    * carries |θ| count rows. precision_ppm is NULL when nothing is
    * predicted positive at θ (an honest "no operating point", not a 0);
    * recall's denominator (total positives) never changes with θ.
    * Output: (theta_bp, tp, fp, fn, precision_ppm, recall_ppm). */
  def prCurve(scored: DataFrame, thetaBps: Seq[Int]): DataFrame = {
    require(thetaBps.nonEmpty && thetaBps == thetaBps.sorted,
      "thresholds: non-empty, ascending basis points")
    val s = scored.toDF("score", "pos")
    s.select(col("score"), col("pos"),
        explode(typedLit(thetaBps)).as("theta_bp"))
      .withColumn("pred",
        col("score") >= col("theta_bp").cast("double") / 10000.0)
      .groupBy(col("theta_bp"))
      .agg(sum(when(col("pos") === 1 && col("pred"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pos") === 0 && col("pred"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("pos") === 1 && !col("pred"), 1L).otherwise(0L)).as("fn"))
      .select(col("theta_bp"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          expr("(tp * 1000000) div (tp + fp)")).as("precision_ppm"),
        when(col("tp") + col("fn") > 0,
          expr("(tp * 1000000) div (tp + fn)")).as("recall_ppm"))
      .orderBy(col("theta_bp"))
  }

  /** McNEMAR's paired test on two classifiers against the same truth:
    * b = A right & B wrong, c = A wrong & B right; the statistic
    * (b−c)²/(b+c) decides whether the two disagree SYSTEMATICALLY —
    * the right test when both models score the SAME examples (a
    * two-proportion z on overlapping data is wrong). Integer-exact:
    * chi2_ppm = 10⁶·(b−c)² div (b+c), decimal rails; b + c = 0 (the
    * classifiers never disagree-and-split) raises loudly — the
    * statistic is undefined, and a silent 0 would read as "no
    * difference proven". Input: (aCorrect, bCorrect) 0/1 columns.
    * Output 1 row: (n, b, c, chi2_ppm). */
  def mcnemar(df: DataFrame, aCorrect: String, bCorrect: String): DataFrame = df
    .agg(count(lit(1)).as("n"),
      sum(when(col(aCorrect) === 1 && col(bCorrect) === 0, 1L)
        .otherwise(0L)).as("b"),
      sum(when(col(aCorrect) === 0 && col(bCorrect) === 1, 1L)
        .otherwise(0L)).as("c"))
    .select(col("n"), col("b"), col("c"),
      expr("""case when b + c = 0 then
              |  cast(raise_error('mcnemar: b + c = 0 — statistic undefined (no asymmetric disagreements)') as bigint)
              |else cast(((cast(b as decimal(38,0)) - c) * (b - c) * 1000000)
              |          div (cast(b as decimal(38,0)) + c) as bigint)
              |end""".stripMargin).as("chi2_ppm"))
}

/** Driver-side exact RBO coefficients (p = 9/10, lcm(1..10) = 2520):
  * coef(m) = Σ_{d=m..D} 9^{d−1}·10^{D−d}·(2520/d); denom(D) =
  * 10^{D−1}·2520 — so (1−p)·Σ p^{d−1}·ov_d/d = Σ coef(m_item) / (10·
  * 10^{D−1}·2520) exactly. Pure integer arithmetic, shared by the
  * operator and the generated oracle SQL. */
private[ext] object RboCoefs {
  private def pow(b: Long, e: Int): Long = (0 until e).foldLeft(1L)((a, _) => a * b)
  def coef(m: Int, depth: Int): Long =
    (m to depth).map(dd => pow(9L, dd - 1) * pow(10L, depth - dd) * (2520L / dd)).sum
  def table(depth: Int): Seq[(Int, Long)] =
    (1 to depth).map(m => (m, coef(m, depth)))
  def denom(depth: Int): Long = pow(10L, depth - 1) * 2520L
}
