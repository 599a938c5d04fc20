package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PValues

/** Statistical-test kernel (SURVEY §2.10 X2-X9): every test is a
  * distributed aggregation (one shuffle on the group key) followed by
  * scalar distribution math on the reduced frame. p-values run through
  * the native codegen'd expressions ([[graft.functions.PValues]], same
  * [[Distributions]] math) — no boxed UDF anywhere in the test path, so
  * per-group sweeps (x16-style, millions of groups) stay inside
  * WholeStageCodegen.
  *
  * Reference provenance (file:line in /root/reference,
  * notebooks/01_youbike_analysis.ipynb unless noted):
  *  - X2 per-group t-CI + KPI classify: 01:408-430
  *  - X3 Welch two-sample t: 01:563-572   - X4 Cohen's d: 01:575-581
  *  - X5 one-way ANOVA + η²: 01:842-845   - X6 Tukey HSD: 01:851-853
  *  - X7 χ² independence: 01:975          - X8 Cramér's V: 01:977-992
  *  - X9 standardized residuals: 01:998
  */
object StatTests {

  // Cornish-Fisher coefficients for the 97.5% t quantile, pre-folded to
  // doubles so the Column expression and the SQL mirror parse the SAME
  // decimal literals (Double.toString round-trips — bit-equal on both
  // engines; see tQuantile975Sql).
  private val Z975 = 1.9599639845400542
  private val CF1 = Z975 * Z975 * Z975 + Z975
  private val CF2 = 5.0 * math.pow(Z975, 5) + 16.0 * math.pow(Z975, 3) + 3.0 * Z975
  private val CF3 =
    3.0 * math.pow(Z975, 7) + 19.0 * math.pow(Z975, 5) + 17.0 * math.pow(Z975, 3) - 15.0 * Z975

  /** 97.5% Student-t quantile as a pure column expression via the
    * Cornish-Fisher expansion around the normal quantile — codegen-able
    * and mirrorable in oracle SQL. |err| < 2e-6 at df=30, < 2e-8 at
    * df≥100 (the per-group n in every reference use site is ≥400);
    * for small-df accuracy use [[Distributions.tInv]] driver-side. */
  def tQuantile975(df: Column): Column =
    lit(Z975) + lit(CF1) / (lit(4.0) * df) +
      lit(CF2) / (lit(96.0) * df * df) +
      lit(CF3) / (lit(384.0) * df * df * df)

  /** SQL mirror of [[tQuantile975]] for DuckDB oracles; `df` is a SQL
    * expression string. Same operations in the same order → bit-equal. */
  def tQuantile975Sql(df: String): String =
    s"($Z975 + $CF1 / (4.0 * ($df)) + $CF2 / (96.0 * ($df) * ($df)) + " +
      s"$CF3 / (384.0 * ($df) * ($df) * ($df)))"

  /** X2: per-group mean, sem, 95% t-CI and KPI classification
    * (01:408-430; labels mirror the reference's Pass/Fail/Warning). */
  def tCIByGroup(df: DataFrame, value: String, group: String,
                 kpiTarget: Double = 0.30): DataFrame = {
    val aggd = df.groupBy(group).agg(
      count(lit(1)).as("n"),
      avg(value).as("mean"),
      stddev_samp(col(value)).as("sd"))
      .withColumn("sem", col("sd") / sqrt(col("n")))
      .withColumn("t_crit", tQuantile975(col("n") - 1.0))
      .withColumn("ci_lower", col("mean") - col("t_crit") * col("sem"))
      .withColumn("ci_upper", col("mean") + col("t_crit") * col("sem"))
    aggd.withColumn("status",
      when(col("ci_lower") > kpiTarget, "Pass (Green)")
        .when(col("ci_upper") < kpiTarget, "Fail (Red)")
        .otherwise("Warning (Orange)"))
  }

  /** X3+X4: Welch two-sample t (equal_var=False) and Cohen's d between
    * the rows where `flag` is true (group A) vs false (group B)
    * (01:563-581). Returns one row: n/mean/var per group, t_stat,
    * df_welch, p_value (exact, via [[Distributions]]), cohens_d. */
  def welchCohen(df: DataFrame, value: String, flag: Column): DataFrame = {
    val aggd = df.agg(
      count(when(flag, 1)).cast("double").as("n_a"),
      count(when(!flag, 1)).cast("double").as("n_b"),
      avg(when(flag, col(value))).as("mean_a"),
      avg(when(!flag, col(value))).as("mean_b"),
      var_samp(when(flag, col(value))).as("var_a"),
      var_samp(when(!flag, col(value))).as("var_b"))
    val se2a = col("var_a") / col("n_a")
    val se2b = col("var_b") / col("n_b")
    // explicit x*x (not pow) so oracle SQL mirrors are bit-identical
    val welch = aggd
      .withColumn("t_stat", (col("mean_a") - col("mean_b")) / sqrt(se2a + se2b))
      .withColumn("df_welch",
        (se2a + se2b) * (se2a + se2b) /
          (se2a * se2a / (col("n_a") - 1) + se2b * se2b / (col("n_b") - 1)))
      .withColumn("cohens_d",
        (col("mean_a") - col("mean_b")) /
          sqrt(((col("n_a") - 1) * col("var_a") + (col("n_b") - 1) * col("var_b")) /
            (col("n_a") + col("n_b") - 2)))
    welch.withColumn("p_value", PValues.t(col("t_stat"), col("df_welch")))
  }

  /** X5: one-way ANOVA from per-group (n, mean, var): SSB/SSW/F/η² +
    * exact p (01:842-845). One row. */
  def anova(df: DataFrame, value: String, group: String): DataFrame = {
    val g = df.groupBy(group).agg(
      count(lit(1)).cast("double").as("n"),
      avg(value).as("mean"),
      var_samp(col(value)).as("variance"))
    val tot = g.agg(
      count(lit(1)).cast("double").as("k"),
      sum("n").as("n_total"),
      (sum(col("mean") * col("n")) / sum("n")).as("grand_mean"),
      sum(col("variance") * (col("n") - 1)).as("ss_within"))
    val ssb = g.crossJoin(broadcast(tot))
      .agg(sum(col("n") * (col("mean") - col("grand_mean")) * (col("mean") - col("grand_mean"))).as("ss_between"),
        first("k").as("k"), first("n_total").as("n_total"),
        first("ss_within").as("ss_within"))
    ssb
      .withColumn("df_between", col("k") - 1)
      .withColumn("df_within", col("n_total") - col("k"))
      .withColumn("f_stat",
        (col("ss_between") / col("df_between")) / (col("ss_within") / col("df_within")))
      .withColumn("eta_sq", col("ss_between") / (col("ss_between") + col("ss_within")))
      .withColumn("p_value", PValues.f(col("f_stat"), col("df_between"), col("df_within")))
  }

  /** X6: Tukey-Kramer HSD pairwise comparisons (01:851-853). Critical
    * value q₀.₀₅(k, df_within) from [[Distributions.tukeyQcrit05]]:
    * 1/df interpolation over a grid computed by exact Gauss–Legendre
    * integration of the studentized-range CDF — the ∞ value alone
    * would be >10% anti-conservative at small dfs. Requires
    * df_within ≥ 5 (the grid floor). Returns one row per unordered
    * pair. */
  def tukeyHSD(df: DataFrame, value: String, group: String): DataFrame = {
    val g = df.groupBy(group).agg(
      count(lit(1)).cast("double").as("n"),
      avg(value).as("mean"),
      var_samp(col(value)).as("variance"))
    val stats = g.agg(
      count(lit(1)).as("k"),
      sum("n").as("n_total"),
      (sum(col("variance") * (col("n") - 1)) / (sum("n") - count(lit(1)))).as("msw"))
    val a = g.select(col(group).as("group_a"), col("n").as("n_a"), col("mean").as("mean_a"))
    val b = g.select(col(group).as("group_b"), col("n").as("n_b"), col("mean").as("mean_b"))
    val qcrit = udf((k: Int, dfW: Double) => Distributions.tukeyQcrit05(k, dfW))
    // k-row × k-row non-equi pair join (k = group cardinality, bounded):
    // broadcast one side explicitly or the planner falls back to a
    // CartesianProduct whenever scan-derived size estimates are
    // conservative (uncached inputs) — hint, don't rely on luck.
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .crossJoin(broadcast(stats))
      .withColumn("mean_diff", col("mean_b") - col("mean_a"))
      .withColumn("se_pair",
        sqrt(col("msw") / 2.0 * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))))
      .withColumn("q_stat", abs(col("mean_diff")) / col("se_pair"))
      .withColumn("q_crit", qcrit(col("k"), col("n_total").cast("double") - col("k")))
      .withColumn("reject", col("q_stat") > col("q_crit"))
      .drop("msw", "n_total")
  }

  /** X7+X8+X9: χ² independence on the `rowVar` × `colVar` contingency
    * grid (zero-filled like pd.crosstab), with expected counts and
    * standardized residuals per cell (01:972-998). Returns the cell
    * frame; aggregate with [[chi2Summary]] for the test statistic. */
  def chi2Cells(df: DataFrame, rowVar: String, colVar: String): DataFrame = {
    val counts = df.groupBy(rowVar, colVar).agg(count(lit(1)).cast("double").as("observed"))
    // complete the grid: absent combinations are observed-0 cells
    val grid = counts.select(rowVar).distinct()
      .crossJoin(broadcast(counts.select(colVar).distinct()))
    // both sides are ≤ r×c rows (category cardinality, not data size) —
    // broadcast the aggregated counts so the completion join stays a
    // BroadcastHashJoin under conservative size estimates too
    val cells = grid.join(broadcast(counts), Seq(rowVar, colVar), "left")
      .na.fill(0.0, Seq("observed"))
    val wr = Window.partitionBy(rowVar)
    val wc = Window.partitionBy(colVar)
    val wAll = Window.partitionBy()
    cells
      .withColumn("row_total", sum("observed").over(wr))
      .withColumn("col_total", sum("observed").over(wc))
      .withColumn("n_total", sum("observed").over(wAll))
      .withColumn("expected", col("row_total") * col("col_total") / col("n_total"))
      .withColumn("std_residual", (col("observed") - col("expected")) / sqrt(col("expected")))
  }

  /** X7/X8 summary over [[chi2Cells]]: χ², dof, exact p, Cramér's V and
    * the reference's strength bucket (01:987-992). One row. */
  def chi2Summary(cells: DataFrame, rowVar: String, colVar: String): DataFrame = {
    val agg = cells.agg(
      sum((col("observed") - col("expected")) * (col("observed") - col("expected")) / col("expected")).as("chi2"),
      countDistinct(col(rowVar)).cast("double").as("r"),
      countDistinct(col(colVar)).cast("double").as("c"),
      first("n_total").as("n"))
    agg
      .withColumn("dof", (col("r") - 1) * (col("c") - 1))
      .withColumn("cramers_v", sqrt(col("chi2") / (col("n") * least(col("r"), col("c")) - col("n"))))
      .withColumn("strength",
        when(col("cramers_v") < 0.1, "weak")
          .when(col("cramers_v") < 0.3, "moderate")
          .otherwise("strong"))
      .withColumn("p_value", PValues.chi2(col("chi2"), col("dof")))
  }

  // ---- Mann-Whitney U (Wilcoxon rank-sum; x18) ----------------------------

  // Abramowitz & Stegun 7.1.26 erfc coefficients — a CLOSED-FORM
  // rational approximation (|err| < 1.5e-7), chosen over the exact
  // continued fraction precisely because it is branch-free straight-line
  // double arithmetic: the SQL mirror runs the IDENTICAL Horner chain,
  // so both engines agree bit-for-bit whatever the approximation error.
  private val ErfP = 0.3275911
  private val ErfA = Seq(0.254829592, -0.284496736, 1.421413741,
    -1.453152027, 1.061405429)
  private val InvSqrt2 = 0.7071067811865476 // 1/sqrt(2), pre-folded literal

  /** Two-sided normal tail probability 2·(1−Φ(|z|)) = erfc(|z|/√2) via
    * A&S 7.1.26. Same Horner order as [[normalSfTwoSidedSql]]; the one
    * transcendental (exp) may differ between libms in the last ulp —
    * absorbed by the callers' trunc-6 display grid, the established
    * hllEstimate-ln() pattern. */
  def normalSfTwoSided(z: Column): Column = {
    val x = abs(z) * lit(InvSqrt2)
    val t = lit(1.0) / (lit(1.0) + lit(ErfP) * x)
    val poly = ErfA.reverse.foldLeft(lit(0.0): Column)((acc, a) => acc * t + lit(a))
    poly * t * exp(-(x * x))
  }

  /** SQL mirror of [[normalSfTwoSided]]; `z` is a SQL expression string. */
  def normalSfTwoSidedSql(z: String): String = {
    // CAST once: a DECIMAL-typed z (e.g. a numeric literal) would make
    // DuckDB compound the Horner chain's scale past DECIMAL's limit
    // ("Needed scale 39") instead of returning a double (r9 review)
    val x = s"(abs(CAST(($z) AS DOUBLE)) * $InvSqrt2)"
    val t = s"(1.0 / (1.0 + $ErfP * $x))"
    val poly = ErfA.reverse.foldLeft("0.0")((acc, a) => s"(($acc) * $t + $a)")
    s"(($poly) * $t * exp(-($x * $x)))"
  }

  /** X18: Mann-Whitney U / Wilcoxon rank-sum per `byCol` group —
    * the NONPARAMETRIC two-sample test (the scipy.stats.mannwhitneyu
    * family member the reference's t-tests would reach for on skewed
    * rates). `flagCol` must be boolean: sample 1 = rows where it is
    * true. Midranks come from the DISTINCT-VALUE histogram (the
    * ops/MedianHistogram move: state bounded by the value universe,
    * not the row count — ranking raw rows would shuffle and sort every
    * observation), ties get the standard tie-corrected normal
    * approximation, and p is the A&S two-sided tail. EXACTNESS NOTE:
    * midranks are half-integers and group counts are longs, so every
    * product n1v·midrank is an exact multiple of 0.5 far below 2^52 —
    * the rank-sum aggregation is order-independent EXACT double math,
    * which is what lets the oracle replay it hash-identically. (The
    * tie term is exact on the same argument through ~208k rows per
    * (group, value) cell; beyond that it is deterministic-per-value
    * double arithmetic whose sum-order ulp lands inside the trunc-6
    * grid.)
    * Topology: two keyed aggregations + one running-sum window on the
    * histogram — one shuffle on `byCol` at any scale.
    * SCALE CONTRACT (also [[kruskalWallis]]'s): the histogram state is
    * bounded by the VALUE UNIVERSE of `valueCol`, so a genuinely
    * CONTINUOUS column (distinct values ~ row count) degrades it to a
    * full sort-by-another-name — quantize such a column first (e.g.
    * `round(v, 3)`; binning only introduces ties, which the midrank +
    * tie-correction machinery handles by construction). The
    * bench_scale `x_ranktest` leg times x18/x19 at 100× the rows on a
    * fixed universe. */
  def mannWhitney(df: DataFrame, valueCol: String, flagCol: Column,
                  byCol: String): DataFrame = {
    val hist = df.groupBy(col(byCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__nv"), sum(flagCol.cast("long")).as("__n1v"))
    val w = Window.partitionBy(col(byCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val mid = coalesce(sum(col("__nv")).over(w), lit(0L)).cast("double") +
      (col("__nv").cast("double") + 1.0) / 2.0
    val n1d = col("n1").cast("double")
    val n2d = col("n2").cast("double")
    val nd = col("__n").cast("double")
    hist
      .withColumn("__mid", mid)
      .groupBy(col(byCol))
      .agg(
        sum(col("__n1v")).as("n1"),
        sum(col("__nv")).as("__n"),
        sum(col("__n1v").cast("double") * col("__mid")).as("__r1"),
        // tie term in DOUBLE: an int64 cube wraps silently in Spark and
        // aborts DuckDB once one (group, value) cell passes ~2.1M rows
        // (r9 review); the double cube is exact through nv <= ~208k and
        // deterministic-rounded beyond, and it only feeds the variance
        // correction
        sum(col("__nv").cast("double") * col("__nv").cast("double") *
          col("__nv").cast("double") - col("__nv").cast("double"))
          .as("__ties"))
      .withColumn("n2", col("__n") - col("n1"))
      .withColumn("u1", col("__r1") - n1d * (n1d + 1.0) / 2.0)
      .withColumn("u2", n1d * n2d - col("u1"))
      .withColumn("z", (col("u1") - n1d * n2d / 2.0) /
        sqrt(n1d * n2d / 12.0 *
          ((nd + 1.0) - col("__ties").cast("double") / (nd * (nd - 1.0)))))
      .withColumn("p_value", normalSfTwoSided(col("z")))
      .select(col(byCol), col("n1"), col("n2"), col("u1"), col("u2"),
        col("z"), col("p_value"))
  }

  /** X19: Kruskal-Wallis H per `byCol` — the k-group extension of
    * [[mannWhitney]] (scipy.stats.kruskal): pooled midranks from the
    * same distinct-value histogram, per-group rank sums, the standard
    * tie-corrected H. Rank sums stay EXACT (half-integers × longs);
    * the Σ R_j²/n_j aggregation order can wobble the last ulp of H —
    * the usual trunc-6 display class. The chi2 p-value runs
    * engine-side ([[graft.functions.PValues.chi2]]) and is pinned by
    * spec fixtures, not the SQL oracle — the x7 precedent for
    * iterative special functions whose replay isn't closed-form. */
  def kruskalWallis(df: DataFrame, valueCol: String, groupCol: String,
                    byCol: String): DataFrame = {
    val h1 = df.groupBy(col(byCol), col(valueCol).as("__v"),
        col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__njv"))
    val nv = h1.groupBy(col(byCol), col("__v"))
      .agg(sum(col("__njv")).as("__nv"))
    val w = Window.partitionBy(col(byCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val mids = nv
      .withColumn("__mid",
        coalesce(sum(col("__nv")).over(w), lit(0L)).cast("double") +
          (col("__nv").cast("double") + 1.0) / 2.0)
    val rsum = h1.join(mids.hint("shuffle_hash"), Seq(byCol, "__v"))
      .groupBy(col(byCol), col("__g"))
      .agg(sum(col("__njv").cast("double") * col("__mid")).as("__rj"),
        sum(col("__njv")).as("__nj"))
    val ties = mids.groupBy(col(byCol))
      .agg(sum(col("__nv").cast("double") * col("__nv").cast("double") *
        col("__nv").cast("double") - col("__nv").cast("double"))
        .as("__ties")) // double for the same overflow reason as mannWhitney
    val nd = col("__ntot").cast("double")
    rsum.groupBy(col(byCol))
      .agg(sum(col("__nj")).as("__ntot"),
        count(lit(1)).as("k"),
        sum(col("__rj") * col("__rj") / col("__nj").cast("double")).as("__s"))
      .join(ties.hint("shuffle_hash"), Seq(byCol))
      .withColumn("__h_raw",
        lit(12.0) / (nd * (nd + 1.0)) * col("__s") - lit(3.0) * (nd + 1.0))
      .withColumn("h", col("__h_raw") /
        (lit(1.0) - col("__ties").cast("double") / (nd * nd * nd - nd)))
      .withColumn("dof", col("k") - 1)
      .withColumn("p_value",
        PValues.chi2(col("h"), col("dof").cast("double")))
      .select(col(byCol), col("__ntot").as("n"), col("k"), col("dof"),
        col("h"), col("p_value"))
  }

  /** SQL mirror of [[kruskalWallis]] (sans the engine-side p): CTEs
    * `kwh/kwn/kwm/kwr/kwt/kws` over `src(by, v, grp)`; caller SELECTs
    * from `kws`. Same operation order as the Column form. */
  def kruskalWallisSql(byCol: String): String =
    s"""kwh AS (
       |  SELECT $byCol, v, grp, count(*) AS njv
       |  FROM src GROUP BY $byCol, v, grp),
       |kwn AS (
       |  SELECT $byCol, v, CAST(sum(njv) AS BIGINT) AS nv
       |  FROM kwh GROUP BY $byCol, v),
       |kwm AS (
       |  SELECT $byCol, v, nv,
       |    CAST(coalesce(sum(nv) OVER (PARTITION BY $byCol ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
       |      + (CAST(nv AS DOUBLE) + 1.0) / 2.0 AS mid
       |  FROM kwn),
       |kwr AS (
       |  SELECT h.$byCol, h.grp,
       |    sum(CAST(h.njv AS DOUBLE) * m.mid) AS rj,
       |    CAST(sum(h.njv) AS BIGINT) AS nj
       |  FROM kwh h JOIN kwm m ON h.$byCol = m.$byCol AND h.v = m.v
       |  GROUP BY h.$byCol, h.grp),
       |kwt AS (
       |  SELECT $byCol, sum(CAST(nv AS DOUBLE) * CAST(nv AS DOUBLE)
       |           * CAST(nv AS DOUBLE) - CAST(nv AS DOUBLE)) AS ties
       |  FROM kwm GROUP BY $byCol),
       |kws AS (
       |  SELECT r.$byCol,
       |    CAST(sum(r.nj) AS BIGINT) AS n,
       |    CAST(count(*) AS BIGINT) AS k,
       |    CAST(count(*) AS BIGINT) - 1 AS dof,
       |    (12.0 / (CAST(sum(r.nj) AS DOUBLE) * (CAST(sum(r.nj) AS DOUBLE) + 1.0))
       |       * sum(r.rj * r.rj / CAST(r.nj AS DOUBLE))
       |       - 3.0 * (CAST(sum(r.nj) AS DOUBLE) + 1.0)) /
       |    (1.0 - CAST(any_value(t.ties) AS DOUBLE) /
       |      (CAST(sum(r.nj) AS DOUBLE) * CAST(sum(r.nj) AS DOUBLE)
       |        * CAST(sum(r.nj) AS DOUBLE) - CAST(sum(r.nj) AS DOUBLE))) AS h
       |  FROM kwr r JOIN kwt t ON r.$byCol = t.$byCol
       |  GROUP BY r.$byCol)
       |""".stripMargin

  /** SQL mirror of [[mannWhitney]] as a WITH-fragment: CTEs
    * `mwh/mwr/mwa/mwz` over an input CTE `src(by, v, flag)`; the
    * caller SELECTs from `mwz`. Every double operation appears in the
    * same order as the Column form. DuckDB sums of BIGINT go HUGEINT,
    * so the counts are CAST back. */
  def mannWhitneySql(byCol: String): String =
    s"""mwh AS (
       |  SELECT $byCol, v, count(*) AS nv,
       |         sum(CASE WHEN flag THEN 1 ELSE 0 END) AS n1v
       |  FROM src GROUP BY $byCol, v),
       |mwr AS (
       |  SELECT $byCol, nv, n1v,
       |    CAST(coalesce(sum(nv) OVER (PARTITION BY $byCol ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
       |      + (CAST(nv AS DOUBLE) + 1.0) / 2.0 AS mid
       |  FROM mwh),
       |mwa AS (
       |  SELECT $byCol,
       |    CAST(sum(n1v) AS BIGINT) AS n1,
       |    CAST(sum(nv) AS BIGINT) AS n,
       |    sum(CAST(n1v AS DOUBLE) * mid) AS r1,
       |    sum(CAST(nv AS DOUBLE) * CAST(nv AS DOUBLE)
       |        * CAST(nv AS DOUBLE) - CAST(nv AS DOUBLE)) AS ties
       |  FROM mwr GROUP BY $byCol),
       |mwz AS (
       |  SELECT $byCol, n1, n - n1 AS n2,
       |    r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0 AS u1,
       |    CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) -
       |      (r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0) AS u2,
       |    ((r1 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)
       |      - CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 2.0) /
       |    sqrt(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0 *
       |      ((CAST(n AS DOUBLE) + 1.0) - CAST(ties AS DOUBLE) /
       |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))) AS z
       |  FROM mwa)
       |""".stripMargin
}
