package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Artifacts, Tables}
import graft.ml.{GramOls, LinearScore, Lstm, Models}
import graft.ops.{Derive, Windows}
import graft.streaming.BoundedStream

/** SURVEY §2.10 ML layer (X10-X13, X15) + J6 as registered queries.
  *
  * Oracle policy: model *fits* are not ANSI-SQL-expressible → rows-only
  * driver checks here, with the behavioural assertions (R² ladder
  * ordering, M3 > 0.85 on lag-persistent data, scaler equivalence) in
  * MlModelsSpec. The MinMax scale/inverse queries ARE pure arithmetic
  * and get full DuckDB oracles.
  */
object MlQueries extends Q.Registry {
  import RelationalQueries.{clean, enrSql}

  /** Station-level NN distance (J5 output) reused as the X10 feature.
    * Truncated to the same millimeter grid as j5's output: trig output
    * differs across engines by ulps, so the truncation is what makes
    * the model frame — and everything scored from it — bit-identical
    * between Spark and the DuckDB oracle restatement. */
  private def nnDist(s: SparkSession, d: String): DataFrame =
    Analog.info(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .crossJoin(broadcast(Analog.mrt(s, d)))
      .withColumn("dist_m", Derive.haversineMeters(
        col("lat"), col("lng"), col("mrt_lat"), col("mrt_lng")))
      .groupBy("station_no")
      .agg(Fmt.trunc(min("dist_m"), 3).as("dist_to_mrt"))

  /** The notebook-cell-7 model frame (01:1115-1130): clean + lag1 +
    * hour-as-categorical + is_weekend + dist_to_mrt, both rates in
    * [0,1] (01:1123-1125). */
  def modelFrame(s: SparkSession, d: String): DataFrame =
    clean(s, d)
      .withColumn("filling_rate_lag1",
        Windows.lag1(col("filling_rate"), col("station_no"),
          col("record_time"), col("event_id")))
      .withColumn("hour_str", col("hour").cast("string"))
      .withColumn("is_weekend_d", Derive.isWeekend(col("record_time")).cast("double"))
      .join(broadcast(nnDist(s, d)), Seq("station_no"), "left")
      .filter(col("filling_rate_lag1").between(0.0, 1.0))
      .na.drop(Seq("filling_rate", "dist_to_mrt", "total_spaces"))

  /** [[modelFrame]], cached once per session: the x10 ladder fit and the
    * x10/x15/x17 scoring passes read it (a cache of the same plan by
    * [[Warm.prime]] stays Warm's). */
  private def cachedModelFrame(s: SparkSession, d: String): DataFrame =
    Artifacts.frame(s, d, "model_frame")(modelFrame(s, d))

  /** The reference's three OLS formulas (01:1139-1148). */
  private[queries] val M1F = "filling_rate ~ dist_to_mrt + total_spaces + district"
  private[queries] val M2F = "filling_rate ~ dist_to_mrt + total_spaces + district + hour_str + is_weekend_d"
  private[queries] val M3F = "filling_rate ~ dist_to_mrt + total_spaces + hour_str + filling_rate_lag1"
  private val catCols = Set("district", "hour_str")

  /** ALL THREE fitted models unrolled to literal terms, fitted once per
    * dir ([[Artifacts]] "ols_ladder", dropped by x10's refit
    * reset) — [[GramOls.ladder]] solves the whole nested ladder from one
    * tree-aggregated gram pass (plus one collect_set job for the
    * categorical domains), so asking for any formula prices the scan
    * once, not per model. One fit feeds BOTH the Spark query and the
    * generated DuckDB oracle in the same JVM (Verify runs queries
    * first, dumps oracle_sql.json after), so the hash compare is exact
    * no matter how the fit itself behaves run-to-run. The model frame
    * is its own session artifact, so the reset refits over it without
    * rebuilding it. */
  private[queries] def fittedFit(s: SparkSession, d: String,
                                 formula: String): GramOls.OlsFit = {
    val ladder = Artifacts.get(Artifacts.Jvm, d, "ols_ladder") { _ =>
      GramOls.ladderInfer(cachedModelFrame(s, d), Seq(M1F, M2F, M3F), catCols)
    }
    require(ladder.contains(formula), s"formula not in the fitted ladder: $formula")
    ladder(formula)
  }
  private[queries] def fittedScore(s: SparkSession, d: String,
                                   formula: String): LinearScore =
    fittedFit(s, d, formula).score

  private def oracleScore(formula: String): Option[LinearScore] =
    Tables.withPrimedSession(s"'$formula'")(fittedScore(_, _, formula))

  private def oracleFit(formula: String): Option[GramOls.OlsFit] =
    Tables.withPrimedSession(s"'$formula' (inference)")(fittedFit(_, _, formula))

  /** x17's term labels: statsmodels-summary row names, deterministic
    * and identical between the Spark query and the generated oracle
    * (`const` first like statsmodels, then `col` / `col[value]`). */
  private def inferenceLabels(fit: GramOls.OlsFit): Seq[String] =
    "const" +: fit.score.terms.map {
      case graft.ml.LinearScore.Num(c, _)    => c
      case graft.ml.LinearScore.Cat(c, v, _) => s"$c[$v]"
    }

  /** x11's station×hour pivot, trunc-6 + fillna-0 — the SAME cell
    * arithmetic a3's full-oracle row proves bit-identical in DuckDB,
    * so distances computed from it are cross-engine exact. */
  private def kmeansPivot(s: SparkSession, d: String): DataFrame = {
    val p = clean(s, d)
      .groupBy("station_no").pivot("hour", 0 to 23)
      .agg(Fmt.trunc(avg("filling_rate"), 6)).na.fill(0.0)
    p.select(col("station_no") +: (0 to 23).map(h => col(s"`$h`").as(s"h$h")): _*)
  }
  private val pivotCols: Seq[String] = (0 to 23).map(h => s"h$h")

  /** [[kmeansPivot]], cached once per session: the x11 fit and its
    * assignment pass read one materialized aggregate. */
  private def cachedPivot(s: SparkSession, d: String): DataFrame =
    Artifacts.frame(s, d, "kmeans_pivot")(kmeansPivot(s, d))

  /** The fitted K-Means centroids (k=4, seed 42) over [[kmeansPivot]],
    * fitted once per dir ([[Artifacts]] "kmeans_centroids",
    * dropped by x11's refit reset) — same share-the-fit contract as
    * [[fittedScore]]: the Spark query and the generated oracle read the
    * same centers in the same JVM, so cluster labels (arbitrary per
    * fit) always agree. The pivot is its own session artifact, so a
    * refit does not re-run the pivot shuffle. */
  private[queries] def fittedCentroids(s: SparkSession, d: String): Array[Array[Double]] =
    Artifacts.get(Artifacts.Jvm, d, "kmeans_centroids") { _ =>
      // driver-side Lloyd's on the cached dimension-sized pivot (the
      // aggregate-before-ML shape — see kmeansCentersLocal's scaladoc;
      // r7: replaces the spark.ml fit whose per-iteration job launches
      // dominated x11's measured time)
      Models.kmeansCentersLocal(cachedPivot(s, d), pivotCols)
    }

  private def oracleCentroids: Option[Array[Array[Double]]] =
    Tables.withPrimedSession("x11")(fittedCentroids)

  /** DuckDB restatement of [[modelFrame]] as a `mf` CTE: clean + lag1 +
    * hour_str/is_weekend_d derives + the trunc-3 NN distance. Every
    * input column a fitted formula can reference is reproduced
    * bit-identically (divisions and window lags are exact; the one
    * trig-derived column is truncated on both sides). */
  /** The J5 station->MRT distance as a reusable oracle CTE (shared by
    * the model frame and the st5 serving stream). */
  private[queries] val nnSqlCte: String =
    """, nn AS (
      |    SELECT station_no,
      |           floor((min(2.0 * 6371000.0 * atan2(sqrt(a), sqrt(1.0 - a)))) * 1e3 + 1e-6) / 1e3 AS dist_to_mrt
      |    FROM (
      |      SELECT station_no,
      |             pow(sin(radians(mrt_lat - lat) / 2), 2) +
      |             cos(radians(lat)) * cos(radians(mrt_lat)) *
      |             pow(sin(radians(mrt_lng - lng) / 2), 2) AS a
      |      FROM info CROSS JOIN mrt)
      |    GROUP BY station_no)
      |""".stripMargin

  private[queries] val mfSql: String = RelationalQueries.enrSql + nnSqlCte +
    """, mf AS (
      |    SELECT * FROM (
      |      SELECT clean.*, CAST(hour AS VARCHAR) AS hour_str,
      |             CAST(isodow(record_time) > 5 AS DOUBLE) AS is_weekend_d,
      |             lag(filling_rate) OVER (PARTITION BY station_no
      |               ORDER BY record_time, event_id) AS filling_rate_lag1,
      |             nn.dist_to_mrt
      |      FROM clean LEFT JOIN nn USING (station_no))
      |    WHERE filling_rate_lag1 BETWEEN 0 AND 1
      |      AND filling_rate IS NOT NULL AND dist_to_mrt IS NOT NULL
      |      AND total_spaces IS NOT NULL)
      |""".stripMargin

  /** X14's pinned serving weights (D=1, H=3): deterministic sin/cos
    * formulas so the Scala UDF and the generated SQL oracle embed the
    * exact same doubles (Double.toString round-trips bit-exactly
    * through DuckDB's literal parser). */
  private[queries] lazy val lstmW: Lstm.LstmWeights = Lstm.LstmWeights(
    inputSize = 1, hidden = 3,
    wIh = Array.tabulate(12, 1)((k, _) => math.sin(0.7 * k + 0.3) * 0.5),
    wHh = Array.tabulate(12, 3)((k, j) => math.cos(0.9 * k + 0.2 * j) * 0.5),
    bIh = Array.tabulate(12)(k => math.sin(1.3 * k) * 0.1),
    bHh = Array.tabulate(12)(k => math.cos(1.7 * k) * 0.1),
    fcW = Array.tabulate(3)(j => math.sin(2.1 * j + 0.5)),
    fcB = 0.25)

  /** The LSTM forward pass unrolled into chained CTEs — with the
    * weights as literals it is pure (exp, tanh, +, ×) arithmetic, so
    * the NN scorer gets a full DuckDB oracle. Generated to match the
    * Scala loop's float-op order exactly: gate pre-activation =
    * ((b + w·x) + Σ wh·h) left-assoc, c' = f·c + i·g, h' = o·tanh(c').
    * Old state is renamed (oc*) per step so no CTE ever references a
    * lateral alias. */
  private[queries] def lstmOracleSql: String = {
    val w = lstmW
    val H = w.hidden
    def lit(x: Double): String = x.toString
    def sig(e: String): String = s"1.0/(1.0 + exp(-($e)))"
    // DuckDB 1.0.0 ships no tanh; the exp identity differs from JVM
    // Math.tanh by ≤1 ulp, absorbed by the trunc-6 output grid
    def th(e: String): String = s"((exp(2.0*($e)) - 1.0)/(exp(2.0*($e)) + 1.0))"
    val zeros = ((1 to H).map(j => s"CAST(0.0 AS DOUBLE) AS h$j") ++
      (1 to H).map(j => s"CAST(0.0 AS DOUBLE) AS c$j")).mkString(", ")
    val steps = (1 to 3).map { t =>
      val ocs = (1 to H).map(j => s"c$j AS oc$j").mkString(", ")
      val pre = (0 until 4 * H).map { k =>
        val b = lit(w.bIh(k) + w.bHh(k))
        val hs = (0 until H).map(j => s" + ${lit(w.wHh(k)(j))}*h${j + 1}").mkString
        s"$b + ${lit(w.wIh(k)(0))}*x$t$hs AS p$k"
      }.mkString(",\n      ")
      val state = (0 until H).map { j =>
        val cNew = s"${sig(s"p${H + j}")}*oc${j + 1} + ${sig(s"p$j")}*${th(s"p${2 * H + j}")}"
        s"$cNew AS c${j + 1},\n      ${sig(s"p${3 * H + j}")}*${th(cNew)} AS h${j + 1}"
      }.mkString(",\n      ")
      s"""|, g$t AS (
          |    SELECT event_id, x1, x2, x3, $ocs,
          |      $pre
          |    FROM s${t - 1})
          |, s$t AS (
          |    SELECT event_id, x1, x2, x3,
          |      $state
          |    FROM g$t)""".stripMargin
    }.mkString("\n")
    val head = (s"${lit(w.fcB)}" +:
      (0 until H).map(j => s"${lit(w.fcW(j))}*h${j + 1}")).mkString(" + ")
    enrSql +
      s"""|, seqs AS (
          |    SELECT event_id,
          |      lag(filling_rate, 2) OVER w AS x1,
          |      lag(filling_rate, 1) OVER w AS x2,
          |      filling_rate AS x3
          |    FROM enr WHERE filling_rate IS NOT NULL
          |    WINDOW w AS (PARTITION BY station_no ORDER BY record_time, event_id))
          |, s0 AS (
          |    SELECT event_id, x1, x2, x3, $zeros
          |    FROM seqs WHERE x1 IS NOT NULL AND x2 IS NOT NULL)
          |$steps
          |SELECT event_id, ${Fmt.sql6(head)} AS lstm_score FROM s3""".stripMargin
  }

  val all: Seq[Q] = Seq(

    Q("x10_ols_ladder",
      "Three nested OLS models from ONE gram pass (X10, 01:1139-1151): " +
        "M1 structural, M2 +time dummies, M3 +lag — GramOls reads each " +
        "model's normal equations off a shared tree-aggregated gram " +
        "matrix, so the ladder costs one fact scan, and emits the " +
        "R-squared ladder. R² is restated as 1 − SSE/SST over the " +
        "fitted model's unrolled scoring expression (coefficients as " +
        "literals, the X14 pattern), so the whole row is hash-oracled " +
        "against DuckDB computing the identical arithmetic (01:1151); " +
        "the *fit* assertions (ladder ordering, M3 > 0.85, spark.ml " +
        "prediction parity) live in MlModelsSpec/GramOlsSpec. Note: M2 " +
        "is rank-deficient BY CONSTRUCTION (is_weekend over the " +
        "weekday-filtered frame, faithful to 01: df_analysis is " +
        "weekday-only and statsmodels pinv-solves it silently) — " +
        "GramOls pinv-solves it the same way.",
      (s, d) => {
        val frame = cachedModelFrame(s, d)
        val fitted = Seq("M1" -> M1F, "M2" -> M2F, "M3" -> M3F).map {
          case (name, f) => (name, fittedScore(s, d, f))
        }
        // ONE aggregate pass scores all three models (per-model SSE
        // columns + the shared SST terms), then explode-stacks the
        // single row into the 3-row ladder — same per-model arithmetic
        // as the oracle's UNION ALL restatement, a third of the jobs
        val y = col("filling_rate")
        val aggs = fitted.map { case (name, ls) =>
          sum((y - ls.column) * (y - ls.column)).as(s"sse_$name")
        } ++ Seq(sum(y * y).as("syy"), sum(y).as("sy"), count(lit(1)).as("n"))
        val ladderRows = fitted.map { case (name, ls) =>
          struct(
            lit(name).as("model"),
            Fmt.trunc(lit(1.0) - col(s"sse_$name") /
              (col("syy") - col("sy") * col("sy") / col("n")), 6).as("r2"),
            lit(ls.terms.length).as("n_features"))
        }
        frame.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(ladderRows: _*)).as("r"))
          .select(col("r.model"), col("r.r2"), col("r.n_features"))
          .orderBy("model")
      },
      oracleScore(M1F).flatMap { ls1 =>
        oracleScore(M2F).flatMap { ls2 =>
          oracleScore(M3F).map { ls3 =>
            val blocks = Seq("M1" -> ls1, "M2" -> ls2, "M3" -> ls3).map {
              case (name, ls) =>
                val r2 = "1.0 - sum((y - p)*(y - p)) / " +
                  "(sum(y*y) - sum(y)*sum(y)/count(*))"
                s"""SELECT '$name' AS model, ${Fmt.sql6(r2)} AS r2,
                   |       CAST(${ls.terms.length} AS INT) AS n_features
                   |FROM (SELECT filling_rate AS y, (${ls.sql}) AS p FROM mf)""".stripMargin
            }
            mfSql + blocks.mkString("", "\nUNION ALL\n", "\nORDER BY model")
          }
        }
      }),

    Q("x17_ols_inference",
      "Coefficient-level OLS inference for the full M1/M2/M3 ladder " +
        "(X10, the statsmodels summary() the reference prints at " +
        "01:1151): per-coefficient std error, t-stat and two-sided " +
        "p-value from the SAME shared gram pass that fit the ladder — " +
        "se_j = sqrt(SSE/(n−rank) · (XᵀX)⁺_jj), p via the native " +
        "codegen'd t_pvalue expression. The (XᵀX)⁺ diagonals and ranks " +
        "are driver-side O(p²) byproducts of the fit (literals here, " +
        "the x11-centroid pattern); SSE and n are computed " +
        "DISTRIBUTED in one agg pass shared across all three models, " +
        "so the data-dependent part of every statistic is re-derived " +
        "over mf by both engines. The DuckDB oracle replays the " +
        "incomplete-beta continued fraction per coefficient (x16's " +
        "recursive CTE keyed by model|term). M2's null-space-locked " +
        "coefficient (is_weekend_d, constant on the weekday-only " +
        "frame) reports NULL inference on both sides — the honest " +
        "rendering of statsmodels' NaN rows on its deliberately " +
        "deficient design. GramOlsSpec pins se/t/p against closed-form " +
        "and numpy-derived fixtures.",
      (s, d) => {
        val frame = cachedModelFrame(s, d)
        val fits = Seq("M1" -> M1F, "M2" -> M2F, "M3" -> M3F).map {
          case (name, f) => (name, fittedFit(s, d, f))
        }
        val y = col("filling_rate")
        val aggs = fits.map { case (name, fit) =>
          sum((y - fit.score.column) * (y - fit.score.column)).as(s"sse_$name")
        } :+ count(lit(1)).cast("double").as("n")
        // one literal struct per coefficient, with its model's SSE; se, t
        // and p are then computed once over the exploded rows, so the
        // generated code holds one copy of the p-value expression, not
        // one per coefficient (which outgrew Java's 64 KB method limit)
        val rows = fits.flatMap { case (name, fit) =>
          val labels = inferenceLabels(fit)
          val coefs = fit.score.intercept +: fit.score.terms.map(_.coef)
          labels.indices.map { j =>
            struct(
              lit(name).as("model"),
              lit(labels(j)).as("term"),
              lit(coefs(j)).as("coef"),
              lit(fit.covDiag(j)).as("cjj"),
              lit(fit.rank.toDouble).as("rank"),
              lit(fit.wellDetermined(j)).as("well_determined"),
              col(s"sse_$name").as("sse"))
          }
        }
        val r = (field: String) => col(s"r.$field")
        val dfRes = col("n") - r("rank")
        val se = sqrt(r("sse") / dfRes * r("cjj"))
        val t = r("coef") / se
        val inferred = (c: Column) => when(r("well_determined"), Fmt.t6(c))
        frame.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(rows: _*)).as("r"), col("n"))
          .select(r("model").as("model"), r("term").as("term"),
            Fmt.t6(r("coef")).as("coef"),
            inferred(se).as("std_err"),
            inferred(t).as("t_stat"),
            inferred(graft.functions.PValues.t(t, dfRes)).as("p_value"),
            dfRes.cast("long").as("df_resid"))
          .orderBy("model", "term")
      },
      oracleFit(M1F).flatMap { f1 =>
        oracleFit(M2F).flatMap { f2 =>
          oracleFit(M3F).map { f3 =>
            val fits = Seq("M1" -> f1, "M2" -> f2, "M3" -> f3)
            val fitstats = fits.map { case (name, fit) =>
              s"""SELECT '$name' AS model, sum((y - p)*(y - p)) AS sse,
                 |       CAST(count(*) AS DOUBLE) AS n
                 |FROM (SELECT filling_rate AS y, (${fit.score.sql}) AS p FROM mf)""".stripMargin
            }.mkString("", "\nUNION ALL\n", "")
            val coefRows = fits.flatMap { case (name, fit) =>
              val labels = inferenceLabels(fit)
              val coefs = fit.score.intercept +: fit.score.terms.map(_.coef)
              labels.indices.map { j =>
                val cjj =
                  if (fit.wellDetermined(j)) s"CAST(${fit.covDiag(j)} AS DOUBLE)"
                  else "CAST(NULL AS DOUBLE)"
                s"('$name', '${labels(j)}', CAST(${coefs(j)} AS DOUBLE), $cjj, ${fit.rank})"
              }
            }.mkString(",\n    ")
            mfSql.replaceFirst("^WITH ", "WITH RECURSIVE ") +
              s""", fitstats AS (
                 |$fitstats),
                 |coefs(model, term, coef, cjj, rnk) AS (VALUES
                 |    $coefRows),
                 |tst AS (
                 |  SELECT c.model || '|' || c.term AS kid, c.model, c.term, c.coef,
                 |         sqrt(f.sse / (f.n - c.rnk) * c.cjj) AS se,
                 |         CASE WHEN c.cjj IS NULL THEN CAST(0.0 AS DOUBLE)
                 |              ELSE c.coef / sqrt(f.sse / (f.n - c.rnk) * c.cjj) END AS t_stat,
                 |         f.n - c.rnk AS df
                 |  FROM coefs c JOIN fitstats f USING (model)),
                 |${StatsQueries.tPvalueCfSql("kid")}
                 |SELECT t.model, t.term,
                 |       ${Fmt.sql6("t.coef")} AS coef,
                 |       ${Fmt.sql6("t.se")} AS std_err,
                 |       CASE WHEN t.se IS NULL THEN NULL
                 |            ELSE ${Fmt.sql6("t.t_stat")} END AS t_stat,
                 |       CASE WHEN t.se IS NULL THEN NULL
                 |            ELSE ${Fmt.sql6("pv.p")} END AS p_value,
                 |       CAST(t.df AS BIGINT) AS df_resid
                 |FROM tst t JOIN pv USING (kid)
                 |ORDER BY model, term""".stripMargin
          }
        }
      }),

    Q("x11_kmeans_j6",
      "K-Means k=4 seed=42 on the station-hour pivot (X11, 01:659-661) " +
        "+ cluster-attr lookup join back to the dim (J6, 01:682-686). " +
        "Full oracle since r5 via the centroids-as-literals pattern: " +
        "the in-session fit's centers unroll into the assignment " +
        "arithmetic (squared euclidean + first-min argmin) on both " +
        "sides, over the trunc-6 pivot a3 proves cross-engine exact — " +
        "so even the arbitrary cluster labels hash-match. MlModelsSpec " +
        "pins the expression assignment to model.transform.",
      (s, d) => {
        val pivot = cachedPivot(s, d)
        val centers = fittedCentroids(s, d)
        val dim = Analog.info(s, d).select("station_no", "district").dropDuplicates("station_no")
        pivot
          .withColumn("cluster", Models.kmeansAssignExpr(centers, pivotCols))
          .select("station_no", "cluster")
          .join(broadcast(dim), Seq("station_no"), "left")
          .orderBy("station_no")
      },
      oracleCentroids.map { centers =>
        RelationalQueries.enrSql +
          s""", pv AS (
             |  SELECT station_no, ${(0 to 23).map(h =>
                  s"coalesce(${Fmt.sql6(s"avg(CASE WHEN hour = $h THEN filling_rate END)")}, 0.0) AS h$h")
                  .mkString(", ")}
             |  FROM clean GROUP BY station_no)
             |SELECT station_no,
             |       ${Models.kmeansAssignSql(centers, pivotCols)} AS cluster,
             |       dim.district
             |FROM pv
             |LEFT JOIN (SELECT DISTINCT station_no, district FROM info) dim
             |  USING (station_no)
             |ORDER BY station_no""".stripMargin
      }),

    Q("x12_minmax_scale",
      "MinMax [0,1] scaling of rate and bikes (X12, 04:67-68) as exact " +
        "column arithmetic (MlModelsSpec proves equivalence to " +
        "ml.feature.MinMaxScaler on the same frame).",
      (s, d) => {
        val base = clean(s, d)
        val bounds = base.agg(
          min("filling_rate").as("r_min"), max("filling_rate").as("r_max"),
          min("bikes_available").as("b_min"), max("bikes_available").as("b_max"))
        base.crossJoin(broadcast(bounds))
          .select(
            col("event_id"),
            Fmt.trunc(Models.minMaxScaleExpr(
              col("filling_rate"), col("r_min"), col("r_max")), 6).as("rate_scaled"),
            Fmt.trunc(Models.minMaxScaleExpr(
              col("bikes_available"), col("b_min"), col("b_max")), 6).as("bikes_scaled"))
      },
      Some(enrSql +
        """SELECT event_id,
          |       floor(((filling_rate - r_min) / (r_max - r_min)) * 1e6 + 1e-6) / 1e6 AS rate_scaled,
          |       floor(((bikes_available - b_min) / (b_max - b_min)) * 1e6 + 1e-6) / 1e6 AS bikes_scaled
          |FROM clean CROSS JOIN (
          |  SELECT min(filling_rate) AS r_min, max(filling_rate) AS r_max,
          |         min(bikes_available) AS b_min, max(bikes_available) AS b_max
          |  FROM clean)""".stripMargin)),

    Q("x13_minmax_roundtrip",
      "MinMax inverse transform (X13, 04:303-312): unscale(scale(x)) " +
        "reproduces x — the direct-arithmetic replacement for the " +
        "reference's dummy-matrix trick.",
      (s, d) => {
        val base = clean(s, d)
        val bounds = base.agg(
          min("filling_rate").as("r_min"), max("filling_rate").as("r_max"))
        base.crossJoin(broadcast(bounds))
          .withColumn("rate_scaled",
            Models.minMaxScaleExpr(col("filling_rate"), col("r_min"), col("r_max")))
          .select(
            col("event_id"),
            col("filling_rate"),
            Fmt.trunc(Models.minMaxInverseExpr(
              col("rate_scaled"), col("r_min"), col("r_max")), 6).as("rate_roundtrip"))
      },
      Some(enrSql +
        """SELECT event_id, filling_rate,
          |       floor((((filling_rate - r_min) / (r_max - r_min)) * (r_max - r_min) + r_min) * 1e6 + 1e-6) / 1e6 AS rate_roundtrip
          |FROM clean CROSS JOIN (
          |  SELECT min(filling_rate) AS r_min, max(filling_rate) AS r_max
          |  FROM clean)""".stripMargin)),

    Q("x14_lstm_score",
      "LSTM batch scoring (X14 serving, 04:90-135): W5's 3-step rate " +
        "sequences through the engine-native forward pass with pinned " +
        "weights. Map-stage kernel — no shuffle beyond the window. The " +
        "oracle is the forward pass unrolled into SQL (weights as " +
        "literals), so even the NN scorer is hash-checked; training " +
        "(BPTT+Adam, Lstm.fit/fitDistributed) is spec-covered in " +
        "LstmSpec — fits are not SQL-expressible.",
      (s, d) => {
        val k = col("station_no")
        val ord = Seq(col("record_time"), col("event_id"))
        RelationalQueries.enriched(s, d)
          .filter(col("filling_rate").isNotNull)
          .withColumn("seq",
            Windows.slidingSeq(col("filling_rate"), 3, k, ord: _*))
          .filter(size(col("seq")) === 3)
          .withColumn("nested", transform(col("seq"), x => array(x)))
          .select(
            col("event_id"),
            Fmt.t6(Lstm.scoreUdf(lstmW)(col("nested"))).as("lstm_score"))
      },
      Some(lstmOracleSql)),

    Q("x15_scoring",
      "Batch scoring pipeline (X15, api/app/main.py:148-199): fit M3, " +
        "score the frame via the fitted model's unrolled expression " +
        "(coefficients as literals — the X14 pattern, so the FITTED " +
        "model's serving path is hash-oracled), convert rate → bikes, " +
        "clamp/round (P18). MlModelsSpec pins the expression scorer to " +
        "the spark.ml pipeline's transform() predictions. The NN slot " +
        "of the same seam is ml/Lstm.scoreUdf (X14, with in-engine " +
        "BPTT+Adam training — see x14_lstm_score and LstmSpec).",
      (s, d) => {
        val frame = cachedModelFrame(s, d)
        val p = fittedScore(s, d, M3F).column
        frame.select(
          col("event_id"),
          Fmt.t6(p).as("rate_pred"),
          Derive.clampRoundNonNeg(p * col("total_spaces")).as("bikes_pred"))
      },
      oracleScore(M3F).map { ls =>
        mfSql +
          s"""SELECT event_id,
             |       ${Fmt.sql6(s"(${ls.sql})")} AS rate_pred,
             |       CAST(greatest(0, CAST(round((${ls.sql}) * total_spaces) AS INT)) AS INT) AS bikes_pred
             |FROM mf""".stripMargin
      }),

    Q("st5_stream_scoring",
      "Model SERVING as a stream — the engine analog of the " +
        "reference's /predict endpoint (api/app/main.py:139-204; the " +
        "r7 verdict's one remaining reference behavior with no engine " +
        "analog): scoring requests arrive as an unbounded micro-batch " +
        "stream, features resolve through broadcast STREAM-STATIC dim " +
        "joins (station capacity + the J5 MRT distance), and the " +
        "fitted M3 model — the same memoized fit x10/x15/x17 share — " +
        "scores every request MAP-SIDE as unrolled literal " +
        "coefficients: no shuffle, no state store, serving latency = " +
        "the trigger cadence. Fit once, serve the stream. Oracle: the " +
        "identical request stream scored in batch.",
      (s, d) => {
        val p = fittedScore(s, d, M3F).column
        val req = IngestQueries.eventsStream(s, d)
          .join(broadcast(Analog.info(s, d).select("station_no", "total_spaces")),
            Seq("station_no"))
          .join(broadcast(nnDist(s, d)), Seq("station_no"))
          .withColumn("hour_str", hour(col("record_time")).cast("string"))
          // the request payload supplies the lag feature (the /predict
          // caller passes current state): current rate, clamped to the
          // model's [0,1] domain
          .withColumn("filling_rate_lag1",
            least(greatest(col("bikes_available") / col("total_spaces"), lit(0.0)),
              lit(1.0)))
        val scored = req.select(
          col("event_id"),
          Fmt.t6(p).as("rate_pred"),
          Derive.clampRoundNonNeg(p * col("total_spaces")).as("bikes_pred"))
        BoundedStream.toMemory(s, "append")(_ => scored)
          .orderBy("event_id")
      },
      oracleScore(M3F).map { ls =>
        RelationalQueries.enrSql + nnSqlCte +
          s""", req AS (
             |    SELECT s.event_id, i.total_spaces, nn.dist_to_mrt,
             |           CAST(hour(s.record_time) AS VARCHAR) AS hour_str,
             |           least(greatest(s.bikes_available / i.total_spaces, 0), 1) AS filling_rate_lag1
             |    FROM status s JOIN info i USING (station_no) JOIN nn USING (station_no))
             |SELECT event_id,
             |       ${Fmt.sql6(s"(${ls.sql})")} AS rate_pred,
             |       CAST(greatest(0, CAST(round((${ls.sql}) * total_spaces) AS INT)) AS INT) AS bikes_pred
             |FROM req ORDER BY event_id""".stripMargin
      })
  )
}
