package graft.ml

import breeze.linalg.{svd, DenseMatrix, DenseVector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X10's OLS ladder as ONE pass over the data: every nested formula's
  * normal equations are sub-blocks of a single gram matrix, so fitting
  * M1/M2/M3 costs one tree-aggregated scan instead of three spark.ml
  * pipeline fits (each of which pays its own StringIndexer passes, an
  * RFormula transform, a gram pass and a summary pass — ~9 scans for
  * the three-model ladder at notebooks/01_youbike_analysis.ipynb:1139-1148).
  *
  * Method: accumulate the upper triangle of Gᵀ G where G = [1, y, X_∪]
  * and X_∪ is the union of every formula's expanded features (one-hot
  * dummies written out as explicit indicator expressions). For each
  * formula, the normal-equation system (AᵀA)β = Aᵀy is read off the
  * shared triangle by index selection, then solved driver-side with a
  * Moore-Penrose pseudo-inverse — p is tens, so the solve is
  * microseconds. The truncated-SVD solve matches the reference's
  * statsmodels behavior on the DELIBERATELY rank-deficient M2
  * (statsmodels pinv-solves it silently, 01:1147; spark.ml instead
  * fails Cholesky and retries quasi-Newton): finite coefficients and
  * the unique least-squares fitted values (see [[solvePsd]] for the
  * exact coefficient-basis caveat on deficient systems).
  *
  * Scale posture: the scan is a map-side kernel over codegen'd
  * indicator columns + an O(p²)-per-row triangular update (p ≈ 40 →
  * ~800 FMA/row), tree-combined in O(log partitions); no shuffle, no
  * row materialization, driver traffic is one p²-sized array per
  * executor wave. This is exactly spark.ml's WeightedLeastSquares
  * shape, amortized across all models of the ladder — at 100 TB the
  * ladder costs one fact-table read instead of nine.
  *
  * Encoding note: categoricals expand to (cardinality − 1) dummies with
  * the lexicographically-last level as the base. RFormula instead drops
  * the least-frequent level — an equivalent parameterization spanning
  * the same column space, so fitted values, R², and n_features agree;
  * only the (reported-with-the-fit) coefficient basis differs.
  * GramOlsSpec pins prediction equality against spark.ml on full-rank
  * designs.
  */
object GramOls {

  /** A fitted formula with the coefficient-level inference statsmodels'
    * `summary()` prints (notebooks/01_youbike_analysis.ipynb:1151): the
    * unrolled scoring terms plus everything needed for per-coefficient
    * std errors / t-stats / p-values, all read off the SAME shared gram
    * pass that produced the coefficients — no extra scan.
    *
    * Layout: index 0 of [[covDiag]]/[[wellDetermined]] is the
    * intercept; index i+1 is `score.terms(i)`. [[covDiag]] holds the
    * diagonal of (XᵀX)⁺ (pseudo-inverse; exact inverse on full-rank
    * designs), so `se_j = sqrt(sigma2 * covDiag(j))`.
    * [[wellDetermined]] is false for a coefficient whose basis
    * direction fell in the cut null space (an exactly-collinear or
    * constant column, x10-M2's is_weekend over the weekday-only
    * frame): its minimum-norm coefficient is well-defined but
    * variance-based inference is not — consumers should surface NULL,
    * which is also what statsmodels' NaN rows communicate.
    *
    * [[sse]] is gram-derived (yᵀy − 2bᵀβ + βᵀAβ): algebraically equal
    * to Σ(y−ŷ)² over the data, differing only in float-summation
    * order. */
  final case class OlsFit(
      score: LinearScore,
      covDiag: IndexedSeq[Double],
      wellDetermined: IndexedSeq[Boolean],
      rank: Int,
      n: Double,
      sse: Double) {
    def dfResid: Double = n - rank
    /** σ̂² = SSE / (n − rank) — statsmodels' `scale` (its df_resid also
      * subtracts the detected rank, not the column count). */
    def sigma2: Double = sse / dfResid
    def stdErr(j: Int): Double = math.sqrt(sigma2 * covDiag(j))
  }

  /** Least-squares solve of the (symmetric PSD) normal equations
    * A·β = b with a RELIABLE null-space cut. On a rank-deficient system
    * the returned coefficients are the minimum-norm solution IN THE
    * EQUILIBRATED BASIS (not statsmodels' raw-coordinate minimum norm —
    * collinear columns of unequal scale split their shared weight
    * differently); the FITTED VALUES, the unique part of any LS
    * solution and the only part consumed downstream, agree. A raw
    * pseudo-inverse is scale-fragile here: gram diagonals span many
    * orders of magnitude (a count-scaled dummy next to a squared
    * physical feature), so a library default tolerance either truncates
    * genuine directions or — the observed failure — keeps a roundoff
    * null-direction singular value and explodes the coefficients to
    * 1e15. Jacobi-equilibrate first (scale to unit diagonal), then cut
    * singular values below 1e-8·max on the SCALED matrix, where the
    * intrinsic correlation structure — not the units — decides: an
    * exactly-collinear direction shows up at ~1e-13 and is cut, a
    * merely-correlated real design stays well above the line. */
  private[ml] def solvePsd(a: DenseMatrix[Double], b: DenseVector[Double]): DenseVector[Double] =
    solvePsdInfer(a, b)._1

  /** [[solvePsd]] plus the inference byproducts of the same SVD:
    * (β, diag of A⁺ in the ORIGINAL basis, per-coordinate kept-subspace
    * participation ∈ [0,1], rank). Participation is how much of basis
    * direction j survives the singular-value cut (Σ over kept
    * directions of U(j,·)·V(j,·)): ≈1 on a healthy coordinate, ≈0 on
    * one locked in the null space, where covDiag collapses to ~0 and
    * any se derived from it would be meaningless — callers gate on it
    * (see [[OlsFit.wellDetermined]]). */
  private[ml] def solvePsdInfer(a: DenseMatrix[Double], b: DenseVector[Double])
      : (DenseVector[Double], DenseVector[Double], DenseVector[Double], Int) = {
    val q = a.rows
    val d = DenseVector.tabulate(q) { i =>
      val x = a(i, i); if (x > 0.0) 1.0 / math.sqrt(x) else 1.0
    }
    val as = DenseMatrix.tabulate(q, q)((i, j) => a(i, j) * d(i) * d(j))
    val bs = DenseVector.tabulate(q)(i => b(i) * d(i))
    val svd.SVD(u, s, vt) = svd(as)
    val cut = (if (s.size > 0) breeze.linalg.max(s) else 0.0) * 1e-8
    val uTb = u.t * bs
    val y = DenseVector.tabulate(s.size)(i => if (s(i) > cut) uTb(i) / s(i) else 0.0)
    val gs = vt.t * y
    val beta = DenseVector.tabulate(q)(i => gs(i) * d(i))
    // pinv(As) = V·S⁺·Uᵀ over the kept directions; undo the Jacobi
    // equilibration (A = D⁻¹·As·D⁻¹ ⇒ A⁺ = D·As⁺·D, exact at full
    // rank — the deficient-basis caveat in the class scaladoc applies)
    val rank = (0 until s.size).count(i => s(i) > cut)
    val covDiag = DenseVector.tabulate(q) { j =>
      var acc = 0.0
      var i = 0
      while (i < s.size) {
        if (s(i) > cut) acc += u(j, i) * vt(i, j) / s(i)
        i += 1
      }
      acc * d(j) * d(j)
    }
    val part = DenseVector.tabulate(q) { j =>
      var acc = 0.0
      var i = 0
      while (i < s.size) {
        if (s(i) > cut) acc += u(j, i) * vt(i, j)
        i += 1
      }
      acc
    }
    (beta, covDiag, part, rank)
  }

  /** `label ~ t1 + t2 + …` (the R-formula subset the reference uses). */
  private[ml] def parse(formula: String): (String, Seq[String]) = {
    val sides = formula.split("~")
    require(sides.length == 2, s"formula must be 'label ~ terms': $formula")
    val terms = sides(1).split("\\+").map(_.trim).filter(_.nonEmpty).toSeq
    require(terms.nonEmpty, s"formula has no terms: $formula")
    (sides(0).trim, terms)
  }

  /** Fit every formula from one shared gram pass over `df`. All
    * formulas must share one label. `catCols` names the categorical
    * columns (expanded to indicator dummies over their observed
    * domain — one tiny collect_set job — before the pass). Rows with a
    * null/NaN in any union column are skipped whole, matching the
    * na.drop'd frames the callers feed in. */
  def ladder(df: DataFrame, formulas: Seq[String],
             catCols: Set[String]): Map[String, LinearScore] =
    ladderInfer(df, formulas, catCols).map { case (f, fit) => f -> fit.score }

  /** [[ladder]] with per-coefficient inference ([[OlsFit]]): same one
    * shared gram pass; the covariance diagonals, ranks and SSEs are
    * read off each formula's sub-block of the already-accumulated
    * triangle, so inference costs nothing extra over the data. */
  def ladderInfer(df: DataFrame, formulas: Seq[String],
                  catCols: Set[String]): Map[String, OlsFit] = {
    val parsed = formulas.map(f => f -> parse(f))
    val labels = parsed.map(_._2._1).distinct
    require(labels.size == 1, s"formulas must share one label, got $labels")
    val label = labels.head

    val termUnion: Seq[String] = parsed.flatMap(_._2._2).distinct
    val cats = termUnion.filter(catCols)
    cats.foreach { c =>
      require(df.schema(c).dataType == org.apache.spark.sql.types.StringType,
        s"categorical column $c must be StringType (cast before the fit), " +
          s"got ${df.schema(c).dataType}")
    }
    // mirror guard for the numeric side: a StringType term here would
    // cast to null double, every row would then fail the null skip, and
    // the fit would return an all-zero gram instead of failing loudly.
    // BooleanType stays admissible — it casts to a clean 0/1 regressor
    // (callers have always been able to fit flag columns directly)
    termUnion.filterNot(catCols).foreach { c =>
      val dt = df.schema(c).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          dt == org.apache.spark.sql.types.BooleanType,
        s"term $c must be numeric or boolean (or declared in catCols), got $dt")
    }
    val domains: Map[String, Seq[String]] =
      if (cats.isEmpty) Map.empty
      else {
        val aggs = cats.map(c => collect_set(col(c)).as(c))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        cats.zipWithIndex.map { case (c, i) =>
          c -> row.getSeq[String](i).sorted
        }.toMap
      }
    // the gram is O(p²) driver-side: an id-like "categorical" would
    // explode it. This guard fires after the (one) domain job, so it
    // catches the declared-categorical developer error before the
    // quadratic gram pass — a column with MILLIONS of distinct values
    // could still stress the collect_set job itself; callers own
    // declaring sane categoricals (the library's are district/hour)
    domains.foreach { case (c, vs) =>
      require(vs.size <= 1000,
        s"categorical $c has ${vs.size} levels — one-hot would make the " +
          "gram quadratic in it; bucket or drop the column first")
    }

    /** A term expanded to concrete features: (term, Some(level)) is one
      * dummy of a categorical, (term, None) a numeric column. */
    def expand(terms: Seq[String]): Seq[(String, Option[String])] =
      terms.flatMap { t =>
        if (catCols(t)) domains(t).dropRight(1).map(t -> Option(_))
        else Seq(t -> None)
      }

    val unionFeats = expand(termUnion)
    val featIdx: Map[(String, Option[String]), Int] =
      unionFeats.zipWithIndex.toMap
    def featCol(f: (String, Option[String])): Column = f match {
      // null-PROPAGATING dummy: a null category must surface as a null
      // feature so the row-skip below drops the whole row (the
      // documented contract) — a bare when/otherwise would silently
      // score it as the base level instead
      case (t, Some(v)) =>
        when(col(t).isNull, lit(null).cast("double"))
          .when(col(t) === lit(v), 1.0).otherwise(0.0)
      case (t, None) => col(t).cast("double")
    }

    // G row = [1, y, f1 … fp]; accumulate the upper triangle of GᵀG.
    val m = unionFeats.length + 2
    val cols = (lit(1.0) +: col(label).cast("double") +: unionFeats.map(featCol))
      .zipWithIndex.map { case (c, i) => c.as(s"g$i") }
    val triLen = m * (m + 1) / 2
    val tri = OrderedSum.sum(df.select(cols: _*).queryExecution.toRdd, triLen) { (acc, row) =>
      val v = new Array[Double](m)
      var i = 0
      var ok = true
      while (ok && i < m) {
        if (row.isNullAt(i)) ok = false
        else { v(i) = row.getDouble(i); if (v(i) != v(i)) ok = false }
        i += 1
      }
      if (ok) {
        var k = 0
        var a = 0
        while (a < m) {
          val va = v(a)
          var b = a
          while (b < m) { acc(k) += va * v(b); k += 1; b += 1 }
          a += 1
        }
      }
    }
    def at(i: Int, j: Int): Double = {
      val (a, b) = if (i <= j) (i, j) else (j, i)
      tri(a * m - a * (a - 1) / 2 + (b - a))
    }

    parsed.map { case (formula, (_, terms)) =>
      val feats = expand(terms)
      // gram indices: intercept at 0, label at 1, feature i at 2 + union idx
      val gi = 0 +: feats.map(f => 2 + featIdx(f))
      val q = gi.length
      val a = DenseMatrix.tabulate(q, q)((r, c) => at(gi(r), gi(c)))
      val b = DenseVector.tabulate(q)(r => at(gi(r), 1))
      val (beta, covDiag, part, rank) = solvePsdInfer(a, b)
      val ts = feats.zipWithIndex.map {
        case ((t, Some(v)), i) => LinearScore.Cat(t, v, beta(i + 1))
        case ((t, None), i)    => LinearScore.Num(t, beta(i + 1))
      }
      // SSE off the same gram block: yᵀy − 2bᵀβ + βᵀAβ
      val yy = at(1, 1)
      val sse = yy - 2.0 * (b dot beta) + (beta dot (a * beta))
      formula -> OlsFit(
        LinearScore(beta(0), ts),
        IndexedSeq.tabulate(q)(covDiag(_)),
        IndexedSeq.tabulate(q)(part(_) > 0.5),
        rank, at(0, 0), sse)
    }.toMap
  }
}
