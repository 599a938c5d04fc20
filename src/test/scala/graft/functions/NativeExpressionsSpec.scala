package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.stats.Distributions

/** The native codegen'd p-value expressions: interpreted eval and the
  * generated-Java path must agree with the Scala kernel, and the SQL
  * registration must make the functions callable from query text. */
class NativeExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("t_pvalue from SQL text equals Distributions.tTwoSidedP (codegen path)") {
    GraftFunctions.register(spark)
    val rows = Seq((2.5, 13.7), (-1.3, 7.0), (0.0, 99.0), (8.1, 2.5))
    val got = rows.toDF("t", "df")
      .selectExpr("t_pvalue(t, df)").as[Double].collect()
    val want = rows.map { case (t, df) => Distributions.tTwoSidedP(math.abs(t), df) }
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-14, s"$g vs $w") }
    // mpmath anchor (30-digit): 2*t_sf(2.5, 13.7) = 0.025784656471373132
    assert(math.abs(got(0) - 0.0257846564713731) < 1e-12)
  }

  test("chi2_pvalue from SQL text equals Distributions.chi2P") {
    GraftFunctions.register(spark)
    val got = Seq((31.4, 24.0), (0.5, 1.0)).toDF("x", "df")
      .selectExpr("chi2_pvalue(x, df)").as[Double].collect()
    assert(math.abs(got(0) - 0.1425810531522493) < 1e-12)
    assert(math.abs(got(1) - Distributions.chi2P(0.5, 1.0)) < 1e-14)
  }

  test("f_pvalue from SQL text equals Distributions.fP (codegen path)") {
    GraftFunctions.register(spark)
    // range (not a literal Seq) so the projection isn't constant-folded
    // into a LocalTableScan before the codegen stage we want to observe
    val df = spark.range(2).selectExpr(
      "f_pvalue(3.2 - cast(id as double) * 2.7, 4.0 - cast(id as double) * 2.0, " +
        "45.0 - cast(id as double) * 35.0)")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [f_pvalue"), plan) // inside WholeStageCodegen
    val got = df.as[Double].collect()
    // mpmath anchors (30-digit): F_sf(3.2; 4, 45) / F_sf(0.5; 2, 10)
    assert(math.abs(got(0) - 0.0214191556103225) < 1e-12)
    assert(math.abs(got(1) - 0.6209213230591551) < 1e-12)
    assert(math.abs(got(0) - Distributions.fP(3.2, 4.0, 45.0)) < 1e-14)
  }

  test("null inputs propagate null (nullIntolerant)") {
    GraftFunctions.register(spark)
    val got = Seq((Some(1.0), None: Option[Double]), (None, Some(3.0)))
      .toDF("t", "df").selectExpr("t_pvalue(t, df)")
      .as[Option[Double]].collect().toSeq
    assert(got === Seq(None, None))
  }

  test("the expression runs inside WholeStageCodegen (not a UDF black box)") {
    GraftFunctions.register(spark)
    val df = spark.range(1000).selectExpr(
      "t_pvalue(cast(id as double) / 100.0, 50.0) AS p")
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [t_pvalue"), plan)
    // and the whole kilorow batch evaluates correctly
    val ps = df.as[Double].collect()
    assert(ps.length === 1000 && ps.forall(p => p >= 0.0 && p <= 1.0))
    assert(math.abs(ps(0) - 1.0) < 1e-12) // t=0 → p=1
  }

  test("x2/x3/x5/x7 stat-test paths keep every scalar stage inside WholeStageCodegen " +
      "(p-values via the native expressions, no UDF anywhere)") {
    import graft.stats.StatTests
    val df = spark.range(400).select(
      (col("id") % 4).cast("string").as("grp"),
      (col("id") % 2).cast("string").as("cvar"),
      (col("id") % 7).cast("double").as("v"),
      (col("id") % 3 === 0).as("flag"))
    val paths = Map(
      "x2_tCI" -> StatTests.tCIByGroup(df, "v", "grp"),
      "x3_welch" -> StatTests.welchCohen(df, "v", col("flag")),
      "x5_anova" -> StatTests.anova(df, "v", "grp"),
      "x7_chi2" -> StatTests.chi2Summary(
        StatTests.chi2Cells(df, "grp", "cvar"), "grp", "cvar"))
    val expectNative = Map(
      "x3_welch" -> "t_pvalue", "x5_anova" -> "f_pvalue",
      "x7_chi2" -> "chi2_pvalue")
    for ((name, q) <- paths) {
      // materialize THIS dataset's own QueryExecution first (collect,
      // not count — count builds a separate one): under AQE the
      // codegen stages only exist in the FINAL adaptive plan
      assert(q.collect().length >= 1, s"$name must evaluate")
      // AdaptiveSparkPlan.toString appends the pre-adaptive plan under
      // an "== Initial Plan ==" header — only the final plan counts
      val plan = q.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // no interpreted escape hatch anywhere in the test path
      assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEval"),
        s"$name plan contains a UDF:\n$plan")
      // every Project (where the scalar distribution math lives) is
      // inside a WholeStageCodegen stage — "*(n)"-prefixed
      val bare = plan.linesIterator
        .filter(l => l.contains("Project [") && !l.contains("*("))
        .toSeq
      assert(bare.isEmpty, s"$name has non-codegen Projects: $bare")
      // and the native p-value expression sits in one of those stages
      expectNative.get(name).foreach { fn =>
        val line = plan.linesIterator.find(_.contains(fn))
        assert(line.exists(_.contains("*(")),
          s"$name: $fn not inside WholeStageCodegen:\n$plan")
      }
    }
  }

  test("GraftExtensions injects the functions into a SparkSessionExtensions hook") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; wiring is what's under test
  }

  test("register keeps graft's registrations and replaces a foreign function of the same name") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    val registry = spark.sessionState.functionRegistry
    GraftFunctions.register(spark)
    val infos = GraftFunctions.builders.map { case (name, cls, _) =>
      val info = registry.lookupFunction(FunctionIdentifier(name))
      assert(info.map(_.getClassName) === Some(cls.getName), name)
      info.get
    }
    // a repeat call re-registers nothing
    GraftFunctions.register(spark)
    GraftFunctions.builders.zip(infos).foreach { case ((name, _, _), before) =>
      assert(registry.lookupFunction(FunctionIdentifier(name)).exists(_ eq before),
        s"$name was registered again")
    }
    // a foreign function under a graft name is replaced
    registry.createOrReplaceTempFunction("t_pvalue",
      (_: Seq[Expression]) => Literal(42.0), "scala_udf")
    GraftFunctions.register(spark)
    val p = spark.sql("SELECT t_pvalue(2.5, 13.7)").as[Double].head()
    assert(math.abs(p - 0.0257846564713731) < 1e-12)
  }

  test("register and extensions expose the same seven functions (SQL-callable kernels included)") {
    GraftFunctions.register(spark)
    for (name <- Seq("t_pvalue", "chi2_pvalue", "f_pvalue",
        "dot_double", "sqdist_double", "simhash_pack", "minhash_sig"))
      assert(spark.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
        s"$name must be registered")
    // the array kernels work from SQL text, not just the Column API
    val d = spark.sql(
      "SELECT dot_double(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .as[Double].head()
    assert(d === 11.0)
  }
}
