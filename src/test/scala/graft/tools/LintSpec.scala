package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The output-path FP-parity lint (VERDICT r8 item 2): no registered
  * query may round a double and cast it to DECIMAL after its last
  * aggregation — the shape that produced driver-hash-red rows in
  * correctness rounds 6, 7, and 8. Plan analysis only; nothing runs. */
class LintSpec extends AnyFunSuite with SparkSpec {

  test("lint catches a post-aggregation round→decimal cast (positive control)") {
    import spark.implicits._
    val bad = Seq((1, 3.0), (1, 4.0), (2, 5.0)).toDF("k", "v")
      .groupBy($"k").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .select($"k", round($"s" / $"n", 4).cast("decimal(8,4)").as("ratio"))
    assert(Lint.roundDecimalOffenses(bad).nonEmpty,
      "lint must flag the known-fragile shape")
  }

  test("lint allows the per-row exact-sum contract inside aggregates (negative control)") {
    import spark.implicits._
    val ok = Seq((1, 3.0), (2, 5.0)).toDF("k", "v")
      .select($"k", round($"v", 9).cast("decimal(28,9)").as("vd"))
      .groupBy($"k").agg(sum($"vd").as("s"))
    assert(Lint.roundDecimalOffenses(ok).isEmpty,
      "per-row round→decimal feeding an aggregate is the dsum contract")
  }

  test("lint catches an int64 product cast to decimal (positive control)") {
    import spark.implicits._
    val bad = Seq((3L, 4L), (5L, 6L)).toDF("a", "b")
      .select(($"a" * $"b").cast("decimal(38,0)").as("p"))
    assert(Lint.longProductDecimalOffenses(bad).nonEmpty,
      "lint must flag the cast-the-product-not-the-factors shape")
  }

  test("lint allows decimal-before-multiply (negative control)") {
    import spark.implicits._
    val ok = Seq((3L, 4L)).toDF("a", "b")
      .select(($"a".cast("decimal(19,0)") * $"b").as("p"))
    assert(Lint.longProductDecimalOffenses(ok).isEmpty,
      "casting the factors first is the prescribed fix")
  }

  /** Sites whose multiply factors are bounded by a VALUE DOMAIN —
    * never a row count — so the int64 product cannot reach the wrap
    * point at any corpus size. Every entry names the bound. */
  private val boundedLongProduct: Map[String, String] = Map(
    "q_agg_moments" ->
      "qi = l_quantity×100 ≤ ~5·10³ (value domain, scaladoc'd); qi⁴ ≤ 6.3·10¹⁴",
    "q_stat_friedman" ->
      "rk ≤ k treatments WITHIN a block (bounded grid), ×2 stays tiny",
    "q_stat_page_trend" ->
      "rk ≤ k treatments WITHIN a block (bounded grid), ×2 stays tiny",
    "q_stat_icc" ->
      "vc = event value cents (value domain ≤ ~10⁶); vc² ≤ 10¹²",
    "q_stat_welch_anova" ->
      "vc = c_acctbal cents (value domain ≤ ~10⁶); vc² ≤ 10¹²",
    "q_stat_yuen" ->
      "wv = winsorized value cents (value domain ≤ ~10⁶); wv² ≤ 10¹²")

  test("no registered query casts an int64 product to DECIMAL (q_stat_cvm/ad overflow class)") {
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        if (boundedLongProduct.contains(name)) None
        else {
          val off = Lint.longProductDecimalOffenses(fn(spark, sfDir))
          if (off.nonEmpty) Some(s"$name: ${off.mkString("; ")}") else None
        }
    }
    assert(offenders.isEmpty,
      s"int64 products cast to decimal (cast the FACTORS first):\n${offenders.mkString("\n")}")
  }

  /** Sites where the round(double)→DECIMAL in the output region is the
    * dsum exact-merge contract applied WITHOUT an aggregate boundary
    * above it (the r15 rewrites moved per-term rounding into lambda /
    * unrolled-column arithmetic, so the lint's output-region walker now
    * sees what used to sit below an Aggregate). Every entry names why
    * the half-tie hazard the lint guards does not apply. */
  private val exactRoundMerge: Map[String, String] = Map(
    "q_text_secrets" ->
      ("per-CHARACTER entropy terms -(m/n)·log2(m/n) rounded to 9 dp and " +
        "merged as DECIMAL(20,9) inside one higher-order lambda: (m,n) " +
        "ranges over a finite token-length domain (n ≤ token length), the " +
        "identical term chain is written in the oracle SQL, and the " +
        "oracle PASS at every SF pins engine agreement on the whole " +
        "domain — the merge itself is exact decimal, order-independent"),
    "q_ts_pacf" ->
      ("Durbin–Levinson phi·rho products rounded to 12 dp and merged as " +
        "DECIMAL(25,12) through the UNROLLED ≤5-lag recursion (one row " +
        "per series, no aggregate above them): every round(.,12) chain " +
        "is copied verbatim into the oracle SQL so both engines replay " +
        "the identical written chain — the decimal merges are exact; " +
        "the r14 form had the same arithmetic below a join boundary"))

  /** The exact offense multiset each [[exactRoundMerge]] query produces
    * today: a new round→decimal site in either query still fails. */
  private val exactRoundMergeOffenses: Map[String, Seq[String]] = {
    // m/n: one character's share of its token, written twice in the term
    val share = "CAST(size(filter(transform(sequence(1, length(namedlambdavariable())), " +
      "lambdafunction(substring(namedlambdavariable(), namedlambdavariable(), 1), " +
      "namedlambdavariable())), lambdafunction((namedlambdavariable() = " +
      "namedlambdavariable()), namedlambdavariable()))) AS DOUBLE) / " +
      "CAST(CAST(length(namedlambdavariable()) AS DOUBLE) AS DOUBLE)"
    Map(
      "q_text_secrets" -> Seq(
        "Project: CAST((namedlambdavariable() + CAST(round((((- (" + share +
          ")) * ln((" + share + "))) / ln(2.0D)), 9) AS DECIMAL(20,9))) AS DECIMAL(20,9))"),
      // order k uses phi_k_j·rho_(k+1-j) and phi_k_j·rho_j for j in 1..k
      "q_ts_pacf" -> (for {
        k <- 1 to 4; j <- 1 to k; lag <- Seq(k + 1 - j, j)
      } yield s"Project: CAST(round((__phi_${k}_$j * rho$lag), 12) AS DECIMAL(25,12))"))
  }

  test("every registered query's output path is free of round(double)→DECIMAL") {
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val off = Lint.roundDecimalOffenses(fn(spark, sfDir))
        val expected =
          if (exactRoundMerge.contains(name)) exactRoundMergeOffenses(name) else Nil
        if (off.sorted != expected.sorted)
          Some(s"$name: ${off.mkString("; ")} (expected ${expected.size} pinned)")
        else None
    }
    assert(offenders.isEmpty,
      s"fragile round→decimal output paths:\n${offenders.mkString("\n")}")
  }
}
