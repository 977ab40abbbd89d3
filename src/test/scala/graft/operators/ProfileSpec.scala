package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkTestBase

class ProfileSpec extends SparkTestBase {
  import spark.implicits._

  test("profile: totals, null counts, distincts, and null_pct per column") {
    val df = Seq(
      (1L, Some("a"), Some(1.5)),
      (2L, None, Some(1.5)),
      (3L, Some("a"), None),
      (4L, Some("b"), Some(2.5))
    ).toDF("id", "s", "d")
    val out = Profile.profile(df, Seq("id", "s", "d"))
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("id") == ((4L, 4L, 4L, 0.0)))
    assert(out("s") == ((4L, 3L, 2L, 25.0)))
    assert(out("d") == ((4L, 3L, 2L, 25.0)))
  }

  test("profile: a repeated column name profiles once, in first-occurrence order") {
    val df = Seq((1L, Some("a")), (2L, None)).toDF("id", "s")
    val out = Profile.profile(df, Seq("id", "s", "id"))
      .as[(String, Long, Long, Long, Double)].collect()
    assert(out.toSeq == Seq(("id", 2L, 2L, 2L, 0.0), ("s", 2L, 1L, 1L, 50.0)))
  }

  test("profile: hostile column names (backtick, quote) profile instead of breaking") {
    val df = Seq((1L, "x"), (2L, "y"))
      .toDF("a`b", "it's")
    val out = Profile.profile(df, Seq("a`b", "it's"))
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("a`b") == ((2L, 2L, 2L, 0.0)))
    assert(out("it's") == ((2L, 2L, 2L, 0.0)))
  }

  test("histogram: floor-division buckets with inclusive lower bounds, nulls dropped") {
    val df = Seq(Some(0.5), Some(1.5), Some(2.5), Some(999.0), Some(1000.0),
      Some(2500.0), None).toDF("v")
    val out = Profile.histogram(df, "v", 1000.0)
      .as[(Long, Double, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(0L -> ((0.0, 4L)), 1L -> ((1000.0, 1L)), 2L -> ((2000.0, 1L))))
  }

  test("histogram: width must be positive") {
    val df = Seq(1.0).toDF("v")
    intercept[IllegalArgumentException] { Profile.histogram(df, "v", 0.0) }
  }

  test("winsorize: clips to the group's exact percentiles, interior values untouched") {
    // group "a": 1..10 — p0=1, p1=10 with pLo=0, pHi=1 leaves all as-is;
    // with [0.25, 0.75]: lo = 3.25, hi = 7.75 (index p*(n-1), interpolated)
    val df = (1 to 10).map(i => ("a", i.toDouble)).toDF("g", "v")
    val out = Profile.winsorize(df, "g", "v", 0.25, 0.75)
      .select("v", "clipped").as[(Double, Double)].collect().toMap
    assert(out(1.0) == 3.25 && out(2.0) == 3.25 && out(3.0) == 3.25)
    assert(out(5.0) == 5.0 && out(7.0) == 7.0, "interior values pass through")
    assert(out(8.0) == 7.75 && out(10.0) == 7.75)
  }

  test("winsorize: bounds are per group, not global") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 100.0), ("b", 200.0))
      .toDF("g", "v")
    val out = Profile.winsorize(df, "g", "v", 0.0, 1.0)
      .select("g", "v", "clipped").as[(String, Double, Double)].collect()
    assert(out.forall { case (_, v, c) => v == c },
      "pLo=0/pHi=1 must clip nothing in either group")
    intercept[IllegalArgumentException] { Profile.winsorize(df, "g", "v", 0.9, 0.1) }
  }

  test("winsorize: null-group rows pass through clipped, never dropped") {
    val df = Seq((Some("a"), 1.0), (Some("a"), 3.0), (None, 10.0), (None, 20.0))
      .toDF("g", "v")
    val out = Profile.winsorize(df, "g", "v", 0.0, 1.0)
    assert(out.count() == 4, "a transform must not delete null-group rows")
    val nullG = out.filter(col("g").isNull).select("v", "clipped")
      .as[(Double, Double)].collect().toMap
    assert(nullG == Map(10.0 -> 10.0, 20.0 -> 20.0))
  }

  test("correlation: complete-case — a half-null pair drops from n AND every sum") {
    // group "a" with a (null, 8.0) row: complete-case must reduce to the
    // two full pairs, exactly what built-in corr does
    val df = Seq(
      ("a", Some(1.0), Some(2.0)), ("a", Some(2.0), Some(4.0)),
      ("a", None, Some(8.0))
    ).toDF("g", "x", "y")
    val r = Profile.correlation(df, "g", "x", "y").head()
    assert(r.getLong(1) == 2L, "n must count complete pairs only")
    assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 1.0,
      s"two perfectly linear pairs: corr 1, covar 1; got $r")
  }

  test("correlation: exact co-moments give textbook corr/covar; degenerate groups yield null") {
    val df = Seq(
      ("a", 1.0, 2.0), ("a", 2.0, 4.0), ("a", 3.0, 6.0), // perfectly linear
      ("b", 1.0, 5.0), ("b", 2.0, 5.0), // constant y: zero variance
      ("c", 7.0, 7.0) // single row
    ).toDF("g", "x", "y")
    val out = Profile.correlation(df, "g", "x", "y").collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out("a") == ((3L, Some(1.0), Some(2.0))))
    assert(out("b")._2.isEmpty, "zero variance must null corr, not divide by zero")
    assert(out("b")._3.contains(0.0), "constant y has zero covariance")
    assert(out("c") == ((1L, None, None)), "n=1 nulls both")
  }

  test("profile plan: no Generate, one aggregate branch per column") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Union}
    val cols = Seq("id", "s", "d")
    val df = Seq((1L, "a", 2.0)).toDF(cols: _*)
    val plan = Profile.profile(df, cols).queryExecution.optimizedPlan
    // the per-column form: no unpivot Generate, and the union holds exactly
    // one branch per profiled column, each its own aggregate
    assert(plan.collect { case g: Generate => g }.isEmpty, s"unexpected Generate:\n$plan")
    val unions = plan.collect { case u: Union => u }
    assert(unions.size == 1, s"expected one union of the column branches:\n$plan")
    assert(unions.head.children.size == cols.size,
      s"expected ${cols.size} branches, got ${unions.head.children.size}:\n$plan")
    assert(unions.head.children.forall(_.collect { case a: Aggregate => a }.nonEmpty),
      s"every branch must aggregate:\n$plan")
  }
}
