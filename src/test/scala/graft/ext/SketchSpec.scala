package graft.ext

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Approximate aggregates (HLL distinct, quantile sketches): no DuckDB
  * oracle (different sketch algorithms give different estimates), so the
  * contract tested here is error-bounded agreement with the exact answer.
  */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")

  test("approx_count_distinct lands within its standard-error bound") {
    val r = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx")).head()
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("Percentiles.exact refuses a frame above its single-task buffer guard") {
    intercept[IllegalArgumentException] {
      Percentiles.exact(li, Seq("l_quantity" -> Seq(0.5)), maxRows = 100)
    }
  }

  test("exactGrid is bit-identical to exact (Spark percentile) incl. edges") {
    import spark.implicits._
    val pcts = Seq("l_quantity" -> Seq(0.0, 0.25, 0.5, 0.9, 1.0),
      "l_extendedprice" -> Seq(0.1, 0.5, 0.75))
    val ex = Percentiles.exact(li, pcts).head()
    val gr = Percentiles.exactGrid(li, pcts).head()
    pcts.indices.foreach { c =>
      val (e, g) = (ex.getSeq[Double](c), gr.getSeq[Double](c))
      assert(e == g, s"col $c: exact $e vs grid $g")
    }
    // heavy ties + nulls + a single row + interpolation off the tie runs
    val tied = ((Seq.fill(7)(1.0) ++ Seq.fill(3)(2.0) ++ Seq(5.5))
      .map(v => Tuple1(Option(v))) :+ Tuple1(Option.empty[Double])).toDF("v")
    val p2 = Seq("v" -> Seq(0.0, 0.3, 0.65, 0.95, 1.0))
    assert(Percentiles.exact(tied, p2).head().getSeq[Double](0) ==
      Percentiles.exactGrid(tied, p2).head().getSeq[Double](0))
    val one = Seq(Tuple1(42.0)).toDF("v")
    assert(Percentiles.exactGrid(one, Seq("v" -> Seq(0.0, 0.5, 1.0)))
      .head().getSeq[Double](0) == Seq(42.0, 42.0, 42.0))
    // empty/all-null input -> NULL array, the percentile contract
    val empty = Seq.empty[Tuple1[java.lang.Double]].toDF("v")
    assert(Percentiles.exactGrid(empty, Seq("v" -> Seq(0.5))).head().isNullAt(0))
    assert(Percentiles.exact(empty, Seq("v" -> Seq(0.5))).head().isNullAt(0))
  }

  test("exactGrid's window fallback reads the same doubles as its driver collect") {
    import spark.implicits._
    // maxCollectCells = 0 forces the bucket-parallel window branch
    val pcts = Seq("l_quantity" -> Seq(0.0, 0.25, 0.5, 0.9, 1.0),
      "l_extendedprice" -> Seq(0.1, 0.5, 0.75))
    val tied = ((Seq.fill(7)(1.0) ++ Seq.fill(3)(2.0) ++ Seq(5.5))
      .map(v => Tuple1(Option(v))) :+ Tuple1(Option.empty[Double])).toDF("v")
    Seq(li -> pcts, tied -> Seq("v" -> Seq(0.0, 0.3, 0.65, 0.95, 1.0)))
      .foreach { case (df, ps) =>
        val collected = Percentiles.exactGridValuesAll(df, ps)
        val windowed = Percentiles.exactGridValuesAll(df, ps, maxCollectCells = 0L)
        ps.foreach { case (c, _) =>
          val (a, b) = (collected(c).get, windowed(c).get)
          assert(a.map(java.lang.Double.doubleToRawLongBits) ==
            b.map(java.lang.Double.doubleToRawLongBits),
            s"$c: collect $a vs window $b")
        }
      }
  }

  test("exactGrid refuses a frame above its grid-cell guard") {
    intercept[IllegalArgumentException] {
      Percentiles.exactGrid(li, Seq("l_extendedprice" -> Seq(0.5)),
        maxGridCells = 100)
    }
  }

  test("Percentiles.approx twin lands within error bounds of the exact answer") {
    val pcts = Seq("l_quantity" -> Seq(0.5, 0.9), "l_extendedprice" -> Seq(0.25, 0.75))
    val ex = Percentiles.exact(li, pcts).head()
    val ap = Percentiles.approx(li, pcts).head()
    for (c <- 0 until 2; i <- 0 until 2) {
      val e = ex.getSeq[Double](c)(i)
      val a = ap.getSeq[Double](c)(i)
      assert(math.abs(a - e) / math.abs(e) < 0.01, s"col $c pct $i: approx $a vs exact $e")
    }
  }

  test("exactBy groups independently, guards the LARGEST group, approxBy tracks it") {
    import spark.implicits._
    val df = ((1 to 100).map(i => ("big", i.toDouble)) ++
      Seq(("tiny", 7.0))).toDF("k", "v")
    val got = Percentiles.exactBy(df, "k", Seq("v" -> Seq(0.5)))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).head).toMap
    assert(got == Map("big" -> 50.5, "tiny" -> 7.0))
    // the guard binds on the largest group, not the row total
    intercept[IllegalArgumentException] {
      Percentiles.exactBy(df, "k", Seq("v" -> Seq(0.5)), maxGroupRows = 99)
    }
    // knownMaxGroup skips the pre-pass (caller vouches for skew)
    Percentiles.exactBy(df, "k", Seq("v" -> Seq(0.5)),
      maxGroupRows = 99, knownMaxGroup = 50)
    val ap = Percentiles.approxBy(df, "k", Seq("v" -> Seq(0.5)))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1).head).toMap
    assert(math.abs(ap("big") - 50.5) < 2.0 && ap("tiny") == 7.0)
    // empty input passes the guard and returns zero rows (no NPE)
    assert(Percentiles.exactBy(df.where($"k" === "nope"), "k",
      Seq("v" -> Seq(0.5))).isEmpty)
  }

  test("approx_percentile brackets the exact percentile") {
    val r = li.agg(
      expr("percentile(l_extendedprice, 0.5)").as("exact"),
      expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("approx")).head()
    val exact = r.getDouble(0)
    val approx = r.getDouble(1)
    assert(math.abs(approx - exact) / exact < 0.01,
      s"approx $approx vs exact $exact")
  }
}
