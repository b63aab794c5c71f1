package graft.functions

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Grubbs}

/** ScalaCheck properties from the SURVEY §5 test plan: geohash
  * round-trip, haversine metric axioms, Taylor linearity, Grubbs
  * monotonicity, t-distribution sanity, minhash range. Pure JVM — no
  * Spark session. */
class PropertySpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 300): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val genLat = Gen.chooseNum(-89.999, 89.999)
  private val genLon = Gen.chooseNum(-179.999, 179.999)

  test("geohash round-trip error is bounded by precision") {
    check(Prop.forAll(genLat, genLon) { (lat, lon) =>
      val gh = GeoFunctions.geohashEncode(lat, lon, 11)
      val (la, lo) = GeoFunctions.geohashDecode(gh)
      math.abs(la - lat) < 1e-4 && math.abs(lo - lon) < 1e-4
    })
    check(Prop.forAll(genLat, genLon) { (lat, lon) =>
      val gh = GeoFunctions.geohashEncode(lat, lon, 6)
      val (la, lo) = GeoFunctions.geohashDecode(gh)
      math.abs(la - lat) < 0.003 && math.abs(lo - lon) < 0.006
    })
  }

  test("geohash prefix length shrinks with distance (containment)") {
    check(Prop.forAll(genLat, genLon) { (lat, lon) =>
      val g11 = GeoFunctions.geohashEncode(lat, lon, 11)
      val g6 = GeoFunctions.geohashEncode(lat, lon, 6)
      g11.startsWith(g6)
    })
  }

  test("haversine is a metric: symmetry, identity, triangle inequality") {
    val h = (a: (Double, Double), b: (Double, Double)) => {
      // JVM-side mirror of GeoFunctions.haversineM's formula
      val dLat = math.toRadians(b._1 - a._1)
      val dLon = math.toRadians(b._2 - a._2)
      val s = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(a._1)) * math.cos(math.toRadians(b._1)) *
          math.pow(math.sin(dLon / 2), 2)
      // same clamp as GeoFunctions.haversineM: s can exceed 1.0 by an ulp
      // near antipodes, where asin would return NaN
      2 * 6371000.0 * math.asin(math.min(math.sqrt(s), 1.0))
    }
    val genP = Gen.zip(genLat, genLon)
    check(Prop.forAll(genP, genP) { (a, b) =>
      math.abs(h(a, b) - h(b, a)) < 1e-6
    })
    check(Prop.forAll(genP)(a => h(a, a) == 0.0))
    // ~1 m tolerance: floating-point haversine near antipodes legitimately
    // violates the exact inequality (found by ScalaCheck at
    // (-89.999,179.999)/(89.999,0.0) via a midpoint)
    check(Prop.forAll(genP, genP, genP) { (a, b, c) =>
      h(a, c) <= h(a, b) + h(b, c) + 1.0
    })
  }

  test("Grubbs: the kept envelope never widens when data shrinks inward") {
    val genVals = Gen.listOfN(40, Gen.chooseNum(0.0, 100.0))
    check(Prop.forAll(genVals) { vs =>
      val r = Grubbs.test(vs.toArray, 0.05, 15)
      val r2 = Grubbs.test(vs.filter(v => v >= r.lo && v <= r.hi).toArray, 0.05, 15)
      // re-testing the kept set can only tighten (or keep) the envelope
      r2.lo >= r.lo - 1e-12 && r2.hi <= r.hi + 1e-12
    }, n = 100)
  }

  test("Grubbs critical value decreases in alpha, increases in n") {
    check(Prop.forAll(Gen.chooseNum(10, 200)) { n =>
      Stats.grubbsCritical(n, 0.01) > Stats.grubbsCritical(n, 0.10)
    })
    check(Prop.forAll(Gen.chooseNum(10, 190)) { n =>
      Stats.grubbsCritical(n + 10, 0.05) > Stats.grubbsCritical(n, 0.05)
    })
  }

  test("t survival function: bounds, midpoint, monotonicity") {
    val genDf = Gen.chooseNum(1.0, 200.0)
    val genT = Gen.chooseNum(0.0, 50.0)
    check(Prop.forAll(genDf)(df => math.abs(Stats.tSf(0.0, df) - 0.5) < 1e-12))
    check(Prop.forAll(genDf, genT, genT) { (df, t1, t2) =>
      val (lo, hi) = (math.min(t1, t2), math.max(t1, t2))
      Stats.tSf(hi, df) <= Stats.tSf(lo, df) + 1e-12
    })
    check(Prop.forAll(genDf, genT) { (df, t) =>
      val s = Stats.tSf(t, df)
      s >= 0.0 && s <= 0.5
    })
  }

  test("Taylor/Horner evaluation is linear in the coefficients") {
    import org.apache.spark.sql.functions.lit
    val spark = graft.TestSpark.spark
    def eval(cs: Seq[Double], x: Double): Double =
      spark.range(1).select(Calibration.taylor(lit(x), cs).cast("double"))
        .head.getDouble(0)
    val genC = Gen.listOfN(3, Gen.chooseNum(-5.0, 5.0))
    val genX = Gen.chooseNum(-10.0, 10.0)
    check(Prop.forAll(genC, genC, genX) { (a, b, x) =>
      val sum = a.zip(b).map { case (p, q) => p + q }
      math.abs(eval(sum, x) - (eval(a, x) + eval(b, x))) < 1e-6
    }, n = 20) // Spark-backed: keep the sample small
  }

  test("minhash permutations stay within [0, 2^31-1) for 32-bit hashes") {
    check(Prop.forAll(Gen.chooseNum(0L, (1L << 32) - 1), Gen.chooseNum(0, 63)) {
      (h, j) =>
        val v = (h * (2L * j + 1) + 97L * j + 13) % 2147483647L
        v >= 0 && v < 2147483647L
    })
  }

  test("q26 size cut keeps every pair whose rounded Jaccard can reach the threshold") {
    // SortedPairsSizeCut's exactness argument, off the 1e-4 grid: the
    // downstream test round(i / (n1 + n2 - i), 4) >= t is hardest to
    // fail at i = min(n1, n2), where the Jaccard is min / max. Any pair
    // that can reach t there must survive the cut at t - SizeCutEps.
    val nshBits = 21 // Dedup's (id << 21 | n_sh) packing
    val maxN = (1 << nshBits) - 1
    // Spark's round(x, 4) on a double: HALF_UP on its decimal string
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def survives(n1: Int, n2: Int, t: Double): Boolean =
      new graft.plans.SizeCutPairsIterator(
        Array((1L << nshBits) | n1, (2L << nshBits) | n2), nshBits,
        t - Dedup.SizeCutEps).hasNext
    // sizes straddling the rounding boundary (lo within a few of
    // (t - 5e-5)·hi, where round4 flips) or uniform
    def genSizes(t: Double): Gen[(Int, Int)] = for {
      hi <- Gen.chooseNum(1, maxN)
      lo <- Gen.oneOf(Gen.chooseNum(1, hi), Gen.chooseNum(-3, 3).map { d =>
        math.min(hi, math.max(1, math.ceil((t - 5e-5) * hi).toInt + d)) })
      swap <- Gen.oneOf(false, true)
    } yield if (swap) (hi, lo) else (lo, hi)
    def reaches(n1: Int, n2: Int, t: Double): Boolean =
      round4(math.min(n1, n2).toDouble / math.max(n1, n2)) >= t
    // ...and the cut is not vacuous: a pair clearly below t is dropped
    def prop(t: Double, n1: Int, n2: Int): Boolean = {
      val ratio = math.min(n1, n2).toDouble / math.max(n1, n2)
      (!reaches(n1, n2, t) || survives(n1, n2, t)) &&
        (ratio >= t - 1e-4 || !survives(n1, n2, t))
    }
    // the off-grid ratios these thresholds round from: 1/3 and 6/7
    assert(reaches(1, 3, 0.3333) && survives(1, 3, 0.3333))
    assert(reaches(7, 6, 0.8571) && survives(7, 6, 0.8571))
    for (t <- Seq(0.3333, 0.8571))
      check(Prop.forAllNoShrink(genSizes(t)) { case (n1, n2) => prop(t, n1, n2) }, n = 2000)
    val genT = Gen.oneOf(Gen.const(0.3333), Gen.const(0.8571), Gen.chooseNum(1e-4, 1.0))
    check(Prop.forAllNoShrink(genT.flatMap(t => genSizes(t).map(t -> _))) {
      case (t, (n1, n2)) => prop(t, n1, n2)
    }, n = 2000)
  }
}
