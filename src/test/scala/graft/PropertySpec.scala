package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.{check, Parameters, Passed, Exhausted}

import graft.hash.ScalableBloom
import graft.operators.Splits
import graft.util.Local

/** ScalaCheck property suites over the PURE driver-side kernels —
  * the pieces whose correctness the distributed operators inherit
  * (split thresholds, scalable-Bloom growth, local top-k,
  * time-series windowing). Runs hundreds of generated cases per
  * property without touching a Spark job — except the KLL merge
  * property, whose merge is Spark's built-in and runs as one job.
  */
class PropertySpec extends AnyFunSuite {

  private def holds(p: Prop, n: Int = 200): Unit = {
    val r = check(Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.status == Passed || r.status == Exhausted, r.status.toString)
    assert(r.succeeded > 0)
  }

  private val weights: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.choose(1e-3, 100.0)).map(_.take(20))

  test("thresholds: monotone, span-complete, proportional to weights") {
    holds(forAll(weights) { ws =>
      val splits = ws.zipWithIndex.map { case (w, i) => s"s$i" -> w }
      val t = Splits.thresholds(splits)
      val span = 1L << 32
      val monotone = t.zip(t.tail).forall { case (a, b) => a <= b }
      val complete = t.last == span
      val total = ws.sum
      val proportional = t.zip(ws.scanLeft(0.0)(_ + _).tail).forall {
        case (bound, cum) => math.abs(bound - cum / total * span) <= span * 1e-9 + 1
      }
      monotone && complete && proportional
    })
  }

  test("ScalableBloom: NO false negative survives arbitrary growth") {
    val inserts: Gen[List[Long]] = Gen.listOfN(500, Gen.choose(Long.MinValue, Long.MaxValue))
    holds(forAll(inserts) { xs =>
      // tiny initial capacity forces multiple slices for any real list
      val sb = ScalableBloom(initialCapacity = 16, fpp = 0.05)
      xs.foreach(sb.putLong)
      xs.forall(sb.mightContainLong)
    }, n = 60)
  }

  test("ScalableBloom: false-positive rate stays near the budget under 10x growth") {
    val sb = ScalableBloom(initialCapacity = 64, fpp = 0.01)
    (1L to 5000L).foreach(sb.putLong)
    val fp = (1_000_000L to 1_020_000L).count(sb.mightContainLong)
    // geometric tightening keeps the COMPOUND rate bounded; allow 4x
    // the per-slice budget for the stacked filters
    assert(fp <= 20000 * 0.04, s"fp=$fp of 20000")
    assert(sb.numFilters > 1, "growth must actually have happened")
  }

  test("Local.top agrees with sort.take for any input and n") {
    val gen = for {
      xs <- Gen.listOf(Gen.choose(-1000, 1000))
      n <- Gen.choose(0, 30)
    } yield (xs, n)
    holds(forAll(gen) { case (xs, n) =>
      n == 0 || Local.top(xs, n)(Ordering.Int.reverse) == xs.sorted.take(n)
    })
  }

  test("TimeSeries.fixed: windows partition the stream, bounds respected") {
    val gen = for {
      ts <- Gen.listOf(Gen.choose(0L, 100000L)).map(_.sorted)
      size <- Gen.choose(1L, 5000L)
    } yield (ts, size)
    holds(forAll(gen) { case (ts, size) =>
      val windows = Local.TimeSeriesOps(ts.iterator).timeSeries(identity).fixed(size).toList
      val flat = windows.flatten
      val partitioned = flat == ts
      val bounded = windows.forall { w =>
        w.nonEmpty && (w.max / size) == (w.min / size)
      }
      partitioned && bounded
    }, n = 100)
  }

  test("TimeSeries.session: gaps inside a session < gap; between sessions >= gap") {
    val gen = for {
      ts <- Gen.listOf(Gen.choose(0L, 100000L)).map(_.sorted)
      gap <- Gen.choose(1L, 5000L)
    } yield (ts, gap)
    holds(forAll(gen) { case (ts, gap) =>
      val sessions = Local.TimeSeriesOps(ts.iterator).timeSeries(identity).session(gap).toList
      val partitioned = sessions.flatten == ts
      val inside = sessions.forall(s =>
        s.zip(s.tail).forall { case (a, b) => b - a < gap })
      val between = sessions.zip(sessions.drop(1)).forall {
        case (a, b) => b.head - a.last >= gap
      }
      partitioned && inside && between
    }, n = 100)
  }

  // ----- sketch algebra: the distributed operators' correctness rests
  // on these merge laws holding for ANY partitioning of the input -----

  private val longSets: Gen[(List[Long], List[Long])] = for {
    a <- Gen.listOf(Gen.choose(0L, 5000L))
    b <- Gen.listOf(Gen.choose(0L, 5000L))
  } yield (a, b)

  private def thetaOf(vs: Seq[Long], lgK: Int = 14): Array[Byte] = {
    val u = org.apache.datasketches.theta.SetOperation.builder()
      .setLogNominalEntries(lgK).buildUnion()
    vs.foreach(u.update)
    u.getResult.toByteArray
  }

  test("theta merge: commutative, associative, idempotent; exact-mode estimate == |set|") {
    import graft.expressions.ThetaOps
    holds(forAll(longSets) { case (a, b) =>
      val (sa, sb) = (thetaOf(a), thetaOf(b))
      val ab = ThetaOps.combine(sa, sb, ThetaOps.OpUnion)
      val ba = ThetaOps.combine(sb, sa, ThetaOps.OpUnion)
      val comm = ThetaOps.estimate(ab) == ThetaOps.estimate(ba)
      val idem = ThetaOps.estimate(ThetaOps.combine(ab, sb, ThetaOps.OpUnion)) ==
        ThetaOps.estimate(ab)
      val exact = ThetaOps.estimate(ab) == (a.toSet ++ b.toSet).size.toDouble
      val inter = ThetaOps.estimate(ThetaOps.combine(sa, sb, ThetaOps.OpIntersect)) ==
        (a.toSet intersect b.toSet).size.toDouble
      val diff = ThetaOps.estimate(ThetaOps.combine(sa, sb, ThetaOps.OpANotB)) ==
        (a.toSet diff b.toSet).size.toDouble
      comm && idem && exact && inter && diff
    }, n = 100)
  }

  test("freq merge: commutative; exact-mode counts are the multiset sum") {
    import graft.expressions.FreqOps
    def sk(vs: Seq[Long]): Array[Byte] = {
      val s = new org.apache.datasketches.frequencies.LongsSketch(1 << 13)
      vs.foreach(s.update)
      val b = s.toByteArray
      val out = new Array[Byte](b.length + 1); out(0) = 'L'.toByte
      System.arraycopy(b, 0, out, 1, b.length); out
    }
    holds(forAll(longSets) { case (a, b) =>
      val m1 = FreqOps.merge(sk(a), sk(b))
      val m2 = FreqOps.merge(sk(b), sk(a))
      val census = (a ++ b).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      def items(bytes: Array[Byte]): Map[Long, Long] = {
        val g = FreqOps.topItems(bytes, 1L, noFalsePositives = true)
        (0 until g.numElements()).map { i =>
          val r = g.getStruct(i, 4)
          r.getUTF8String(0).toString.toLong -> r.getLong(1)
        }.toMap
      }
      items(m1) == census && items(m2) == census
    }, n = 60)
  }

  test("kll merge order does not change exact-mode quantiles") {
    // graft's KLL merge is Spark's built-in kll_sketch_merge_double, so
    // this property runs as ONE job: every generated pair is a row,
    // both merge orders are read in one projection, one collect
    import graft.expressions.SketchColumns.kllQuantiles
    import org.apache.spark.sql.functions.{col, kll_sketch_merge_double => kllMerge}
    val spark = TestSpark.spark
    import spark.implicits._
    def sk(vs: Seq[Long]): Array[Byte] = {
      val s = org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(8192)
      vs.foreach(v => s.update(v.toDouble))
      s.toByteArray
    }
    val seed = org.scalacheck.rng.Seed.random()
    val pairs = Gen.listOfN(60, longSets).pureApply(Gen.Parameters.default, seed)
      .filter { case (a, b) => (a ++ b).nonEmpty }
    val probs = Seq(0.0, 0.5, 1.0)
    val got = pairs.zipWithIndex.map { case ((a, b), i) => (i, sk(a), sk(b)) }
      .toDF("i", "a", "b")
      .select(col("i"),
        kllQuantiles(kllMerge(col("a"), col("b")), probs).as("q1"),
        kllQuantiles(kllMerge(col("b"), col("a")), probs).as("q2"))
      .orderBy("i").as[(Int, Seq[Double], Seq[Double])].collect()
    assert(got.length == pairs.length)
    pairs.zip(got).foreach { case ((a, b), (_, q1, q2)) =>
      val all = (a ++ b).map(_.toDouble).sorted
      assert(q1 == q2 && q1.head == all.head && q1(2) == all.last,
        s"seed=$seed a=$a b=$b q1=$q1 q2=$q2")
    }
  }
}
