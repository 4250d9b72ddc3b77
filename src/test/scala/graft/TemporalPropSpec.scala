package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.operators.WindowOps

/** Property-based checks for the round-6 temporal operators against
  * brute-force in-memory references on seeded pseudo-random event logs
  * (raw ScalaCheck generators, fixed seeds — each case is a Spark round
  * trip, so the case count stays small). */
class TemporalPropSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (key, ts, value, type) logs: few keys, clustered ts with ties
  val log: Gen[List[(Long, Long, Double, String)]] = for {
    n <- Gen.choose(5, 40)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(1L, 4L)
      t <- Gen.choose(0L, 50L)
      v <- Gen.choose(-10.0, 10.0)
      e <- Gen.oneOf("a", "b", "c")
    } yield (k, t, v, e))
  } yield rows

  def cases(n: Int): Seq[List[(Long, Long, Double, String)]] =
    (0 until n).flatMap(i => log.apply(Gen.Parameters.default, Seed(7L + i)))
      // unique (key, ts) per row: a total order without carrying a rowid
      // through every operator under test
      .map(_.distinctBy(r => (r._1, r._2)))

  test("ewmaBounded ≡ brute-force truncated weighted sum") {
    val alpha = 0.4; val horizon = 5
    val w = WindowOps.ewmaWeights(alpha, horizon)
    cases(6).foreach { rows =>
      val df = rows.toDF("k", "t", "v", "e")
      val got = WindowOps.ewmaBounded(df, Seq("k"), Seq("t"), "v", alpha, horizon)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
      rows.groupBy(_._1).foreach { case (k, rs) =>
        val ordered = rs.sortBy(_._2)
        ordered.zipWithIndex.foreach { case ((_, t, _, _), i) =>
          val expect = (0 until math.min(horizon, i + 1))
            .map(d => w(d) * ordered(i - d)._3).sum
          assert(math.abs(got((k, t)) - expect) < 1e-9,
            s"k=$k t=$t got=${got((k, t))} want=$expect")
        }
      }
    }
  }

  test("transitionCounts conserves mass: Σ counts = Σ_key (n_k − 1)") {
    cases(6).foreach { rows =>
      val df = rows.toDF("k", "t", "v", "e")
      val out = WindowOps.transitionCounts(df, Seq("k"), Seq("t"), "e")
        .agg(coalesce(sum("n"), lit(0L))).collect()(0).getLong(0)
      val expect = rows.groupBy(_._1).map(_._2.size - 1L).sum
      assert(out == expect, s"got $out want $expect")
      // and equals the brute-force pair multiset
      val brute = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy(_._2).map(_._4).sliding(2).collect { case Seq(a, b) => (a, b) }
      }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      val gotPairs = WindowOps.transitionCounts(df, Seq("k"), Seq("t"), "e")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(gotPairs == brute)
    }
  }

  test("rollingActiveUsers ≡ brute force over observed periods") {
    val period = 10L; val win = 3
    cases(6).foreach { rows =>
      val df = rows.toDF("k", "t", "v", "e")
      val got = WindowOps.rollingActiveUsers(df, "k", "t", period, win)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val acts = rows.map(r => (r._1, r._2 / period)).distinct
      val periods = acts.map(_._2).distinct
      val brute = periods.map(p =>
        p -> acts.filter(a => a._2 <= p && a._2 > p - win).map(_._1).distinct.size.toLong).toMap
      assert(got == brute, s"got $got want $brute")
    }
  }

  test("period bucketing FLOORS for pre-1970 (negative) time bases — matches DuckDB //") {
    // Spark DIV truncates toward zero; the operators must floor instead,
    // or a negative ts lands one period late vs the oracle's // and the
    // brute force below. Math.floorDiv IS the contract.
    val period = 10L; val win = 2
    val rows = Seq((1L, -25L, 0.0, "a"), (1L, -20L, 0.0, "a"),
      (1L, -1L, 0.0, "a"), (2L, -25L, 0.0, "a"), (2L, 5L, 0.0, "a"))
    val df = rows.toDF("k", "t", "v", "e")
    val got = WindowOps.rollingActiveUsers(df, "k", "t", period, win)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val acts = rows.map(r => (r._1, Math.floorDiv(r._2, period))).distinct
    val periods = acts.map(_._2).distinct
    val brute = periods.map(p =>
      p -> acts.filter(a => a._2 <= p && a._2 > p - win).map(_._1).distinct.size.toLong).toMap
    assert(got == brute, s"got $got want $brute")
    // cohorts: user 1 first touches floor(-25/10) = -3 (NOT -2)
    val coh = WindowOps.cohortRetention(df, "k", "t", period)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val first = rows.groupBy(_._1).map { case (u, rs) =>
      u -> rs.map(r => Math.floorDiv(r._2, period)).min }
    val bruteCoh = rows.map(r => (r._1, Math.floorDiv(r._2, period))).distinct
      .map { case (u, p) => (first(u), p - first(u)) }
      .groupBy(identity).map { case (k2, xs) => k2 -> xs.size.toLong }
    assert(coh == bruteCoh, s"got $coh want $bruteCoh")
  }

  test("scd2: per key, versions partition [first_ts, ∞) with no gaps/overlaps and compacted attrs") {
    cases(6).foreach { rows =>
      val df = rows.toDF("k", "t", "v", "e")
      val out = WindowOps.scd2(df, Seq("k"), Seq("t"), "t", "e")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4)))
      out.groupBy(_._1).foreach { case (k, vs) =>
        val ordered = vs.sortBy(_._3).toSeq
        val events = rows.filter(_._1 == k).sortBy(_._2)
        // first version starts at the key's first event
        assert(ordered.head._3 == events.head._2)
        // exactly one current version, at the end
        assert(ordered.count(_._5) == 1 && ordered.last._5 && ordered.last._4.isEmpty)
        // intervals chain: each valid_to == next valid_from
        ordered.sliding(2).foreach {
          case Seq(a, b) => assert(a._4.contains(b._3), s"gap at $a -> $b")
          case _ =>
        }
        // no two consecutive versions share an attr (compaction is maximal)
        ordered.sliding(2).foreach {
          case Seq(a, b) => assert(a._2 != b._2, s"uncompacted run $a -> $b")
          case _ =>
        }
        // replaying the versions reproduces each event's attr at its ts
        events.foreach { case (_, t, _, attr0) =>
          val ver = ordered.filter(_._3 <= t).lastOption
          assert(ver.isDefined)
        }
      }
    }
  }

  test("attribution ≡ brute-force journey credit; linear mass ≈ credited journeys") {
    cases(6).foreach { rows =>
      val df = rows.toDF("k", "t", "v", "e")
      for (model <- Seq("first", "last", "linear")) {
        val got = WindowOps.attribution(df, Seq("k"), Seq("t"), "e", "a", model)
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
          .toMap
        // brute force: per key, walk in t order, cut journeys at "a"
        val credits = collection.mutable.Map.empty[String, (Long, Long)]
        var journeys = 0
        rows.groupBy(_._1).values.foreach { ks =>
          var touches = List.empty[String]
          ks.sortBy(_._2).foreach { case (_, _, _, e) =>
            if (e == "a") {
              if (touches.nonEmpty) {
                journeys += 1
                val per = model match {
                  case "linear" => touches.map(_ -> math.round(1e9 / touches.size))
                  case "first"  => List(touches.head -> 1000000000L)
                  case "last"   => List(touches.last -> 1000000000L)
                }
                per.foreach { case (e2, cn) =>
                  val (n0, c0) = credits.getOrElse(e2, (0L, 0L))
                  credits(e2) = (n0 + 1, c0 + cn)
                }
              }
              touches = Nil
            } else touches = touches :+ e
          }
        }
        val want = credits.view.mapValues { case (n, cn) => (n, cn / 1e9) }.toMap
        assert(got.keySet == want.keySet, s"$model key sets")
        got.foreach { case (e, (n, c)) =>
          assert(n == want(e)._1 && math.abs(c - want(e)._2) < 1e-9,
            s"$model credit for $e")
        }
        // conservation: each credited journey distributes ~1.0 total
        val total = got.values.map(_._2).sum
        assert(math.abs(total - journeys) < 1e-6 * math.max(1, journeys),
          s"$model total credit $total vs $journeys journeys")
      }
    }
  }

  test("kaplanMeier ≡ brute-force product-limit on random censored cohorts") {
    val cohort: Gen[List[(Long, Int)]] = for {
      n <- Gen.choose(1, 30)
      rows <- Gen.listOfN(n, for {
        d <- Gen.choose(0L, 8L)
        e <- Gen.oneOf(0, 1)
      } yield (d, e))
    } yield rows
    (0 until 8).flatMap(i => cohort(Gen.Parameters.default, Seed(97L + i)))
      .foreach { rows =>
        val got = WindowOps.kaplanMeier(rows.toDF("d", "e"), "d", "e")
          .collect().map(r => r.getLong(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
          .toMap
        // brute force over sorted distinct durations
        var s = 1.0
        var expected = Map.empty[Long, (Long, Long, Long, Double)]
        val total = rows.size.toLong
        var removed = 0L
        rows.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (t, grp) =>
          val d = grp.count(_._2 == 1).toLong
          val c = grp.size - d
          val r = total - removed
          if (d > 0) { // censored-only times shrink the risk set, no row
            s = if (d == r) 0.0 else s * (1.0 - d.toDouble / r)
            expected += t -> (r, d, c, s)
          }
          removed += grp.size
        }
        assert(got.keySet == expected.keySet)
        expected.foreach { case (t, (r, d, c, sv)) =>
          val (gr, gd, gc, gs) = got(t)
          assert(gr == r && gd == d && gc == c, s"life table at t=$t")
          assert(math.abs(gs - sv) < 1e-9, s"survival at t=$t")
          assert(gs >= -1e-12 && gs <= 1.0 + 1e-12)
        }
        // survival is non-increasing over event times
        val curve = got.toSeq.sortBy(_._1).map(_._2._4)
        assert(curve.zip(curve.drop(1)).forall { case (a, b) => b <= a + 1e-12 })
      }
  }

  test("crossSpans ≡ brute-force maximal common token spans") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // docs over a TINY alphabet so shared windows actually occur
    val word = Gen.oneOf("aa", "bb", "cc", "dd")
    val doc = Gen.choose(8, 24).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val minTok = 4
    (0 until 4).foreach { i =>
      val seed = Seed(31L + i)
      val train = (1L to 4L).map(id => (id,
        doc(Gen.Parameters.default, seed.reseed(id)).get))
      val ev = (10L to 11L).map(id => (id,
        doc(Gen.Parameters.default, seed.reseed(100 + id)).get))
      val got = graft.operators.Dedup.crossSpans(train.toDF("doc_id", "text"),
          "doc_id", "text", ev.toDF("eval_id", "text"), "eval_id", "text",
          minTokens = minTok, maxEvalWindowFreq = 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // brute force: every (train pos, eval pos) window match, merged
      // along diagonals into maximal runs
      val expect = scala.collection.mutable.Set.empty[(Long, Long, Long, Long, Long)]
      for ((tid, tt) <- train; (eid, et) <- ev) {
        val a = tt.split("\\s+").filter(_.nonEmpty)
        val b = et.split("\\s+").filter(_.nonEmpty)
        val hits = for {
          p <- 0 to a.length - minTok
          q <- 0 to b.length - minTok
          if a.slice(p, p + minTok).sameElements(b.slice(q, q + minTok))
        } yield (p, q)
        hits.groupBy { case (p, q) => p - q }.foreach { case (_, ps) =>
          val sorted = ps.sortBy(_._1)
          var runStart = sorted.head
          var prev = sorted.head._1
          def emit(last: Int): Unit = expect +=
            ((tid, eid, runStart._1 + 1L, runStart._2 + 1L,
              last - runStart._1 + minTok.toLong))
          sorted.tail.foreach { case (p, q) =>
            if (p != prev + 1) { emit(prev); runStart = (p, q) }
            prev = p
          }
          emit(prev)
        }
      }
      assert(got == expect.toSet, s"case $i: got ${got.size} spans, " +
        s"want ${expect.size}")
    }
  }

  test("gainsTable ≡ brute-force quantile banding on random scores") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val buckets = 4
    (0 until 4).foreach { i =>
      val n = 30 + i * 17
      val rows = (0 until n).map { j =>
        val g = Gen.choose(0, 9).apply(Gen.Parameters.default,
          Seed(j * 7919L + i)).get
        (g / 10.0, (j * 13 + i) % 3 == 0) // heavy score ties on purpose
      }
      val got = graft.operators.Profile.gainsTable(
          rows.toDF("score", "label"), "score", "label", buckets)
        .collect().map(r => r.getAs[Int]("bucket") ->
          (r.getAs[Long]("n"), r.getAs[Long]("n_pos"))).toMap
      // brute: Spark/DuckDB linear-interpolated quantiles, strictly-
      // above banding, bucket 1 = top
      val s = rows.map(_._1).sorted
      def quant(p: Double): Double = {
        val idx = p * (s.length - 1)
        val lo = idx.toInt
        val frac = idx - lo
        if (lo + 1 < s.length) s(lo) + frac * (s(lo + 1) - s(lo)) else s(lo)
      }
      val cuts = (1 until buckets).map(b => quant(b.toDouble / buckets))
      val banded = rows.groupBy { case (sc, _) =>
        buckets + 1 - (1 + cuts.count(sc > _)) }
      banded.foreach { case (b, rs) =>
        assert(got(b) == (rs.size.toLong,
          rs.count(_._2).toLong), s"case $i bucket $b")
      }
      assert(got.keySet == banded.keySet, s"case $i band set")
      // conservation: totals across bands equal the input
      assert(got.values.map(_._1).sum == n)
    }
  }

  test("cusum ≡ brute-force max-reset recursion (reflection identity)") {
    val (target, slack, threshold) = (1.0, 0.5, 3.0)
    val up = math.round(target * 1e9) + math.round(slack * 1e9)
    val dn = math.round(target * 1e9) - math.round(slack * 1e9)
    val h9 = math.round(threshold * 1e9)
    cases(6).foreach { rows =>
      val df = rows.toDF("k", "t", "v", "e")
      val got = WindowOps.cusum(df, Seq("k"), Seq("t"), "v",
          target, slack, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getAs[Double]("s_hi"), r.getAs[Double]("s_lo"),
            r.getAs[Boolean]("alarm"))).toMap
      rows.groupBy(_._1).foreach { case (k, rs) =>
        var hi = 0L; var lo = 0L
        rs.sortBy(_._2).foreach { case (_, t, v, _) =>
          val v9 = math.round(v * 1e9)
          hi = math.max(0L, hi + (v9 - up))
          lo = math.max(0L, lo + (dn - v9))
          val (gh, gl, ga) = got((k, t))
          assert(math.abs(gh - hi / 1e9) < 1e-9, s"s_hi k=$k t=$t")
          assert(math.abs(gl - lo / 1e9) < 1e-9, s"s_lo k=$k t=$t")
          assert(ga == (hi > h9 || lo > h9), s"alarm k=$k t=$t")
        }
      }
    }
  }

  test("rollingCorr ≡ brute-force quantized Pearson over trailing windows") {
    val win = 4
    def d4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    def d8(x: Double) = BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    cases(6).foreach { rows =>
      // y: a deterministic second channel decorrelated from v
      val withY = rows.map { case (k, t, v, e) =>
        (k, t, v, ((t * 31 + k * 7) % 11).toDouble - 5.0) }
      val df = withY.toDF("k", "t", "x", "y")
      val got = WindowOps.rollingCorr(df, Seq("k"), Seq("t"), "x", "y", win)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(r.fieldIndex("corr"))) None
           else Some(r.getDouble(r.fieldIndex("corr"))))).toMap
      withY.groupBy(_._1).foreach { case (k, rs) =>
        val ordered = rs.sortBy(_._2)
        ordered.zipWithIndex.foreach { case ((_, t, _, _), i) =>
          val w = ordered.slice(math.max(0, i - win + 1), i + 1)
          val n = w.size.toDouble
          // replicate the operator's exact arithmetic: decimal sums
          // (linear at scale 4, product at scale 8), ONE double cast,
          // then the same double combination
          val sx = w.map(r => d4(r._3)).sum.toDouble
          val sy = w.map(r => d4(r._4)).sum.toDouble
          val sxx = w.map(r => d8(r._3 * r._3)).sum.toDouble
          val syy = w.map(r => d8(r._4 * r._4)).sum.toDouble
          val sxy = w.map(r => d8(r._3 * r._4)).sum.toDouble
          val cov = n * sxy - sx * sy
          val vx = n * sxx - sx * sx
          val vy = n * syy - sy * sy
          val expect = if (w.size >= 2 && vx > 0 && vy > 0)
            Some(cov / math.sqrt(vx * vy)) else None
          val g = got((k, t))
          assert(g.isDefined == expect.isDefined, s"corr null k=$k t=$t")
          g.zip(expect).foreach { case (a, b) =>
            assert(math.abs(a - b) < 1e-9, s"corr k=$k t=$t got=$a want=$b") }
        }
      }
    }
  }

  test("rollingCorr is NULL over a window holding a term past its decimal bound") {
    // x² crosses DECIMAL(27,8)'s 1e19 between these two values
    // (√1e19 ≈ 3.16227766017e9). Past it the non-ANSI cast is NULL; the
    // window must go NULL, not silently drop the term while n counts it.
    val below = 3.1622776601e9
    val at = 3.1622776602e9
    assert(below * below < 1e19 && at * at >= 1e19)
    val win = 4
    def d4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    def d8(x: Double) = BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    def pearson(w: Seq[(Double, Double)]): Option[Double] = {
      val n = w.size.toDouble
      val sx = w.map(r => d4(r._1)).sum.toDouble
      val sy = w.map(r => d4(r._2)).sum.toDouble
      val sxx = w.map(r => d8(r._1 * r._1)).sum.toDouble
      val syy = w.map(r => d8(r._2 * r._2)).sum.toDouble
      val sxy = w.map(r => d8(r._1 * r._2)).sum.toDouble
      val vx = n * sxx - sx * sx
      val vy = n * syy - sy * sy
      if (w.size >= 2 && vx > 0 && vy > 0)
        Some((n * sxy - sx * sy) / math.sqrt(vx * vy)) else None
    }
    // the spread of the other x values keeps n·Σx² − (Σx)² positive when
    // the big row's square drops out, so a dropped term reads finite
    def series(big: Double) = Seq(-3e9 -> 1.0, 3e9 -> 2.0, 3e9 -> 3.0,
      big -> 4.0, 1.0 -> 5.0, 2.0 -> 7.0, 3.0 -> 6.0, 4.0 -> 9.0)
    val rows = Seq(1L -> below, 2L -> at).flatMap { case (k, big) =>
      series(big).zipWithIndex.map { case ((x, y), t) => (k, t.toLong, x, y) } }
    val got = WindowOps.rollingCorr(rows.toDF("k", "t", "x", "y"),
        Seq("k"), Seq("t"), "x", "y", win)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(r.fieldIndex("corr"))) None
         else Some(r.getDouble(r.fieldIndex("corr"))))).toMap
    for (k <- Seq(1L, 2L); t <- 0 until 8) {
      val w = series(if (k == 1L) below else at)
        .slice(math.max(0, t - win + 1), t + 1)
      val expect = if (w.exists(_._1 == at)) None else pearson(w)
      val g = got((k, t.toLong))
      assert(g.isDefined == expect.isDefined, s"corr null k=$k t=$t got=$g")
      g.zip(expect).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"corr k=$k t=$t got=$a want=$b") }
    }
    // the windows that hold the big row: finite below the bound, NULL at it
    assert((3L to 6L).forall(t => got((1L, t)).isDefined))
    assert((3L to 6L).forall(t => got((2L, t)).isEmpty))
  }
}
