package graft

import org.apache.spark.sql.functions._

/** Wave-6 statistics operators: the CUSUM windowed identity, Gini closed
  * forms, and the AQP sample contract.
  */
class StatsSpec extends SparkTestBase {

  test("events_cusum_changepoint: windowed form equals the sequential fold") {
    // The query computes S via S_i = P_i - min_{j<=i} P_j; re-derive the
    // same statistic with the literal recursion S_i = max(0, S_{i-1} + d_i)
    // from the raw hourly counts and compare per event type.
    val res = Registry.all("events_cusum_changepoint").fn(spark, sfDir)
      .select("event_type", "max_cusum_scaled", "n_alarm_hours")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    val hours = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)

    hours.foreach { case (et, rows) =>
      val xs = rows.sortBy(_._2).map(_._3)
      val total = xs.sum
      val n = xs.length.toLong
      // scaled units: d_i = n*x_i - total (k = mean)
      var s = 0L; var mx = 0L; var alarms = 0L
      xs.foreach { x =>
        s = math.max(0L, s + (n * x - total))
        mx = math.max(mx, s)
        if (s > 2L * total) alarms += 1
      }
      assert(res(et) === (mx, alarms),
        s"windowed CUSUM diverges from the sequential fold for $et")
    }
  }

  test("events_holt_winters: query fold matches an independent Scala recurrence") {
    // Third implementation: collect the hourly series and run the literal
    // Holt-Winters recurrence in plain Scala Doubles. The query (Spark
    // `aggregate`) and the oracle (DuckDB recursive CTE) both fold the same
    // IEEE op sequence, so this local fold must match BIT-EXACTLY before
    // the round-9 — compare the unrounded recomputation at round-9.
    val res = Registry.all("events_holt_winters").fn(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(6))).toMap
    assert(res.nonEmpty, "sf0.001 must have >= 49 hours per type")

    val hours = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)

    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

    hours.foreach { case (et, rows) =>
      val ys = rows.sortBy(_._2).map(_._3.toDouble)
      if (ys.length >= 49) {
        var a1 = 0.0; ys.slice(0, 24).foreach(y => a1 += y)
        var a2 = 0.0; ys.slice(24, 48).foreach(y => a2 += y)
        var l = a1 / 24.0
        var b = (a2 - a1) / 576.0
        val s = scala.collection.mutable.Queue(
          ys.slice(0, 24).map(y => y - a1 / 24.0): _*)
        ys.drop(48).foreach { y =>
          val sOld = s.dequeue()
          val lNew = 0.5 * (y - sOld) + 0.5 * (l + b)
          val bNew = 0.25 * (lNew - l) + 0.75 * b
          s.enqueue(0.5 * (y - lNew) + 0.5 * sOld)
          l = lNew; b = bNew
        }
        val (nH, lvl, tr, f3) = res(et)
        assert(nH == ys.length.toLong)
        assert(lvl == r9(l), s"$et level: query $lvl vs scala ${r9(l)}")
        assert(tr == r9(b), s"$et trend: query $tr vs scala ${r9(b)}")
        assert(f3 == r9(l + 3.0 * b + s(2)), s"$et forecast_h3 mismatch")
      } else assert(!res.contains(et))
    }
  }

  test("CUSUM identity clamps P_0 = 0: a series opening ABOVE the mean") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // x = (9, 9, 0, 0, 2) with k = mean = 4: d_i (n-scaled, n=5, total=20)
    // opens positive, so every prefix P_j > 0 until hour 3 — the unclamped
    // min(pref) would over-subtract for the first hours. The fold gives
    // S = (25, 50, 30, 10, 0) in n-scaled units; max = 50 at hour 2.
    val xs = Seq(9L, 9L, 0L, 0L, 2L)
    val n = xs.length.toLong
    val total = xs.sum
    var s = 0L; var mx = 0L
    xs.foreach { x => s = math.max(0L, s + (n * x - total)); mx = math.max(mx, s) }
    assert(mx === 50L)

    val df = xs.zipWithIndex.map { case (x, h) => (h.toLong, x) }.toDF("h", "x")
    val wOrd = Window.orderBy(col("h"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = df
      .withColumn("pref", sum(lit(n) * col("x")).over(wRun) -
        row_number().over(wOrd).cast("long") * lit(total))
      .withColumn("cusum",
        col("pref") - least(min(col("pref")).over(wRun), lit(0L)))
      .agg(max(col("cusum"))).head.getLong(0)
    assert(got === mx,
      "windowed CUSUM must clamp the running min at P_0 = 0")
  }

  test("profile_gini: closed forms — uniform is 0, one-hot approaches (n-1)/n") {
    // Re-express the query's arithmetic on crafted counts via the same
    // sorted-rank identity, pinned to the analytic values.
    def gini(counts: Seq[Long]): Double = {
      val sorted = counts.sorted
      val n = sorted.length.toLong
      val tot = sorted.sum
      val wsum = sorted.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      (2.0 * wsum - (n + 1) * tot) / (n.toDouble * tot)
    }
    assert(gini(Seq(7L, 7L, 7L, 7L)) === 0.0)
    // (1,1,1,997): wsum = 1+2+3+4*997 = 3994; (2*3994 - 5*1000)/4000 = 0.747
    assert(gini(Seq(1L, 1L, 1L, 997L)) === 0.747)
    // and the registry query's values sit in [0, 1) with den = n*tot
    val rows = Registry.all("profile_gini").fn(spark, sfDir).collect()
    rows.foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0)
      assert(r.getAs[Long]("gini_den") ===
        r.getAs[Long]("n_sources") * r.getAs[Long]("n_docs"))
    }
  }

  test("profile_ks_drift: windowed merged-CDF D equals the brute-force CDF scan") {
    val res = Registry.all("profile_ks_drift").fn(spark, sfDir)
      .select("lang", "ks_num").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val docs = Tables.documents(spark, sfDir)
      .select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val en = docs.filter(_._1 == "en").map(_._2).sorted
    res.keys.foreach { l =>
      val xs = docs.filter(_._1 == l).map(_._2).sorted
      val pts = (xs ++ en).distinct
      // brute force: CDF counts at every observed value, cross-multiplied
      val d = pts.map { t =>
        val c1 = xs.count(_ <= t).toLong
        val c2 = en.count(_ <= t).toLong
        math.abs(c1 * en.length - c2 * xs.length)
      }.max
      assert(res(l) === d, s"KS numerator diverges for $l")
    }
  }

  test("events_markov_transition: rows are stochastic and bigrams conserve mass") {
    val rows = Registry.all("events_markov_transition").fn(spark, sfDir).collect()
    rows.groupBy(_.getString(0)).foreach { case (prev, rs) =>
      val massP = rs.map(_.getAs[Double]("p")).sum
      assert(math.abs(massP - 1.0) < 1e-6, s"row $prev not stochastic")
      val rowN = rs.head.getAs[Long]("row_n")
      assert(rs.map(_.getAs[Long]("n")).sum === rowN)
    }
  }

  test("events_ewma: the higher-order fold equals the literal recurrence") {
    val res = Registry.all("events_ewma").fn(spark, sfDir)
      .select("event_type", "ewma_half", "ewma_quarter").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val hours = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("t"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    hours.foreach { case (et, rows) =>
      val ys = rows.sortBy(_._2).map(_._3.toDouble)
      var h = ys.head; var q = ys.head
      ys.tail.foreach { y => h = (h + y) / 2.0; q = 0.75 * q + 0.25 * y }
      def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(res(et) === (r9(h), r9(q)), s"fold diverges for $et")
    }
  }

  test("events_holt_trend: the struct fold equals the literal recurrence; linear series are tracked exactly") {
    val res = Registry.all("events_holt_trend").fn(spark, sfDir)
      .select("event_type", "level", "trend", "forecast_h3").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(res.nonEmpty)
    val hours = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("t"))
      .agg(count(lit(1)).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    hours.filter(_._2.size >= 2).foreach { case (et, rows) =>
      val ys = rows.sortBy(_._2).map(_._3.toDouble)
      var l = ys(1); var b = ys(1) - ys(0)
      ys.drop(2).foreach { y =>
        val lNew = 0.5 * y + 0.5 * (l + b)
        b = 0.25 * (lNew - l) + 0.75 * b
        l = lNew
      }
      assert(res(et) === ((r9(l), r9(b), r9(l + 3.0 * b))), s"Holt fold diverges for $et")
    }
    // closed form: on a perfectly linear series Holt is EXACT whatever α/β —
    // l' = ½y₊ + ½(y+c) = y₊ and b' = ¼c + ¾c = c at every step
    val lin = (0 until 6).map(_.toDouble * 3.0 + 10.0)
    var l = lin(1); var b = lin(1) - lin(0)
    lin.drop(2).foreach { y =>
      val lNew = 0.5 * y + 0.5 * (l + b)
      b = 0.25 * (lNew - l) + 0.75 * b
      l = lNew
    }
    assert(l == lin.last && b == 3.0 && l + 3.0 * b == lin.last + 9.0)
  }

  test("events_anomaly_mad: doubled-unit medians are exact and gate is integral") {
    val rows = Registry.all("events_anomaly_mad").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // med2/mad4 are 2x/2x medians of integers: parity-free exactness means
      // they are plain longs, and outliers can never exceed the hour count
      assert(r.getAs[Long]("med2") >= 0 && r.getAs[Long]("mad4") >= 0)
      assert(r.getAs[Long]("n_outliers") <= r.getAs[Long]("n_hours"))
      assert(r.getAs[Long]("max_dev2") >= 0)
    }
  }

  test("events_peak_concurrency: peak bounded by sessions and reached at a real instant") {
    val rows = Registry.all("events_peak_concurrency").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ns, peak) = (r.getAs[Long]("n_sessions"), r.getAs[Long]("peak"))
      assert(peak >= 1 && peak <= ns)
      assert(r.getAs[Long]("peak_at_us") > 0)
    }
  }

  test("graph_modularity: per-community terms are internally consistent") {
    val rows = Registry.all("graph_modularity").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (dc, wc, rr) = (r.getAs[Long]("d_c"), r.getAs[Long]("w_c"), r.getAs[Long]("rr"))
      assert(wc <= dc, "within-community rows cannot exceed the degree mass")
      assert(r.getAs[Long]("q_num") === rr * wc - dc * dc)
      assert(math.abs(r.getAs[Double]("q_c")) <= 1.0)
    }
  }

  test("events_dau_wau_mau: rolling distinct actives nest (DAU <= WAU <= MAU)") {
    val rows = Registry.all("events_dau_wau_mau").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, w, m) = (r.getAs[Long]("dau"), r.getAs[Long]("wau"), r.getAs[Long]("mau"))
      assert(d <= w && w <= m, s"window nesting violated: $d/$w/$m")
      val s = r.getAs[Double]("stickiness")
      assert(s > 0.0 && s <= 1.0)
    }
  }

  test("events_cohort_ltv: cumulative value is monotone within each cohort") {
    val rows = Registry.all("events_cohort_ltv").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("cohort")).foreach { case (_, rs) =>
      val cums = rs.sortBy(_.getAs[Long]("age_week"))
        .map(_.getAs[Number]("cum_val").doubleValue())
      cums.sliding(2).foreach {
        case Array(a, b) => assert(b >= a)
        case _ =>
      }
    }
  }

  test("events_seasonality_chi2: exact rational equals the textbook float form") {
    val rows = Registry.all("events_seasonality_chi2").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val counts = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("pmod(unix_micros(ts) div 3600000000, 168)"))
      .agg(count(lit(1)).as("o")).collect()
      .map(r => (r.getString(0), r.getLong(2))).groupBy(_._1)
    rows.foreach { r =>
      val et = r.getString(0)
      val e = r.getAs[Long]("total").toDouble / 168.0
      // the query sums observed cells; (168·o − T)²/(168·T) ≡ (o − e)²/e
      val direct = counts(et).map(_._2.toDouble)
        .map(o => (o - e) * (o - e) / e).sum
      assert(math.abs(r.getAs[Double]("chi2") - direct) < 1e-6,
        s"telescoped rational diverges from the float form for $et")
    }
  }

  test("events_bot_score: gates are consistent with the graded columns") {
    val rows = Registry.all("events_bot_score").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expected =
        (if (r.getAs[Long]("n_hours") >= 20) 1L else 0L) +
          (if (r.getAs[Long]("med_gap2x") < 2L * 3600000000L) 1L else 0L) +
          (if (3L * r.getAs[Long]("n_self") > r.getAs[Long]("n_events")) 1L else 0L)
      assert(r.getAs[Long]("bot_score") === expected)
    }
  }

  test("stats_aqp_sample: estimates are 10x a deterministic subset, rerun-stable") {
    val a = Registry.all("stats_aqp_sample").fn(spark, sfDir).collect()
    val b = Registry.all("stats_aqp_sample").fn(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq, "hash-Bernoulli sample must be rerun-stable")
    a.foreach { r =>
      assert(r.getAs[Long]("est_docs") % 10 === 0)
      assert(r.getAs[Long]("abs_err") ===
        math.abs(r.getAs[Long]("est_docs") - r.getAs[Long]("true_docs")))
    }
  }

  test("events_survival_km: risk set telescopes, survival tracks the literal product") {
    val rows = Registry.all("events_survival_km").fn(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("d"), r.getAs[Long]("c"), r.getAs[Double]("surv")))
    assert(rows.nonEmpty)
    // exact telescoping: next risk set = this one minus this day's exits
    rows.sliding(2).foreach {
      case Array((_, n1, d1, c1, _), (_, n2, _, _, _)) =>
        assert(n2 === n1 - d1 - c1, "risk set must telescope exactly")
      case _ =>
    }
    // survival: nonincreasing, and within quantization error of the
    // literal sequential product (floor at 1e-9 per term, |days| terms)
    var prod = 1.0
    var prev = Double.MaxValue
    rows.foreach { case (_, n, d, _, surv) =>
      prod *= 1.0 - d.toDouble / n.toDouble
      assert(surv <= prev + 1e-12, "survival must be nonincreasing")
      assert(math.abs(surv - prod) <= 1e-5 * prod + 1e-9,
        s"survival $surv drifted from literal product $prod")
      prev = surv
    }
  }

  test("events_user_entropy: bounded by ln(n_types), zero iff one type") {
    Registry.all("events_user_entropy").fn(spark, sfDir).collect().foreach { r =>
      val h = r.getAs[Double]("entropy")
      val k = r.getAs[Long]("n_types")
      assert(h >= -1e-9 && h <= math.log(k.toDouble) + 1e-6,
        s"entropy $h outside [0, ln($k)]")
      if (k == 1L) assert(h === 0.0)
    }
  }

  test("profile_correlation_matrix: six pairs, |r| <= 1, shared n") {
    val rows = Registry.all("profile_correlation_matrix").fn(spark, sfDir).collect()
    assert(rows.length === 6)
    val ns = rows.map(_.getAs[Long]("n")).distinct
    assert(ns.length === 1, "every pair sees the same row count")
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("r")) <= 1.0 + 1e-9,
        s"Pearson r out of range: $r")
    }
  }

  test("events_kalman_1d: query fold matches an independent Scala recurrence") {
    val res = Registry.all("events_kalman_1d").fn(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(res.nonEmpty)

    val hours = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)

    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

    hours.foreach { case (et, rows) =>
      val ys = rows.sortBy(_._2).map(_._3.toDouble)
      if (ys.length >= 2) {
        var x = ys.head; var p = 1.0; var k = 0.0; var ssi = 0.0
        ys.tail.foreach { y =>
          val pp = p + 0.25
          k = pp / (pp + 4.0)
          val innov = y - x
          x = x + k * innov
          p = (1.0 - k) * pp
          ssi = ssi + innov * innov
        }
        val (n, xq, pq, kq, sq) = res(et)
        assert(n == ys.length.toLong)
        assert(xq == r9(x), s"$et x_hat: $xq vs ${r9(x)}")
        assert(pq == r9(p) && kq == r9(k), s"$et p/gain mismatch")
        assert(sq == r9(ssi), s"$et ssi: $sq vs ${r9(ssi)}")
        // Riccati fixed point for q=1/4, r=4: the PREDICTED variance obeys
        // u^2 - qu - qr = 0 => u* = (q + sqrt(q^2 + 4qr))/2, k* = u*/(u* + r);
        // after >=49 steps the gain must sit on it
        if (ys.length >= 49) {
          val uStar = (0.25 + math.sqrt(0.25 * 0.25 + 4.0 * 0.25 * 4.0)) / 2.0
          val kStar = uStar / (uStar + 4.0)
          assert(math.abs(kq - kStar) < 1e-9,
            s"$et gain $kq must converge to Riccati k* $kStar")
        }
      } else assert(!res.contains(et))
    }
  }

  test("events_theta_forecast: query fold matches an independent Scala recurrence") {
    val res = Registry.all("events_theta_forecast").fn(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(res.nonEmpty)

    val hours = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)

    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

    hours.foreach { case (et, rows) =>
      val ysL = rows.sortBy(_._2).map(_._3)
      val n = ysL.length
      if (n >= 3) {
        var si = 0L; var sy = 0L; var siy = 0L; var sii = 0L
        ysL.zipWithIndex.foreach { case (y, i0) =>
          val i = (i0 + 1).toLong
          si += i; sy += y; siy += i * y; sii += i * i
        }
        val b = (n * siy - si * sy).toDouble / (n * sii - si * si)
        val a = (sy.toDouble - b * si.toDouble) / n.toDouble
        var ses = 2.0 * ysL.head.toDouble - (a + b * 1.0)
        ysL.zipWithIndex.drop(1).foreach { case (y, i0) =>
          val z = 2.0 * y.toDouble - (a + b * (i0 + 1).toDouble)
          ses = 0.5 * z + 0.5 * ses
        }
        val fc = 0.5 * ses + 0.5 * (a + b * (n + 3).toDouble)
        val (nq, slope, icept, sesQ, fcQ) = res(et)
        assert(nq == n.toLong)
        assert(slope == r9(b) && icept == r9(a), s"$et OLS mismatch")
        assert(sesQ == r9(ses), s"$et ses: $sesQ vs ${r9(ses)}")
        assert(fcQ == r9(fc), s"$et forecast: $fcQ vs ${r9(fc)}")
      } else assert(!res.contains(et))
    }
  }


  test("events_croston: query fold matches an independent Scala recurrence") {
    val res = Registry.all("events_croston").fn(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(res.nonEmpty)

    val hours = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)

    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

    hours.foreach { case (et, rows) =>
      val tys = rows.sortBy(_._2).map(r => (r._2, r._3))
      if (tys.length >= 2) {
        var tp = tys.head._1; var z = tys.head._2.toDouble; var p = 1.0
        tys.tail.foreach { case (t, y) =>
          val q = (t - tp).toDouble
          z = 0.75 * z + 0.25 * y.toDouble
          p = 0.75 * p + 0.25 * q
          tp = t
        }
        val (n, zq, pq, rq) = res(et)
        assert(n == tys.length.toLong)
        assert(zq == r9(z) && pq == r9(p), s"$et size/interval mismatch")
        assert(rq == r9(z / p), s"$et rate: $rq vs ${r9(z / p)}")
        // a dense hourly series has interval ~1; rate <= size then
        assert(pq >= 1.0 - 1e-9, s"$et interval below 1 hour: $pq")
      } else assert(!res.contains(et))
    }
  }


  test("profile_welch_ttest: t and dof match an independent computation") {
    val res = Registry.all("profile_welch_ttest").fn(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(res.nonEmpty)
    val xs = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = xs.length.toLong
    val s = xs.map(_._2).sum
    val q = xs.map(x => BigInt(x._2) * BigInt(x._2)).sum

    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

    xs.groupBy(_._1).foreach { case (src, g) =>
      val n1 = g.length.toLong
      val n2 = n - n1
      if (n1 >= 2 && n2 >= 2) {
        val s1 = g.map(_._2).sum
        val q1 = g.map(x => BigInt(x._2) * BigInt(x._2)).sum
        val (n1d, n2d) = (n1.toDouble, n2.toDouble)
        val m1 = s1.toDouble / n1d
        val m2 = (s - s1).toDouble / n2d
        val v1 = (q1.toDouble - s1.toDouble * s1.toDouble / n1d) / (n1d - 1.0)
        val v2 = ((q - q1).toDouble - (s - s1).toDouble * (s - s1).toDouble / n2d) / (n2d - 1.0)
        val (u1, u2) = (v1 / n1d, v2 / n2d)
        val t = (m1 - m2) / math.sqrt(u1 + u2)
        val dof = (u1 + u2) * (u1 + u2) /
          (u1 * u1 / (n1d - 1.0) + u2 * u2 / (n2d - 1.0))
        val (nq, mq, tq, dq) = res(src)
        assert(nq == n1 && mq == r9(m1), s"$src n/mean mismatch")
        assert(tq == r9(t), s"$src t: $tq vs ${r9(t)}")
        assert(dq == r9(dof), s"$src dof: $dq vs ${r9(dof)}")
        // Welch dof is bracketed by min(n1,n2)-1 and n-2
        assert(dq >= math.min(n1d, n2d) - 1.0 - 1e-6 && dq <= n.toDouble - 2.0 + 1e-6,
          s"$src dof out of bracket: $dq")
      } else assert(!res.contains(src))
    }
  }

  test("profile_mann_whitney: histogram rank-sum U equals brute-force pair counting") {
    // The query derives 2·U1 from tie-averaged ranks over the value
    // histogram; U's DEFINITION is pair counting (wins + ties/2). Replay
    // the definition literally over the collected corpus and compare.
    // u_x2 is graded as a digit STRING (r9 ADVICE: the decimal→long cast
    // silently nulled past 2^63); parse via BigInt here.
    val res = Registry.all("profile_mann_whitney").fn(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), BigInt(r.getString(3)), r.getDouble(4))).toMap
    assert(res.nonEmpty)
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    docs.map(_._1).distinct.foreach { src =>
      val a = docs.filter(_._1 == src).map(_._2)
      val b = docs.filter(_._1 != src).map(_._2)
      var wins = 0L; var ties = 0L
      a.foreach { x => b.foreach { y =>
        if (x > y) wins += 1 else if (x == y) ties += 1 } }
      val (n1q, n2q, u2q, zq) = res(src)
      assert(n1q == a.length.toLong && n2q == b.length.toLong,
        s"$src group sizes mismatch")
      assert(u2q == 2L * wins + ties,
        s"$src 2U: $u2q vs ${2L * wins + ties}")
      // under-the-null magnitude sanity: |z| of a real split stays finite
      assert(!zq.isNaN && !zq.isInfinite, s"$src z not finite: $zq")
    }
  }

  test("profile_cramers_v: fixed-point chi2 matches a BigInt replay; V in [0,1]") {
    val row = Registry.all("profile_cramers_v").fn(spark, sfDir).collect()(0)
    val cells = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val rm = cells.groupBy(_._1._1).map { case (k, g) => k -> g.map(_._2).sum }
    val cm = cells.groupBy(_._1._2).map { case (k, g) => k -> g.map(_._2).sum }
    val n = BigInt(cells.map(_._2).sum)
    val grid = BigInt(1000000000000L)
    val sfp = cells.map { case ((l, s2), nij) =>
      BigInt(nij) * nij * grid / (BigInt(rm(l)) * cm(s2))
    }.sum
    val chi2 = (n * sfp - n * grid).max(BigInt(0))
    assert(row.getAs[String]("chi2_fp") == chi2.toString, "chi2_fp mismatch")
    assert(row.getAs[Long]("n_lang") == rm.size.toLong)
    assert(row.getAs[Long]("n_source") == cm.size.toLong)
    val v = row.getAs[Double]("cramers_v")
    assert(v >= 0.0 && v <= 1.0 + 1e-9, s"V out of [0,1]: $v")
  }

  test("events_anomaly_spc: integer gate equals the float 3-sigma rule away from boundaries") {
    val res = Registry.all("events_anomaly_spc").fn(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(5))).toMap
    assert(res.nonEmpty)
    val hours = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("t"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).groupBy(_._1)
    hours.foreach { case (et, rows) =>
      val n = rows.length.toLong
      val sx = rows.map(_._3).sum
      val q = rows.map(r => BigInt(r._3) * r._3).sum
      // integer-gate replay
      val alarms = rows.count { r =>
        val dev = BigInt(n) * r._3 - sx
        dev * dev * (n - 1) > BigInt(n) * 9 * (BigInt(n) * q - BigInt(sx) * sx)
      }.toLong
      // float 3σ replay must agree (no boundary cases in organic counts)
      val mean = sx.toDouble / n
      val vr = (q.toDouble - sx.toDouble * sx.toDouble / n) / (n - 1)
      val alarmsF = rows.count(r => math.abs(r._3 - mean) > 3.0 * math.sqrt(vr)).toLong
      val worst = rows.map { r =>
        val dev = BigInt(n) * r._3 - sx; (dev * dev, r._2)
      }.sortBy { case (d, t) => (-d, t) }.head
      val (nh, na, wh, wd) = res(et)
      assert(nh == n && na == alarms, s"$et census mismatch")
      assert(alarms == alarmsF, s"$et integer vs float gate diverge")
      assert(wh == worst._2 && wd == worst._1.toString, s"$et worst hour mismatch")
    }
  }

  test("profile_spearman: digit-string moments match a literal rank re-derivation") {
    // Third implementation: tie-averaged ranks computed by per-element
    // counting (O(n²), fine at sf0.001), centered moments in BigInt.
    val rows = Registry.all("profile_spearman").fn(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sfDir)
      .select(col("source"), col("n_chars"),
        (length(col("text")) - length(expr("replace(text, ' ', '')")) + lit(1L)).as("y"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue(),
        r.getAs[Number](2).longValue()))
    def ranks2(vs: Array[Long]): Array[Long] =
      vs.map { v =>
        val less = vs.count(_ < v).toLong
        val eq = vs.count(_ == v).toLong
        2L * less + eq + 1L
      }
    rows.foreach { r =>
      val src = r.getString(0)
      val g = docs.filter(_._1 == src)
      val rx = ranks2(g.map(_._2)); val ry = ranks2(g.map(_._3))
      val n = BigInt(g.length)
      val nc = n * (n + 1) * (n + 1)
      val num = rx.zip(ry).map { case (a, b) => BigInt(a) * b }.sum - nc
      val dxx = rx.map(a => BigInt(a) * a).sum - nc
      val dyy = ry.map(a => BigInt(a) * a).sum - nc
      assert(r.getLong(1) == g.length.toLong, s"$src n mismatch")
      assert(r.getString(2) == num.toString, s"$src num mismatch")
      assert(r.getString(3) == dxx.toString, s"$src dxx mismatch")
      assert(r.getString(4) == dyy.toString, s"$src dyy mismatch")
      val rho = r.getDouble(5)
      assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9, s"$src rho out of [-1,1]")
      // ranks of a constant column would have dxx == 0 and be filtered out
      assert(dxx > 0 && dyy > 0, s"$src degenerate moments survived the filter")
    }
  }

}
