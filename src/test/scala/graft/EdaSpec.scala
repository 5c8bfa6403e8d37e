package graft

import org.scalatest.funsuite.AnyFunSuite

class EdaSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  test("approx distinct stays within the configured error bound of exact, at two SFs") {
    // pinned per-SF (the q124-class risk: a constant that only holds at
    // one calibration size) — the bound must hold at tiny AND 10x corpora
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val rows = analyze.Eda.q27Raw(spark, dir)
        .select("event_type", "approx_users").collect()
      val exact = Registry.queries("q21_distinct_agg")(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (tpe, approx) = (r.getString(0), r.getLong(1))
        val e = exact(tpe).toDouble
        // rsd 0.02 → generous 5x slack for small cardinalities
        assert(math.abs(approx - e) / e <= 0.10,
          s"$dir $tpe: approx $approx vs exact $e")
      }
    }
  }

  test("approx percentiles land within tight rank error of the exact nearest-rank answer") {
    val approx = clean.TextQueries.q107Raw(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = Registry.queries("q53_len_percentiles")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(approx.keySet == exact.keySet)
    // accuracy 10000 on ~100-row groups → error should be at most one
    // neighboring rank's value; allow 5% relative slack on the value
    approx.foreach { case (lang, (p50, p90)) =>
      val (e50, e90) = exact(lang)
      assert(math.abs(p50 - e50).toDouble / e50 <= 0.05, s"$lang p50: $p50 vs $e50")
      assert(math.abs(p90 - e90).toDouble / e90 <= 0.05, s"$lang p90: $p90 vs $e90")
    }
  }

  test("rollup emits per-group rows, per-type subtotals, and a grand total") {
    val rows = Registry.queries("q25_rollup")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val grand = rows.filter(r => r._1 == "<all>" && r._2 == "<all>")
    assert(grand.length == 1)
    val total = grand.head._3
    val typeSubtotals = rows.filter(r => r._1 != "<all>" && r._2 == "<all>")
    assert(typeSubtotals.map(_._3).sum == total)
    val leaves = rows.filter(r => r._1 != "<all>" && r._2 != "<all>")
    assert(leaves.map(_._3).sum == total)
  }

  test("salted aggregation equals direct aggregation (q24 vs q01 totals)") {
    val salted = Registry.queries("q24_salted_agg")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val direct = Registry.queries("q01_count_by_type")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
  }

  test("q233 bootstrap CI: interval brackets the point estimate, B intact") {
    val rows = Registry.queries("q233_bootstrap_ci")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, nDocs, point, lo, hi, b) =>
      assert(b == 200, s"$lang: lost replicates ($b)")
      assert(lo <= hi, s"$lang: inverted interval")
      // a 95% bootstrap interval on hundreds of docs straddles the mean
      assert(lo <= point && point <= hi, s"$lang: point $point outside [$lo,$hi]")
      // width sanity: non-degenerate but far tighter than the mean itself
      assert(hi - lo > 0 && hi - lo < point, s"$lang: width ${hi - lo}")
      assert(nDocs > 0)
    }
  }

  test("q231 attribution: both credit models conserve total purchase cents") {
    import org.apache.spark.sql.functions._
    val rows = Registry.queries("q231_attribution")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val channels = rows.map(_._1).toSet
    assert(channels.subsetOf(Set("view", "click", "organic")) && channels("organic"))
    val totalCents = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(expr("CAST(floor(CAST(value AS DECIMAL(18,4)) * 100) AS BIGINT)"))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sum
    // every cent is placed exactly once under BOTH models
    assert(rows.map(_._4).sum == totalCents, "linear credit does not balance")
    assert(rows.map(_._5).sum == totalCents, "last-touch credit does not balance")
    // organic rows carry no touches by definition
    rows.filter(_._1 == "organic").foreach(r => assert(r._2 == 0))
  }

  test("q237 EWMA equals a sequential driver-side replay of the recurrence") {
    import org.apache.spark.sql.functions.{col, count, lit, to_date}
    val daily = Tables.events(spark, TestSpark.sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val expected = daily.groupBy(_._1).toSeq.flatMap { case (et, rows) =>
      val sorted = rows.sortBy(_._2)
      var s = 0L
      var prev = Option.empty[Long]
      sorted.map { case (_, day, n) =>
        s = if (prev.isEmpty) n * 1000 else (3 * s + n * 1000) / 4
        val spike = prev.exists(p => n * 1000 > 2 * p)
        prev = Some(s)
        (et, day, n, s, spike)
      }
    }.sortBy(t => (t._1, t._2))
    val got = Registry.queries("q237_ewma_chart")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(got == expected, s"EWMA replay mismatch (first got=${got.headOption})")
    // smoothing is between the extremes: ewma stays within [min,max]·1000 per key
    got.groupBy(_._1).foreach { case (_, rows) =>
      val (lo, hi) = (rows.map(_._3).min * 1000, rows.map(_._3).max * 1000)
      rows.foreach(r => assert(r._4 >= lo - 3 && r._4 <= hi, s"ewma escaped range: $r"))
    }
  }

  test("q241 rolling percentiles equal a driver-side trailing-window replay") {
    import org.apache.spark.sql.functions.{col, to_date}
    val ev = Tables.events(spark, TestSpark.sf)
      .select(col("event_type"), to_date(col("ts")).as("d"), col("value")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getDouble(2)))
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (et, rows) =>
      val (lo, hi) = (rows.map(_._2).minBy(_.toEpochDay), rows.map(_._2).maxBy(_.toEpochDay))
      Iterator.iterate(lo)(_.plusDays(1)).takeWhile(!_.isAfter(hi)).map { day =>
        val vals = rows.filter(r => !r._2.isAfter(day) && !r._2.isBefore(day.minusDays(6)))
          .map(_._3).sorted
        def nr(p: Double) = vals(math.ceil(vals.length * p).toInt - 1)
        (et, day.toString, nr(0.5), nr(0.95), vals.length.toLong)
      }.toSeq
    }.sortBy(t => (t._1, t._2))
    val got = Registry.queries("q241_rolling_percentiles")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(got == expected, s"rolling percentile mismatch (first got=${got.headOption})")
    // p95 dominates p50 everywhere — the tail is actually a tail
    got.foreach(r => assert(r._4 >= r._3, s"p95 < p50 at $r"))
  }

  test("q242 weighted percentiles equal a driver-side cumulative-weight replay") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, TestSpark.sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getDouble(2).toLong, r.getDouble(3)))
    val pri = Tables.orders(spark, TestSpark.sf)
      .select(col("o_orderkey"), col("o_orderpriority")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = li.groupBy(r => pri(r._1)).toSeq.map { case (p, rows) =>
      val sorted = rows.map(r => (r._4 / r._3, r._3, r._1, r._2))
        .sortBy(t => (t._1, t._3, t._4))
      val tw = sorted.map(_._2).sum
      def wp(pct: Double): Double = {
        val thr = math.ceil(tw * pct)
        var cw = 0L
        sorted.find { t => cw += t._2; cw >= thr }.get._1
      }
      (p, wp(0.5), wp(0.9), tw, rows.length.toLong)
    }.sortBy(_._1)
    val got = Registry.queries("q242_weighted_percentiles")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(_._1)
    assert(got == expected, s"weighted percentile mismatch (first got=${got.headOption})")
    // weighting bites: at least one group's weighted p50 differs from unweighted
    val unweighted = li.groupBy(r => pri(r._1)).map { case (p, rows) =>
      val vals = rows.map(r => r._4 / r._3).sorted
      p -> vals(math.ceil(vals.length * 0.5).toInt - 1)
    }
    assert(got.exists(g => unweighted(g._1) != g._2),
      "weighted == unweighted everywhere — weighting inert on fixture")
  }

  test("q245 lead-lag correlations equal a driver-side moments replay") {
    import org.apache.spark.sql.functions.{col, to_date}
    val daily = Tables.events(spark, TestSpark.sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    val byType = daily.groupBy(_._1).map { case (t, rs) =>
      t -> rs.map(r => r._2 -> r._3).toMap
    }
    val types = byType.keys.toSeq.sorted
    val expected = (for {
      ta <- types; tb <- types if ta < tb
      lag <- -3L to 3L
    } yield {
      val pairs = byType(ta).toSeq.flatMap { case (day, x) =>
        byType(tb).get(day.plusDays(lag)).map(y => (x, y))
      }
      val nd = pairs.length.toLong
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val sxy = pairs.map(p => p._1 * p._2).sum
      val (sx2, sy2) = (pairs.map(p => p._1 * p._1).sum, pairs.map(p => p._2 * p._2).sum)
      val (vx, vy) = (nd * sx2 - sx * sx, nd * sy2 - sy * sy)
      if (nd == 0 || vx <= 0 || vy <= 0) None
      else Some((ta, tb, lag, nd,
        (nd * sxy - sx * sy).toDouble / (math.sqrt(vx.toDouble) * math.sqrt(vy.toDouble))))
    }).flatten
    val withBest = expected.groupBy(e => (e._1, e._2)).toSeq.flatMap { case (_, rows) =>
      val best = rows.minBy(r => (-math.abs(r._5), r._3))
      rows.map(r => (r._1, r._2, r._3, r._4, r._5, r == best))
    }.sortBy(t => (t._1, t._2, t._3))
    val got = Registry.queries("q245_leadlag_corr")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5))).toSeq.sortBy(t => (t._1, t._2, t._3))
    assert(got == withBest, s"lead-lag mismatch (first got=${got.headOption})")
    got.groupBy(g => (g._1, g._2)).foreach { case (k, rows) =>
      assert(rows.count(_._6) == 1, s"pair $k must flag exactly one best lag")
    }
  }

  test("q248 relational HLL: merge law holds, estimate within sketch tolerance") {
    val rows = Registry.queries("q248_hll_registers")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (et, exact, nPres, vEmpty, est, estM, law) =>
      assert(law, s"merge law failed for $et")
      assert(est == estM, s"direct vs merged estimate differ for $et")
      assert(nPres + vEmpty == 256, "register accounting broken")
      // m=256 → rsd ≈ 6.5%; allow 3σ (20%) for n ≥ 100, looser floor on
      // tiny cardinalities where ±1 register dominates
      val tol = if (exact >= 100) 0.20 else 0.40
      assert(math.abs(est - exact) <= math.max(2, exact * tol),
        s"$et: est $est vs exact $exact outside ${tol * 100}%")
    }
    // the pinned LC table IS round(m·ln(m/V)) — regenerate and compare
    val table = (1 to 255).map(v => math.round(256.0 * math.log(256.0 / v)))
    assert(table.head == 1420 && table(254) == 1,
      "LC table endpoints drifted from the generating formula")
  }

  test("q246 Benford audit: digits complete, counts reconcile, chi2 replays") {
    val rows = Registry.queries("q246_benford_audit")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 9L), "all nine digits present")
    val n = rows.head._4
    assert(rows.map(_._2).sum == n, "observed counts must sum to n_total")
    assert(rows.map(_._3).sum == 10000L, "pinned proportions sum to one")
    rows.foreach { case (_, obs, p, nt, exp, chi2) =>
      assert(exp == nt * p / 10000, "expected count formula")
      val dev = 10000 * obs - nt * p
      assert(chi2 == dev * dev / (nt * p * 10000), "chi2 contribution formula")
    }
  }
}
