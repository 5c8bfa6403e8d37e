package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.relational.OperatorQueries.{PK, Top3Agg}

/** Unit-level checks for the round-2 relational/pipeline operators (the
  * driver oracle is the integration gate; these pin the algebraic
  * properties the oracle can't see).
  */
class OperatorSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  test("Top3Agg: merge of any partitioning equals top-3 of the whole") {
    val vals = Seq(PK(5.0, 1), PK(9.0, 2), PK(9.0, 3), PK(1.0, 4), PK(7.0, 5), PK(9.0, 6))
    val expected = vals.sortBy(p => (-p.price, p.key)).take(3)
    // every 2-way split of the input must merge to the same top-3
    (0 to vals.size).foreach { cut =>
      val (l, r) = vals.splitAt(cut)
      val bufL = l.foldLeft(Top3Agg.zero)(Top3Agg.reduce)
      val bufR = r.foldLeft(Top3Agg.zero)(Top3Agg.reduce)
      assert(Top3Agg.finish(Top3Agg.merge(bufL, bufR)) == expected, s"cut=$cut")
    }
    // buffer never exceeds k
    val big = (1 to 50).map(i => PK(i.toDouble, i.toLong))
    assert(big.foldLeft(Top3Agg.zero)(Top3Agg.reduce).size == 3)
  }

  test("q82 as-of join matches the brute-force latest-click-at-or-before reference") {
    val got = Registry.queries("q82_asof_join")(spark, sf)
      .collect().map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toMap
    // reference: full interval join + per-purchase argmax over (ts, click_id)
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = ev.filter(_._3 == "click")
    val expected = ev.filter(_._3 == "purchase").map { case (pid, u, _, pts) =>
      val cands = clicks.filter(c => c._2 == u && c._4 <= pts)
      pid -> (if (cands.isEmpty) None else Some(cands.maxBy(c => (c._4, c._1))._1))
    }.toMap
    assert(got == expected)
  }

  test("q84 packing conserves documents and tokens, packs are disjoint in doc ranges") {
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect()
    val packs = Registry.queries("q84_sequence_packing")(spark, sf).collect()
    assert(packs.map(_.getLong(2)).sum == docs.length) // n_docs conserved
    assert(packs.map(_.getLong(3)).sum == docs.map(_.getLong(1)).sum) // tokens conserved
    // within a lang, first_doc strictly increases with pack_id (chunking
    // follows doc order; packs never interleave)
    packs.groupBy(_.getString(0)).foreach { case (_, ps) =>
      val ordered = ps.sortBy(_.getLong(1)).map(_.getLong(4))
      assert(ordered.sameElements(ordered.sorted) && ordered.distinct.length == ordered.length)
    }
  }

  test("q87 bloom filter: zero false negatives, genuinely selective") {
    import org.apache.spark.sql.Row
    // sf0.01: the smallest SF where suppliers clear the 9000 acctbal bar
    val sf = "/root/testdata/sf0.01"
    val words = graft.relational.OperatorQueries.bloomWords(spark, sf)
      .orderBy("word_idx").collect().map { case Row(_, bits: Long) => bits }
    assert(words.length == 16)
    def contains(k: Long): Boolean = Seq(0L, 7919L).forall { salt =>
      val pos = (((k * 2654435761L + salt) % 1024) + 1024) % 1024
      (words(pos.toInt / 64) & (1L << (pos % 64).toInt)) != 0
    }
    val dimKeys = Tables.supplier(spark, sf).filter(col("s_acctbal") > 9000)
      .select("s_suppkey").collect().map(_.getLong(0))
    assert(dimKeys.nonEmpty && dimKeys.forall(contains)) // no false negatives
    val allKeys = Tables.supplier(spark, sf).select("s_suppkey")
      .collect().map(_.getLong(0))
    val passRate = allKeys.count(contains).toDouble / allKeys.length
    val trueRate = dimKeys.length.toDouble / allKeys.length
    // the pre-filter must actually prune: pass rate near the true match
    // rate, far from "everything passes"
    assert(passRate < trueRate + 0.2, s"passRate=$passRate trueRate=$trueRate")
  }

  test("q86 assigns every vector exactly once to a real centroid with minimal distance") {
    val assigned = Registry.queries("q86_kmeans_assign")(spark, sf).collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(assigned.length == nVecs)
    assert(assigned.forall(_.getDouble(2) >= 0.0))
    val labels = Tables.embeddings(spark, sf).select("label").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(assigned.forall(r => labels.contains(r.getInt(1))))
  }

  test("q124 z-buckets are localized in BOTH dimensions (the skipping property)") {
    val out = Registry.queries("q124_zorder_layout")(spark, sf).collect()
    assert(out.nonEmpty)
    var n = 0L
    out.foreach { r =>
      n += r.getLong(1)
      // top nibble of the morton code fixes the top 2 bits of each dim:
      // min and max of each dimension fall in the same quarter
      assert(r.getLong(2) / 4 == r.getLong(3) / 4, s"px spread in bucket ${r.getLong(0)}")
      assert(r.getLong(4) / 4 == r.getLong(5) / 4, s"sy spread in bucket ${r.getLong(0)}")
    }
    assert(n == Tables.lineitem(spark, sf).count())
  }

  test("q125 funnel matches brute force; testdata ts is monotone in event_id") {
    // the invariant q125's event_id axis relies on
    val viol = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"))
      .orderBy("event_id").collect().sliding(2)
      .count(p => p.length == 2 && p(0).getTimestamp(1).after(p(1).getTimestamp(1)))
    assert(viol == 0)
    val ev = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2))
    var (nv, nc, np) = (0L, 0L, 0L)
    ev.foreach { case (_, rows) =>
      val e1 = rows.find(_._3 == "view").map(_._2)
      val e2 = e1.flatMap(t => rows.find(r => r._3 == "click" && r._2 > t).map(_._2))
      val e3 = e2.flatMap(t => rows.find(r => r._3 == "purchase" && r._2 > t).map(_._2))
      if (e1.isDefined) nv += 1
      if (e2.isDefined) nc += 1
      if (e3.isDefined) np += 1
    }
    val got = Registry.queries("q125_funnel")(spark, sf).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) == ((nv, nc, np)))
  }

  test("q130 pattern runs match a driver-side regex over the same sequences") {
    val seqs = Tables.events(spark, sf)
      .select("user_id", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3.head).mkString).toMap
    val got = Registry.queries("q130_event_pattern")(spark, sf).collect()
    assert(got.length == seqs.size)
    got.foreach { r =>
      val seq = seqs(r.getLong(0))
      assert(r.getLong(1) == seq.length.toLong)
      assert(r.getLong(2) == "v[^p]*p".r.findAllIn(seq).size.toLong)
    }
  }

  test("q131 profile: distinct <= n, nulls complement, bounds consistent") {
    val rows = Registry.queries("q131_column_profile")(spark, sf).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq ==
      Seq("o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus"))
    val n = Tables.orders(spark, sf).count()
    rows.foreach { r =>
      assert(r.getLong(1) == n)
      assert(r.getLong(2) == 0) // testdata has no nulls in these columns
      assert(r.getLong(3) >= 1 && r.getLong(3) <= n)
      assert(r.getString(4) <= r.getString(5) ||
        r.getString(0).endsWith("key")) // numeric min/max as strings may not sort lexically
    }
    val ok = rows.find(_.getString(0) == "o_orderkey").get
    assert(ok.getLong(3) == n) // orderkey is unique
  }

  test("q132 pagerank matches an exact driver-side fixed-point reference") {
    val unit = 1000000000000L
    val e0 = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")), concat(lit("C"), col("o_custkey")))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val edges = e0 ++ e0.map(_.swap)
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = outdeg.keys.toSeq.sorted
    val nN = nodes.size.toLong
    var r = nodes.map(_ -> unit / nN).toMap
    (1 to 3).foreach { _ =>
      val cin = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      edges.foreach { case (s0, d0) => cin(d0) += r(s0) / outdeg(s0) }
      r = nodes.map(n0 => n0 -> ((15 * unit) / (100 * nN) + (85 * cin(n0)) / 100)).toMap
    }
    val expect = r.toSeq.sortBy { case (n0, rv) => (-rv, n0) }.take(20)
    val got = Registry.queries("q132_pagerank")(spark, sf).collect()
      .map(row => (row.getString(0), row.getLong(1))).toSeq
    assert(got == expect)
  }

  test("q133 PQ encoding matches an exact driver-side argmin reference") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    val codes = vecs.filter(_._1 < 4)
    val hist = scala.collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
    vecs.foreach { case (_, v) =>
      (0 until 8).foreach { j =>
        val best = codes.map { case (cid, c) =>
          var acc = 0.0
          (0 until 8).foreach { i =>
            val d = v(j * 8 + i).toDouble - c(j * 8 + i).toDouble
            acc += d * d
          }
          (acc, cid)
        }.min
        hist((j.toLong, best._2)) += 1
      }
    }
    val got = Registry.queries("q133_pq_encode")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == hist.toMap)
  }

  test("q151 OLS fit matches a driver-side exact-decimal normal-equations reference") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val evs = Tables.events(spark, TestSpark.sf)
      .selectExpr("event_type", "value", "CAST(hour(ts) AS BIGINT) AS h")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val expected = evs.groupBy(_._1).view.mapValues { rows =>
      val ys = rows.map(t => new JBD(t._2).setScale(2, RoundingMode.HALF_UP))
      val xs = rows.map(_._3)
      val n = rows.length.toDouble
      val sy = ys.reduce(_ add _).doubleValue
      val sx = xs.sum.toDouble
      val sxy = ys.zip(xs)
        .map { case (y, x) => y.multiply(new JBD(x)).setScale(2, RoundingMode.HALF_UP) }
        .reduce(_ add _).doubleValue
      val sx2 = xs.map(x => x * x).sum.toDouble
      val slope = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
      (slope, (sy - slope * sx) / n)
    }.toMap
    val got = Registry.queries("q151_ols_trend")(spark, TestSpark.sf).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (s1, i1)) =>
      val (s2, i2) = expected(k)
      assert(s1 == s2 && i1 == i2, s"$k: got ($s1,$i1) want ($s2,$i2)")
    }
  }

  test("q152 binaryFile ingest reproduces table-derived lengths and fingerprints") {
    val parts = Tables.part(spark, TestSpark.sf)
      .filter(col("p_partkey") < 64).select("p_partkey", "p_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def polyHash(s: String): Long =
      s.foldLeft(7L)((h, c) => (h * 31 + c.toLong) % 1000000007L)
    val got = Registry.queries("q152_binaryfile")(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == parts.keySet)
    got.foreach { case (k, (len, fp)) =>
      val content = s"part:$k:${parts(k)}"
      assert(len == content.getBytes("UTF-8").length.toLong)
      assert(fp == polyHash(content))
    }
  }

  test("q150 dataset card matches a driver-side recomputation") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val nDocs = docs.length.toLong
    val nTokens = docs.map(_._2.split(" ").length.toLong).sum
    val byLang = docs.groupBy(_._3).view.mapValues(_.size.toLong)
    val topLang = byLang.toSeq.maxBy { case (l, n) => (n, l) }._1
    val row = Registry.queries("q150_dataset_card")(spark, TestSpark.sf)
      .collect().head
    assert(row.getAs[Long]("n_docs") == nDocs)
    assert(row.getAs[Long]("n_tokens") == nTokens)
    assert(row.getAs[Long]("n_langs") == byLang.size.toLong)
    assert(row.getAs[Long]("n_sources") == docs.map(_._4).distinct.length.toLong)
    assert(row.getAs[Long]("n_exact_dups") == nDocs - docs.map(_._2).distinct.length.toLong)
    assert(row.getAs[String]("top_lang") == topLang)
    assert(row.getAs[Long]("mean_tokens_fp") == 1000000L * nTokens / nDocs)
  }

  test("q143 MERGE matches a driver-side apply-changes reference") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = orders.toSeq.flatMap { case (k, p) =>
      (k % 10) match {
        case 0 => Nil // deleted
        case 1 | 2 => Seq((k, p + 1.0, "updated"))
        case 3 => Seq((k, p, "base"), (k + 100000000L, p, "inserted"))
        case _ => Seq((k, p, "base"))
      }
    }.sortBy(_._1)
    val got = Registry.queries("q143_merge_upsert")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq.sortBy(_._1)
    assert(got == expected)
    // MERGE invariants: every change class is represented on the testdata
    assert(got.exists(_._3 == "updated") && got.exists(_._3 == "inserted"))
    assert(!got.exists(t => t._1 % 10 == 0 && t._1 < 100000000L))
  }

  test("q172 dictionary: codes are contiguous, order-preserving, counts cover") {
    val got = Registry.queries("q172_dict_encode")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._1).sorted.toSeq == (1L to got.length))
    // order-preserving: code order == string order
    assert(got.sortBy(_._1).map(_._2).toSeq == got.map(_._2).sorted.toSeq)
    val total = Tables.documents(spark, sf).count()
    assert(got.map(_._3).sum == total)
  }

  test("q175 time travel: one covering version per live entity, none born later") {
    val hist = Registry.queries("q88_scd2_history")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) Long.MaxValue else r.getLong(4)))
    val got = Registry.queries("q175_time_travel")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val t = got.head._5
    // exactly one row per user, and it is exactly the covering version
    assert(got.map(_._1).distinct.length == got.length)
    got.foreach { case (u, v, state, from, _) =>
      val cover = hist.filter(h => h._1 == u && h._4 <= t && h._5 > t)
      assert(cover.length == 1, s"user $u cover count")
      assert((cover.head._2, cover.head._3, cover.head._4) == ((v, state, from)))
    }
    // completeness: every user with any version at-or-before T is present
    val expected = hist.filter(h => h._4 <= t).map(_._1).distinct.sorted.toSeq
    assert(got.map(_._1).sorted.toSeq == expected)
  }

  test("q174 data contracts match driver-side recomputation; both verdicts occur") {
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val custs = Tables.customer(spark, sf).select("c_custkey")
      .collect().map(_.getLong(0)).toSet
    val discountsOver = Tables.lineitem(spark, sf)
      .filter(col("l_discount") > 0.08).count()
    val nLi = Tables.lineitem(spark, sf).count()
    val got = Registry.queries("q174_data_contract")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    val n = orders.length.toLong
    assert(got("orders_custkey_not_null") == ((n, 0L, true)))
    assert(got("orders_orderkey_unique") ==
      ((n, n - orders.map(_._1).distinct.length, true)))
    assert(got("orders_status_settled") ==
      ((n, orders.count(o => o._3 != "O" && o._3 != "F").toLong, false)))
    assert(got("orders_totalprice_positive") ==
      ((n, orders.count(_._4 <= 0).toLong, true)))
    assert(got("orders_fk_customer") ==
      ((n, orders.count(o => !custs(o._2)).toLong, true)))
    assert(got("lineitem_discount_cap") == ((nLi, discountsOver, false)))
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
  }

  test("q173 KMV: exact when under k, bounded relative error when over") {
    val got = Registry.queries("q173_kmv_distinct")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    got.foreach { case (lang, kEff, exact, est) =>
      if (kEff < 16) assert(est == exact, s"$lang under-k must be exact")
      else {
        val rel = math.abs(est - exact).toDouble / exact
        assert(rel <= 0.6, s"$lang estimate $est vs exact $exact (rel $rel)")
      }
    }
    // at least one language overflows k on the testdata (vocab is 31 > 16)
    assert(got.exists(_._2 == 16L))
  }

  test("q216 join-size estimate: sketch saturates, estimate lands within 25%") {
    val r = Registry.queries("q216_join_size_est")(spark, TestSpark.sf).collect()
    assert(r.length == 1)
    val row = r(0)
    val (uN, trueSize, dUnion, joinEst, errBp) =
      (row.getLong(0), row.getLong(3), row.getLong(4), row.getLong(5), row.getLong(6))
    assert(uN == 64L, s"union sketch not saturated: $uN")
    assert(trueSize > 0 && joinEst > 0)
    assert(errBp == math.abs(joinEst - trueSize) * 10000 / trueSize)
    assert(errBp < 2500, s"join estimate off by $errBp bp (est $joinEst vs $trueSize)")
    // distinct-union estimate also sane (custkey domain ~ customer count)
    val custs = Tables.customer(spark, TestSpark.sf).count()
    assert(math.abs(dUnion - custs) * 100 / custs < 50,
      s"distinct-union estimate $dUnion vs $custs")
  }

  test("q211 CDC replay: deletes gone, inserts present, updates carry the last LSN") {
    val out = Registry.queries("q211_cdc_apply")(spark, TestSpark.sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val orders = Tables.orders(spark, TestSpark.sf)
      .select("o_orderkey", "o_totalprice").collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDouble(1)).setScale(2))
    orders.foreach { case (k, price) =>
      val cents = (price * 100).toLongExact
      val nOps = if (k % 4 == 1) 1 + k % 2 else 0
      val deleted = (1L to nOps).exists(l => (k + l) % 5 == 0 && l == nOps)
      // final op wins: delete only if the LAST op is a delete
      if (deleted) assert(!out.contains(k), s"key $k should be deleted")
      else if (nOps > 0) {
        val (v, n, lsn) = out(k)
        assert(n == nOps && lsn == nOps)
        assert(v == cents + nOps * 37, s"key $k updated value")
      } else {
        val (v, n, lsn) = out(k)
        assert(v == cents && n == 0 && lsn == 0L, s"key $k untouched")
      }
    }
    // inserts: every key%4==2 appears shifted by 1e9
    orders.filter(_._1 % 4 == 2).foreach { case (k, _) =>
      assert(out.contains(k + 1000000000L), s"insert for $k missing")
    }
  }

  test("q217 boundaries: equi-depth near-uniform where equal-width is skewed") {
    val rows = Registry.queries("q217_range_boundaries")(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).sorted.toSeq == (0L until 8L).toSeq)
    val total = Tables.events(spark, TestSpark.sf).count()
    // both schemes partition the table completely
    assert(rows.map(_._2).sum == total && rows.map(_._4).sum == total)
    // the load-bearing claim: the sampled equi-depth plan dominates the
    // equal-width one — its WORST bucket is strictly less overloaded (at
    // sf0.001 the 5% sample is ~50 points, so per-bucket bounds would be
    // noise; the dominance ordering is scale-stable)
    val maxD = rows.map(_._3).max
    val maxW = rows.map(_._5).max
    assert(maxD < maxW, s"equi-depth max $maxD bp not below equal-width max $maxW bp")
    assert(maxD < 30000, s"equi-depth worst bucket $maxD bp is pathological")
    // the skewed value distribution punishes equal-width: some bucket > 2x ideal
    assert(maxW > 20000, "equal-width unexpectedly uniform")
  }

  test("q220 IVM: the delta algebra reproduces the full recompute on every group") {
    val rows = Registry.queries("q220_ivm_join")(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(5), s"nation ${r.get(0)}: incr ${r.getLong(1)} != full ${r.getLong(2)}")
      assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == r.getLong(4))
    }
    // the fixture actually exercises all three delta terms
    val orders = Tables.orders(spark, TestSpark.sf)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dA = orders.filter(_._1 % 7 == 3).map(_._2).toSet
    val custs = Tables.customer(spark, TestSpark.sf).select("c_custkey")
      .collect().map(_.getLong(0)).toSet
    val dB = custs.filter(_ % 11 == 5)
    assert(dA.nonEmpty && dB.nonEmpty && dA.intersect(dB).nonEmpty,
      "fixture must hit dA x B', A' x dB AND dA x dB")
  }

  test("q239 advisor: verdicts replay from the raw key profiles, fixture covers all three") {
    val rows = Registry.queries("q239_skew_advisor")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6), r.getLong(7)))
    rows.foreach { case (t, k, nRows, nKeys, maxCnt, skew, verdict, saltN) =>
      assert(skew == maxCnt * 1000 * nKeys / nRows, s"skew formula broken for $t.$k")
      val want =
        if (nKeys <= 8) "two_phase_agg"
        else if (skew >= 2000) "salt"
        else "hash_ok"
      assert(verdict == want, s"verdict for $t.$k: $verdict != $want")
      assert(saltN == (if (want == "salt") (skew + 999) / 1000 else 0L))
    }
    assert(rows.map(_._7).toSet == Set("two_phase_agg", "salt", "hash_ok"),
      "fixture must exercise every verdict branch")
  }

  test("q240: merge law holds per lang AND a k-violating merge would break it") {
    val rows = Registry.queries("q240_kmv_merge_law")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r._7, s"merge law failed for lang ${r._1}")
      assert(r._6, s"estimates disagree for lang ${r._1}")
    }
    // the law is NOT vacuous: retaining fewer than k values per shard
    // (a broken partial aggregate) must change the k-th minimum — replay
    // the sketch in plain Scala on one lang's hashes and check
    import org.apache.spark.sql.functions._
    val P = 1000000007L
    val hs = Tables.documents(spark, TestSpark.sf)
      .filter(col("lang") === rows.head._1)
      .select((col("doc_id") % 2).as("shard"), explode(split(col("text"), " ")).as("w"))
      .select(col("shard"), pmod(graft.util.Det.polyHash(col("w")) * 2654435761L + 12345L, lit(P)).as("h"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val full = hs.map(_._2).distinct.sorted.take(16).toList
    val okMerge = hs.groupBy(_._1).values.flatMap(_.map(_._2).distinct.sorted.take(16))
      .toList.distinct.sorted.take(16)
    val badMerge = hs.groupBy(_._1).values.flatMap(_.map(_._2).distinct.sorted.take(4))
      .toList.distinct.sorted.take(16)
    assert(okMerge == full, "k-bounded merge must reproduce the full sketch")
    assert(badMerge != full, "under-retaining shards should break the law (non-vacuous fixture)")
  }
}
