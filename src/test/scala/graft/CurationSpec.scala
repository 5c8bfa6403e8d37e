package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level checks for the corpus-curation family (q110-q114): the
  * oracle pins engine parity; these pin the semantic invariants on
  * hand-computed fixtures.
  */
class CurationSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val sf = TestSpark.sf

  test("q110 redaction masks exactly the blocklist as whole words") {
    val out = Registry.queries("q110_redact")(spark, sf)
    val row = out.filter(col("n_redacted") > 0).limit(1).collect().head
    val red = row.getString(1)
    assert(!"\\b(key|hash|scan|merge)\\b".r.findFirstIn(red).isDefined)
    assert(red.contains("[MASK]"))
    // mask count equals occurrences in the original
    val doc = Tables.documents(spark, sf)
      .filter(col("doc_id") === row.getLong(0)).collect().head.getAs[String]("text")
    val n = "\\b(key|hash|scan|merge)\\b".r.findAllIn(doc).size
    assert(row.getLong(2) == n.toLong)
  }

  test("q111 trigram counts match a hand fixture") {
    // build a tiny documents-shaped frame and run the same plan shape
    val docs = Seq((0L, "a b c a b c", "x", "s"), (1L, "a b c d", "x", "s"))
      .toDF("doc_id", "text", "lang", "source")
    docs.createOrReplaceTempView("curation_fixture")
    // expected trigrams: doc0: "a b c","b c a","c a b","a b c"; doc1: "a b c","b c d"
    val counts = docs.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .collect()
    assert(counts.length == 10)
    val got = Registry.queries("q111_ngram_lm")(spark, sf).collect()
    assert(got.length == 20)
    // descending count, ascending gram tiebreak
    val pairs = got.map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.sameElements(pairs.sortBy(p => (-p._1, p._2))))
  }

  test("q112 contamination: src0 docs excluded; flags agree with counts") {
    val out = Registry.queries("q112_contamination")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getLong(1)
      assert(r.getBoolean(2) == (n > 0))
    }
    val srcs = Tables.documents(spark, sf).filter(col("source") =!= "src0").count()
    assert(out.length.toLong == srcs)
  }

  test("q142 LM surprise matches a driver-side trigram-count reference") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq).toMap
    val tris = docs.toSeq.flatMap { case (id, ws) =>
      ws.sliding(3).collect { case g if g.length == 3 =>
        (id, g.take(2).mkString(" "), g.mkString(" "))
      }
    }
    val ct = tris.groupBy(_._3).view.mapValues(_.size.toLong)
    val cb = tris.groupBy(_._2).view.mapValues(_.size.toLong)
    val v = docs.values.flatten.toSet.size.toLong
    val expected = tris.groupBy(_._1).map { case (id, os) =>
      val ps = os.map(o => (ct(o._3), cb(o._2)))
      id -> ((os.size.toLong,
        ps.count(_._1 == 1L).toLong,
        ps.count { case (c, b) => 100 * (c + 1) < b + v }.toLong,
        ps.map { case (c, b) => (c + 1).toDouble / (b + v).toDouble }.min))
    }
    val got = Registry.queries("q142_lm_surprise")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got == expected)
    got.values.foreach { case (nTri, nHapax, nRare, minP) =>
      assert(nHapax <= nTri && nRare <= nTri && minP > 0.0 && minP <= 1.0)
    }
  }

  test("q145 BPE pair counts match a driver-side weighted reference") {
    val toks = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" "))
    val wf = toks.groupBy(identity).view.mapValues(_.size.toLong)
    val pairs = wf.toSeq.flatMap { case (w, f) =>
      w.toSeq.sliding(2).collect { case Seq(a, b) => ((a.toString, b.toString), f) }
    }
    val counts = pairs.groupBy(_._1).view.mapValues(_.map(_._2).sum)
    val expected = counts.toSeq.map { case ((a, b), c) => (a, b, c) }
      .sortBy { case (a, b, c) => (-c, a, b) }.take(25)
    val got = Registry.queries("q145_bpe_merges")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  test("q148 collocations match a driver-side fixed-point lift reference") {
    val docs = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0).split(" ").toSeq)
    val uni = docs.flatten.groupBy(identity).view.mapValues(_.size.toLong)
    val nTot = docs.map(_.size).sum.toLong
    val pairs = docs.flatMap(ws => ws.zip(ws.tail))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 5L)
    val expected = pairs.toSeq.map { case ((a, b), nAb) =>
      (a, b, nAb, (1000000L * nAb * nTot) / (uni(a) * uni(b)))
    }.sortBy { case (a, b, _, lift) => (-lift, a, b) }.take(25)
    val got = Registry.queries("q148_collocations")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expected)
  }

  test("q113 quality stats are internally consistent") {
    val out = Registry.queries("q113_gopher_quality")(spark, sf).collect()
    out.foreach { case Row(_, n: Long, d: Long, m: Long, awl: Double, keep: Boolean) =>
      assert(d <= n && m <= n && m >= 1 && d >= 1)
      assert(awl > 0)
      val expect = (n >= 30 && n <= 5000) && (awl * 10 >= 30 - 1e-9) &&
        (awl * 10 <= 80 + 1e-9) && (m * 5 <= n) && (d * 10 >= n * 4)
      assert(keep == expect, s"n=$n d=$d m=$m awl=$awl")
    }
  }

  test("q120 chunks reconstruct the sliding windows exactly") {
    val out = Registry.queries("q120_token_chunks")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val ref = Iterator.from(0).map(_ * 24).takeWhile(_ < toks.length)
        .map(st => (st / 24).toLong -> toks.slice(st, st + 32)).toMap
      ref.foreach { case (c, win) =>
        val r = out((id, c))
        assert(r.getString(4) == win.mkString(" "), s"doc $id chunk $c")
        assert(r.getLong(2) == win.length.toLong)
        assert(r.getLong(3) == c * 24)
      }
      // no extra chunks beyond the reference
      assert(out.keys.count(_._1 == id) == ref.size)
    }
  }

  test("q122 co-occurrence matches brute force on sf0.001") {
    val got = Registry.queries("q122_cooccurrence")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val docs = Tables.documents(spark, sf).select("text")
      .collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    docs.foreach { t =>
      val w = t.split(" ", -1)
      for (i <- w.indices; k <- 1 to 2 if i + k < w.length)
        counts((w(i), w(i + k))) = counts.getOrElse((w(i), w(i + k)), 0L) + 1
    }
    val ref = counts.toSeq.map { case ((a, b), n) => (a, b, n) }
      .sortBy { case (a, b, n) => (-n, a, b) }.take(25)
    assert(got.toSeq == ref)
  }

  test("q118 mixture rates: kept fraction tracks pct deterministically") {
    val out = Registry.queries("q118_corpus_mix")(spark, sf).collect()
    out.foreach { r =>
      val pct = r.getInt(1); val nIn = r.getLong(2); val nKept = r.getLong(3)
      assert(nKept <= nIn)
      assert(Seq(100, 50, 25, 10).contains(pct))
      if (pct == 100) assert(nKept == nIn)
    }
    // rerun is identical (pure function of keys)
    val again = Registry.queries("q118_corpus_mix")(spark, sf).collect()
    assert(out.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq)
  }

  test("q114 collapse removes exactly consecutive duplicates") {
    val out = Registry.queries("q114_collapse_repeats")(spark, sf)
      .collect().map(r => r.getLong(0) -> r).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ", -1)
      val ref = toks.foldLeft(Vector.empty[String]) { (acc, t) =>
        if (acc.nonEmpty && acc.last == t) acc else acc :+ t
      }
      val r = out(id)
      assert(r.getString(1) == ref.mkString(" "), s"doc $id")
      assert(r.getLong(2) == ref.size.toLong)
      assert(r.getLong(3) == (toks.size - ref.size).toLong)
    }
  }

  test("q153 model filter matches a driver-side scorer; keep <=> score >= 230") {
    val vocab = Set("the", "a", "of", "and", "is", "to", "in", "that", "it", "for")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Registry.queries("q153_model_filter")(spark, sf).collect()
    assert(got.length == docs.size)
    got.foreach { r =>
      val toks = docs(r.getLong(0)).split(" ", -1)
      val n = toks.length.toLong
      val counts = toks.groupBy(identity).view.mapValues(_.size.toLong)
      val score = 2 * math.min(n, 128L) +
        3 * (counts.size * 100 / n) -
        4 * (counts.values.max * 100 / n) +
        toks.count(vocab) * 100 / n
      assert(r.getLong(1) == score, s"doc ${r.getLong(0)}")
      assert(r.getBoolean(2) == (score >= 230))
    }
    // threshold sits inside the score distribution: both classes non-empty
    assert(got.exists(_.getBoolean(2)) && got.exists(!_.getBoolean(2)))
  }

  test("q155 token budget: kept set is the maximal quality-ranked prefix") {
    val rows = Registry.queries("q155_token_budget")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val total = rs.map(_._3).sum
      val budget = total / 2
      val inOrder = rs.sortBy(t => t._5) // cum_tokens is strictly increasing
      // cumulative sums are consistent and kept is exactly cum <= budget
      var cum = 0L
      inOrder.foreach { t =>
        cum += t._3
        assert(t._5 == cum, s"$lang doc ${t._2}")
        assert(t._6 == (cum <= budget))
      }
      // greedy maximality: first dropped doc would blow the budget
      val kept = inOrder.takeWhile(_._6)
      val dropped = inOrder.dropWhile(_._6)
      assert(kept.map(_._3).sum <= budget)
      dropped.headOption.foreach(d => assert(kept.map(_._3).sum + d._3 > budget))
      // ranking is by (quality desc, doc_id asc)
      val order = inOrder.map(t => (-t._4, t._2))
      assert(order.sameElements(order.sorted))
    }
  }

  /** Independent plain-Scala BPE reference: left-to-right non-overlapping
    * merge of one pair over a symbol vector (exactly `replace`'s
    * semantics on the engine's wrapped-symbol strings).
    */
  private def mergeOnce(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Train k BPE rounds the classic way (argmax freq-weighted pair count,
    * tiebreak (a, b) ascending); returns (merge table, final symbols per
    * word).
    */
  private def refBpeTrain(wf: Map[String, Long], k: Int)
      : (Seq[(Long, String, String, Long)], Map[String, Vector[String]]) = {
    var words = wf.map { case (w, f) => w -> (w.map(_.toString).toVector, f) }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (r <- 1 to k) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((_, (syms, f)) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      val ((a, b), n) = counts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.head
      merges += ((r.toLong, a, b, n))
      words = words.map { case (w, (syms, f)) => w -> (mergeOnce(syms, a, b), f) }
    }
    (merges.result(), words.map { case (w, (syms, _)) => w -> syms })
  }

  test("q186 BPE training matches an independent driver-side trainer") {
    val wf = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (expMerges, expSyms) = refBpeTrain(wf, 8)
    val got = Registry.queries("q186_bpe_train")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq.sortBy(_._1)
    assert(got == expMerges)
    // and q158 replays exactly that table over every word
    val applied = Registry.queries("q158_bpe_apply")(spark, sf).collect()
    assert(applied.length == wf.size)
    applied.foreach { r =>
      val w = r.getString(0)
      val sub = r.getString(2).split(" ", -1).toVector
      assert(sub == expSyms(w), s"word $w")
      assert(r.getLong(1) == wf(w))
      assert(r.getInt(3) == sub.length)
      assert(sub.mkString("") == w)
    }
    // the trained table is non-trivial: counts weakly justify merge order
    // only per-round (counts can rise when a merge creates a new symbol),
    // but every count is positive and pairs are distinct
    assert(expMerges.map(m => (m._2, m._3)).distinct.length == 8)
    assert(expMerges.forall(_._4 > 0))
  }

  test("q192 batched BPE training: per-round invariants and merge throughput on real data") {
    val got = Registry.queries("q192_bpe_batch_train")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getLong(4))).toSeq
    val rounds = got.map(_._1).distinct.sorted
    assert(rounds == (1L to 8L), s"rounds: $rounds")
    // every round makes progress (rank-1 always accepted), caps hold, and
    // the suite-wide point of batching: strictly more merges per
    // corpus-stat round than the sequential trainer's 1
    got.groupBy(_._1).foreach { case (r, batch) =>
      assert(batch.nonEmpty && batch.size <= 8, s"round $r size ${batch.size}")
      val sorted = batch.sortBy(_._2)
      assert(sorted.map(_._2) == (1L to batch.size.toLong), s"round $r j gaps")
      // pairwise symbol-disjoint within the round
      sorted.combinations(2).foreach { case Seq(x, y) =>
        assert((Set(x._3, x._4) & Set(y._3, y._4)).isEmpty,
          s"round $r overlap: $x $y")
      }
      // counts non-increasing in acceptance order
      assert(sorted.map(_._5) == sorted.map(_._5).sorted.reverse)
    }
    assert(got.size > 8, s"batching accepted only ${got.size} merges in 8 rounds")
    // round 1 rank-1 merge equals the sequential trainer's first merge
    // (identical pair statistics before any merge diverges them)
    val first = Registry.queries("q186_bpe_train")(spark, sf).collect().minBy(_.getLong(0))
    val (r1a, r1b) = (first.getString(1), first.getString(2))
    val b1 = got.find(g => g._1 == 1L && g._2 == 1L).get
    assert((b1._3, b1._4) == (r1a, r1b))
  }

  /** The pinned q163 tokenizer (its frozen merge table), replicated. */
  private def pinnedFanout(w: String): Long = {
    var s = w.map(c => s"|$c|").mkString(" ")
    for ((a, b) <- Seq("a" -> "t", "e" -> "r", "t" -> "h", "th" -> "e",
        "i" -> "n", "s" -> "c", "o" -> "w", "at" -> "a"))
      s = s.replace(s"|$a| |$b|", s"|$a$b|")
    s.replace("|", "").split(" ", -1).length.toLong
  }

  test("q163 token accounting agrees with its pinned tokenizer per word") {
    val fanout = Tables.documents(spark, sf).select("text").collect()
      .flatMap(_.getString(0).split(" ", -1)).distinct
      .map(w => w -> pinnedFanout(w)).toMap
    val docs = Tables.documents(spark, sf).select("source", "text")
      .collect().map(r => r.getString(0) -> r.getString(1))
    val expected = docs.groupBy(_._1).view.mapValues { ds =>
      val ws = ds.flatMap(_._2.split(" ", -1))
      (ws.length.toLong, ws.map(fanout).sum)
    }.toMap
    val got = Registry.queries("q163_token_accounting")(spark, sf).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (nw, ns) = expected(r.getString(0))
      assert(r.getLong(1) == nw, s"source ${r.getString(0)} words")
      assert(r.getLong(2) == ns, s"source ${r.getString(0)} subtokens")
      assert(r.getLong(3) == ns * 1000 / nw)
      assert(ns >= nw) // subword fan-out never shrinks a word below 1 token
    }
  }

  test("q188 pipeline ledger is stage-consistent with the standalone operators") {
    val led = Registry.queries("q188_pipeline_ledger")(spark, sf).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(led.keySet == Set("ingest", "quality_gate", "near_dedup",
      "decontam", "token_budget", "shard_pack"))
    // stage 0 matches the raw corpus
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
    assert(led("ingest")._1 == docs.length.toLong)
    assert(led("ingest")._2 == docs.map(_.getString(1).split(" ", -1).length.toLong).sum)
    // stage 1 matches q113's keep count exactly (same rule, same corpus)
    val gateKeep = Registry.queries("q113_gopher_quality")(spark, sf)
      .collect().count(_.getBoolean(5)).toLong
    assert(led("quality_gate")._1 == gateKeep)
    // funnel: docs and tokens never grow; selection halves tokens at most
    val order = Seq("ingest", "quality_gate", "near_dedup", "decontam", "token_budget")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(led(b)._1 <= led(a)._1 && led(b)._2 <= led(a)._2, s"$a -> $b")
    }
    assert(led("token_budget")._2 <= led("decontam")._2 / 2 + led("decontam")._1)
    // shard stage transforms, never filters; all 8 shards used when enough docs
    assert(led("shard_pack")._1 == led("token_budget")._1)
    assert(led("shard_pack")._2 == led("token_budget")._2)
    if (led("token_budget")._1 >= 64) assert(led("shard_pack")._3 == 8L)
    assert(order.forall(st => led(st)._3 == 0L))
  }

  test("q170 source signatures match a driver-side lift recompute") {
    val toks = Tables.documents(spark, sf).select("source", "text").collect()
      .flatMap(r => r.getString(1).split(" ", -1).map(w => (r.getString(0), w)))
    val nTot = toks.length.toLong
    val bySrc = toks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val byTerm = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nSrc = toks.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = bySrc.collect { case ((src, w), cSw) if cSw >= 5 =>
      (src, w, cSw, cSw * nTot * 1000000L / (byTerm(w) * nSrc(src)))
    }.toSeq.groupBy(_._1).flatMap { case (src, ts) =>
      ts.sortBy(t => (-t._4, t._2)).take(3).zipWithIndex
        .map { case ((_, w, cSw, lift), i) => (src, i + 1L, w, cSw, lift) }
    }.toSet
    val got = Registry.queries("q170_source_signature")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == expected)
  }

  test("q166 drift report matches a driver-side chi-square recompute") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val cut = (docs.map(_._1).max + 1) * 9 / 10
    val dims = docs.flatMap { case (id, lang, src, nc) =>
      Seq(("lang", lang, id >= cut), ("source", src, id >= cut),
        ("len_bucket", (nc / 100).toString, id >= cut))
    }
    val got = Registry.queries("q166_drift_report")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (dim, cat) = (r.getString(0), r.getString(1))
      val inDim = dims.filter(_._1 == dim)
      val base = inDim.count(t => t._2 == cat && !t._3).toLong
      val delta = inDim.count(t => t._2 == cat && t._3).toLong
      assert(r.getLong(2) == base && r.getLong(3) == delta, s"$dim/$cat counts")
      val e = base.toDouble * inDim.count(_._3) / inDim.count(!_._3)
      assert(math.abs(r.getDouble(4) - e) < 1e-9, s"$dim/$cat expected")
      assert(math.abs(r.getDouble(5) - (delta - e) * (delta - e) / e) < 1e-9)
    }
    // every base category of every dimension is reported
    val reported = got.map(r => (r.getString(0), r.getString(1))).toSet
    val expected = dims.filter(!_._3).map(t => (t._1, t._2)).toSet
    assert(reported == expected)
  }

  test("q159 DSIR selection matches a driver-side importance recomputation") {
    val docs = Tables.documents(spark, sf).select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val all = docs.flatMap(_._3.split(" ", -1))
    val nRaw = all.length.toLong
    val cRaw = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tgtToks = docs.filter(_._2 == "src1").flatMap(_._3.split(" ", -1))
    val nTgt = tgtToks.length.toLong
    val cTgt = tgtToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = Registry.queries("q159_dsir_select")(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    docs.foreach { case (id, _, text) =>
      val toks = text.split(" ", -1)
      val rSum = toks.map { w =>
        (cTgt.getOrElse(w, 0L) + 1) * nRaw * 1000000L /
          ((cRaw(w) + 1) * nTgt)
      }.sum
      val imp = rSum / toks.length
      val r = got(id)
      assert(r.getLong(2) == imp, s"doc $id")
      assert(r.getBoolean(3) == (imp > 1000000L))
    }
    // the target domain scores above the corpus on average
    val bySrc = got.values.groupBy(_.getString(1)).view
      .mapValues(rs => rs.map(_.getLong(2)).sum / rs.size)
    assert(bySrc("src1") == bySrc.values.max)
  }

  test("q182 mixture weights: valid distribution that flattens toward uniform") {
    val rows = Registry.queries("q182_mixture_weights")(spark, sf).collect()
    val w = rows.map(_.getDouble(4))
    assert(math.abs(w.sum - 1.0) < 1e-9, s"weights must sum to 1: ${w.sum}")
    w.foreach(x => assert(x > 0))
    // temperature flattening: every source's temp weight sits between its
    // raw share and the uniform 1/k weight (sqrt pulls toward uniform)
    val totToks = rows.map(_.getLong(2)).sum.toDouble
    val uni = 1.0 / rows.length
    rows.foreach { r =>
      val raw = r.getLong(2) / totToks
      val tw = r.getDouble(4)
      val (lo, hi) = if (raw < uni) (raw, uni) else (uni, raw)
      assert(tw >= lo - 1e-12 && tw <= hi + 1e-12,
        s"${r.getString(0)}: temp weight $tw outside [$lo, $hi]")
      // boost = temp weight / raw share, so boost > 1 iff under-represented
      assert((r.getDouble(5) > 1.0) == (raw < tw) || math.abs(raw - tw) < 1e-12)
    }
  }

  test("q183 shard packing: complete, token-balanced, hash-order deterministic") {
    val rows = Registry.queries("q183_shard_pack")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length.toLong == nDocs) // every doc assigned exactly once
    val byShard = rows.groupBy(_.getLong(2)).view.mapValues(_.map(_.getLong(1)).sum).toMap
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    val total = rows.map(_.getLong(1)).sum
    val target = (total + 7) / 8
    // each shard holds at most target + the largest single doc (greedy
    // boundary overshoot), and all 8 shards are populated on real data
    val maxDoc = rows.map(_.getLong(1)).max
    byShard.values.foreach(t => assert(t <= target + maxDoc))
    assert(byShard.keySet == (0L until 8L).toSet)
    val spread = byShard.values.max.toDouble / byShard.values.min
    info(f"shard token spread max/min = $spread%.3f")
    assert(spread < 1.5, s"shards badly unbalanced: $byShard")
  }

  test("q184 LSH tuning report agrees with a driver-side recount") {
    val r = Registry.queries("q184_lsh_tuning")(spark, sf).collect().head
    val (nExact, nCand, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nHit <= nCand && nHit <= nExact)
    assert(r.getDouble(3) == nHit.toDouble / nCand)
    assert(r.getDouble(4) == nHit.toDouble / nExact)
    // the exact pair count must equal q42's published exact pair list
    val q42n = Registry.queries("q42_jaccard_pairs")(spark, sf).count()
    assert(nExact == q42n, s"exact side drifted from q42: $nExact vs $q42n")
    // banded 4x4 MinHash at tau=0.9 should have high recall on this corpus
    assert(r.getDouble(4) >= 0.8, s"recall collapsed: ${r.getDouble(4)}")
  }

  test("q191 HTML extraction recovers hand-written text and drops exactly the chrome") {
    val dir = java.nio.file.Files.createTempDirectory("q191fix").toFile
    dir.deleteOnExit()
    // 16 words: lead para = first 12 (&nbsp;-encoded), 'spark' lands in the
    // second paragraph where it gets <em>-wrapped; 'solo' exercises the
    // single-paragraph empty-rest-slice path
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu spark extra words here"
    val docs = Seq((0L, text, "en", "srcX"), (1L, "solo", "en", "srcY"))
      .toDF("doc_id", "text", "lang", "source")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the synthesized markup really contains what extraction claims to undo
    val html = docs.filter(col("doc_id") === 0)
      .select(graft.clean.TextQueries.htmlColumn).head.getString(0)
    assert(html.contains("lambda&nbsp;mu"))
    assert(html.contains("<p><em>spark</em> extra words here</p>"))
    assert(html.contains("&copy; 2024 Example &amp; Sons"))
    assert(html.contains("<nav><a href=\"/\">Home</a>"))
    val out = Registry.queries("q191_html_extract")(spark, dir.toString)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val r0 = out(0L)
    assert(r0.getAs[String]("extracted") == text)
    assert(r0.getAs[Boolean]("round_trip"))
    // nav + lead para + second para + aside + footer (title dropped with head)
    assert(r0.getAs[Long]("n_blocks") == 5L)
    assert(r0.getAs[Long]("n_boiler") == 3L)
    assert(r0.getAs[Long]("extracted_len") == text.length.toLong)
    val r1 = out(1L)
    assert(r1.getAs[String]("extracted") == "solo" && r1.getAs[Long]("n_blocks") == 4L)
  }

  test("q191 extraction round-trips the whole corpus and always drops 3 chrome blocks") {
    val out = Registry.queries("q191_html_extract")(spark, sf).collect()
    assert(out.length == Tables.documents(spark, sf).count())
    out.foreach { r =>
      assert(r.getAs[Boolean]("round_trip"), s"doc ${r.getLong(0)} failed round trip")
      assert(r.getAs[Long]("n_boiler") == 3L)
    }
  }

  test("q206 priority sample: exact top-k by priority, maximal, ranked correctly") {
    import spark.implicits._
    val docs = (0L until 120L)
      .map(i => ("s", i, 1L + (i % 50) * (i % 7)))
      .toDF("lang", "doc_id", "weight")
    val out = curation.CurationQueries.prioritySample(docs, 16, seed = 3L)
      .collect().map(r => (r.getLong(1), r.getLong(4)))
    // plain-Scala reference of the same integer draw
    val ref = (0L until 120L).map { i =>
      val w = 1L + (i % 50) * (i % 7)
      val u = java.lang.Math.floorMod(i * 2654435761L + 3L * 1315423911L,
        1000000007L) + 1L
      (i, w * 1000000000L / u)
    }.sortBy { case (id, p) => (-p, id) }.take(16).map(_._1)
    assert(out.sortBy(_._2).map(_._1).sameElements(ref),
      s"sample is not the exact top-k of the reference draw\n" +
        s"spark=${out.sortBy(_._2).map(_._1).mkString(",")}\nref=${ref.mkString(",")}")
  }

  test("q206 DLT estimator: unbiased across draws, heavier docs sampled more") {
    import spark.implicits._
    val n = 150L
    def wgt(i: Long): Long = 1L + (i % 40) * (i % 11)
    val docs = (0L until n).map(i => ("s", i, wgt(i))).toDF("lang", "doc_id", "weight")
    val trueTotal = (0L until n).map(wgt).sum.toDouble
    val seeds = 1L to 24L
    var estSum = 0.0
    val hits = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
    seeds.foreach { sd =>
      val rows = curation.CurationQueries.prioritySample(docs, 12, sd).collect()
      estSum += rows.map(_.getAs[Long]("est_w")).sum.toDouble
      rows.foreach(r => hits(r.getLong(1)) += 1)
    }
    val meanEst = estSum / seeds.length
    val relErr = math.abs(meanEst - trueTotal) / trueTotal
    assert(relErr < 0.15,
      s"mean estimate $meanEst vs true $trueTotal (rel err $relErr)")
    // inclusion is weight-monotone in aggregate: the heaviest third must be
    // sampled strictly more often than the lightest third
    val byW = (0L until n).sortBy(wgt)
    val light = byW.take(50).map(hits(_)).sum
    val heavy = byW.takeRight(50).map(hits(_)).sum
    assert(heavy > light * 2,
      s"heavy-third hits $heavy not dominating light-third $light")
  }

  test("q215 k-anonymity: flags consistent, month classes contain their day classes") {
    val rows = Registry.queries("q215_k_anonymity")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getBoolean(4), r.getLong(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, n, risky, nM, riskyAfter) =>
      assert(risky == (n < 5) && riskyAfter == (nM < 5))
      assert(nM >= n, "month class smaller than one of its day classes")
    }
    // the month counts must equal the sum of their day classes
    val bySum = rows.groupBy { case (st, pr, day, _, _, _, _) => (st, pr, day.take(7)) }
    bySum.foreach { case (k, rs) =>
      assert(rs.map(_._4).sum == rs.head._6, s"month total mismatch for $k")
    }
    // generalization genuinely repairs something on this corpus
    assert(rows.exists { case (_, _, _, _, r, _, ra) => r && !ra },
      "no class repaired by day→month generalization")
  }

  test("q224/q225 unigram-LM trainer agrees with a plain-Scala reference implementation") {
    import graft.clean.TextOps
    // independent driver-side trainer with the same published recipe:
    // substring seed -> hard-EM Viterbi rounds -> contribution pruning
    def fplog2(n: Long): Long = {
      val bl = 64 - java.lang.Long.numberOfLeadingZeros(n)
      val p = 1L << (bl - 1)
      (bl - 1).toLong * 4096 + 4096 * (n - p) / p
    }
    val words = org.apache.spark.sql.functions.explode(
      TextOps.tokens(org.apache.spark.sql.functions.col("text")))
    val freqs = Tables.documents(spark, TestSpark.sf)
      .select(words.as("w")).collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
      .filter { case (w, _) => w.length >= 1 && w.length <= 10 }
    def score(kept: Seq[(String, Long)]): Map[String, (Long, Long)] = {
      val tot = kept.map(_._2 + 1).sum
      kept.map { case (pc, c) => pc -> ((c, fplog2(c + 1) - fplog2(tot))) }.toMap
    }
    val seedCnt = collection.mutable.Map.empty[String, Long]
    for ((w, f) <- freqs; l <- 1 to 4; i <- 0 to w.length - l)
      seedCnt(w.substring(i, i + l)) = seedCnt.getOrElse(w.substring(i, i + l), 0L) + f
    def split2(c: Map[String, Long]) =
      (c.filter(_._1.length == 1).toSeq, c.filter(_._1.length > 1).toSeq)
    val (s1, m1) = split2(seedCnt.toMap)
    var vocab = score(s1 ++ m1.sortBy { case (pc, c) => (-c, pc) }.take(24))
    def viterbi(w: String, v: Map[String, (Long, Long)]): (Long, String) = {
      val best = Array.fill[Option[(Long, String)]](w.length + 1)(None)
      best(0) = Some((0L, ""))
      for (p <- 1 to w.length) {
        var cur: Option[(Long, String)] = None
        for (k <- 1 to math.min(4, p); j = p - k) {
          val piece = w.substring(j, p)
          (best(j), v.get(piece)) match {
            case (Some((s0, g0)), Some((_, fp))) =>
              val cand = (s0 + fp, g0 + " " + piece)
              cur = Some(cur.fold(cand)(c =>
                if (cand._1 > c._1 || (cand._1 == c._1 && cand._2 < c._2)) cand
                else c))
            case _ => ()
          }
        }
        best(p) = cur
      }
      val (sc, seg) = best(w.length).get
      (sc, seg.trim)
    }
    for (cap <- Seq(20, 16, 12)) {
      val segs = freqs.map { case (w, f) => (w, f, viterbi(w, vocab)) }
      val usage = collection.mutable.Map.empty[String, Long]
      for ((_, f, (_, seg)) <- segs; pc <- seg.split(" "))
        usage(pc) = usage.getOrElse(pc, 0L) + f
      val withZero = vocab.keys.map(pc => pc -> usage.getOrElse(pc, 0L)).toMap
      val tot = withZero.values.map(_ + 1).sum
      def contrib(c: Long) = c * (fplog2(tot) - fplog2(c + 1))
      val (sg, ml) = split2(withZero)
      vocab = score(sg ++ ml.sortBy { case (pc, c) => (-contrib(c), pc) }.take(cap))
    }
    val gotTrain = Registry.queries("q224_unigram_lm_train")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val expTrain = vocab.toSeq
      .map { case (pc, (c, fp)) => (pc, pc.length.toLong, c, fp) }.sortBy(_._1)
    assert(gotTrain.toSeq == expTrain, "trained vocab mismatch")
    val gotApply = Registry.queries("q225_unigram_lm_apply")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1)
    val expApply = freqs.toSeq.map { case (w, f) =>
      val (sc, seg) = viterbi(w, vocab)
      (w, f, seg, seg.split(" ").length.toLong, sc)
    }.sortBy(_._1)
    assert(gotApply.toSeq == expApply, "apply segmentation mismatch")
    // the trainer learned something: at least one multi-char piece is
    // actually used by the final segmentation
    assert(expApply.exists(_._3.split(" ").exists(_.length > 1)))
  }

  test("q235 DP release: mechanism matches the exact discrete-Laplace inverse CDF") {
    val S = 3L << 20
    // the dyadic CDF thresholds ARE the closed-form CDF of P(Z=z) ∝ 2^-|z|:
    // F(k) = sum_{z<=k} (1/3)·2^-|z| over denominator S = 3·2^20
    def pdfNum(z: Int): Long = 1L << (20 - math.abs(z)) // P(z)·S, |z| <= 20
    val cdf = (-20 to 20).scanLeft(0L) { case (acc, z) => acc + pdfNum(z) }.tail
    val thr = (-20 to 20).map(k => if (k < 0) 1L << (21 + k) else S - (1L << (20 - k)))
    // closed form ≡ truncated running sum + 1: the closed form is the EXACT
    // infinite-support CDF F(k)·S (left tail mass = 1 in these units), the
    // running sum truncates the support at ±20
    (0 until 41).foreach { i =>
      assert(thr(i) == cdf(i) + 1, s"threshold $i: ${thr(i)} vs cdf ${cdf(i)}")
    }
    // inverse-CDF sampling: z(h) reproduces the pdf exactly over all h
    def zOf(h: Long): Int = -20 + thr.count(_ <= h)
    val counts = (0L until S).foldLeft(Map.empty[Int, Long]) { (m, h) =>
      val z = zOf(h); m.updated(z, m.getOrElse(z, 0L) + 1L)
    }
    (-19 to 19).foreach { z =>
      assert(counts(z) == pdfNum(z), s"P(Z=$z): ${counts(z)} vs ${pdfNum(z)}")
    }
    // the released frame: clamp + reconstruction invariants
    val rows = Registry.queries("q235_dp_histogram")(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, z, rel) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(z >= -20 && z <= 20, s"noise out of support: $z")
      assert(rel == math.max(0L, n + z), "clamped release broken")
    }
  }
}
