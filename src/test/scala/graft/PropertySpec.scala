package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.clean.{Porter2, TextOps}

/** Property tests promised in SURVEY §5: invariants over generated inputs
  * rather than fixed samples. Column expressions are exercised through a
  * driver-side mirror where possible (the Spark round-trip per generated
  * case would dominate runtime); a batched Spark check at the end pins the
  * mirror to the real engine behavior.
  */
class PropertySpec extends AnyFunSuite {

  // scalatestplus isn't on the (offline) classpath; sample generators
  // directly — 200 cases per property, deterministic via fixed seed
  private def forAllSampled[T](gen: Gen[T], n: Int = 200)(check: T => Unit): Unit = {
    val params = org.scalacheck.Gen.Parameters.default
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(params, seed).foreach(check)
      seed = seed.next
      i += 1
    }
  }
  import TestSpark.spark
  import spark.implicits._

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("the", "a", "of", "and", "x@y.com", "https://e.io/p", "A,B;C!"),
      Gen.const("  "))).map(_.mkString(" ")).map(_.take(200))

  test("cleanPost is idempotent on generated text (engine-checked, batched)") {
    val samples = Gen.listOfN(80, textGen).sample.get
    val df = samples.toDF("t")
      .select(TextOps.cleanPost(col("t")).as("once"))
      .select(col("once"), TextOps.cleanPost(col("once")).as("twice"))
    assert(df.filter(col("once") =!= col("twice")).count() == 0)
  }

  test("cleanPost output alphabet is [a-z0-9 ] with no double spaces") {
    val samples = Gen.listOfN(80, textGen).sample.get
    val cleaned = samples.toDF("t")
      .select(TextOps.cleanPost(col("t"))).as[String].collect()
    cleaned.foreach { c =>
      assert(c.matches("[a-z0-9 ]*"), s"bad chars in: '$c'")
      assert(!c.contains("  "), s"double space in: '$c'")
      assert(c == c.trim)
    }
  }

  test("stemmer never grows a word and is stable (stem(stem(w)) rarely differs)") {
    forAllSampled(Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(20))) { w =>
      val s1 = Porter2.stem(w)
      assert(s1.length <= w.length + 1) // +1 for the 1b 'e' restoration
      assert(s1.nonEmpty)
    }
  }

  test("polyHash is stable and within the modulus") {
    forAllSampled(Gen.asciiPrintableStr.map(_.take(100))) { s =>
      def ref(x: String): Long =
        x.foldLeft(7L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
      val h = ref(s)
      assert(h >= 0 && h < 1000000007L)
      assert(h == ref(s)) // determinism
    }
  }

  test("jaccard integer-ratio threshold is symmetric in its arguments") {
    val setGen = Gen.listOf(Gen.choose(0L, 50L)).map(_.distinct)
    forAllSampled(Gen.zip(setGen, setGen)) { case (a, b) =>
      if (a.nonEmpty || b.nonEmpty) {
        val inter = a.toSet.intersect(b.toSet).size
        val union = a.toSet.union(b.toSet).size
        val fwd = inter * 10 >= union * 9
        val bwd = b.toSet.intersect(a.toSet).size * 10 >=
          (b.toSet ++ a.toSet).size * 9
        assert(fwd == bwd)
      }
    }
  }

  test("stopword removal never removes non-stopwords and never reorders") {
    val tokensGen = Gen.listOf(Gen.oneOf(
      Gen.oneOf(TextOps.stopwords), Gen.alphaLowerStr.map("w" + _.take(5))))
    val samples = Gen.listOfN(50, tokensGen).sample.get
    val results = samples.map(_.mkString(" ")).toDF("t")
      .select(TextOps.removeStopwords(TextOps.tokens(col("t"))))
      .as[Seq[String]].collect()
    samples.zip(results).foreach { case (in, out) =>
      val expected = in.filterNot(TextOps.stopwords.contains)
      // split("") on empty text yields [""], which is not a stopword
      val expectedAdj = if (in.isEmpty) Seq("") else expected
      assert(out == expectedAdj, s"in=$in")
    }
  }

  // ---- round-3 curation properties (driver-side mirrors of the exact
  // relational constructions; CurationSpec pins the mirrors to the engine
  // on the real testdata) ----

  private val tokensGen: Gen[List[String]] =
    Gen.listOf(Gen.oneOf("a", "b", "c", "dd", "eee")).map(_.take(60))

  private def collapse(toks: List[String]): List[String] =
    toks.foldLeft(List.empty[String]) { (acc, t) =>
      if (acc.nonEmpty && acc.head == t) acc else t :: acc
    }.reverse

  test("q114 collapse is idempotent and never leaves adjacent duplicates") {
    forAllSampled(tokensGen) { toks =>
      val once = collapse(toks)
      assert(collapse(once) == once)
      assert(once.sliding(2).forall(p => p.length < 2 || p(0) != p(1)))
      // order-preserving subsequence
      assert(once.forall(toks.contains))
      assert(once.size <= toks.size)
    }
  }

  test("q120 chunk membership covers every token; overlap is exactly size-stride") {
    val size = 32; val stride = 24
    forAllSampled(Gen.chooseNum(1, 200)) { n =>
      // the q124-style membership rule used by the engine
      val member = (p: Int) =>
        Seq(p / stride, p / stride - 1)
          .filter(c => c >= 0 && p >= c * stride && p < c * stride + size)
      val byChunk = (0 until n).flatMap(p => member(p).map(_ -> p))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      // every position in at least one chunk; chunk c covers [c*stride, c*stride+size)
      assert((0 until n).forall(p => member(p).nonEmpty))
      byChunk.foreach { case (c, ps) =>
        assert(ps.head == c * stride)
        assert(ps.last <= c * stride + size - 1)
        assert(ps == (ps.head to ps.last))
      }
      // consecutive chunks overlap by size-stride (when both full)
      val full = byChunk.filter(_._2.size == size).keys.toSeq.sorted
      full.sliding(2).foreach {
        case Seq(c1, c2) if c2 == c1 + 1 =>
          assert(byChunk(c1).toSet.intersect(byChunk(c2).toSet).size == size - stride)
        case _ =>
      }
    }
  }

  /** Corpora for the capped ≡ uncapped fuzzes: `n` docs over two langs
    * with sets from `setGen` and null and empty arrays drawn in, plus two
    * null-array and two empty-array docs always in block "aa" — over
    * every fuzzed cap, so the capped path always sees a null-array and an
    * empty-array group.
    */
  private def cappedCorpus(n: Int, setGen: Gen[List[Long]]) =
    Gen.listOfN(n, Gen.zip(Gen.oneOf("aa", "bb"),
      Gen.frequency(1 -> Gen.const(None), 1 -> Gen.const(Some(Nil)),
        6 -> setGen.map(Option(_)))))
      .map(_ ++ List("aa" -> None, "aa" -> None, "aa" -> Some(Nil), "aa" -> Some(Nil)))

  test("jaccardPairs: capped routing ≡ all-pairs on random corpora (engine-checked)") {
    // differential fuzz of the round-5 skew guard: random small corpora,
    // two langs, random sorted-distinct long sets; prefix-posting path
    // (cap=3 forces it for any block ≥ 4) must emit exactly the all-pairs
    // result at several thresholds — including boundary-heavy 1/2 sets
    // and null and empty arrays, which pair with nothing on either path
    val setGen = Gen.nonEmptyListOf(Gen.choose(1L, 25L)).map(_.distinct.sorted)
    val corpusGen = cappedCorpus(24, setGen)
    var tested = 0
    forAllSampled(corpusGen, n = 12) { corpus =>
      val docs = corpus.zipWithIndex
        .map { case ((lang, arr), i) => (i.toLong, lang, arr) }
        .toDF("doc_id", "lang", "arr")
      for ((num, den) <- Seq((1, 2), (9, 10), (1, 10))) {
        def run(cap: Int) = graft.dedup.DedupQueries
          .jaccardPairs(docs, num, den, cap, Some(docs.select("lang")))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
        assert(run(3) == run(1000000), s"divergence at t=$num/$den for $corpus")
        tested += 1
      }
    }
    assert(tested == 36)
  }

  test("q198 Bloom pre-filter: zero false negatives, bounded false positives (engine-checked)") {
    // copy-injected random corpora: every 3rd delta doc copies a base doc
    val txtGen = Gen.choose(3, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("ka", "kb", "kc", "kd")).map(_.mkString(" ")))
    forAllSampled(Gen.listOfN(30, txtGen), n = 8) { texts =>
      val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t, false) }
      val delta = texts.indices.map { i =>
        val id = (texts.size + i).toLong
        if (i % 3 == 0) (id, texts(i), true)                  // exact copy
        else (id, texts(i) + s" zz$i", true)                  // novel
      }
      val docs = (base ++ delta).toDF("doc_id", "text", "is_delta")
      val (cand, out) = graft.dedup.DedupQueries.bloomDedupFrame(docs)
      val baseTexts = base.map(_._2).toSet
      val expected = delta.map { case (id, t, _) => id -> baseTexts(t) }.toMap
      val got = out.collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got == expected, s"bloom dedup diverged")
      // no false negatives by construction; candidates must cover all dups
      val candIds = cand.collect().map(_.getLong(0)).toSet
      val dupIds = expected.collect { case (id, true) => id }.toSet
      assert(dupIds.subsetOf(candIds), "bloom dropped a true duplicate")
      // pruning: with 2^16 bits and ~90 set, false positives should be
      // essentially absent at this scale
      assert(candIds.size <= dupIds.size + 2,
        s"bloom passed ${candIds.size - dupIds.size} false positives")
    }
  }

  test("q194 CDC chunks ≡ independent reference; boundaries resync after insertion (engine-checked)") {
    val P = 1000000007L
    def ph(s: String, seed: Long = 7L): Long =
      s.foldLeft(seed)((a, c) => (a * 31 + c.toLong) % P)
    // independent reference of the CDC contract: boundary after token p
    // iff the 4-token rolling polyhash ≡ 0 mod 16
    def refChunks(toks: Vector[String]): Vector[Vector[String]] = {
      val hs = toks.map(w => ph(w))
      val cuts = (0 until toks.length).filter { p =>
        p >= 3 && {
          val g = ((((hs(p - 3) * 31 + hs(p - 2)) % P) * 31 + hs(p - 1)) % P * 31 + hs(p)) % P
          g % 16 == 0
        }
      }
      val bounds = (-1 +: cuts) :+ (toks.length - 1)
      bounds.sliding(2).collect {
        case Seq(a, b) if b > a => toks.slice(a + 1, b + 1)
      }.toVector.filter(_.nonEmpty)
    }
    val tokGen = Gen.oneOf((0 until 40).map(i => s"w$i"))
    val docGen = Gen.choose(40, 120).flatMap(n => Gen.listOfN(n, tokGen))
      .map(_.toVector)
    forAllSampled(Gen.zip(docGen, Gen.choose(2, 10)), n = 6) { case (base, at) =>
      val edited = (base.take(at) :+ "zINS") ++ base.drop(at)
      val docs = Seq((0L, base.mkString(" ")), (1L, edited.mkString(" ")))
        .toDF("doc_id", "text")
      val got = graft.dedup.DedupQueries.cdcChunks(docs).collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getLong(1)).map(r =>
          (r.getLong(2), r.getLong(3), r.getLong(4))).toVector).toMap
      for ((id, doc) <- Seq(0L -> base, 1L -> edited)) {
        val exp = refChunks(doc)
        val expRows = exp.scanLeft(0)(_ + _.length).zip(exp).map {
          case (from, c) => (c.length.toLong, from.toLong, ph(c.mkString(" ")))
        }.toVector
        assert(got(id) == expRows, s"doc $id chunks diverged (insert at $at)")
      }
      // RESYNC: every base chunk lying entirely after the edit window
      // reappears verbatim in the edited doc (boundary decisions there
      // see identical 4-token windows) — the property fixed-window
      // chunking (q178) provably lacks
      val editedFps = refChunks(edited).map(c => ph(c.mkString(" "))).toSet
      val tail = refChunks(base).zip(
        refChunks(base).scanLeft(0)(_ + _.length))
        .collect { case (c, from) if from > at + 3 => ph(c.mkString(" ")) }
      assert(tail.forall(editedFps.contains),
        s"CDC failed to resync after insertion at $at")
      assert(tail.nonEmpty, "fixture too short to exercise resync")
    }
  }

  test("jaccardDropStats ≡ pair-list reduction, capped and uncapped (engine-checked)") {
    // the decision form must equal groupBy(id_b).max(ratio) over the
    // exact pair list, on BOTH routes — duplicate contents included
    // (Gen.choose(1L, 8L) over short lists makes identical sets common,
    // which is what the rep-space shortcut reasons about)
    val setGen = Gen.nonEmptyListOf(Gen.choose(1L, 8L)).map(_.distinct.sorted)
    val corpusGen = cappedCorpus(20, setGen)
    forAllSampled(corpusGen, n = 10) { corpus =>
      val docs = corpus.zipWithIndex
        .map { case ((lang, arr), i) => (i.toLong, lang, arr) }
        .toDF("doc_id", "lang", "arr")
      for ((num, den) <- Seq((1, 2), (9, 10))) {
        val expected = graft.dedup.DedupQueries
          .jaccardPairs(docs, num, den, 1000000, Some(docs.select("lang")))
          .collect()
          .map(r => (r.getLong(1), (r.getLong(3) * 100) / r.getLong(4)))
          .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        for (cap <- Seq(3, 1000000)) {
          val got = graft.dedup.DedupQueries
            .jaccardDropStats(docs, num, den, cap, Some(docs.select("lang")))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(got == expected, s"dropStats cap=$cap t=$num/$den on $corpus")
        }
      }
    }
  }

  test("containmentDropIds ≡ pair-list drop rule, capped and uncapped (engine-checked)") {
    val setGen = Gen.nonEmptyListOf(Gen.choose(1L, 10L)).map(_.distinct.sorted)
    val corpusGen = cappedCorpus(20, setGen)
    forAllSampled(corpusGen, n = 10) { corpus =>
      // a null or empty array contains nothing and is contained by nothing
      val byId = corpus.zipWithIndex
        .collect { case ((lang, Some(arr)), i) if arr.nonEmpty => i.toLong -> ((lang, arr.toSet)) }
        .toMap
      val docs = corpus.zipWithIndex
        .map { case ((lang, arr), i) => (i.toLong, lang, arr) }
        .toDF("doc_id", "lang", "arr")
      // brute-force drop rule straight from the q177 contract
      val expected = byId.collect { case (id, (lang, s))
        if byId.exists { case (oid, (olang, os)) =>
          oid != id && olang == lang &&
            ((s.subsetOf(os) && s != os) || (s == os && oid < id))
        } => id
      }.toSet
      for (cap <- Seq(3, 1000000)) {
        val got = graft.dedup.DedupQueries
          .containmentDropIds(docs, cap, Some(docs.select("lang")))
          .collect().map(_.getLong(0)).toSet
        assert(got == expected, s"dropIds cap=$cap on $corpus")
      }
    }
  }

  test("containmentPairs: capped posting route ≡ all-pairs on random corpora (engine-checked)") {
    // same differential-fuzz shape as the jaccardPairs guard: random
    // sorted-distinct long sets over a small universe (subset pairs are
    // common), two langs; cap=3 forces the rarest-token posting path for
    // any block ≥ 4, which must emit exactly the all-pairs result —
    // including equal-set ties and multi-containment chains
    val setGen = Gen.nonEmptyListOf(Gen.choose(1L, 12L)).map(_.distinct.sorted)
    val corpusGen = cappedCorpus(20, setGen)
    forAllSampled(corpusGen, n = 12) { corpus =>
      val docs = corpus.zipWithIndex
        .map { case ((lang, arr), i) => (i.toLong, lang, arr) }
        .toDF("doc_id", "lang", "arr")
      def run(cap: Int) = graft.dedup.DedupQueries
        .containmentPairs(docs, cap, Some(docs.select("lang")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
      assert(run(3) == run(1000000), s"containment divergence for $corpus")
    }
  }

  test("NearDup collapse/expand ≡ flat pairwise on duplicate-heavy corpora, null and empty keys included (engine-checked)") {
    import graft.dedup.NearDup
    // keys over a 6-token universe repeat often (the duplicate-heavy
    // regime the collapse exists for); null and empty keys are degenerate
    // groups whose within pairs only the guard decides
    val keyGen: Gen[Option[Seq[Long]]] = Gen.frequency(
      1 -> Gen.const(None),
      1 -> Gen.const(Some(Seq.empty[Long])),
      6 -> Gen.nonEmptyListOf(Gen.choose(1L, 6L)).map(l => Some(l.distinct.sorted)))
    val corpusGen = Gen.listOfN(24, Gen.zip(Gen.oneOf("aa", "bb"), keyGen))
    // ids are a permutation of 0..23, so a group's min id is not its
    // first row and cross pairs need least/greatest
    def id(i: Int) = (i * 7 % 24).toLong
    // Jaccard-style: score J ≥ 1/2 on non-empty sets, within pairs 1.0
    // and only for a signature-producing (non-null, non-empty) key;
    // edit-style: |A Δ B| ≤ 2 on non-null sets, within pairs 0
    val jaccardSql = "CAST(size(array_intersect(ka, kb)) AS DOUBLE) / size(array_union(ka, kb))"
    val styles = Seq(
      ("jaccard", s"size(ka) > 0 AND size(kb) > 0 AND 2 * size(array_intersect(ka, kb)) >= size(array_union(ka, kb))",
        jaccardSql, lit(1.0), col("arr").isNotNull && size(col("arr")) > 0,
        (a: Option[Seq[Long]], b: Option[Seq[Long]]) => (a, b) match {
          case (Some(x), Some(y)) if x.nonEmpty && y.nonEmpty &&
              2 * x.intersect(y).size >= x.union(y).distinct.size =>
            Some(x.intersect(y).size.toDouble / x.union(y).distinct.size: Any)
          case _ => None
        }),
      ("dist", "size(array_union(ka, kb)) - size(array_intersect(ka, kb)) <= 2",
        "CAST(size(array_union(ka, kb)) - size(array_intersect(ka, kb)) AS BIGINT)",
        lit(0L), col("arr").isNotNull,
        (a: Option[Seq[Long]], b: Option[Seq[Long]]) => (a, b) match {
          case (Some(x), Some(y)) if x.union(y).distinct.size - x.intersect(y).size <= 2 =>
            Some((x.union(y).distinct.size - x.intersect(y).size).toLong: Any)
          case _ => None
        }))
    var tested = 0
    forAllSampled(corpusGen, n = 8) { corpus =>
      val docs = corpus.zipWithIndex
        .map { case ((lang, arr), i) => (id(i), lang, arr) }
        .toDF("doc_id", "lang", "arr")
      val g = NearDup.collapse(docs, "doc_id", Seq("lang", "arr"))
      for ((name, pred, score, within, guard, ref) <- styles) {
        val repPairs = g.select(col("rep").as("rep_a"), col("lang"), col("arr").as("ka"))
          .join(g.select(col("rep").as("rep_b"), col("lang"), col("arr").as("kb")), "lang")
          .filter(col("rep_a") < col("rep_b") && expr(pred))
          .select(col("rep_a"), col("rep_b"), expr(score).as(name))
        val got = NearDup.expandPairs(g, repPairs, Seq(within.as(name)), guard)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSeq.sortBy(t => (t._1, t._2))
        val rows = corpus.zipWithIndex.map { case ((lang, arr), i) => (id(i), lang, arr) }
        val expected = (for {
          (ia, la, a) <- rows; (ib, lb, b) <- rows if ia < ib && la == lb
          v <- ref(a, b)
        } yield (ia, ib, v)).sortBy(t => (t._1, t._2))
        assert(got == expected, s"$name expansion diverged on $corpus")
        tested += 1
      }
    }
    assert(tested == 16)
  }

  test("BPE trainer ≡ classic reference on random tie-heavy corpora (engine-checked)") {
    // 3-letter alphabet ⇒ argmax TIES are common — exactly where a wrong
    // tiebreak in either engine or oracle-mirror order would diverge.
    // Words long enough that 3 rounds never exhaust the pair table.
    def mergeOnce(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    def refTrain(wf: Map[String, Long], k: Int)
        : (Seq[(Long, String, String, Long)], Map[String, Vector[String]]) = {
      var words = wf.map { case (w, f) => w -> (w.map(_.toString).toVector, f) }
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      for (r <- 1 to k) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        for ((_, (syms, f)) <- words; i <- 0 until syms.length - 1)
          counts((syms(i), syms(i + 1))) += f
        assert(counts.nonEmpty, "fixture exhausted the pair table")
        val ((a, b), n) = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head
        merges += ((r.toLong, a, b, n))
        words = words.map { case (w, (sy, f)) => w -> (mergeOnce(sy, a, b), f) }
      }
      (merges.result(), words.map { case (w, (sy, _)) => w -> sy })
    }
    val wordGen = Gen.choose(4, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.listOfN(30, wordGen)
    forAllSampled(corpusGen, n = 3) { words =>
      val wf = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val spine = wf.toSeq.toDF("w", "freq")
        .select(col("w"), col("freq"),
          trim(regexp_replace(col("w"), "(.)", "|$1| ")).as("s"))
      val (winners, fin) =
        graft.curation.CurationQueries.bpeTrainSpine(spine, 3)
      val got = winners.map(_.collect().head)
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      val (exp, expSyms) = refTrain(wf, 3)
      assert(got == exp, s"merge table diverged on $wf")
      val gotSyms = fin.collect()
        .map(r => r.getString(0) ->
          r.getString(2).replace("|", "").split(" ", -1).toVector).toMap
      assert(gotSyms == expSyms, s"final segmentation diverged on $wf")
    }
  }

  test("batched BPE ≡ sequential at batchM=1, and ≡ independent batched reference (engine-checked)") {
    // independent plain-Scala implementation of the batched acceptance
    // rule: rank top-candM by (-n, a, b); accept iff no HIGHER-RANKED
    // CANDIDATE shares a symbol; take first batchM; apply as a sequential
    // literal-replace fold in rank order (exactly the operator's contract)
    def refBatched(wf: Map[String, Long], rounds: Int, candM: Int, batchM: Int)
        : Seq[(Long, Long, String, String, Long)] = {
      var spine = wf.map { case (w, f) =>
        w -> (w.map(c => s"|$c|").mkString(" "), f)
      }
      val out = Seq.newBuilder[(Long, Long, String, String, Long)]
      for (r <- 1 to rounds) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          .withDefaultValue(0L)
        for ((_, (s, f)) <- spine) {
          val syms = s.split(" ").map(_.stripPrefix("|").stripSuffix("|"))
          for (i <- 0 until syms.length - 1) counts((syms(i), syms(i + 1))) += f
        }
        assert(counts.nonEmpty, "fixture exhausted the pair table")
        val cand = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.take(candM)
        val free = cand.zipWithIndex.collect {
          case (((a, b), n), i) if !cand.take(i).exists { case ((ha, hb), _) =>
            ha == a || ha == b || hb == a || hb == b } => (a, b, n)
        }
        val batch = free.take(batchM)
        batch.zipWithIndex.foreach { case ((a, b, n), j) =>
          out += ((r.toLong, (j + 1).toLong, a, b, n))
        }
        for ((a, b, _) <- batch)
          spine = spine.map { case (w, (s, f)) =>
            w -> (s.replace(s"|$a| |$b|", s"|$a$b|"), f)
          }
      }
      out.result()
    }
    val wordGen = Gen.choose(4, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val corpusGen = Gen.listOfN(30, wordGen)
    forAllSampled(corpusGen, n = 3) { words =>
      val wf = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val spine = wf.toSeq.toDF("w", "freq")
        .select(col("w"), col("freq"),
          trim(regexp_replace(col("w"), "(.)", "|$1| ")).as("s"))
      def runBatched(batchM: Int) = {
        val (batches, _) = graft.curation.CurationQueries
          .bpeBatchTrainSpine(spine, 3, 16, batchM)
        batches.flatMap(_.collect().sortBy(_.getLong(1)))
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
            r.getString(3), r.getLong(4)))
      }
      // batchM=1 degenerates to the sequential argmax trainer
      val (seqWinners, _) =
        graft.curation.CurationQueries.bpeTrainSpine(spine, 3)
      val seq = seqWinners.map(_.collect().head)
        .map(r => (r.getLong(0), 1L, r.getString(1), r.getString(2), r.getLong(3)))
      assert(runBatched(1) == seq, s"batchM=1 != sequential on $wf")
      // full batching matches the independent reference, and each round's
      // batch is pairwise symbol-disjoint with non-increasing counts
      val got = runBatched(4)
      assert(got == refBatched(wf, 3, 16, 4), s"batched diverged on $wf")
      got.groupBy(_._1).values.foreach { batch =>
        val sorted = batch.sortBy(_._2)
        sorted.combinations(2).foreach { case Seq(x, y) =>
          val sx = Set(x._3, x._4); val sy = Set(y._3, y._4)
          assert((sx & sy).isEmpty, s"batch not symbol-disjoint: $x $y")
        }
        assert(sorted.map(_._5) == sorted.map(_._5).sorted.reverse,
          s"batch counts not non-increasing: $sorted")
      }
    }
  }

  test("q140 dupSpans interval union ≡ brute force on high-repetition corpora (engine-checked)") {
    // tiny alphabet + doc lengths straddling the 8-gram width ⇒ dense
    // overlapping/adjacent/contained duplicated spans — the hard cases for
    // the running-max interval-union window
    val docGen = Gen.choose(0, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("p", "q", "r")).map(_.mkString(" ")))
    val corpusGen = Gen.listOfN(12, docGen)
    forAllSampled(corpusGen, n = 8) { corpus =>
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.dedup.DedupQueries.dupSpans(docs).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val toks = corpus.zipWithIndex
        .map { case (t, i) => i.toLong -> t.split(" ", -1).toSeq }.toMap
      val occs = toks.toSeq.flatMap { case (id, ws) =>
        ws.sliding(8).zipWithIndex.collect {
          case (g, i) if g.length == 8 => (id, i, g.mkString(" "))
        }
      }
      val dup = occs.groupBy(_._3).collect {
        case (g, os) if os.map(_._1).distinct.size > 1 => g
      }.toSet
      val expected = toks.map { case (id, ws) =>
        val ivs = occs.filter(o => o._1 == id && dup(o._3))
          .map(o => (o._2, o._2 + 7)).sortBy(_._1)
        val covered = ivs.foldLeft((0L, -1)) { case ((acc, pe), (st, en)) =>
          (acc + math.max(0, en - math.max(st - 1, pe)), math.max(pe, en))
        }._1
        id -> ((ws.size.toLong, covered, ivs.size.toLong))
      }
      assert(got == expected, s"corpus: $corpus")
    }
  }

  test("q161 two-tier routing is exhaustive and exact on random corpora (engine-checked)") {
    val wordGen = Gen.oneOf((0 until 12).map(i => s"w$i"))
    val docGen = Gen.chooseNum(4, 12)
      .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))
    val params = org.scalacheck.Gen.Parameters.default
    for (seedBase <- Seq(11L, 223L, 4241L)) {
      var seed = org.scalacheck.rng.Seed(seedBase)
      val texts = (0 until 40).map { i =>
        seed = seed.next
        if (i % 3 == 0 && i > 0) null // placeholder, filled as copy below
        else docGen.apply(params, seed).getOrElse("w0 w1 w2 w3")
      }.toArray
      for (i <- texts.indices if texts(i) == null) texts(i) = texts(i - 1)
      // lang derives from the TEXT so exact copies always share a block
      val rows = texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "l" + (t.length % 2), "s0", t.length.toLong)
      }
      val dir = graft.util.TempDirs.create("graft_fuzz161_")
      rows.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = Registry.queries("q161_snapshot_dedup")(spark, dir).collect()
      val again = Registry.queries("q161_snapshot_dedup")(spark, dir).collect()
      assert(got.map(_.toString).sorted.toSeq == again.map(_.toString).sorted.toSeq,
        "non-deterministic")
      val cut = 40L * 9 / 10
      val sets = rows.map(r => r._1 -> (r._3, r._2.split(" ").distinct.toSet)).toMap
      got.foreach { r =>
        val (id, dupOf, kind) = (r.getLong(0), r.getLong(1), r.getString(4))
        assert(id >= cut && dupOf < cut, s"roles: $id -> $dupOf")
        val (la, ta) = sets(id)
        val (lb, tb) = sets(dupOf)
        assert(la == lb)
        kind match {
          case "exact" =>
            assert(ta == tb)
            val equal = sets.collect {
              case (b, (l, t)) if b < cut && l == la && t == ta => b
            }
            assert(dupOf == equal.min && r.getLong(3) == equal.size.toLong)
          case "near" =>
            assert(!sets.exists { case (b, (l, t)) => b < cut && l == la && t == ta })
            val i = (ta & tb).size; val u = ta.size + tb.size - i
            assert(i * 10 >= u * 9, s"false positive $id -> $dupOf")
        }
      }
      // exact-tier completeness: every delta with a set-equal base is reported exact
      val reportedExact = got.filter(_.getString(4) == "exact").map(_.getLong(0)).toSet
      sets.foreach { case (id, (l, t)) =>
        if (id >= cut) {
          val hasEqual = sets.exists { case (b, (lb2, tb2)) =>
            b < cut && lb2 == l && tb2 == t
          }
          if (hasEqual)
            assert(reportedExact(id), s"delta $id with exact copy missed (seed $seedBase)")
        }
      }
    }
  }

  test("q164 winnowing handles short documents (engine == oracle contract)") {
    // docs with < 3 tokens produce no grams and are absent from the output;
    // docs with 3..6 tokens (fewer grams than the window) report n_fp = 0.
    // Both sides of the oracle share this contract — pin it on a corpus the
    // driver testdata can't produce (its docs all have >= 8 tokens).
    val texts = Seq("a", "a b", "a b c", "a b c d", "a b c d e f g h i j")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "s0", t.length.toLong)
    }
    val dir = graft.util.TempDirs.create("graft_fuzz164_")
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Registry.queries("q164_winnowing")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(!got.contains(0L) && !got.contains(1L)) // no grams at all
    assert(got(2L) == ((1L, 0L))) // 1 gram < window: no fingerprint
    assert(got(3L) == ((2L, 0L)))
    val (kg, fp) = got(4L) // 10 tokens -> 8 grams -> 5 windows, fps > 0
    assert(kg == 8L && fp >= 2L)
  }

  test("q147 group sample: exactly min(5, |group|) draws per lang, stable across runs") {
    import org.apache.spark.sql.functions._
    val run1 = Registry.queries("q147_group_sample")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val run2 = Registry.queries("q147_group_sample")(spark, TestSpark.sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(run1 == run2, "sample must be deterministic")
    val sizes = Tables.documents(spark, TestSpark.sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    run1.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.size.toLong == math.min(5L, sizes(lang)))
      assert(rows.map(_._3).sorted == (1L to rows.size.toLong))
    }
  }

  test("q211 cdcApply fuzz: union-window replay equals a sequential driver apply") {
    val rnd = new scala.util.Random(41)
    (1 to 5).foreach { trial =>
      val keys = 0L until 30L
      val baseRows = keys.filter(_ => rnd.nextBoolean())
        .map(k => (k, rnd.nextInt(1000).toLong, "B", 0L))
      // random op log: per key 0..4 ops with strictly increasing lsn,
      // op type random (I/U/D), values random
      val logRows = keys.flatMap { k =>
        (1 to rnd.nextInt(5)).map { l =>
          val op = Seq("I", "U", "D")(rnd.nextInt(3))
          (k, if (op == "D") 0L else rnd.nextInt(1000).toLong, op, l.toLong)
        }
      }
      // sequential reference: apply ops per key in lsn order
      val expected = keys.flatMap { k =>
        val b = baseRows.find(_._1 == k).map(r => (r._2, 0L))
        val fin = logRows.filter(_._1 == k).sortBy(_._4)
          .foldLeft(b) { case (_, (_, v, op, l)) =>
            if (op == "D") None else Some((v, l))
          }
        fin.map { case (v, l) =>
          k -> ((v, logRows.count(_._1 == k).toLong, l))
        }
      }.toMap
      val got = graft.relational.OperatorQueries.cdcApply(
        baseRows.toDF("key", "val_c", "op", "lsn"),
        logRows.toDF("key", "val_c", "op", "lsn"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("q234 star contraction equals union-find on random graphs (incl. chains)") {
    import spark.implicits._
    val rng = new scala.util.Random(4242L)
    (0 until 12).foreach { trial =>
      val n = 2 + rng.nextInt(39)
      // mix shapes: sparse random, plus an explicit PATH every 3rd trial
      // (chains are the worst case for label propagation and exercise
      // multi-round contraction)
      val edges: Seq[(Long, Long)] =
        if (trial % 3 == 2) (0L until (n - 1).toLong).map(i => (i, i + 1))
        else Seq.fill(rng.nextInt(2 * n + 1))(
          (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = Array.tabulate(n)(i => find(i).toLong)
      val starRows = graft.clean.TextQueries.starContract(
        edges.toDF("src", "dst")).collect()
        .map(r => r.getLong(1) -> r.getLong(0))
      assert(starRows.map(_._1).distinct.length == starRows.length,
        s"trial $trial: fixpoint is not a star forest (a member has two roots)")
      val star = starRows.toMap
      (0 until n).foreach { v =>
        val got = star.getOrElse(v.toLong, v.toLong)
        assert(got == want(v), s"trial $trial n=$n: comp($v) got $got want ${want(v)}")
      }
    }
  }

  test("q236 greedy MMR equals a sequential greedy on random instances (ties included)") {
    import spark.implicits._
    val rng = new scala.util.Random(777L)
    (0 until 8).foreach { trial =>
      val nq = 1 + rng.nextInt(3)
      val cands = (0 until nq).flatMap { q =>
        val k = 2 + rng.nextInt(9)
        // coarse rel grid (0, 250, 500, 750, 1000) to force ties
        (0 until k).map(i => (q.toLong, i.toLong, 250L * rng.nextInt(5)))
      }
      val sims = cands.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
        val ids = cs.map(_._2)
        for (a <- ids; b <- ids if a != b) yield {
          // symmetric coarse sims, also tie-prone
          val s = 250000L * (1 + math.abs(((a * 31 + b * 31 + q * 7) % 4)).toInt)
          (q, a, b, s)
        }
      }
      def simOf(q: Long, a: Long, b: Long): Long =
        250000L * (1 + math.abs(((a * 31 + b * 31 + q * 7) % 4)).toInt)
      val expected = cands.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
        val rel = cs.map(c => c._2 -> c._3).toMap
        var selected = Vector.empty[Long]
        (1 to 5).flatMap { rank =>
          val rem = rel.keys.filterNot(selected.contains).toSeq
          if (rem.isEmpty) None
          else {
            val scored = rem.map { d =>
              val ms = if (selected.isEmpty) 0L else selected.map(simOf(q, d, _)).max
              (d, ms, 7000L * rel(d) - 3L * ms)
            }
            val (d, ms, mmr) = scored.minBy { case (dd, _, m) => (-m, dd) }
            selected :+= d
            Some((q, d, rel(d), ms, mmr, rank.toLong))
          }
        }
      }.sortBy(t => (t._1, t._6))
      val got = graft.similarity.SimilarityQueries.mmrSelect(
        cands.toDF("qid", "doc_id", "rel_n"),
        sims.toDF("qid", "da", "db", "sim_fp")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq.sortBy(t => (t._1, t._6))
      assert(got == expected, s"trial $trial: MMR fuzz mismatch")
    }
  }
}
