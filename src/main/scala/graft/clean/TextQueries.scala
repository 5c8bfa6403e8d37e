package graft.clean

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.util.Det

/** Text-analysis operator family over the `documents` table: the
  * reference's NLP surface (SURVEY §2.8: clean chain, tokenize, stopwords,
  * word frequency) plus the training-data-pipeline text analyzers
  * (language-ID, quality scoring, token counting, fingerprinting).
  *
  * Everything here is a pure column expression — no UDFs — so the whole
  * family runs inside whole-stage codegen and scales linearly with input
  * (no shuffle except where a groupBy is the semantics, e.g. word counts).
  */
object TextQueries {

  /** clean_post chain (F1+F2+F3, NB cell 36). */
  private def q30(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), TextOps.cleanPost(col("text")).as("cleaned"))

  private val q30Sql =
    s"""SELECT doc_id, ${TextOps.cleanPostSql("text")} AS cleaned
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Word frequency top-15 (A6+F4+A8: NB cell 45's nltk.FreqDist +
    * nlargest as explode→groupBy→top-k).
    */
  private def q31(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("word"))
      .limit(15)

  private val q31Sql =
    """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |SELECT word, count(*) AS n FROM w WHERE word != ''
      |GROUP BY word ORDER BY n DESC, word LIMIT 15""".stripMargin

  /** Stopword removal (F6/U1) as a native array filter, rejoined to text. */
  private def q32(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        array_join(TextOps.removeStopwords(TextOps.tokens(col("text"))), " ")
          .as("body"))

  private val q32Sql =
    s"""SELECT doc_id,
       |  array_to_string(list_filter(string_split(text, ' '),
       |    t -> NOT list_contains(${TextOps.stopwordSqlList}, t)), ' ') AS body
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Token counting (training-pipeline operator): whitespace tokens,
    * regex word tokens (BPE-ish [a-z0-9]+ pieces), characters.
    */
  private def q33(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
          .cast("long").as("re_tokens"),
        length(col("text")).cast("long").as("chars"))

  private val q33Sql =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
      |  CAST(length(text) AS BIGINT) AS chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring (training-pipeline operator): token count, mean word
    * length, stopword ratio, and a composite score — all rational
    * arithmetic over integers (no transcendentals, which are not
    * bit-reproducible across engines' libm).
    */
  private def q34(s: SparkSession, d: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val n = size(toks)
    val totLen = aggregate(transform(toks, t => length(t)), lit(0), (a, b) => a + b)
    val nStop = size(filter(toks, t => array_contains(TextOps.stopwordArray, t)))
    Tables.documents(s, d)
      .select(col("doc_id"),
        n.cast("long").as("n_tokens"),
        (totLen.cast("double") / n).as("avg_word_len"),
        (nStop.cast("double") / n).as("stop_ratio"),
        ((lit(1.0) - nStop.cast("double") / n) * least(n, lit(100)).cast("double") / 100.0)
          .as("quality"))
  }

  private val q34Sql =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
       |  CAST(list_reduce(list_prepend(0, list_transform(string_split(text,' '), t -> length(t))), (a,b) -> a+b) AS DOUBLE)
       |    / len(string_split(text,' ')) AS avg_word_len,
       |  CAST(len(list_filter(string_split(text,' '), t -> list_contains(${TextOps.stopwordSqlList}, t))) AS DOUBLE)
       |    / len(string_split(text,' ')) AS stop_ratio,
       |  (1.0 - CAST(len(list_filter(string_split(text,' '), t -> list_contains(${TextOps.stopwordSqlList}, t))) AS DOUBLE)
       |    / len(string_split(text,' ')))
       |    * CAST(least(len(string_split(text,' ')), 100) AS DOUBLE) / 100.0 AS quality
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Language-ID (training-pipeline operator): marker-word overlap argmax
    * with a fixed preference order for ties. The n-gram-profile approach in
    * miniature — deterministic, join-free, codegen'd.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "zh" -> Seq("de", "shi", "le", "wo", "bu"))

  private def q35(s: SparkSession, d: String): DataFrame = {
    val toksD = array_distinct(TextOps.tokens(col("text")))
    val scores = langMarkers.map { case (l, ms) =>
      l -> size(array_intersect(toksD, array(ms.map(lit): _*)))
    }
    val pred = scores.foldRight(lit("und"): org.apache.spark.sql.Column) {
      case ((l, sc), acc) =>
        val isMax = scores.map(_._2).foldLeft(lit(true)) { (c, other) => c && sc >= other }
        when(isMax && sc > 0, l).otherwise(acc)
    }
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), pred.as("lang_pred"))
  }

  private val q35Sql = {
    def sc(ms: Seq[String]) =
      s"len(list_intersect(list_distinct(string_split(text,' ')), ${ms.map(m => s"'$m'").mkString("[", ",", "]")}))"
    val cases = langMarkers.map { case (l, ms) =>
      val cond = langMarkers.map { case (_, o) => s"${sc(ms)} >= ${sc(o)}" }.mkString(" AND ")
      s"WHEN $cond AND ${sc(ms)} > 0 THEN '$l'"
    }.mkString(" ")
    s"""SELECT doc_id, lang, CASE $cases ELSE 'und' END AS lang_pred
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting (training-pipeline operator): full-text
    * polynomial rolling hash + min-token-hash (a 1-permutation minhash).
    * Pure 64-bit integer math, bit-exact in any engine.
    */
  private def q36(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        Det.polyHash(col("text")).as("fp"),
        array_min(transform(TextOps.tokens(col("text")), t => Det.polyHash(t)))
          .as("min_token_hash"))

  private val q36Sql =
    s"""SELECT doc_id,
       |  ${Det.polyHashSql("text")} AS fp,
       |  list_min(list_transform(string_split(text,' '),
       |    t -> ${Det.polyHashSql("t")})) AS min_token_hash
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Porter2 (Snowball) stemming over token lists (F7/U5, NB cell 65) —
    * the reference's actual SnowballStemmer algorithm. DuckDB's stem()
    * lives in the offline-unavailable fts extension, so the oracle pins
    * the testdata corpus vocabulary's expected stems as a literal CASE
    * map (VERDICT r8 task 2): the generator vocabulary is a fixed 31
    * words at EVERY SF, so the map is SF-independent; an out-of-map
    * token maps to a visible '<unmapped>' sentinel (never silent
    * identity), so vocabulary drift breaks the hash instead of passing.
    * The ALGORITHM's correctness over general English is what
    * StemmerSpec's published Snowball vectors pin; this oracle proves
    * the distributed application (tokenize → per-token stem → rejoin)
    * end to end. StemmerSpec checks every pair against Porter2.stem and
    * prints the corrected map on a mismatch.
    */
  private[graft] val stemMap: Seq[(String, String)] = Seq(
    "a" -> "a", "agg" -> "agg", "batch" -> "batch", "big" -> "big",
    "column" -> "column", "customer" -> "custom", "data" -> "data",
    "dup" -> "dup", "fast" -> "fast", "filter" -> "filter",
    "group" -> "group", "hash" -> "hash", "join" -> "join", "key" -> "key",
    "line" -> "line", "merge" -> "merg", "order" -> "order",
    "part" -> "part", "query" -> "queri", "row" -> "row", "scan" -> "scan",
    "slow" -> "slow", "small" -> "small", "sort" -> "sort",
    "spark" -> "spark", "stream" -> "stream", "table" -> "tabl",
    "the" -> "the", "value" -> "valu", "vector" -> "vector",
    "window" -> "window")

  private def q49(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        array_join(Porter2.stemTokens(TextOps.tokens(col("text"))), " ")
          .as("stemmed"))

  private val q49Sql = {
    val cases = stemMap.map { case (w, st) => s"WHEN '$w' THEN '$st'" }
      .mkString(" ")
    s"""SELECT doc_id,
       |  array_to_string(list_transform(string_split(text, ' '),
       |    t -> CASE t $cases ELSE '<unmapped>' END), ' ') AS stemmed
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Deterministic stratified sampling (training-pipeline operator):
    * hash-mod selection — `polyHash(doc_id) mod 100 < 20` keeps a stable
    * pseudo-random 20% per stratum with zero coordination; the 100 TB
    * sampling pattern (no RNG state, reproducible across runs/engines,
    * pushes down to a scan filter).
    */
  private def q52(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(pmod(Det.polyHash(col("doc_id").cast("string")), lit(100)) < 20)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"))

  private val q52Sql =
    s"""SELECT lang, count(*) AS n_sampled FROM documents
       |WHERE ${Det.polyHashSql("CAST(doc_id AS VARCHAR)")} % 100 < 20
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** Deterministic EXACT-k per-group sample (the reservoir-sampling
    * shape, made reproducible): within each language, keep the k=5
    * documents with the smallest hash of their id — a uniform-ish draw
    * that is identical on every run, at any parallelism, and in the
    * oracle engine (contrast q52, which samples a hash FRACTION and so
    * returns a scale-dependent count; eval-set construction wants exactly
    * k). One window shuffle on the group key; at 100 TB use the q83
    * bounded-top-k Aggregator instead of the window sort — same result,
    * map-side k-element buffers.
    */
  private def q147(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang")
      .orderBy(Det.polyHash(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        row_number().over(w).cast("long").as("draw"))
      .filter(col("draw") <= 5)
  }

  private val q147Sql =
    s"""SELECT lang, doc_id,
       |  CAST(row_number() OVER (PARTITION BY lang
       |    ORDER BY ${Det.polyHashSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS BIGINT) AS draw
       |FROM documents QUALIFY draw <= 5
       |ORDER BY lang, draw""".stripMargin

  /** Exact length percentiles per language (p50/p90) computed via
    * row_number against group size — the interpolation-free formulation
    * that is identical in every engine (percentile_cont interpolation
    * rules differ across engines; nearest-rank does not).
    */
  private def q53(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    val ranked = Tables.documents(s, d)
      .select(col("lang"), col("n_chars"), col("doc_id"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy("lang")).as("n"))
    ranked
      .groupBy("lang")
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.5), col("n_chars"))).as("p50"),
        max(when(col("rn") === ceil(col("n") * 0.9), col("n_chars"))).as("p90"),
        count(lit(1)).as("n"))
  }

  private val q53Sql =
    """WITH ranked AS (
      |  SELECT lang, n_chars, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT lang,
      |  max(CASE WHEN rn = ceil(n * 0.5) THEN n_chars END) AS p50,
      |  max(CASE WHEN rn = ceil(n * 0.9) THEN n_chars END) AS p90,
      |  count(*) AS n
      |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin

  /** Treebank-style tokenization (F5, NB cell 63) approximated with the
    * published treebank rules expressible as regex: split off punctuation,
    * keep contractions ("don't" → "do" + "n't"). Same RE2∩Java patterns on
    * both sides (documented divergence from nltk's full treebank rules —
    * SURVEY §2.8 F5).
    */
  private def q54(s: SparkSession, d: String): DataFrame = {
    val prepared = regexp_replace(
      regexp_replace(col("text"), "([a-z])(n't)", "$1 $2"),
      "([.,!?;:])", " $1 ")
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(trim(regexp_replace(prepared, " +", " ")), " "))
          .cast("long").as("n_treebank_tokens"))
  }

  private val q54Sql =
    """SELECT doc_id,
      |  CAST(len(string_split(trim(regexp_replace(
      |    regexp_replace(regexp_replace(text, '([a-z])(n''t)', '\1 \2', 'g'),
      |    '([.,!?;:])', ' \1 ', 'g'), ' +', ' ', 'g')), ' ')) AS BIGINT) AS n_treebank_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** TF-IDF keyword extraction (training-pipeline operator): term
    * frequency × inverse document frequency, top-3 terms per doc. The idf
    * is the raw ratio n_docs/df (a division of exact integers — identical
    * doubles everywhere) rather than its log: log is a monotone transform,
    * so rankings are unchanged, and libm log is not bit-reproducible
    * across engines (Det's no-transcendentals rule).
    */
  private def q57(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("word"))
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * (col("n_docs").cast("double") / col("df")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "word", "score", "rnk")
  }

  private val q57Sql =
    """WITH tf AS (
      |  SELECT doc_id, word, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE word != '' GROUP BY doc_id, word),
      |df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
      |scored AS (
      |  SELECT tf.doc_id, tf.word,
      |    CAST(tf.tf AS DOUBLE) * (CAST((SELECT count(*) FROM documents) AS DOUBLE) / df.df) AS score
      |  FROM tf JOIN df USING (word)),
      |ranked AS (
      |  SELECT doc_id, word, score,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS BIGINT) AS rnk
      |  FROM scored)
      |SELECT doc_id, word, score, rnk FROM ranked WHERE rnk <= 3
      |ORDER BY doc_id, rnk""".stripMargin

  /** Sentence segmentation + per-sentence stats: split on terminal
    * punctuation runs, drop whitespace-only fragments, count sentences and
    * words-per-sentence (integer outputs; both regex dialects agree on
    * this character class). The segmentation every quality/curriculum
    * pipeline runs before length filtering.
    */
  private def q103(s: SparkSession, d: String): DataFrame = {
    val sentences = filter(split(col("text"), "[.!?]+"), x => trim(x) =!= "")
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(sentences).cast("long").as("n_sentences"),
        aggregate(sentences, lit(0L),
          (acc, x) => acc + size(split(trim(x), " +"))).as("n_words"))
      .withColumn("words_per_sentence",
        when(col("n_sentences") > 0,
          floor(col("n_words") * 100 / col("n_sentences"))).otherwise(0L))
  }

  private val q103Sql =
    """WITH seg AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '[.!?]+'), x -> trim(x) != '') AS sents
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(sents) AS BIGINT) AS n_sentences,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(sents, x -> CAST(len(string_split_regex(trim(x), ' +')) AS BIGINT))),
      |    (a, b) -> a + b) AS n_words,
      |  CASE WHEN len(sents) > 0
      |    THEN CAST(floor(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(sents, x -> CAST(len(string_split_regex(trim(x), ' +')) AS BIGINT))),
      |      (a, b) -> a + b) * 100 / len(sents)) AS BIGINT)
      |    ELSE 0 END AS words_per_sentence
      |FROM seg ORDER BY doc_id""".stripMargin

  /** Approximate percentiles (Greenwald-Khanna via percentile_approx):
    * the single-pass mergeable-sketch path that replaces q53's full
    * per-group sort at 100 TB — the sketch is a bounded-size aggregation
    * buffer with map-side partials, so cost is one narrow pass regardless
    * of group size. The GK algorithm is not expressible in DuckDB SQL, so
    * the raw sketch values can't be hash-compared — instead (the q187
    * tolerance-verdict pattern, VERDICT r8 task 2) the frame carries the
    * exact nearest-rank p50/p90 (q53's engine-identical formulation) plus
    * per-quantile verdicts that the sketch value's RANK interval
    * intersects the GK guarantee window [q·n − ε·n − 1, q·n + ε·n + 1]
    * (ε = 1/accuracy; the ±1 absorbs nearest-rank rounding conventions).
    * The oracle pins the exact values and verdict TRUE. EdaSpec still
    * asserts the numeric bound on the raw estimates (q107Raw).
    *
    * Scale: the judging passes (rank counts, exact window percentiles)
    * exist to grade the sketch at test SF; the production path is
    * q107Raw alone. The rank-count join broadcasts the |langs|-row
    * sketch frame — one extra narrow scan, no data shuffle.
    */
  private[graft] def q107Raw(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(
        percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("p50"),
        percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("p90"),
        count(lit(1)).as("n"))

  private def q107(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val approx = q107Raw(s, d)
      .select(col("lang"), col("p50").as("ap50"), col("p90").as("ap90"))
    // rank interval of each sketch value within its group: a value v
    // occupies ranks [count(<v)+1, count(<=v)]
    val ranks = Tables.documents(s, d).select(col("lang"), col("n_chars"))
      .join(broadcast(approx), "lang")
      .groupBy("lang")
      .agg(
        sum(when(col("n_chars") <= col("ap50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("n_chars") < col("ap50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("n_chars") <= col("ap90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("n_chars") < col("ap90"), 1L).otherwise(0L)).as("lt90"))
    val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    val exact = Tables.documents(s, d)
      .select(col("lang"), col("n_chars"), col("doc_id"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(Window.partitionBy("lang")).as("n"))
      .groupBy("lang")
      .agg(
        max(when(col("rn") === ceil(col("n") * 0.5), col("n_chars"))).as("p50_exact"),
        max(when(col("rn") === ceil(col("n") * 0.9), col("n_chars"))).as("p90_exact"),
        count(lit(1)).as("n"))
    def ok(le: String, lt: String, q: Double) = {
      val target = ceil(col("n") * q)
      val slack = lit(1L) + floor(col("n") / 10000)
      (col(le) >= target - slack) && (col(lt) + 1 <= target + slack)
    }
    exact.join(ranks, "lang")
      .select(col("lang"), col("n"), col("p50_exact"), col("p90_exact"),
        ok("le50", "lt50", 0.5).as("ok_p50"),
        ok("le90", "lt90", 0.9).as("ok_p90"))
  }

  private val q107Sql =
    """WITH ranked AS (
      |  SELECT lang, n_chars, doc_id,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT lang, count(*) AS n,
      |  max(CASE WHEN rn = ceil(n * 0.5) THEN n_chars END) AS p50_exact,
      |  max(CASE WHEN rn = ceil(n * 0.9) THEN n_chars END) AS p90_exact,
      |  TRUE AS ok_p50, TRUE AS ok_p90
      |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------- q191
  // HTML/markup text extraction — the FIRST operator of every web-crawl
  // curation run (trafilatura/jusText shape; VERDICT r7 "What's missing"
  // 1 — the reference never needed it because its text arrives as clean
  // API fields, S/kin1.py:41-56). The documents table has no markup, so
  // a deterministic marked-up column is synthesized per row (tag soup
  // with title/nav/aside/footer chrome, inline <em> markup, named +
  // numeric-free entity encoding, &nbsp;-encoded spaces in the lead
  // paragraph), then extracted back: head drop → block segmentation on
  // block-level tags → inline tag strip → entity decode → whitespace
  // normalize → link-density boilerplate drop (keep a block iff it has
  // no links or > 25 clean chars per link). Synthesis + extraction are
  // both pure column expressions over arrays — ZERO shuffles except the
  // output sort, so the operator is embarrassingly parallel at 100 TB.
  // The round_trip flag (extracted == original text) is a per-row DQ
  // bit; the real check is the DuckDB mirror of the whole chain.

  /** Entity-decode chain shared by the Spark and SQL sides: &amp; LAST so
    * double-encoded text never half-decodes.
    */
  private val entityPairs = Seq(
    "&nbsp;" -> " ", "&middot;" -> "\u00b7", "&copy;" -> "\u00a9",
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&amp;" -> "&")

  private def decodeEntities(c: Column): Column =
    entityPairs.foldLeft(c) { case (acc, (e, ch)) =>
      call_function("replace", acc, lit(e), lit(ch))
    }

  private def decodeEntitiesSql(e: String): String =
    entityPairs.foldLeft(e) { case (acc, (ent, ch)) =>
      s"replace($acc, '$ent', '${ch.replace("'", "''")}')"
    }

  /** Block-level tag boundary — segmentation splits on these; anything
    * else (<a>, <em>) is inline and stripped within its block.
    */
  private val blockTagRe =
    "(?i)</?(?:html|body|nav|aside|footer|div|p|ul|li|h[1-6])[^>]*>"

  private val navHtml =
    "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/contact\">Contact</a></nav>"
  private val asideHtml =
    "<aside><a href=\"/deal\">Hot deal</a> <a href=\"/buy\">Buy now</a></aside>"
  private val footerHtml =
    "<footer>&copy; 2024 Example &amp; Sons &middot; " +
      "<a href=\"/tos\">Terms of Service</a> &middot; " +
      "<a href=\"/privacy\">Privacy</a> &middot; " +
      "<a href=\"/imprint\">Imprint</a></footer>"

  /** Deterministic tag soup over a documents frame: paragraphs of 12
    * words (regex marker split — no driver arithmetic), 'spark'
    * em-wrapped everywhere, the lead paragraph's spaces &nbsp;-encoded
    * so entity decode is exercised on CONTENT (not just on chrome).
    */
  private[graft] def htmlColumn: Column = {
    val paras = split(
      regexp_replace(col("text"), "((?:\\S+ ){12})", "$1\u00b6"), "\u00b6")
    def em(c: Column): Column =
      call_function("replace", c, lit("spark"), lit("<em>spark</em>"))
    val lead = call_function("replace", em(element_at(paras, 1)),
      lit(" "), lit("&nbsp;"))
    val rest = array_join(
      transform(slice(paras, lit(2), size(paras)),
        p => concat(lit("<p>"), em(p), lit("</p>"))), "")
    concat(
      lit("<html><head><title>"), col("source"), lit(" #"),
      col("doc_id").cast("string"), lit("</title></head><body>"),
      lit(navHtml),
      lit("<div class=\"content\"><p>"), lead, lit("</p>"), rest,
      lit("</div>"), lit(asideHtml), lit(footerHtml), lit("</body></html>"))
  }

  // NB: single physical line — this fragment is embedded in q191Sql's
  // stripMargin string, which would otherwise eat the first '|' of any
  // continuation line starting with '||'.
  private[graft] val htmlColumnSql: String = {
    val em = (e: String) => s"replace($e, 'spark', '<em>spark</em>')"
    s"'<html><head><title>' || source || ' #' || doc_id || '</title></head><body>' || " +
      s"'${navHtml.replace("'", "''")}' || '<div class=\"content\"><p>' || " +
      s"replace(${em("paras[1]")}, ' ', '&nbsp;') || '</p>' || " +
      // coalesce: DuckDB array_to_string([]) is NULL where Spark's
      // array_join([]) is '' — single-paragraph docs hit the empty slice
      s"coalesce(array_to_string(list_transform(paras[2:], p -> '<p>' || ${em("p")} || '</p>'), ''), '') || " +
      s"'</div>' || '${asideHtml.replace("'", "''")}' || " +
      s"'${footerHtml.replace("'", "''")}' || '</body></html>'"
  }

  private def q191(s: SparkSession, d: String): DataFrame = {
    val withHtml = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), htmlColumn.as("html"))
    val staged = withHtml.select(
      col("doc_id"), col("text"),
      split(element_at(split(col("html"), "</head>"), 2), blockTagRe)
        .as("blocks"))
      .select(col("doc_id"), col("text"),
        transform(col("blocks"), b => trim(regexp_replace(
          decodeEntities(regexp_replace(b, "<[^>]*>", " ")), "\\s+", " ")))
          .as("cleaned"),
        transform(col("blocks"),
          b => size(split(b, "<a href", -1)) - 1).as("links"))
    // keep rule indexes the cleaned/links columns in lockstep; all array
    // ops, no explode — block order is positional, no sort needed
    val keptIdx = filter(sequence(lit(1), size(col("cleaned"))), i =>
      length(element_at(col("cleaned"), i)) > 0 &&
        (element_at(col("links"), i) === 0 ||
          length(element_at(col("cleaned"), i)) >
            element_at(col("links"), i) * 25))
    staged.select(
      col("doc_id"), col("text"),
      size(filter(col("cleaned"), c => length(c) > 0)).cast("long")
        .as("n_blocks"),
      (size(filter(col("cleaned"), c => length(c) > 0)) - size(keptIdx))
        .cast("long").as("n_boiler"),
      array_join(transform(keptIdx, i => element_at(col("cleaned"), i)), " ")
        .as("extracted"))
      .withColumn("extracted_len", length(col("extracted")).cast("long"))
      .withColumn("round_trip", col("extracted") === col("text"))
      .drop("text")
  }

  private val q191Sql = {
    val cleanExpr = decodeEntitiesSql("regexp_replace(b, '<[^>]*>', ' ', 'g')")
    s"""WITH paras AS (
       |  SELECT doc_id, text, source,
       |    string_split(regexp_replace(text, '((\\S+ ){12})', '\\1\u00b6', 'g'),
       |      '\u00b6') AS paras
       |  FROM documents),
       |html AS (
       |  SELECT doc_id, text,
       |    $htmlColumnSql AS html
       |  FROM paras),
       |blocks AS (
       |  SELECT doc_id, text,
       |    string_split_regex(string_split(html, '</head>')[2],
       |      '$blockTagRe') AS blocks
       |  FROM html),
       |staged AS (
       |  SELECT doc_id, text,
       |    list_transform(blocks, b ->
       |      trim(regexp_replace($cleanExpr, '\\s+', ' ', 'g'))) AS cleaned,
       |    list_transform(blocks, b ->
       |      len(string_split(b, '<a href')) - 1) AS links
       |  FROM blocks),
       |kept AS (
       |  SELECT doc_id, text, cleaned,
       |    list_filter(range(1, len(cleaned) + 1), i ->
       |      len(cleaned[i]) > 0 AND
       |      (links[i] = 0 OR len(cleaned[i]) > links[i] * 25)) AS idx
       |  FROM staged)
       |SELECT doc_id,
       |  CAST(len(list_filter(cleaned, c -> len(c) > 0)) AS BIGINT) AS n_blocks,
       |  CAST(len(list_filter(cleaned, c -> len(c) > 0)) - len(idx) AS BIGINT)
       |    AS n_boiler,
       |  array_to_string(list_transform(idx, i -> cleaned[i]), ' ') AS extracted,
       |  CAST(len(array_to_string(list_transform(idx, i -> cleaned[i]), ' '))
       |    AS BIGINT) AS extracted_len,
       |  array_to_string(list_transform(idx, i -> cleaned[i]), ' ') = text
       |    AS round_trip
       |FROM kept ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- q195
  // URL normalization + canonical dedup — the crawl-frontier operator
  // every web pipeline runs beside q191's extraction: raw crawl URLs
  // differ in case, default ports, tracking params, fragments, and
  // trailing slashes while naming the same resource; the frontier (and
  // the doc-level dedup above it) keys on the CANONICAL form (the
  // canonical-relevant residues repeat every 12 ids while the tracking
  // junk cycles at 13/7, so distinct raw URLs genuinely collapse at any
  // SF). Like q191
  // the fixture is synthesized deterministically per doc (mixed-case
  // scheme/host, :80/:443 default ports, utm_* tracking junk, a
  // fragment, an id%2-dependent trailing slash), then canonicalized:
  // fragment drop → scheme/host lowercase → www. strip → default-port
  // strip → utm_* param drop → param sort → trailing-slash strip. All
  // per-row string/array expressions (zero shuffles), then ONE aggregate
  // on the canonical form: group size + first-seen flag (min doc_id) —
  // the same-resource collapse the frontier performs. Tracking params
  // vary by id%13 while the resource class varies by coarser residues,
  // so genuinely distinct raw URLs collapse into shared canonicals.

  /** Deterministic raw-URL column (ASCII; exercises every rule). */
  private[graft] def urlColumn: Column = concat(
    when(col("doc_id") % 2 === 0, lit("HTTP://")).otherwise(lit("https://")),
    lit("WWW.Example"), (col("doc_id") % 4).cast("string"), lit(".COM"),
    when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")),
    lit("/Cat"), (col("doc_id") % 3).cast("string"),
    lit("/item"), (col("doc_id") % 12).cast("string"),
    when(col("doc_id") % 2 === 1, lit("/")).otherwise(lit("")),
    lit("?utm_source=s"), (col("doc_id") % 13).cast("string"),
    lit("&ref=r"), (col("doc_id") % 6).cast("string"),
    lit("&q="), (col("doc_id") % 3).cast("string"),
    lit("&utm_campaign=c"), (col("doc_id") % 7).cast("string"),
    lit("#sec"), (col("doc_id") % 5).cast("string"))

  private def q195(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.documents(s, d).select(col("doc_id"), urlColumn.as("url"))
    val noFrag = regexp_replace(col("url"), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
    val hostPort = regexp_extract(noFrag, "^[A-Za-z]+://([^/?]+)", 1)
    val host0 = lower(regexp_replace(hostPort, ":[0-9]+$", ""))
    val host = regexp_replace(host0, "^www\\.", "")
    val pathQ = regexp_replace(noFrag, "^[A-Za-z]+://[^/?]+", "")
    val path0 = regexp_replace(pathQ, "\\?.*$", "")
    val path = when(regexp_replace(path0, "/+$", "") === "", lit("/"))
      .otherwise(regexp_replace(path0, "/+$", ""))
    val query = when(pathQ.contains("?"),
      regexp_replace(pathQ, "^[^?]*\\?", "")).otherwise(lit(""))
    val keptParams = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.startsWith("utm_")))
    val canon = concat(scheme, lit("://"), host, path,
      when(size(keptParams) > 0,
        concat(lit("?"), array_join(keptParams, "&"))).otherwise(lit("")))
    val canoned = raw.select(col("doc_id"), col("url"), canon.as("canon"),
      host.as("host"))
    val groups = canoned.groupBy("canon")
      .agg(min("doc_id").as("first_id"), count(lit(1)).as("n_same"))
    canoned.join(groups, "canon")
      .select(col("doc_id"), col("url"), col("canon"), col("host"),
        col("n_same"), (col("doc_id") === col("first_id")).as("is_first"))
  }

  private val q195Sql = {
    val url =
      """CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END ||
        |'WWW.Example' || (doc_id % 4) || '.COM' ||
        |CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END ||
        |'/Cat' || (doc_id % 3) || '/item' || (doc_id % 12) ||
        |CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END ||
        |'?utm_source=s' || (doc_id % 13) || '&ref=r' || (doc_id % 6) ||
        |'&q=' || (doc_id % 3) || '&utm_campaign=c' || (doc_id % 7) ||
        |'#sec' || (doc_id % 5)""".stripMargin.replace("\n", " ")
    s"""WITH raw AS (SELECT doc_id, $url AS url FROM documents),
       |st AS (
       |  SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nofrag
       |  FROM raw),
       |parts AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
       |    regexp_replace(lower(regexp_replace(
       |      regexp_extract(nofrag, '^[A-Za-z]+://([^/?]+)', 1),
       |      ':[0-9]+$$', '')), '^www\\.', '') AS host,
       |    regexp_replace(regexp_replace(nofrag, '^[A-Za-z]+://[^/?]+', ''),
       |      '\\?.*$$', '') AS path0,
       |    CASE WHEN contains(regexp_replace(nofrag, '^[A-Za-z]+://[^/?]+', ''), '?')
       |      THEN regexp_replace(regexp_replace(nofrag, '^[A-Za-z]+://[^/?]+', ''),
       |        '^[^?]*\\?', '')
       |      ELSE '' END AS query
       |  FROM st),
       |canoned AS (
       |  SELECT doc_id, url, host,
       |    scheme || '://' || host ||
       |    CASE WHEN regexp_replace(path0, '/+$$', '') = '' THEN '/'
       |         ELSE regexp_replace(path0, '/+$$', '') END ||
       |    CASE WHEN len(list_filter(string_split(query, '&'),
       |           p -> p != '' AND NOT starts_with(p, 'utm_'))) > 0
       |      THEN '?' || array_to_string(list_sort(list_filter(
       |        string_split(query, '&'),
       |        p -> p != '' AND NOT starts_with(p, 'utm_'))), '&')
       |      ELSE '' END AS canon
       |  FROM parts),
       |groups AS (
       |  SELECT canon, min(doc_id) AS first_id, count(*) AS n_same
       |  FROM canoned GROUP BY canon)
       |SELECT c.doc_id, c.url, c.canon, c.host, g.n_same,
       |  c.doc_id = g.first_id AS is_first
       |FROM canoned c JOIN groups g USING (canon)
       |ORDER BY c.doc_id""".stripMargin
  }

  // ------------------------------------------------------------- q196
  // Link-graph extraction from markup — the third web-corpus operator
  // (q191 extracts text, q195 canonicalizes URLs; this one mines the
  // hyperlink STRUCTURE): parse anchor targets out of document markup,
  // build the directed doc→doc edge list, and derive per-page degree +
  // 2-hop reach — the inputs to PageRank-style quality priors (q132 runs
  // the iteration) and link-spam heuristics. Fixture: doc i's markup
  // carries 1 + i%3 anchors to docs (i·7 + k) mod N (N = corpus size, a
  // 1-row broadcast scalar), so the graph spans the corpus
  // deterministically. Extraction is regexp_extract_all over the markup
  // (per-row, shuffle-free); edges explode once; degrees are two keyed
  // aggregates; 2-hop is ONE self-join on the edge list shuffled by its
  // join key — the standard adjacency shuffle, linear in edges at any
  // corpus size.

  private def q196(s: SparkSession, d: String): DataFrame = {
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    val markup = Tables.documents(s, d)
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("n"),
        concat(lit("<html><body><p>See also:</p><ul>"),
          array_join(transform(sequence(lit(1), (col("doc_id") % 3 + 1).cast("int")),
            k => concat(lit("<li><a href=\"/doc/"),
              ((col("doc_id") * 7 + k) % col("n")).cast("string"),
              lit("\">ref</a></li>"))), ""),
          lit("</ul></body></html>")).as("html"))
    val edges = markup
      .select(col("doc_id").as("src"),
        explode(regexp_extract_all(col("html"),
          lit("href=\"/doc/([0-9]+)\""), lit(1))).as("dst"))
      .select(col("src"), col("dst").cast("long").as("dst"))
      .distinct()
    val outDeg = edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("out_deg"))
    val inDeg = edges.groupBy(col("dst").as("doc_id"))
      .agg(count(lit(1)).as("in_deg"))
    val twoHop = edges
      .join(edges.select(col("src").as("dst"), col("dst").as("dst2")), "dst")
      .filter(col("dst2") =!= col("src"))
      .select(col("src"), col("dst2")).distinct()
      .groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("n_two_hop"))
    Tables.documents(s, d).select("doc_id")
      .join(outDeg, Seq("doc_id"), "left")
      .join(inDeg, Seq("doc_id"), "left")
      .join(twoHop, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_two_hop"), lit(0L)).as("n_two_hop"))
  }

  private val q196Sql =
    """WITH nd AS (SELECT count(*) AS n FROM documents),
      |markup AS (
      |  SELECT doc_id,
      |    '<html><body><p>See also:</p><ul>' ||
      |    array_to_string(list_transform(range(1, CAST(doc_id % 3 + 2 AS BIGINT)),
      |      k -> '<li><a href="/doc/' || ((doc_id * 7 + k) % n) || '">ref</a></li>'), '') ||
      |    '</ul></body></html>' AS html
      |  FROM documents, nd),
      |edges AS (
      |  SELECT DISTINCT doc_id AS src,
      |    CAST(unnest(regexp_extract_all(html, 'href="/doc/([0-9]+)"', 1)) AS BIGINT) AS dst
      |  FROM markup),
      |outd AS (SELECT src AS doc_id, count(*) AS out_deg FROM edges GROUP BY src),
      |ind AS (SELECT dst AS doc_id, count(*) AS in_deg FROM edges GROUP BY dst),
      |two AS (
      |  SELECT src AS doc_id, count(*) AS n_two_hop FROM (
      |    SELECT DISTINCT e1.src, e2.dst AS dst2
      |    FROM edges e1 JOIN edges e2 ON e1.dst = e2.src
      |    WHERE e2.dst != e1.src) GROUP BY src)
      |SELECT d.doc_id,
      |  coalesce(o.out_deg, 0) AS out_deg,
      |  coalesce(i.in_deg, 0) AS in_deg,
      |  coalesce(t.n_two_hop, 0) AS n_two_hop
      |FROM documents d
      |LEFT JOIN outd o ON d.doc_id = o.doc_id
      |LEFT JOIN ind i ON d.doc_id = i.doc_id
      |LEFT JOIN two t ON d.doc_id = t.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q208

  /** The q196 link-graph edge list as a reusable frame: directed distinct
    * doc→doc edges extracted from the same markup fixture (regex over
    * per-row generated anchors). Kept in exact lockstep with
    * [[linkEdgesCteSql]] — q196 and q208 both build on this pair.
    */
  private def linkEdges(s: SparkSession, d: String): DataFrame = {
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
    Tables.documents(s, d)
      .crossJoin(broadcast(n))
      .select(col("doc_id"),
        concat(lit("<html><body><p>See also:</p><ul>"),
          array_join(transform(sequence(lit(1), (col("doc_id") % 3 + 1).cast("int")),
            k => concat(lit("<li><a href=\"/doc/"),
              ((col("doc_id") * 7 + k) % col("n")).cast("string"),
              lit("\">ref</a></li>"))), ""),
          lit("</ul></body></html>")).as("html"))
      .select(col("doc_id").as("src"),
        explode(regexp_extract_all(col("html"),
          lit("href=\"/doc/([0-9]+)\""), lit(1))).as("dst"))
      .select(col("src"), col("dst").cast("long").as("dst"))
      .distinct()
  }

  /** DuckDB CTE bodies mirroring [[linkEdges]] (`nd`, `markup`, `edges`). */
  private val linkEdgesCteSql =
    """nd AS (SELECT count(*) AS n FROM documents),
      |markup AS (
      |  SELECT doc_id,
      |    '<html><body><p>See also:</p><ul>' ||
      |    array_to_string(list_transform(range(1, CAST(doc_id % 3 + 2 AS BIGINT)),
      |      k -> '<li><a href="/doc/' || ((doc_id * 7 + k) % n) || '">ref</a></li>'), '') ||
      |    '</ul></body></html>' AS html
      |  FROM documents, nd),
      |edges AS (
      |  SELECT DISTINCT doc_id AS src,
      |    CAST(unnest(regexp_extract_all(html, 'href="/doc/([0-9]+)"', 1)) AS BIGINT) AS dst
      |  FROM markup)""".stripMargin

  /** Triangle counting over the link graph — the canonical graph-mining
    * primitive next to q132's PageRank and q196's degrees/2-hop (cluster
    * coefficients, community cores, link-farm detection all start here).
    * The classic DISTRIBUTED algorithm, relationally:
    *
    *  1. canonicalize to undirected edges {a<b}, drop self-loops;
    *  2. DEGREE-ORIENT every edge from its (deg, id)-smaller endpoint to
    *     the larger (the Suri-Vassilvitskii / "node-iterator++" trick:
    *     every node's oriented out-degree is O(√m), so wedge fan-out is
    *     bounded by O(m^{3/2}) TOTAL, independent of skew — a raw hub
    *     node would otherwise fan deg² wedges);
    *  3. wedges = oriented ⋈ oriented on the pivot, x<y;
    *  4. close each wedge against the canonical edge set with one more
    *     equi-join — each triangle is found EXACTLY once (at its
    *     ≺-minimal vertex).
    *
    * Every join is a keyed equi-join (no broadcast needed — the edge list
    * scales with the corpus); per-node participation counts come from one
    * explode + aggregate.
    */
  private def q208(s: SparkSession, d: String): DataFrame = {
    val e = linkEdges(s, d)
    val und = e.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val o = und
      .join(deg.select(col("v").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("degb")), "b")
      .select(
        when(col("dega") <= col("degb"), col("a")).otherwise(col("b")).as("lo"),
        when(col("dega") <= col("degb"), col("b")).otherwise(col("a")).as("hi"))
    val wedges = o.select(col("lo"), col("hi").as("x"))
      .join(o.select(col("lo"), col("hi").as("y")), "lo")
      .filter(col("x") < col("y"))
    val tris = wedges.join(und,
      wedges("x") === und("a") && wedges("y") === und("b"))
      .select(col("lo"), col("x"), col("y"))
    tris.select(explode(array(col("lo"), col("x"), col("y"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
  }

  private val q208Sql =
    s"""WITH $linkEdgesCteSql,
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst),
       |deg AS (
       |  SELECT v, count(*) AS deg FROM (
       |    SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
       |o AS (
       |  SELECT CASE WHEN da.deg <= db.deg THEN u.a ELSE u.b END AS lo,
       |         CASE WHEN da.deg <= db.deg THEN u.b ELSE u.a END AS hi
       |  FROM und u JOIN deg da ON da.v = u.a JOIN deg db ON db.v = u.b),
       |wedges AS (
       |  SELECT o1.lo, o1.hi AS x, o2.hi AS y
       |  FROM o o1 JOIN o o2 ON o1.lo = o2.lo WHERE o1.hi < o2.hi),
       |tris AS (
       |  SELECT w.lo, w.x, w.y FROM wedges w
       |  JOIN und u ON u.a = w.x AND u.b = w.y)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |  SELECT lo AS doc_id FROM tris
       |  UNION ALL SELECT x FROM tris
       |  UNION ALL SELECT y FROM tris)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q232

  /** CRAWL-FRONTIER BFS — seed-set hop distance over the directed link
    * graph: the iterative-Pregel member the graph family was missing
    * (q196 degrees and q208 triangles are single-pass; q132's PageRank
    * iterates a FIXED number of rounds; BFS must iterate TO CONVERGENCE
    * with a data-dependent round count — the shape of crawl scheduling,
    * recursive reachability, and taint propagation). Seeds are every
    * doc_id ≡ 0 (mod 101); output per document: min link-hops from any
    * seed (−1 if unreachable) — i.e. the crawl depth at which a frontier
    * starting from the seed list first fetches each page.
    *
    * Execution is textbook distributed BFS: per round, ONE equi-join of
    * the frontier against the edge list (shuffle keyed on src — edges
    * scale with the corpus, so no broadcast) plus one anti-join against
    * the visited set; the frontier is `localCheckpoint`ed each round,
    * which both truncates the Catalyst lineage (an unbounded iterative
    * plan re-analyzes the whole history every round — lesson: plan
    * explosion) and bounds recomputation. Rounds stop when the frontier
    * empties or at the 64-hop cap (the DuckDB mirror carries the same
    * cap, so both engines truncate identically). Round count is the seed
    * eccentricity — O(log n) on link graphs with expander-like fan-out;
    * the driver loop holds only a row COUNT per round, never data.
    */
  private def q232(s: SparkSession, d: String): DataFrame = {
    val edges = linkEdges(s, d).localCheckpoint(true) // reused every round
    val seeds = Tables.documents(s, d)
      .filter(col("doc_id") % 101 === 0)
      .select(col("doc_id").as("v"), lit(0L).as("dist"))
    var visited = seeds.localCheckpoint(true)
    var frontier = visited
    var dist = 0L
    var frontierSize = frontier.count()
    while (frontierSize > 0 && dist < 64) {
      dist += 1
      val next = frontier
        .join(edges, frontier("v") === edges("src"))
        .select(col("dst").as("v")).distinct()
        .join(visited, Seq("v"), "left_anti")
        .select(col("v"), lit(dist).as("dist"))
        .localCheckpoint(true)
      visited = visited.unionByName(next).localCheckpoint(true)
      frontier = next
      frontierSize = next.count()
    }
    Tables.documents(s, d).select("doc_id")
      .join(visited.select(col("v").as("doc_id"), col("dist")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dist"), lit(-1L)).as("dist"),
        col("dist").isNotNull.as("reached"))
  }

  private val q232Sql =
    s"""WITH RECURSIVE $linkEdgesCteSql,
       |walk(v, dist) AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) FROM documents WHERE doc_id % 101 = 0
       |  UNION
       |  SELECT e.dst, w.dist + 1
       |  FROM walk w JOIN edges e ON w.v = e.src
       |  WHERE w.dist < 64),
       |md AS MATERIALIZED (SELECT v AS doc_id, min(dist) AS dist FROM walk GROUP BY v)
       |SELECT d.doc_id, coalesce(m.dist, -1) AS dist, m.doc_id IS NOT NULL AS reached
       |FROM documents d LEFT JOIN md m ON d.doc_id = m.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- q234

  /** GLOBAL CONNECTED COMPONENTS over the undirected link graph — the
    * alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14), the
    * published shape for components at data-center scale. This removes
    * the one KNOWN BOUND the dedup family documents: q58's clustering
    * runs union-find per LSH block (one task per block, fine because
    * blocks are candidate-bounded), but a general graph has no blocking
    * key — components span the whole edge set, and a single-task
    * union-find dies at ~10⁸ vertices. Here every round is two
    * aggregate+equi-join passes over the edge list:
    *
    *  - LARGE-STAR: m(u) = min(Γ(u) ∪ {u}) per node (one partial-agg
    *    shuffle); connect every STRICTLY-LARGER neighbor of u to m(u)
    *    (one equi-join back on u). Hub nodes cost O(deg) emitted edges,
    *    never O(deg²) — per-edge work is O(1), skew-safe.
    *  - SMALL-STAR: orient each edge hi→lo; m(hi) = min of the smaller
    *    neighborhood; reconnect the smaller neighbors and hi itself to m.
    *
    * The edge set monotonically contracts toward a forest of stars whose
    * centers are component minima; convergence is O(log² n) rounds in
    * theory, 3–6 in practice on web-shaped graphs (vs O(diameter) for
    * naive min-label propagation — the difference between 5 and 30+
    * shuffles on a 100 TB link graph with long chains). Each round's
    * frontier is localCheckpoint'ed (lesson: iterative lineage must be
    * truncated or Catalyst re-analyzes the whole history per round), the
    * convergence check is count-equality plus one anti-join on the
    * already-contracted (small) edge set, and a `require` guards the
    * 32-round cap so a non-converged run can never emit silently-partial
    * components. The DuckDB mirror reaches the same fixpoint by a
    * different route — 24 unrolled min-label-propagation rounds (≥ the
    * fixture graph's diameter; both algorithms converge to the identical
    * component-min labeling, so hash-equality checks the RESULT, not the
    * algorithm).
    */
  /** The reusable core of q234: alternating star contraction over an
    * arbitrary directed edge frame (`src`, `dst` long columns), returning
    * the fixpoint star edges (b → component-min a). Exposed private[graft]
    * so PropertySpec can fuzz it against union-find on random graphs.
    */
  private[graft] def starContract(edgesIn: DataFrame): DataFrame = {
    def canon(df: DataFrame, u: String, v: String): DataFrame =
      df.filter(col(u) =!= col(v))
        .select(least(col(u), col(v)).as("a"), greatest(col(u), col(v)).as("b"))
        .distinct()
    var edges = canon(edgesIn, "src", "dst").localCheckpoint(true)
    var converged = false
    var round = 0
    while (!converged && round < 32) {
      round += 1
      // large-star: bidirect, min over neighborhood ∪ self, reconnect larger
      val bi = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
      val mL = bi.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val ls = bi.join(mL, "u").filter(col("v") > col("u"))
        .select(col("v").as("x"), col("m").as("y"))
      val afterLarge = canon(ls, "x", "y")
      // small-star: orient hi→lo, min of smaller neighborhood, reconnect
      val oriented = afterLarge.select(col("b").as("hi"), col("a").as("lo"))
      val mS = oriented.groupBy("hi").agg(min(col("lo")).as("m"))
      val ss = oriented.join(mS, "hi").select(col("lo").as("x"), col("m").as("y"))
        .unionAll(mS.select(col("hi").as("x"), col("m").as("y")))
      val next = canon(ss, "x", "y").localCheckpoint(true)
      converged = next.count() == edges.count() &&
        next.join(edges, Seq("a", "b"), "left_anti").isEmpty
      edges = next
    }
    require(converged, s"star-contraction did not converge in $round rounds")
    edges
  }

  private def q234(s: SparkSession, d: String): DataFrame = {
    val edges = starContract(linkEdges(s, d))
    // fixpoint = stars rooted at component minima; unmatched docs are singletons
    val lab = edges.groupBy("b").agg(min(col("a")).as("comp"))
      .select(col("b").as("doc_id"), col("comp"))
    val full = Tables.documents(s, d).select("doc_id")
      .join(lab, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("component"))
    val sizes = full.groupBy("component").agg(count(lit(1)).as("comp_size"))
    full.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("comp_size"))
  }

  private val q234Sql = {
    val R = 24 // ≥ fixture-graph diameter; propagation is exact once ≥
    val rounds = (1 to R).map { i =>
      val p = s"lbl${i - 1}"
      s"""lbl$i AS MATERIALIZED (
         |  SELECT v, min(lbl) AS lbl FROM (
         |    SELECT v, lbl FROM $p
         |    UNION ALL
         |    SELECT b.dst AS v, l.lbl FROM $p l JOIN bi b ON l.v = b.src
         |  ) GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdgesCteSql,
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst),
       |bi AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
       |lbl0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents),
       |$rounds,
       |comp AS MATERIALIZED (SELECT v AS doc_id, lbl AS component FROM lbl$R),
       |-- Convergence sentinel (ADVICE r9): the $R-round unroll is exact only
       |-- while $R >= the link graph's diameter. Assert the fixpoint was
       |-- actually reached (last round changed nothing) and error() loudly on
       |-- a diameter overrun instead of emitting a silently-wrong oracle.
       |conv AS (
       |  SELECT CASE WHEN (SELECT count(*) FROM (
       |      SELECT v, lbl FROM lbl$R EXCEPT SELECT v, lbl FROM lbl${R - 1})) = 0
       |    THEN 1
       |    ELSE CAST(error('q234 mirror: min-label propagation not converged in $R rounds — raise R') AS INT)
       |  END AS ok),
       |sizes AS MATERIALIZED (
       |  SELECT component, count(*) AS comp_size FROM comp GROUP BY component)
       |SELECT c.doc_id, c.component, s.comp_size
       |FROM comp c JOIN sizes s USING (component), conv
       |WHERE conv.ok = 1
       |ORDER BY c.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q243

  /** LABEL-PROPAGATION COMMUNITIES (synchronous LPA, Raghavan et al.
    * 2007) over the undirected link graph — the graph family's DENSITY
    * member: q234's components answer "connected at all?", LPA answers
    * "which densely-linked neighborhood?" (topic clusters, link farms,
    * mirror rings). Deterministic variant of the classic rule — each
    * round every node adopts the SMALLEST label among the most frequent
    * labels in its neighborhood (count desc, label asc — the published
    * algorithm breaks this tie randomly; the min-tiebreak makes the
    * fixture hash-oracle-able) — run a FIXED 4 synchronous rounds (the
    * published stopping regime is "few iterations"; a fixed count keeps
    * both engines in lockstep, and the mirror unrolls the same 4).
    *
    * Scale: each round is one edge-keyed equi-join (labels onto the
    * bidirected edge list) + two aggregates ((v, lbl) counts, then the
    * per-v argmax via a max_by-shaped struct max) — all map-side
    * combinable, per-edge work O(1), no collected state. Label frames
    * are localCheckpoint'ed per round (iterative-lineage lesson).
    */
  private def q243(s: SparkSession, d: String): DataFrame = {
    val und = linkEdges(s, d).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val bi = und.select(col("a").as("v"), col("b").as("n"))
      .unionAll(und.select(col("b").as("v"), col("a").as("n")))
      .localCheckpoint(true)
    var labels = Tables.documents(s, d)
      .select(col("doc_id").as("v"), col("doc_id").as("lbl"))
      .localCheckpoint(true)
    (1 to 4).foreach { _ =>
      val nbr = bi.join(labels.select(col("v").as("n"), col("lbl")), "n")
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("c"))
      // argmax (c desc, lbl asc) as a single struct max: (c, -lbl) max
      val next = nbr
        .groupBy("v")
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("best"))
        .select(col("v"), (-col("best.neg")).as("lbl"))
      // isolated nodes keep their label
      labels = labels.select(col("v"), col("lbl").as("old"))
        .join(next, Seq("v"), "left")
        .select(col("v"), coalesce(col("lbl"), col("old")).as("lbl"))
        .localCheckpoint(true)
    }
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lbl")
      .select(col("v").as("doc_id"), col("lbl").as("community"),
        col("community_size"))
  }

  private val q243Sql = {
    val rounds = (1 to 4).map { i =>
      val p = s"lp${i - 1}"
      s"""nb$i AS (
         |  SELECT b.v, l.lbl, count(*) AS c
         |  FROM bi b JOIN $p l ON l.v = b.n
         |  GROUP BY b.v, l.lbl),
         |ag$i AS (
         |  SELECT v, lbl FROM (
         |    SELECT v, lbl, row_number() OVER (
         |      PARTITION BY v ORDER BY c DESC, lbl) AS rn FROM nb$i)
         |  WHERE rn = 1),
         |lp$i AS MATERIALIZED (
         |  SELECT p.v, coalesce(a.lbl, p.lbl) AS lbl
         |  FROM $p p LEFT JOIN ag$i a ON a.v = p.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdgesCteSql,
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst),
       |bi AS MATERIALIZED (
       |  SELECT a AS v, b AS n FROM und UNION ALL SELECT b, a FROM und),
       |lp0 AS (SELECT doc_id AS v, doc_id AS lbl FROM documents),
       |$rounds,
       |sz AS MATERIALIZED (
       |  SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
       |  FROM lp4 GROUP BY lbl)
       |SELECT l.v AS doc_id, l.lbl AS community, s.community_size
       |FROM lp4 l JOIN sz s ON s.lbl = l.lbl
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q244

  /** LOCAL CLUSTERING COEFFICIENT — per-node transitivity over the link
    * graph, in basis points: lcc(v) = 10000·2·tri(v) / (deg(v)·(deg(v)−1))
    * for deg ≥ 2, composing q208's skew-proof triangle counts with q196's
    * degrees (the standard "is this neighborhood a community or a hub
    * spray" diagnostic — link farms score near 10000, crawl hubs near 0).
    * Integer division keeps it hash-exact; nodes of degree < 2 report 0.
    * Scale: inherits q208's O(m^{3/2}) wedge bound; the coefficient
    * itself is one broadcast-free keyed join of two aggregates.
    */
  private def q244(s: SparkSession, d: String): DataFrame = {
    val und = linkEdges(s, d).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val tri = q208(s, d).select(col("doc_id").as("v"), col("n_tri"))
    deg.join(tri, Seq("v"), "left")
      .select(col("v").as("doc_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          expr("10000 * 2 * coalesce(n_tri, 0) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("lcc_bp"))
  }

  private val q244Sql =
    s"""WITH $linkEdgesCteSql,
       |ue AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges WHERE src != dst),
       |deg AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS v FROM ue UNION ALL SELECT b FROM ue) GROUP BY v),
       |tri AS MATERIALIZED (${q208Sql.replace("ORDER BY doc_id", "")})
       |SELECT d.v AS doc_id, d.deg, coalesce(t.n_tri, 0) AS n_tri,
       |  CAST(CASE WHEN d.deg >= 2
       |       THEN 10000 * 2 * coalesce(t.n_tri, 0) // (d.deg * (d.deg - 1))
       |       ELSE 0 END AS BIGINT) AS lcc_bp
       |FROM deg d LEFT JOIN tri t ON t.doc_id = d.v
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q207

  /** Encoding-quality / mojibake detection — the byte-sanity gate every
    * web-scale corpus needs BEFORE linguistic filters (a page that went
    * through a UTF-8→Latin-1→UTF-8 round trip, or got U+FFFD-substituted
    * by a lenient decoder, poisons tokenizers and dedup alike). The
    * testdata text is clean ASCII, so the fixture first injects the three
    * classic corruption modes deterministically by doc_id%7 — double
    * encoding ('a'→'Ã¡', the UTF-8-as-Latin-1 signature), replacement
    * characters ('e'→U+FFFD), and embedded C0 control bytes (BEL) — then
    * the detector measures, per doc: U+FFFD count, control-char count
    * (C0 minus tab/LF/CR), 'Ã' mojibake-marker count, non-ASCII count,
    * and the keep verdict (all three corruption families absent).
    *
    * Pure per-row expressions (replace-based counting for the single-char
    * markers, one codegen'd higher-order filter for the class counts) —
    * zero shuffles; at 100 TB this runs at scan
    * speed inside whole-stage codegen.
    */
  private def q207(s: SparkSession, d: String): DataFrame = {
    val corrupted = expr(
      """CASE CAST(doc_id % 7 AS INT)
        |  WHEN 0 THEN replace(text, 'a', 'Ã¡')
        |  WHEN 1 THEN replace(text, 'e', '�')
        |  WHEN 2 THEN concat(text, chr(7), 'x')
        |  ELSE text END""".stripMargin)
    def nOf(marker: String) =
      length(col("s")) - length(regexp_replace(col("s"), marker, ""))
    Tables.documents(s, d)
      .select(col("doc_id"), corrupted.as("s"))
      .select(col("doc_id"),
        nOf("�").cast("long").as("n_repl"),
        size(filter(split(col("s"), ""), c =>
          c =!= "" && ascii(c) < 32 && !ascii(c).isin(9, 10, 13)))
          .cast("long").as("n_ctrl"),
        nOf("Ã").cast("long").as("n_moji"),
        size(filter(split(col("s"), ""), c => ascii(c) > 127))
          .cast("long").as("n_nonascii"),
        length(col("s")).cast("long").as("n_chars"))
      .withColumn("keep",
        col("n_repl") === 0 && col("n_ctrl") === 0 && col("n_moji") === 0)
  }

  private val q207Sql =
    """WITH c AS (
      |  SELECT doc_id,
      |    CASE doc_id % 7
      |      WHEN 0 THEN replace(text, 'a', 'Ã¡')
      |      WHEN 1 THEN replace(text, 'e', chr(65533))
      |      WHEN 2 THEN text || chr(7) || 'x'
      |      ELSE text END AS s
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(s) - length(replace(s, chr(65533), '')) AS BIGINT) AS n_repl,
      |  CAST(len(list_filter(string_split(s, ''), ch -> ch != '' AND
      |    unicode(ch) < 32 AND unicode(ch) NOT IN (9, 10, 13))) AS BIGINT) AS n_ctrl,
      |  CAST(length(s) - length(replace(s, 'Ã', '')) AS BIGINT) AS n_moji,
      |  CAST(len(list_filter(string_split(s, ''), ch -> ch != '' AND
      |    unicode(ch) > 127)) AS BIGINT) AS n_nonascii,
      |  CAST(length(s) AS BIGINT) AS n_chars,
      |  (length(s) - length(replace(s, chr(65533), '')) = 0
      |    AND len(list_filter(string_split(s, ''), ch -> ch != '' AND
      |      unicode(ch) < 32 AND unicode(ch) NOT IN (9, 10, 13))) = 0
      |    AND length(s) - length(replace(s, 'Ã', '')) = 0) AS keep
      |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q221

  /** RAKE KEYWORD EXTRACTION (Rose et al. 2010 — Rapid Automatic Keyword
    * Extraction), the classic unsupervised keyphrase miner: candidate
    * phrases are maximal stopword-free token runs; each word scores
    * deg(w)/freq(w) where freq counts its phrase occurrences and deg
    * additionally credits the length of every phrase it appears in
    * (co-occurrence degree, self included); a phrase scores the sum of
    * its words' scores. Corpus-wide top 25 phrases by (score desc,
    * phrase asc), with occurrence counts. Scores in fixed point ×1000
    * (integer division) — hash-exact.
    *
    * Relational shape: phrase segmentation is a running count of
    * stopword boundaries (one window per doc), phrase text is an
    * order-pinned sort_array(collect_list(struct(pos, w))) — no UDF;
    * word statistics are two corpus-wide aggregates joined back by
    * broadcast (vocabulary-sized). Complements q31 (word freq), q57
    * (TF-IDF terms), q148 (PMI collocations) — RAKE is the phrase-level
    * member of the keyword family.
    */
  private def q221(s: SparkSession, d: String): DataFrame =
    rakeKeywords(Tables.documents(s, d))

  /** q221's core on an injectable (doc_id, text) frame — spec-tested on a
    * real-stopword English fixture where the canonical RAKE behavior
    * (multi-word technical phrases outscore frequent single words) is
    * hand-checkable. Candidate phrases are capped at 4 words (standard
    * RAKE practice; uncapped, a stopword-poor corpus degenerates to
    * whole-document runs).
    */
  private[graft] def rakeKeywords(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "w")))
      .filter(col("w") =!= "")
      .withColumn("stop", array_contains(TextOps.stopwordArray, col("w")))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val phrased = toks
      .withColumn("pid", sum(when(col("stop"), 1L).otherwise(0L)).over(wDoc))
      .filter(!col("stop"))
    val phrases = phrased.groupBy("doc_id", "pid")
      .agg(
        array_join(transform(sort_array(collect_list(struct(col("pos"), col("w")))),
          x => x.getField("w")), " ").as("phrase"),
        count(lit(1)).as("plen"))
      .filter(col("plen") <= 4)
    val words = phrased.join(
      phrases.select(col("doc_id"), col("pid"), col("plen")), Seq("doc_id", "pid"))
    val stats = words.groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wscore", expr("deg * 1000 div freq"))
    words.join(broadcast(stats.select(col("w"), col("wscore"))), "w")
      .groupBy("doc_id", "pid")
      .agg(sum(col("wscore")).as("pscore"))
      .join(phrases, Seq("doc_id", "pid"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"), max(col("pscore")).as("score_fp"))
      .orderBy(desc("score_fp"), asc("phrase"))
      .limit(25)
  }

  private val q221Sql =
    s"""WITH toks AS (
       |  SELECT doc_id, p AS pos, w,
       |    list_contains(${TextOps.stopwordSqlList}, w) AS stop
       |  FROM (SELECT doc_id,
       |          unnest(range(0, len(string_split(text, ' ')))) AS p,
       |          unnest(string_split(text, ' ')) AS w
       |        FROM documents) t
       |  WHERE w != ''),
       |ph AS (
       |  SELECT doc_id, pos, w,
       |    sum(CASE WHEN stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos) AS pid, stop
       |  FROM toks),
       |body AS (SELECT doc_id, pid, pos, w FROM ph WHERE NOT stop),
       |phrases AS (
       |  SELECT * FROM (
       |    SELECT doc_id, pid,
       |      array_to_string(list(w ORDER BY pos), ' ') AS phrase,
       |      CAST(count(*) AS BIGINT) AS plen
       |    FROM body GROUP BY doc_id, pid) x WHERE plen <= 4),
       |words AS (
       |  SELECT b.doc_id, b.pid, b.w, p.plen
       |  FROM body b JOIN phrases p ON p.doc_id = b.doc_id AND p.pid = b.pid),
       |stats AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq,
       |    CAST(sum(plen) AS BIGINT) AS deg
       |  FROM words GROUP BY w),
       |ws AS (SELECT w, deg * 1000 // freq AS wscore FROM stats),
       |ps AS (
       |  SELECT wo.doc_id, wo.pid, CAST(sum(ws.wscore) AS BIGINT) AS pscore
       |  FROM words wo JOIN ws ON ws.w = wo.w GROUP BY wo.doc_id, wo.pid)
       |SELECT p.phrase, CAST(count(*) AS BIGINT) AS n_occ,
       |  CAST(max(s.pscore) AS BIGINT) AS score_fp
       |FROM ps s JOIN phrases p ON p.doc_id = s.doc_id AND p.pid = s.pid
       |GROUP BY p.phrase
       |ORDER BY score_fp DESC, phrase LIMIT 25""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q243_label_propagation", q243, Some(q243Sql),
      "synchronous label-propagation communities (4 rounds, deterministic count-desc/label-asc tiebreak) + community sizes"),
    QueryDef("q244_clustering_coefficient", q244, Some(q244Sql),
      "local clustering coefficient in basis points from q208 triangles + degrees (integer-exact)"),
    QueryDef("q234_connected_components", q234, Some(q234Sql),
      "global connected components: alternating large-star/small-star contraction (Kiveris et al.), component ids + sizes"),
    QueryDef("q232_crawl_frontier", q232, Some(q232Sql),
      "crawl-frontier BFS: seed-set hop distance over the directed link graph, iterate-to-convergence with per-round checkpointed frontier"),
    QueryDef("q221_rake_keywords", q221, Some(q221Sql),
      "RAKE keyphrase extraction: stopword-run segmentation, deg/freq word scores, top-25 phrases (fixed-point)"),
    QueryDef("q208_triangles", q208, Some(q208Sql),
      "degree-oriented triangle counting over the link graph (Suri-Vassilvitskii orientation: O(m^1.5) wedges, skew-immune)"),
    QueryDef("q207_mojibake", q207, Some(q207Sql),
      "encoding-quality gate: U+FFFD / C0-control / double-encoding marker detection with keep verdict"),
    QueryDef("q196_link_graph", q196, Some(q196Sql),
      "link-graph mining from markup: anchor extraction, degree stats, 2-hop reach"),
    QueryDef("q195_url_normalize", q195, Some(q195Sql),
      "URL canonicalization + frontier dedup: port/case/utm/fragment/slash rules, canonical-group collapse"),
    QueryDef("q107_approx_percentiles", q107, Some(q107Sql),
      "GK-sketch percentiles, rank-bound-verdict oracled (+EdaSpec bound)"),
    QueryDef("q103_sentences", q103, Some(q103Sql), "sentence segmentation + per-sentence stats"),
    QueryDef("q30_clean_text", q30, Some(q30Sql), "F1-F3 clean_post regex chain"),
    QueryDef("q49_stem_tokens", q49, Some(q49Sql),
      "F7 Porter2 (Snowball) stemmer UDF, vocab-map oracled (+StemmerSpec)"),
    QueryDef("q57_tfidf_topk", q57, Some(q57Sql), "TF-IDF top-3 keywords per doc"),
    QueryDef("q52_hash_sample", q52, Some(q52Sql), "deterministic stratified sampling"),
    QueryDef("q147_group_sample", q147, Some(q147Sql), "deterministic exact-k per-group sample (reservoir shape)"),
    QueryDef("q53_len_percentiles", q53, Some(q53Sql), "exact nearest-rank percentiles"),
    QueryDef("q54_treebank_tokens", q54, Some(q54Sql), "F5 treebank-style tokenization"),
    QueryDef("q31_word_freq", q31, Some(q31Sql), "A6 word frequency top-15"),
    QueryDef("q32_stopword_remove", q32, Some(q32Sql), "F6 native stopword filter"),
    QueryDef("q33_token_counts", q33, Some(q33Sql), "token counting (ws + regex)"),
    QueryDef("q34_quality_score", q34, Some(q34Sql), "text quality scoring"),
    QueryDef("q35_langid", q35, Some(q35Sql), "marker-based language ID"),
    QueryDef("q36_fingerprint", q36, Some(q36Sql), "rolling-hash fingerprint"),
    QueryDef("q191_html_extract", q191, Some(q191Sql),
      "HTML tag strip + entity decode + link-density boilerplate drop"))
}
