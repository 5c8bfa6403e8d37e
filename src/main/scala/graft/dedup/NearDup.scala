package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The near-duplicate chain shared by the dedup and similarity families:
  * one MinHash signature ([[minhashBands]]), one rep-space collapse and
  * expansion ([[collapse]], [[memberRows]], [[expandPairs]]) and one
  * block-cap router ([[capRouted]]). Every Spark-side caller goes through
  * these; DedupSimilaritySpec's source scan fails on a hand-written copy
  * anywhere else. The DuckDB mirrors keep their own SQL text.
  */
private[graft] object NearDup {

  /** MinHash signature parameters: k=16 permutations h_i(x)=(a_i·x+b_i)
    * mod p, banded 4×4. Constants are fixed odd multipliers / offsets
    * (pinned, seedless determinism).
    */
  val P = 1000000007L
  val minhashParams: Seq[(Long, Long)] = Seq(
    (131L, 7L), (137L, 89L), (139L, 283L), (149L, 659L),
    (151L, 1021L), (157L, 1511L), (163L, 2039L), (167L, 2617L),
    (173L, 3181L), (179L, 3767L), (181L, 4349L), (191L, 4973L),
    (193L, 5641L), (197L, 6311L), (199L, 6997L), (211L, 7681L))

  /** Arithmetic band key over the 16-min signature columns `mh_0..mh_15`:
    * polynomial combine mod p (intermediates < 2^63, single final mod) —
    * identical in Spark and the SQL mirrors (`bandKeySql`, q129Sql's
    * inlined form), which is what lets the LSH queries be hash-oracled
    * (xxhash64 would be Spark-only).
    */
  private def bandKeyExpr(b: Int): Column =
    (0 until 4).foldLeft(lit(b.toLong): Column)((acc, r) =>
      acc * 31 + col(s"mh_${b * 4 + r}")) % P

  /** The one MinHash signature: the 16 permutation minima of each row's
    * token-hash array `toks`, reduced to the 4 band keys `band_0..band_3`.
    * Every other input column passes through (callers carry role columns
    * instead of re-joining the corpus on doc_id). One output row per input
    * row; a null or empty `toks` has no minima, so its band keys are null
    * and never equal another row's in a join.
    *
    * Per-row projections, not explode + a 16-`min` hash aggregate: both
    * forms were timed on q44/q129/q161/q184 (PERF.md lesson 11). The
    * aggregate pays a corpus-sized shuffle and a join back to the
    * pass-through columns — 6–9 more jobs per query and a slower q44 —
    * while the interpreted `transform` lambdas it avoids cost q161 about
    * 10 % at sf1 (two reps each) and nothing measurable at sf0.1.
    */
  def minhashBands(docs: DataFrame): DataFrame = {
    val keep = docs.columns.filter(_ != "toks").map(col).toSeq
    val mh = minhashParams.zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("toks"), x => (x * a + b) % P)).as(s"mh_$i")
    }
    docs.select(keep ++ mh: _*)
      .select(keep ++ (0 until 4).map(b => bandKeyExpr(b).as(s"band_$b")): _*)
  }

  /** Rep-space COLLAPSE: rows with identical content `key` have identical
    * signatures, band keys and pairwise scores, so the quadratic machinery
    * runs on one REPRESENTATIVE per group and results expand back to the
    * members afterwards ([[memberRows]], [[expandPairs]]). Groups key on
    * the content itself, not a hash of it, so collisions cannot merge
    * distinct contents; a null key is one group like any other (callers'
    * `guard`s decide what it yields). Output, one row per group: the key
    * columns, `rep` (the group's min `id`) and `members` (every `id` of
    * the group; `size(members)` is the group's multiplicity).
    */
  def collapse(docs: DataFrame, id: String, key: Seq[String]): DataFrame =
    docs.groupBy(key.map(col): _*)
      .agg(min(id).as("rep"), collect_list(col(id)).as("members"))

  /** (rep, member): one row per row of the collapsed input. */
  def memberRows(groups: DataFrame): DataFrame =
    groups.select(col("rep"), explode(col("members")).as("member"))

  /** Rep-space EXPAND: verified rep pairs `(rep_a, rep_b, payload…)` back
    * to member pairs `(id_a, id_b, payload…)` with id_a < id_b. A
    * cross-group pair inherits its rep pair's payload, so the payload must
    * be symmetric in the two sides (least/greatest orders the ids). The
    * within-group pairs are [[withinPairs]] with the same payload names.
    * The member joins carry no broadcast hint: the planner broadcasts the
    * member rows while they are small (same jobs and stages as the old
    * hinted q44/q59/q80 plans at sf0.1 and sf1), and a capped block's
    * corpus-sized member rows shuffle instead of filling the driver.
    */
  def expandPairs(groups: DataFrame, repPairs: DataFrame, within: Seq[Column],
      guard: Column): DataFrame = {
    val payload = repPairs.columns.filterNot(c => c == "rep_a" || c == "rep_b").map(col).toSeq
    val mem = memberRows(groups)
    repPairs
      .join(mem.select(col("rep").as("rep_a"), col("member").as("xa")), "rep_a")
      .join(mem.select(col("rep").as("rep_b"), col("member").as("xb")), "rep_b")
      .select(least(col("xa"), col("xb")).as("id_a") +:
        greatest(col("xa"), col("xb")).as("id_b") +: payload: _*)
      .unionByName(withinPairs(groups, within, guard))
  }

  /** The pairs inside each group, `(id_a, id_b, within…)` with
    * id_a < id_b. Such a pair compares one content with itself: it
    * carries the caller's `within` payload, evaluated once per group over
    * the key columns, and only groups whose `guard` holds (evaluated with
    * `within` attached) emit pairs — the degenerate-key rule a flat plan
    * applies, e.g. a null key that yields no signature and so no candidate.
    */
  def withinPairs(groups: DataFrame, within: Seq[Column], guard: Column): DataFrame = {
    val w = groups.select(col("*") +: within: _*)
    val payload = w.columns.drop(groups.columns.length).map(col).toSeq
    w.filter(guard)
      .select(explode(col("members")).as("id_a") +: col("members") +: payload: _*)
      .select(col("id_a") +: explode(col("members")).as("id_b") +: payload: _*)
      .filter(col("id_a") < col("id_b"))
  }

  /** Driver-side block-size routing stats. Block counts come from
    * `countsFrom` (callers pass a bare lang-column projection of the
    * base table, or None to skip stats), NOT from the array frame:
    * counting the array frame would force its cache to materialize in a
    * separate serial job before the join can start (+1.2 s measured at
    * sf0.1). Counting can only over-estimate a block (docs may drop
    * rows), which at worst routes a borderline block through the capped
    * path — results are routing-independent either way. The collect is
    * bounded by |distinct langs| rows, a handful even at 100 TB.
    */
  private def bigLangsOf(countsFrom: Option[DataFrame], cap: Int): Array[String] =
    countsFrom.fold(Array.empty[String])(
      _.groupBy("lang").agg(count(lit(1)).as("n"))
        .filter(col("n") > cap).select("lang")
        .collect().map(_.getString(0)).sorted)

  /** The one block-cap router of the exact pairwise family (doc_id, lang,
    * arr frames): with no lang block over `cap`, `flat` gets the whole
    * frame; otherwise `capped` gets the under-cap blocks and the
    * over-cap blocks [[collapse]]d on (lang, arr) — the (small, groups)
    * split every capped path starts from. Output is routing-independent
    * by each caller's contract (PropertySpec fuzzes capped ≡ uncapped).
    * An empty `arr` is no content, exactly like a null one, on both
    * routes: it pairs with nothing and is dropped by nothing (a flat
    * Jaccard of two empty sets would divide by a zero union, and an
    * empty set is contained in every set).
    */
  def capRouted[T](docs0: DataFrame, cap: Int, countsFrom: Option[DataFrame])(
      flat: DataFrame => T)(capped: (DataFrame, DataFrame) => T): T = {
    val docs = docs0.withColumn("arr", when(size(col("arr")) > 0, col("arr")))
    val bigLangs = bigLangsOf(countsFrom, cap)
    if (bigLangs.isEmpty) flat(docs)
    else {
      val isBig = col("lang").isin(bigLangs.toSeq: _*)
      capped(docs.filter(!isBig), collapse(docs.filter(isBig), "doc_id", Seq("lang", "arr")))
    }
  }
}
